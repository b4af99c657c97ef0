"""yaetl_spark — a PySpark-native analytics/ETL engine with the query and
data-processing capabilities of fab2s/yaetl (see SURVEY.md), rebuilt
Spark-first: declarative DataFrame lineage, Catalyst optimization, one
write action per sink.
"""

from .pipeline import BranchPipeline, Pipeline, PipelineError
from .session import get_spark
from .plans import assert_scales, plan_summary
from .operators import (
    Apply,
    Drop,
    Keep,
    MapFields,
    NoOp,
    OnClause,
    PandasMap,
    Predicate,
    Rename,
    Replace,
    ReplaceRecursive,
    BreakAt,
    ContinueAt,
    StopWhen,
    WithColumns,
    as_of_join,
    join,
)
from .sinks import CollectSink, CsvSink, JdbcSink, JsonSink, MergeParquetSink, NoOpSink, OrcSink, ParquetSink
from .sources import (
    Source,
    AggregateSource,
    CsvSource,
    DataFrameSource,
    JdbcSource,
    JsonSource,
    MemorySource,
    OrcSource,
    ParquetSource,
    TextLinesSource,
)

__version__ = "0.1.0"

__all__ = [
    "assert_scales",
    "plan_summary",
    "Pipeline",
    "BranchPipeline",
    "PipelineError",
    "get_spark",
    # operators
    "OnClause",
    "join",
    "as_of_join",
    "Predicate",
    "BreakAt",
    "ContinueAt",
    "StopWhen",
    "NoOp",
    "Rename",
    "Drop",
    "Keep",
    "Replace",
    "ReplaceRecursive",
    "MapFields",
    "WithColumns",
    "Apply",
    "PandasMap",
    # sources
    "Source",
    "DataFrameSource",
    "ParquetSource",
    "OrcSource",
    "CsvSource",
    "JsonSource",
    "TextLinesSource",
    "MemorySource",
    "JdbcSource",
    "AggregateSource",
    # sinks
    "NoOpSink",
    "CollectSink",
    "CsvSink",
    "JsonSink",
    "ParquetSink",
    "OrcSink",
    "MergeParquetSink",
    "JdbcSink",
]
