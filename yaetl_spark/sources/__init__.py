from .base import DataFrameSource, Source
from .files import CsvSource, JsonSource, OrcSource, ParquetSource, TextLinesSource
from .memory import MemorySource
from .jdbc import JdbcSource
from .aggregate import SHARD_COL, AggregateSource

__all__ = [
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
    "SHARD_COL",
]
