"""In-memory / generator sources.

Parity targets: ``CallableExtractor``
(``/root/reference/src/Extractors/CallableExtractor.php:50-98``) — records
from a callable returning an iterable. The ``NullExtractor``
(``NullExtractor.php:15-51``) record-count driver needs no class here:
``DataFrameSource(lambda spark: spark.range(n))``.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from .base import Source


class MemorySource(Source):
    """Records from a Python iterable or a callable producing one.

    Driver-side by construction (like the reference's callable extractor);
    intended for small fixtures and parameter tables, never bulk data.
    """

    def __init__(
        self,
        data: Iterable[Any] | Callable[..., Iterable[Any]],
        schema: Any | None = None,
        param: Any = None,
        **kw,
    ):
        super().__init__(**kw)
        self._data = data
        self._schema = schema
        self._param = param

    def load(self, spark: SparkSession) -> DataFrame:
        data = self._data
        if callable(data):
            data = data(self._param) if self._param is not None else data()
        rows = list(data)
        if rows and not isinstance(rows[0], (dict, tuple, list)):
            rows = [(r,) for r in rows]
            schema = self._schema or "value bigint"
        else:
            schema = self._schema
        return spark.createDataFrame(rows, schema=schema)
