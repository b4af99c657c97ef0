"""Source abstraction: anything that yields a DataFrame.

The reference models sources as generator-driven "extractors" with manual
batching (``/root/reference/src/Extractors/ExtractorAbstract.php:17-47``,
``DbExtractorAbstract.php:93-135``). On Spark a source *is* a DataFrame
recipe — batching, buffering and memory discipline belong to the engine
(partitions + Tungsten), not the source. What survives from the reference
contract is:

- ``limit`` / ``offset`` (``ExtractorLimitAbstract.php:15-74``,
  ``ExtractorBatchLimitAbstract.php:15-106``) — compiled to ``df.offset``
  / ``df.limit`` so Catalyst can push them into the scan;
- join-key declaration for joinable sources
  (``UniqueKeyExtractorAbstract.php:84-118``) — composite keys and
  ``{'table.col': 'alias'}`` aliasing supported.
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession


class Source:
    """Base source: subclasses implement :meth:`load`."""

    def __init__(
        self,
        limit: int | None = None,
        offset: int | None = None,
        key: str | Sequence[str] | Mapping[str, str] | None = None,
        min_parallelism: int | str | None = None,
    ):
        self._limit = limit
        self._offset = offset
        self._key = key
        self._min_parallelism = min_parallelism

    # -- reference API parity -------------------------------------------------
    def set_limit(self, n: int) -> "Source":
        self._limit = n
        return self

    def set_offset(self, n: int) -> "Source":
        self._offset = n
        return self

    @property
    def key_columns(self) -> list[str] | None:
        """Declared unique-key columns (post-alias names)."""
        if self._key is None:
            return None
        if isinstance(self._key, str):
            return [self._key]
        if isinstance(self._key, Mapping):
            return list(self._key.values())
        return list(self._key)

    # -- loading --------------------------------------------------------------
    def load(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError

    def _parallelism_cache_key(self):
        """Stable fingerprint of the source's input for memoizing the
        (driver-expensive) scan-partition-count probe in
        :func:`yaetl_spark.session.ensure_parallelism`; ``None`` (the
        default) disables memoization for sources whose partitioning
        is not a pure function of an on-disk input."""
        return None

    def read(self, spark: SparkSession, root: bool = False) -> DataFrame:
        """Load + apply aliasing, offset/limit, then the parallelism floor.

        ``min_parallelism='auto'`` repartitions up to ``defaultParallelism``
        only when the scan yields fewer partitions (single-row-group files);
        a no-op on inputs that already split — see
        :func:`yaetl_spark.session.ensure_parallelism`. ``1`` never
        spreads. The split count is probed on the scan, and the spread
        comes last, so ``offset``/``limit`` pick rows in scan order.

        ``root=True`` marks a pipeline's root extract
        (:meth:`yaetl_spark.pipeline.Pipeline.from_`): with
        ``min_parallelism`` unset it floors at ``'auto'`` when the source
        fingerprints its input (:meth:`_parallelism_cache_key`), so the
        probe runs once per session and input.
        """
        df = self.load(spark)
        floor = self._min_parallelism
        key = self._parallelism_cache_key() if floor or root else None
        if floor is None and root and key is not None:
            floor = "auto"
        n = None
        if floor and floor != 1:
            from ..session import spread_target

            n = spread_target(
                df, None if floor == "auto" else int(floor), cache_key=key)
        if isinstance(self._key, Mapping):
            for old, new in self._key.items():
                # 'table.col' aliases refer to the bare column client-side.
                bare = old.split(".")[-1]
                if bare != new and bare in df.columns:
                    df = df.withColumnRenamed(bare, new)
        if self._offset:
            df = df.offset(self._offset)
        if self._limit is not None:
            df = df.limit(self._limit)
        return df.repartition(n) if n else df


class DataFrameSource(Source):
    """Wrap an existing DataFrame (or a callable producing one)."""

    def __init__(self, df: DataFrame | Callable[[SparkSession], DataFrame], **kw):
        super().__init__(**kw)
        self._df = df

    def load(self, spark: SparkSession) -> DataFrame:
        if callable(self._df):
            return self._df(spark)
        return self._df
