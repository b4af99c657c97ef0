"""Session-scoped parquet relation cache (sources/files.py).

The cache memoizes *unexecuted* scan plans per (session, path, stat-key)
to skip repeated file listing + footer schema inference. The properties
that matter: (1) repeat reads hit the cache, (2) a rewrite of the path
invalidates it — results always reflect what is on disk, (3) paths that
cannot be fingerprinted exactly are not cached at all.
"""

from __future__ import annotations

import os
import time

import pytest

from yaetl_spark import ParquetSource
from yaetl_spark.sources.files import (
    _SCAN_CACHE,
    _cached_parquet_scan,
    _scan_cache_key,
)


def _write(spark, path: str, rows):
    spark.createDataFrame(rows, "k int, v string").coalesce(1) \
        .write.mode("overwrite").parquet(path)


def test_repeat_reads_share_one_cached_plan(spark, tmp_path):
    p = str(tmp_path / "t1.parquet")
    _write(spark, p, [(1, "a"), (2, "b")])
    df1 = _cached_parquet_scan(spark, p)
    df2 = _cached_parquet_scan(spark, p)
    assert df1 is df2  # the memoized plan object, not a re-read
    assert sorted(r.k for r in df2.collect()) == [1, 2]


def test_rewrite_invalidates_and_reads_fresh_data(spark, tmp_path):
    p = str(tmp_path / "t2.parquet")
    _write(spark, p, [(1, "a")])
    assert [r.k for r in ParquetSource(p).read(spark).collect()] == [1]
    # ensure the directory mtime moves even on a fast filesystem
    time.sleep(0.05)
    _write(spark, p, [(7, "z"), (8, "y")])
    got = sorted(r.k for r in ParquetSource(p).read(spark).collect())
    assert got == [7, 8]  # stale cached plan would return [1]


def test_rewrite_with_schema_change_reads_new_schema(spark, tmp_path):
    p = str(tmp_path / "t3.parquet")
    _write(spark, p, [(1, "a")])
    assert ParquetSource(p).read(spark).columns == ["k", "v"]
    time.sleep(0.05)
    spark.createDataFrame([(1.5,)], "x double").coalesce(1) \
        .write.mode("overwrite").parquet(p)
    assert ParquetSource(p).read(spark).columns == ["x"]


def test_stale_entries_of_same_path_are_dropped(spark, tmp_path):
    p = str(tmp_path / "t4.parquet")
    _write(spark, p, [(1, "a")])
    _cached_parquet_scan(spark, p)
    time.sleep(0.05)
    _write(spark, p, [(2, "b")])
    _cached_parquet_scan(spark, p)
    keys = [k for k in _SCAN_CACHE.get(spark, {}) if k[0] == p]
    assert len(keys) == 1  # old fingerprint evicted, no unbounded growth


def test_unfingerprintable_paths_are_not_cached(tmp_path):
    assert _scan_cache_key("s3a://bucket/table") is None
    assert _scan_cache_key(str(tmp_path / "missing.parquet")) is None
    # nested partition dir: a leaf rewrite may not touch depth-1 mtimes
    nested = tmp_path / "part" / "date=2024-01-01"
    nested.mkdir(parents=True)
    (nested / "f.parquet").write_bytes(b"")
    assert _scan_cache_key(str(tmp_path / "part")) is None


def test_flat_directory_key_tracks_children(spark, tmp_path):
    p = str(tmp_path / "t5.parquet")
    _write(spark, p, [(1, "a")])
    k1 = _scan_cache_key(p)
    assert k1 is not None
    time.sleep(0.05)
    _write(spark, p, [(1, "a"), (2, "b")])
    k2 = _scan_cache_key(p)
    assert k2 is not None and k1 != k2


def test_parallelism_probe_memoized(spark, sf_dir):
    """The split probe runs once per session and input: a second read
    of an ``'auto'`` source, or a second build of a pipeline rooted on
    a parquet source with ``min_parallelism`` unset, adds no memo
    entry."""
    from yaetl_spark import Pipeline
    from yaetl_spark.session import _NEED_REPARTITION_MEMO

    auto = ParquetSource(f"{sf_dir}/documents.parquet",
                         min_parallelism="auto")
    root = ParquetSource(f"{sf_dir}/part.parquet")
    for src, build in [
        (auto, lambda: auto.read(spark)),
        (root, lambda: Pipeline(spark).from_(root).df),
    ]:
        df1 = build()
        memo = _NEED_REPARTITION_MEMO.get(spark, {})
        n_before = len(memo)
        key = (src._parallelism_cache_key(),
               spark.sparkContext.defaultParallelism)
        assert key in memo
        df2 = build()
        assert len(_NEED_REPARTITION_MEMO.get(spark, {})) == n_before
        # decision identical either way
        assert df1.rdd.getNumPartitions() == df2.rdd.getNumPartitions()


@pytest.mark.parametrize("offset,limit", [(None, 5), (3, 3)])
def test_limit_offset_pick_scan_rows_before_the_spread(
        spark, sf_dir, offset, limit):
    """``offset``/``limit`` select rows in scan order: the parallelism
    spread runs after them, not before."""
    p = f"{sf_dir}/lineitem.parquet"
    src = ParquetSource(p, limit=limit, offset=offset, min_parallelism="auto")
    want = spark.read.parquet(p)
    if offset:
        want = want.offset(offset)
    want = want.limit(limit)

    def keys(df):
        return sorted((r.l_orderkey, r.l_linenumber) for r in df.collect())

    got = src.read(spark)
    assert keys(got) == keys(want)
    assert "RoundRobinPartitioning" in (
        got._jdf.queryExecution().executedPlan().toString())
