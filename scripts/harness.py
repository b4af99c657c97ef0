"""Shared measurement harness for ``bench.py`` and ``scripts/*.py``:
input/core resolution, the bench session, its warm-up, the noop-write
``materialize`` and the query-name check — defined once so every
script's figures come from the same session and the same timed action.
Import it as ``scripts.harness`` with the repo root on ``sys.path``.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: this host's core count).
"""

from __future__ import annotations

import os
import sys

import __spark_entry__ as entry
from yaetl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def session(app_name: str, extra_conf: dict[str, str] | None = None):
    """``local[CPUS]`` session with one shuffle partition per core and
    Spark's own logging quiet (``get_spark`` already sets
    ``nanosAsLong``, which the events table's TIMESTAMP(NANOS) needs)."""
    spark = get_spark(app_name=app_name, master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def materialize(df) -> None:
    """The timed action: full plan execution via a noop write, no
    driver collect."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str = SF_DIR) -> None:
    """Warm the JVM/codegen paths AND the Python UDF workers so
    per-query timings measure the engine, not session/interpreter
    startup."""
    warm = spark.read.parquet(f"{sf_dir}/region.parquet")
    materialize(warm)
    materialize(
        spark.range(32).mapInPandas(lambda it: it, schema="id long"))
    # file-index + footer + scan-codegen init per table (fixed session
    # setup, else it lands on whichever query touches a table first)
    for t in entry.TABLES:
        materialize(spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1))
    # first sort/TakeOrdered + first driver collect initialize their own
    # codegen + result-serialization paths — warm those too
    warm.orderBy("r_regionkey").limit(1).collect()


def queries(names=()) -> dict:
    """``__spark_entry__.queries()`` restricted to ``names`` in the
    given order (all of them, sorted, when ``names`` is empty); exits
    naming any unknown query."""
    declared = entry.queries()
    missing = [n for n in names if n not in declared]
    if missing:
        sys.exit(f"unknown queries: {missing}")
    return {n: declared[n] for n in (names or sorted(declared))}
