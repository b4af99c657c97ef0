"""SparkSession factory tuned for the engine.

Defaults favor a 1000-executor cluster reading 100 TB: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), broadcast joins
for small dimensions, UTC session timezone so results are reproducible
across engines (the duckdb oracle runs in UTC), and Arrow for any
pandas-UDF exchange.

Locally we run ``local[N]`` — the same conf works because everything is
expressed per-partition, never per-core.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap for a JVM that :func:`get_spark` launches: half of
    the host's MemTotal, at least 1g and at most 16g. A heap larger than
    the host lets the JVM grow until the kernel kills it instead of
    failing with an OutOfMemoryError. Without a readable ``meminfo``
    (non-Linux) the 16g cap applies."""
    try:
        with open(meminfo) as fh:
            total_kb = next(int(line.split()[1]) for line in fh
                            if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    return f"{max(1, min(16, (total_kb // 2) >> 20))}g"


DEFAULT_CONF = {
    # Adaptive execution: runtime shuffle-partition coalescing + skew-join
    # handling are the single biggest wins at 100 TB scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic comparisons against the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas_udf / mapInPandas / toPandas exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (region/nation/...) should always broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Runtime bloom-filter injection on shuffle joins (Spark default, but
    # pinned: bloom_semi_join's native strategy and the plan gate in
    # tests/test_plans.py rely on it — the JVM-side might_contain probe
    # replaces any Python on the semi-join hot path).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Parquet vectorized reader + pushdown are on by default; keep explicit
    # so a cluster-side conf override is visible here.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.orc.filterPushdown": "true",
    # ANSI off: engine semantics follow permissive SQL (reference has no
    # type system at all; see SURVEY.md §1.2).
    "spark.sql.ansi.enabled": "false",
    # TIMESTAMP(NANOS) parquet (e.g. the events table) is unreadable by
    # Spark 4 without this; readers then rebuild timestamps losslessly via
    # timestamp_micros(ns DIV 1000). Session-level so no query mutates
    # config at build time.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DataFrame-API call-site capture (Spark 4's dataFrameDebugging)
    # costs ~3 extra Python->JVM round trips PER DataFrame method call
    # (a conf read + PySparkCurrentOrigin.set/clear) purely to decorate
    # error messages with the Python call site. On a driver whose IPC
    # round trip is ~1 ms that is 20-35% of total plan-construction
    # time (measured r16, interleaved A/B over 4 queries: 2.0 s vs
    # 2.8 s of build). Off by default for the engine; set
    # SPARK_GRAFT_DF_DEBUG=true to get call-site-decorated errors back
    # while debugging. Scale-independent: this is driver-side constant
    # overhead, the same win on a 1000-executor cluster as locally.
    "spark.python.sql.dataFrameDebugging.enabled": os.environ.get(
        "SPARK_GRAFT_DF_DEBUG", "false"),
    # Local mode runs driver and executors in ONE JVM whose heap defaults
    # to 1g — far too small for a 64 MB broadcast threshold plus
    # localCheckpoint blocks (long test sessions were hitting
    # java.lang.OutOfMemoryError in the Context Cleaner). Only effective
    # when the JVM is launched by this builder; a pre-existing session
    # (e.g. the grading driver's) keeps its own sizing.
    "spark.driver.memory": (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                            or default_driver_memory()),
}


# Memo for ensure_parallelism's need-repartition probe: the probe calls
# df.rdd.getNumPartitions(), which forces a full analyze+plan+to-RDD
# conversion on the driver (~100-300 ms) — but for a scan of an on-disk
# input its answer is a pure function of (files, maxPartitionBytes,
# target), stable within a session. Sources that can fingerprint their
# input pass a cache_key so repeated builds skip the probe.
_NEED_REPARTITION_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def spread_target(
    df: DataFrame, target: int | None = None, cache_key=None
) -> int | None:
    """The partition count :func:`ensure_parallelism` would spread ``df``
    to, or ``None`` when it already has at least ``target`` (default
    ``defaultParallelism``) partitions. Same probe, same memo."""
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if cache_key is not None:
        memo = _NEED_REPARTITION_MEMO.setdefault(df.sparkSession, {})
        k = (cache_key, target)
        need = memo.get(k)
        if need is None:
            need = df.rdd.getNumPartitions() < target
            memo[k] = need
    else:
        need = df.rdd.getNumPartitions() < target
    return target if need else None


def ensure_parallelism(
    df: DataFrame, target: int | None = None, cache_key=None
) -> DataFrame:
    """Repartition ``df`` only when the scan produced fewer partitions than
    the cluster's parallelism.

    Small/medium parquet inputs often arrive as a single row group, which
    Spark cannot split — every downstream expression then runs on one core.
    At 100 TB inputs carry thousands of row groups, the partition count
    already exceeds ``defaultParallelism``, and this is a no-op; locally it
    unlocks the full core count for expression-heavy per-row work at the
    cost of one cheap round-robin shuffle of a small input.

    ``cache_key``: a stable fingerprint of the underlying input (see
    :meth:`yaetl_spark.sources.base.Source._parallelism_cache_key`);
    when given, the partition-count probe is memoized per session.

    Applied by ``Source(min_parallelism=...)`` and, with no setting, to
    the root extract of a :class:`yaetl_spark.pipeline.Pipeline` when
    the source fingerprints its input (a local ``ParquetSource``): there
    the single scan split would otherwise carry every join, qualify,
    transform and sink write. The spread is a round-robin exchange, so
    it is a cost in front of a shuffle the plan already has: with both
    of a pipeline's joins forced to sort-merge
    (``autoBroadcastJoinThreshold=-1``) the spread sits in front of the
    join's own exchange, measured 3.22 -> 4.17 s for a
    lineitem-orders-customer flow at sf0.1 on 4 cores. Pass
    ``min_parallelism=1`` to keep such a root unspread.
    """
    n = spread_target(df, target, cache_key)
    return df.repartition(n) if n else df


def compute_once(df: DataFrame) -> DataFrame:
    """Make a fanned-out intermediate compute ONCE per execution instead
    of once per consumer.

    A DataFrame referenced by several downstream branches of one plan is
    re-evaluated in each branch (Catalyst inlines it; exchange reuse only
    fires when whole exchange subtrees canonicalize equal, which column
    pruning usually breaks). For an intermediate that is expensive to
    produce — a corpus-grain shuffle, a per-token hash expansion — that
    multiplies the dominant cost by the fan-out. A lazy ``localCheckpoint``
    pins the intermediate to one physical RDD: the first action
    materializes it (to executor memory/disk, spilling like any cached
    block) and every branch reads the same blocks; plan lineage truncates
    at the same time, which also keeps Catalyst from re-optimizing the
    shared subtree per branch.

    NOT cross-run caching: every fresh build of the query constructs a
    fresh RDD, so each bench/oracle invocation recomputes from the
    inputs; the sharing is strictly within one execution of one built
    plan (the guide-§8 "write the fingerprint pass once, reuse it"
    discipline, minus the external storage). Batch-only — local
    checkpoints are illegal on streaming frames, and the blocks don't
    survive executor loss: a local checkpoint has no lineage to
    recompute from, so a job that reads lost pinned blocks FAILS with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` — Spark does not rebuild them.
    Building the query again recomputes the pin from its inputs.

    Call-time caveat: when the pinned plan contains an Exchange, AQE
    materializes the shuffle stages during the checkpoint's ``toRdd``
    conversion — i.e. jobs run at CALL time, not first-action time. Do
    not pin shuffle-bearing subtrees inside operators that promise
    no-job-at-call laziness (e.g. ``ngram_perplexity``); pins below any
    exchange (scan→project→explode chains) stay fully lazy.
    """
    return df.localCheckpoint(eager=False)


# The NTZ zero point every event-time conversion pivots on. Pure
# timestamp arithmetic against it (timestampadd/timestampdiff) never
# consults spark.sql.session.timeZone, unlike NTZ<->LTZ casts.
NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def ensure_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP_NTZ — the UTC wall
    clock — across the parquet encodings seen in the wild for the same
    logical data: TIMESTAMP(NANOS) read as ``bigint`` (under the
    nanosAsLong conf), TIMESTAMP_NTZ (micros, isAdjustedToUTC=false),
    and proper LTZ instants.

    NTZ (not LTZ) is the canonical type because it is the only one
    whose downstream semantics are independent of the session timezone
    a driver hands us: date/hour extraction and ``F.window`` /
    ``F.session_window`` operate on the wall clock directly, and
    epochs come from :func:`epoch_seconds`'s pure arithmetic. The old
    ``cast("timestamp")`` normalization was correct only under a UTC
    session — under e.g. America/New_York every derived epoch shifted
    by the zone offset (the r10 verdict's reproduced hazard), and
    wall clocks inside DST transition gaps don't even round-trip the
    cast. All three conversions here are session-tz-invariant:
    bigint nanos and LTZ instants land on their UTC rendering via
    interval arithmetic from the NTZ epoch (never via a cast), and NTZ
    input is already the wall clock DuckDB reads. Batch ``F.window`` /
    ``F.session_window`` consume NTZ directly; streaming WATERMARKS do
    NOT (``withWatermark`` raises EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
    on NTZ), so the streaming wrappers convert to an LTZ instant with
    :func:`to_instant` just before ``withWatermark`` — see its
    docstring for why that conversion is also session-tz-invariant."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(
            col,
            F.timestamp_add(
                "MICROSECOND", F.expr(f"{col} DIV 1000"),
                F.expr(NTZ_EPOCH)),
        )
    if dt == "timestamp":
        return df.withColumn(
            col,
            F.timestamp_add(
                "MICROSECOND", F.unix_micros(df[col]), F.expr(NTZ_EPOCH)),
        )
    return df


def epoch_seconds(col, *, ntz: bool = True):
    """Epoch seconds of a datetime column, independent of the session
    timezone. For TIMESTAMP_NTZ (the engine's canonical event time —
    see :func:`ensure_event_time`) the wall clock is mapped to an
    instant AS UTC by pure arithmetic (``timestamp_diff`` from the NTZ
    epoch), matching DuckDB's naive ``epoch()`` under ``SET
    TimeZone='UTC'``; ``unix_timestamp``-style session-tz casts are
    exactly what this avoids. For LTZ instants (``ntz=False``, e.g.
    streaming rate sources) ``unix_timestamp`` is already
    tz-invariant. Fractional seconds truncate toward zero (identical
    to ``unix_timestamp`` flooring for post-1970 data)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    if ntz:
        return F.timestamp_diff("SECOND", F.expr(NTZ_EPOCH), c)
    return F.unix_timestamp(c)


def is_ntz(df: DataFrame, col: str) -> bool:
    """True when ``col`` is TIMESTAMP_NTZ — the dispatch flag for
    :func:`epoch_seconds` at call sites that accept either encoding."""
    return dict(df.dtypes).get(col) == "timestamp_ntz"


def to_instant(col):
    """TIMESTAMP_NTZ (UTC wall clock, the engine's canonical event time)
    → LTZ instant, tz-invariantly: micros since the NTZ epoch by pure
    arithmetic, re-materialized with ``timestamp_micros`` (which takes
    an absolute count — no session-tz rendering anywhere). The
    streaming-side escape hatch: Spark watermarks require TIMESTAMP
    (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE`` on NTZ), so streaming
    wrappers convert just before ``withWatermark``; epochs derived from
    the resulting instants equal the NTZ ``epoch_seconds`` values."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_micros(
        F.timestamp_diff("MICROSECOND", F.expr(NTZ_EPOCH), c))


def get_spark(
    app_name: str = "yaetl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    active session exists; on a real cluster pass ``None`` with a
    pre-configured environment and the builder leaves master alone.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is None:
        # local default: match core count so one wave of shuffle tasks.
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
