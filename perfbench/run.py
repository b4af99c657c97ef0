#!/usr/bin/env python3
"""Layered benchmark for yaetl_spark on one local Spark process.

Run from the repository root:

    python3 perfbench/run.py --workload etl_flow --seed 1 --seconds 20 --trace 0

One process, ``local[<nproc>]`` with ``spark.sql.shuffle.partitions =
<nproc>``, acting as a single closed-loop client: one item outstanding at
a time. A run

1. generates the input tables (``perfbench/datagen.py``, sf0.1, fixed
   data seed) under ``.bench_build/perfbench/`` in the checkout, once:
   later runs in the same checkout reuse them;
2. starts the session and warms it up (``setup_s``);
3. executes every item once, cold, keeping its output for the check
   (``first_pass_s``);
4. runs a fixed number of untimed warm passes, then timed passes over
   the items, in an order the ``--seed`` permutes, until ``--seconds``
   have elapsed and at least four passes are done (``wall_s``: the sum
   of per-item medians; ``rows_per_s``; ``op_p50_s``);
5. checks every kept output against DuckDB (queries: the entry file's
   ``oracle_sql()`` with ``tests/oracle_harness.compare``; ``etl_flow``:
   an order-insensitive checksum of both sinks' files);
6. stops Spark and waits for its JVM to exit.

A JVM keeps compiling Spark's hot paths for many executions: on a
4-vCPU VM an item still gets 10-25 % faster between its 2nd and its 12th
warm execution. The warm passes are a fixed count, so every run times
the same stretch of that curve, however fast the host is that minute.

The host's speed drifts by 20-50 % over minutes, as other tenants load
it. So at the start of each warm and timed pass the run also times a
fixed multi-core JVM task (``jvm_cal``: a parallel sort in the session's
JVM, which uses neither yaetl_spark nor Spark). Every item time of a
timed pass is multiplied by ``JCAL_REF_S`` / that pass's sample before
the per-item medians are taken, so ``wall_s``, ``rows_per_s`` and
``op_p50_s`` read as on a host of the reference speed; ``setup_s`` and
``first_pass_s`` are divided by ``pace`` = the median of three samples
taken between them / ``JCAL_REF_S``. The scaling under-corrects when
other tenants steal CPU time: curation_ml's many short jobs then slow
more than the sort.
Work that a change leaves running in the JVM between passes would slow
the calibration too and be partly scaled away; the raw figures and the
samples are on the summary line.

With ``--trace 1`` the run wraps each layer's entry points (see
``tracing.py``), alternates untraced and traced passes, reads per-item
Spark stage metrics from the REST API afterwards, writes the spans and
per-item figures to ``.bench_build/perfbench/trace-*.json``, and reports
per-layer metrics instead of end-to-end ones.

Metric names and units are read from ``BENCHMARK.json``. The line before
the last carries every end-to-end figure with its unit plus the run's
settings and raw samples. The last stdout line is one
JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SF = 0.1
DATA_SEED = 42  # fixed tables: the workload seed never touches them
# untimed passes after the cold one. A curation_ml item runs up to 2x
# slower until the JIT has compiled its hot paths, and JIT progress
# follows the number of executions, so a fixed count leaves every run at
# the same point of that curve, however fast the host is that minute.
# etl_flow's first warm pass is within its own noise of the later ones,
# so its run spends that time on timed passes instead.
WARM_PASSES = {"etl_flow": 0, "curation_ml": 2}
MIN_TIMED_PASSES = 4  # a per-item median of at least four samples
# Typical ``Runner.jvm_cal()`` sample on the 4-vCPU host the bounds were
# set on; end-to-end times are scaled to it.
JCAL_REF_S = 0.38
JCAL_INTS = 4_000_000

# The two open round-17 regressions. dedup_clusters runs driver jobs
# while it is built and pins an intermediate; retrieval_metrics is the
# similarity family's exact broadcast + window top-k. One warm pass takes
# ~3 s on 4 cores; the benchmark's time budget allows no more items.
CURATION_ITEMS = ["dedup_clusters", "retrieval_metrics"]
ETL_ITEMS = ["single", "fanout"]
ETL_K = (4, 5, 6)  # qualify thresholds the seed picks from: ~90 % of rows
# columns the root sink keeps, and the CSV branch's subset with its types
ROOT_COLS = ["orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
             "l_discount", "l_shipdate", "o_orderdate", "o_orderpriority",
             "customer", "c_mktsegment"]
BRANCH_COLS = {"orderkey": "BIGINT", "l_linenumber": "INTEGER",
               "customer": "VARCHAR", "l_quantity": "DOUBLE",
               "l_extendedprice": "DOUBLE", "o_orderdate": "TIMESTAMP"}

# End-to-end figures printed on the summary line only, with their units:
# on a 4-CPU host they do not repeat well enough to gate on. op_p50_s
# (two unlike items per pass, so the median jumps between them), the two
# ratios (0 on a correct run), first_pass_s and the memory figures (in
# about one curation_ml run in four, dedup_clusters' cold execution
# takes ~9-10 s instead of ~6 s and the JVM's anonymous memory grows
# from ~3.7 GB to 6-11 GB, with the same seed and inputs). The gated
# ones, and every per-layer metric, are named in BENCHMARK.json.
UNGATED_UNITS = {"first_pass_s": "s", "op_p50_s": "s", "rss_mb": "MB",
                 "peak_rss_mb": "MB", "fail_ratio": "ratio",
                 "wrong_ratio": "ratio"}


def spec_units(key: str) -> dict[str, str]:
    """name -> unit of the ``BENCHMARK.json`` metric list ``key``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share of time the host
    gave this machine's CPUs to someone else explains noisy runs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def host_settings() -> dict:
    """Session sizing for this host: all cores, a quarter of RAM (1-4 GB).

    From MemTotal alone: MemAvailable moves with other tenants' use, and
    a heap that differs between runs makes GC differ too."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    gb = (total_kb // 4) >> 20
    return {"cpus": cpus, "driver_mem": f"{max(1, min(4, gb))}g"}


def start_session(work: str, settings: dict, traced: bool = False):
    """Environment + session for a run; returns (spark, start_s).

    Everything Spark, Python and the JVM write goes under ``work``."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(settings["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": settings["driver_mem"],
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    tempfile.tempdir = tmp
    t0 = time.monotonic()
    from yaetl_spark.session import get_spark

    cpus = settings["cpus"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: no resizing and no page faults
        # mid-run, so memory and GC repeat from run to run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{settings['driver_mem']} "
            "-XX:+AlwaysPreTouch",
    }
    if traced:  # keep every job and stage of a run for the read-out
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="yaetl-perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.monotonic()
    return spark, t1 - t0


def warm_up(spark, data: str) -> float:
    """First scan and first job: JVM class loading, parquet footer and
    codegen initialisation, which every later item would otherwise pay."""
    t0 = time.monotonic()
    spark.read.parquet(f"{data}/region.parquet").write.format("noop") \
        .mode("overwrite").save()
    return time.monotonic() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def memory_kb(field: str) -> int:
    """A /proc status field (e.g. ``RssAnon``, ``VmHWM``) of this process
    plus the JVM, in kB."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    total = 0
    for pid in (os.getpid(), proc.pid if proc else None):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            total += next(int(line.split()[1]) for line in fh
                          if line.startswith(field + ":"))
    return total


# -- workloads --------------------------------------------------------------

class QueryItems:
    """Entry-file queries; cold outputs are collected for the oracle."""

    def __init__(self, names: list[str], data: str, table_rows: dict):
        import __spark_entry__ as entry

        self.names = names
        self.data = data
        self.fns = entry.queries()
        self.sql = entry.oracle_sql()
        self.outputs: dict = {}
        # input rows: every table the item's oracle reads
        self.rows = {
            n: sum(r for t, r in table_rows.items()
                   if re.search(rf"\b{t}\b", self.sql[n]))
            for n in names}

    def build(self, spark, name: str):
        return self.fns[name](spark, self.data)

    def act(self, name: str, df, cold: bool) -> None:
        if cold:
            self.outputs[name] = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()

    def plan_target(self, built):
        return built

    def after(self, name: str, cold: bool) -> dict:
        return {}

    def verify(self, work: str) -> dict[str, str | None]:
        """item -> None if it matched the oracle, else the reason."""
        from tests.oracle_harness import compare, duck_con

        con = duck_con(self.data)
        con.sql(f"SET temp_directory='{work}/duckdb'")
        out: dict[str, str | None] = {}
        for name in self.names:
            got = self.outputs.get(name)
            if got is None:
                continue  # failed before producing output: counted there
            # Spark has stopped by now: hand compare() the collected frame
            res = compare(types.SimpleNamespace(toPandas=lambda: got),
                          con.sql(self.sql[name]).df())
            out[name] = None if res["value_match"] else json.dumps(
                res, default=str)[:2000]
        con.close()
        return out


class EtlItems:
    """Extract -> join -> left_join -> qualify -> transform -> load flows.

    ``single`` writes one ParquetSink with no persist; ``fanout`` adds a
    BranchPipeline CsvSink, so the root frame is persisted MEMORY_AND_DISK
    and shared, and runs with ``scale_gate={}``."""

    def __init__(self, data: str, out: str, k: int, table_rows: dict):
        self.names = list(ETL_ITEMS)
        self.data = data
        self.out = out
        self.k = k
        n = sum(table_rows[t] for t in ("lineitem", "orders", "customer"))
        self.rows = {name: n for name in self.names}
        self.checks: dict[str, dict] = {}
        self.reports: dict[str, dict] = {}

    def build(self, spark, name: str):
        from pyspark.sql import functions as F

        from yaetl_spark import (
            BranchPipeline, Keep, OnClause, ParquetSource, Pipeline, Rename)
        from yaetl_spark.sinks import CsvSink, ParquetSink

        d, o = self.data, os.path.join(self.out, name)
        p = (
            Pipeline(spark)
            .from_(ParquetSource(f"{d}/lineitem.parquet"))
            .join(ParquetSource(f"{d}/orders.parquet"),
                  OnClause({"l_orderkey": "o_orderkey"}))
            .left_join(ParquetSource(f"{d}/customer.parquet"),
                       OnClause({"o_custkey": "c_custkey"},
                                default_record={"c_name": "NO MATCH"}))
            .qualify(F.col("l_quantity") > self.k)
            .transform(Rename({"l_orderkey": "orderkey",
                               "c_name": "customer"}))
            .transform(Keep(*ROOT_COLS))
            .observe("loaded", F.count(F.lit(1)).alias("rows"))
            .to(ParquetSink(f"{o}/root.parquet"))
        )
        if name == "single":
            return p, {}
        p.branch(
            BranchPipeline(spark)
            .qualify(F.col("o_orderpriority") == "1-URGENT")
            .transform(Keep(*BRANCH_COLS))
            .to(CsvSink(f"{o}/branch.csv")))
        return p, {"scale_gate": {}}

    def act(self, name: str, built, cold: bool) -> None:
        pipeline, kwargs = built
        self.reports[name] = pipeline.run(**kwargs)

    def plan_target(self, built):
        return built[0].df

    def _duck(self, work: str):
        import duckdb

        con = duckdb.connect()
        con.sql("SET TimeZone='UTC'")
        con.sql(f"SET temp_directory='{work}/duckdb'")
        return con

    def after(self, name: str, cold: bool) -> dict:
        """Checksum (cold) and size the outputs, then delete them."""
        o = os.path.join(self.out, name)
        size = sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(o) for f in fs
                   if not f.startswith((".", "_")))
        if cold:
            con = self._duck(o)
            self.checks[name] = {
                "root": checksum(
                    con, f"read_parquet('{o}/root.parquet/*.parquet')"),
                "report": self.reports[name].get("num_records"),
            }
            if name == "fanout":
                cols = ", ".join(f"'{c}': '{t}'"
                                 for c, t in BRANCH_COLS.items())
                self.checks[name]["branch"] = checksum(
                    con, f"read_csv('{o}/branch.csv/*.csv', header=true, "
                         f"columns={{{cols}}})")
            con.close()
        shutil.rmtree(o, ignore_errors=True)
        return {"bytes_written": size,
                "rows": self.reports[name].get("num_records") or 0}

    def verify(self, work: str) -> dict[str, str | None]:
        d = self.data
        con = self._duck(work)
        expected = f"""
            SELECT l.l_orderkey AS orderkey, l_linenumber, l_quantity,
                   l_extendedprice, l_discount, l_shipdate, o_orderdate,
                   o_orderpriority,
                   CASE WHEN c.c_custkey IS NULL THEN 'NO MATCH'
                        ELSE c.c_name END AS customer,
                   c_mktsegment
            FROM read_parquet('{d}/lineitem.parquet') l
            JOIN read_parquet('{d}/orders.parquet') o
              ON l.l_orderkey = o.o_orderkey
            LEFT JOIN read_parquet('{d}/customer.parquet') c
              ON o.o_custkey = c.c_custkey
            WHERE l.l_quantity > {self.k}"""
        want_root = checksum(con, f"({expected})")
        want_branch = checksum(
            con, f"(SELECT {', '.join(BRANCH_COLS)} FROM ({expected}) "
                 "WHERE o_orderpriority = '1-URGENT')")
        con.close()
        out: dict[str, str | None] = {}
        for name, got in self.checks.items():
            bad = []
            if got["root"] != want_root:
                bad.append(f"root sink {got['root']} != {want_root}")
            if got["report"] != want_root["rows"]:
                bad.append(f"report num_records {got['report']}")
            if name == "fanout" and got["branch"] != want_branch:
                bad.append(f"branch sink {got['branch']} != {want_branch}")
            out[name] = "; ".join(bad) or None
        return out


def checksum(con, relation: str) -> dict:
    """Order-insensitive digest: column names and types, row count and the
    sum of per-row hashes over the columns in name order."""
    schema = sorted(con.sql(f"DESCRIBE SELECT * FROM {relation}").fetchall())
    cols = ", ".join(f'"{c[0]}"' for c in schema)
    rows, digest = con.sql(
        f"SELECT count(*), sum(hash({cols}))::VARCHAR FROM {relation}"
    ).fetchone()
    return {"columns": [(c[0], c[1]) for c in schema], "rows": rows,
            "digest": digest}


# -- phases -----------------------------------------------------------------

class Runner:
    def __init__(self, spark, items, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.items = items
        self.tracer = tracer
        self.attempted = 0
        self.failed: list[str] = []
        self.groups: dict[str, str] = {}  # job group -> "item|phase"
        self.per_item: dict[str, dict] = {}
        self.rss_mb: list[float] = []  # after each warm item
        self.jcal: list[float] = []  # jvm_cal() samples, in order
        self._ints = spark._jvm.java.util.Random(7).ints(JCAL_INTS).toArray()
        self.jvm_cal()  # the first sample includes compiling the sort
        self.jcal.clear()
        # the host's speed right after set-up, for the figures timed
        # outside the passes
        self.start_cal = [self.jvm_cal() for _ in range(3)]

    def jvm_cal(self) -> float:
        """One sample of the host's multi-core JVM speed: copy and
        parallel-sort a fixed int array twice (ForkJoin common pool).
        It lasts ~0.38 s, long enough to average over the host's
        sub-second speed swings."""
        arrays = self.spark._jvm.java.util.Arrays
        t0 = time.perf_counter()
        for _ in range(2):
            arrays.parallelSort(arrays.copyOf(self._ints, JCAL_INTS))
        self.jcal.append(time.perf_counter() - t0)
        return self.jcal[-1]

    def run(self, name: str, cold: bool, traced: bool = False,
            tag: str = "") -> float:
        """Build + act on one item; its latency. An attempt that raises is
        recorded as failed, and its time up to the error still counts."""
        self.attempted += 1
        tr = self.tracer if traced else None
        if tr is not None:
            from tracing import rdd_ids

            tr.item, tr.active = name, True
            tr.baseline = rdd_ids(self.sc)
            self._group(f"{tag}:{name}:b", f"{name}|build")
        t0 = time.perf_counter()
        try:
            built = self.items.build(self.spark, name)
            t1 = time.perf_counter()
            if tr is not None:
                self._group(f"{tag}:{name}:x", f"{name}|exec")
            self.items.act(name, built, cold)
            t2 = time.perf_counter()
        except Exception:  # counted, never dropped
            self.failed.append(name)
            log(f"item {name} failed:\n{traceback.format_exc()[-4000:]}")
            return time.perf_counter() - t0
        finally:
            if tr is not None:
                tr.active = False
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        if not cold:
            # anonymous memory only: Spark memory-maps block and shuffle
            # files, and how many of those pages are resident (RssFile)
            # swings by gigabytes between identical runs
            self.rss_mb.append(memory_kb("RssAnon") / 1024)
        info = self.items.after(name, cold)
        if tr is not None:
            from tracing import stored_bytes

            rec = self.per_item.setdefault(name, {
                "build_s": 0.0, "exec_s": 0.0, "runs": 0,
                "stored_bytes": 0, "bytes_written": 0, "rows_written": 0})
            rec["build_s"] += t1 - t0
            rec["exec_s"] += t2 - t1
            rec["runs"] += 1
            rec["stored_bytes"] = max(rec["stored_bytes"],
                                      stored_bytes(self.sc, tr.baseline))
            rec["bytes_written"] += info.get("bytes_written", 0)
            rec["rows_written"] += info.get("rows", 0)
        return t2 - t0

    def _group(self, group: str, tag: str) -> None:
        self.groups[group] = tag
        self.sc.setJobGroup(group, tag)

    def timed(self, order: list[str], seconds: float, traced: bool = False,
              tag: str = "", min_passes: int = MIN_TIMED_PASSES) -> dict:
        """Closed loop of whole passes, each after one ``jvm_cal()``
        sample, until ``seconds`` have elapsed and ``min_passes`` are
        done."""
        lat: dict[str, list[float]] = {n: [] for n in order}
        cal: list[float] = []
        t_end = time.monotonic() + seconds
        while True:
            cal.append(self.jvm_cal())
            for name in order:
                lat[name].append(self.run(name, cold=False, traced=traced,
                                          tag=f"{tag}{len(cal) - 1}"))
            if len(cal) >= min_passes and time.monotonic() >= t_end:
                break
        return summarize(lat, cal)


def summarize(lat: dict[str, list[float]], cal: list[float]) -> dict:
    """Pass time as the sum of per-item medians, raw (``pass_s``) and at
    the reference host speed (``paced_pass_s``), and the paced op median.

    A paced sample is the item's time * ``JCAL_REF_S`` / the ``jvm_cal()``
    sample taken at the start of its pass (``lat[n][i]`` pairs with
    ``cal[i]``), so it follows the host's drift within a run as well as
    between runs."""
    paced = {n: [x * JCAL_REF_S / c for x, c in zip(v, cal)]
             for n, v in lat.items()}
    every = [x for v in paced.values() for x in v]
    return {"passes": len(cal), "lat": lat, "cal": cal,
            "pass_s": sum(statistics.median(v) for v in lat.values()),
            "paced_pass_s": sum(statistics.median(v)
                                for v in paced.values()),
            "op_p50_s": statistics.median(every), "n_ops": len(every)}


def interleaved(runner: Runner, order: list[str],
                seconds: float) -> tuple[dict, dict]:
    """Rounds of untraced, traced, traced, untraced passes until
    ``seconds`` have elapsed, so warm-up drift falls evenly on both sides
    of the tracing-overhead ratio."""
    runs = {False: [], True: []}
    t_end = time.monotonic() + seconds
    while not runs[True] or time.monotonic() < t_end:
        for traced in (False, True, True, False):
            tag = f"p{len(runs[traced])}{'t' if traced else 'u'}-"
            runs[traced].append(runner.timed(order, 0, traced, tag, 1))

    def merged(parts):
        return summarize({n: [x for p in parts for x in p["lat"][n]]
                          for n in order},
                         [c for p in parts for c in p["cal"]])

    return merged(runs[False]), merged(runs[True])


def plan_pass(runner: Runner, order: list[str]) -> dict[str, float]:
    """Catalyst planning time per item: build once more (untraced, in no
    attributed job group) and force ``executedPlan()``."""
    out = {}
    for name in order:
        try:
            built = runner.items.build(runner.spark, name)
            jdf = runner.items.plan_target(built)._jdf
            t0 = time.perf_counter()
            jdf.queryExecution().executedPlan()
            out[name] = time.perf_counter() - t0
        except Exception:
            log(f"planning {name} failed:\n{traceback.format_exc()[-4000:]}")
            out[name] = 0.0
    return out


def layer_metrics(runner: Runner, traced: dict, untraced: dict,
                  plan_s: dict[str, float], cores: int) -> dict:
    """Per-item and per-pass workload figures for every layer metric."""
    import tracing

    tr = runner.tracer
    rest = tracing.Rest(runner.sc)
    stages = tracing.stage_metrics(rest, rest.settled_jobs(), runner.groups)
    per_item = {}
    for name, rec in runner.per_item.items():
        st = stages.get(name, {})
        runs = rec["runs"]
        pins = len(tr.outermost(name, "pins"))
        ran_pipeline = bool(tr.outermost(name, "pipeline"))
        summed = {  # totals over the traced passes
            "sources.read_s": tr.seconds(name, "sources"),
            "sources.read_calls": len(tr.outermost(name, "sources")),
            "operators.build_s": rec["build_s"],
            "operators.calls": len(tr.outermost(name, "operators")),
            "operators.pins": pins,
            "operators.similarity_s": tr.seconds(name, "operators",
                                                 "similarity."),
            "exec.s": rec["exec_s"],
            "pipeline.run_s": tr.seconds(name, "pipeline"),
            "pipeline.jobs": st.get("exec.jobs", 0) if ran_pipeline else 0,
            "plans.assert_scales_s": tr.seconds(name, "plans"),
            "sinks.write_s": tr.seconds(name, "sinks"),
            "sinks.bytes_written": rec["bytes_written"],
            "rows_written": rec["rows_written"],
            **{k: v for k, v in st.items() if k != "exec.task_skew"},
        }
        m = {k: v / runs for k, v in summed.items()}
        m["operators.pinned_bytes"] = rec["stored_bytes"] if pins else 0
        m["pipeline.persist_bytes"] = max(tr.persist_bytes.get(name, [0]))
        m["exec.task_skew"] = st.get("exec.task_skew", 1.0)
        m["catalyst.plan_s"] = plan_s.get(name, 0.0)
        per_item[name] = m
    total: dict[str, float] = {}
    for m in per_item.values():
        for k, v in m.items():
            total[k] = total.get(k, 0.0) + v
    layers = {k: total.get(k, 0.0) for k in tracing.MOVES}
    layers["exec.task_skew"] = max(
        (m["exec.task_skew"] for m in per_item.values()), default=1.0)
    exec_s = total.get("exec.s", 0.0)
    layers["exec.core_busy"] = (total.get("exec_task_run_s", 0.0)
                                / (exec_s * cores) if exec_s else 0.0)
    rows = total.get("rows_written", 0.0)
    layers["sinks.bytes_per_row"] = (total.get("sinks.bytes_written", 0.0)
                                     / rows if rows else 0.0)
    layers["trace.overhead"] = traced["pass_s"] / untraced["pass_s"]
    layers["per_item"] = per_item
    return layers


def write_trace(args, tracer, layers: dict, summary: dict) -> str:
    import tracing

    path = os.path.join(
        BUILD, f"trace-{args.workload}-s{args.seed}-{os.getpid()}.json")
    with open(path, "w") as fh:
        json.dump({
            "summary": summary,
            "layers": {k: {"unit": u, "moves": tracing.MOVES[k]}
                       for k, u in spec_units("per_layer").items()},
            "per_item": layers["per_item"],
            "span_fields": ["item", "layer", "name", "start", "end",
                            "parent"],
            "spans": tracer.spans,
        }, fh, indent=1, default=str)
    return path


def load_items(workload: str, seed: int, data: str, work: str):
    """The workload's items over the tables in ``data``, their seeded
    order and ``etl_flow``'s qualify threshold (None elsewhere)."""
    import pyarrow.parquet as pq

    table_rows = {f[:-len(".parquet")]:
                  pq.ParquetFile(os.path.join(data, f)).metadata.num_rows
                  for f in os.listdir(data)}
    rng = random.Random(seed)
    if workload == "etl_flow":
        k = rng.choice(ETL_K)
        items = EtlItems(data, os.path.join(work, "out"), k, table_rows)
    else:
        k = None
        items = QueryItems(list(CURATION_ITEMS), data, table_rows)
    order = list(items.names)
    rng.shuffle(order)
    return items, order, k


def cached_data() -> tuple[str, float]:
    """The input tables, generated once per checkout; (dir, seconds spent
    generating them in this run). The directory name carries a digest of
    the generator, so a changed generator writes new tables."""
    import hashlib

    import datagen

    with open(datagen.__file__, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:12]
    data = os.path.join(BUILD, f"data-sf{SF}-s{DATA_SEED}-{digest}")
    if os.path.isdir(data):
        return data, 0.0
    t0 = time.monotonic()
    part = f"{data}.part{os.getpid()}"
    shutil.rmtree(part, ignore_errors=True)
    datagen.write(part, SF, DATA_SEED)
    os.rename(part, data)  # complete tables only, or none
    return data, time.monotonic() - t0


def measure(args, settings: dict, work: str, tracer) -> dict:
    """Data, session, cold pass, warm and timed phase(s), check."""
    data, gen_s = cached_data()
    items, order, k = load_items(args.workload, args.seed, data, work)

    spark, start_s = start_session(work, settings, tracer is not None)
    try:
        warmup_s = warm_up(spark, data)
        setup_s = process_age() - gen_s
        if tracer is not None:
            tracer.sc = spark.sparkContext
        runner = Runner(spark, items, tracer)
        ticks0 = cpu_ticks()
        t0 = time.monotonic()
        cold = {name: runner.run(name, cold=True) for name in order}
        first_pass_s = time.monotonic() - t0
        ages = {"cold_done": process_age()}
        if WARM_PASSES[args.workload]:
            runner.timed(order, 0, min_passes=WARM_PASSES[args.workload])
        ages["warm_done"] = process_age()
        layers = None
        if tracer is None:
            res = runner.timed(order, args.seconds)
        else:
            res, traced = interleaved(runner, order, args.seconds)
            plan_s = plan_pass(runner, order)
            layers = layer_metrics(runner, traced, res, plan_s,
                                   settings["cpus"])
        ticks1 = cpu_ticks()
        # > 1: a slow minute
        pace = statistics.median(runner.start_cal) / JCAL_REF_S
        peak_kb = memory_kb("VmHWM")
        ages["timed_done"] = process_age()
    finally:
        stop_session(spark)
    ages["stopped"] = process_age()
    t0 = time.monotonic()
    mismatches = items.verify(work)
    verify_s = time.monotonic() - t0
    return {
        "items": items, "order": order, "k": k, "runner": runner,
        "res": res, "layers": layers, "mismatches": mismatches,
        "e2e": {
            "setup_s": setup_s / pace,
            "first_pass_s": first_pass_s / pace,
            "wall_s": res["paced_pass_s"],
            "rows_per_s": sum(items.rows.values()) / res["paced_pass_s"],
            "op_p50_s": res["op_p50_s"],
            "rss_mb": statistics.median(runner.rss_mb),
            "peak_rss_mb": peak_kb / 1024,
        },
        "info": {
            "pace": pace,
            "raw_s": {"setup_s": setup_s,
                      "first_pass_s": first_pass_s, "wall_s": res["pass_s"]},
            "jvm_cal_s": runner.jcal,
            "ages_s": ages,
            "session_start_s": start_s, "warmup_s": warmup_s,
            "verify_s": verify_s, "datagen_s": gen_s,
            "cold_runs_s": cold,
            "cpu_steal": ((ticks1[0] - ticks0[0])
                          / max(1, ticks1[1] - ticks0[1])),
        },
    }


def rounded(obj):
    """``obj`` with every float rounded to 4 decimals, for the summary."""
    if isinstance(obj, float):
        return round(obj, 4)
    if isinstance(obj, dict):
        return {k: rounded(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [rounded(v) for v in obj]
    return obj


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["etl_flow", "curation_ml"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("yaetl_spark/__init__.py", "__spark_entry__.py",
                 "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"perfbench: {need} not found under {ROOT}; run it from "
                "the root of a repository checkout")
            return 2
    sys.path.insert(0, ROOT)
    settings = host_settings()
    if not args.workload:
        ap.error("--workload is required")

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracing.install(tracer)  # before __spark_entry__ is imported
    work = os.path.join(BUILD, f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        r = measure(args, settings, work, tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    items, runner, res = r["items"], r["runner"], r["res"]
    mismatches = r["mismatches"]
    wrong = sorted(n for n, why in mismatches.items() if why)
    for n in wrong:
        log(f"item {n} output mismatch: {mismatches[n]}")
    n_items = len(items.names)
    e2e = dict(r["e2e"],
               fail_ratio=len(set(runner.failed)) / n_items,
               wrong_ratio=len(wrong) / max(1, len(mismatches)))
    gated = spec_units("end_to_end")
    units = dict(UNGATED_UNITS, **gated)
    summary = {
        "workload": args.workload, "seed": args.seed, "order": r["order"],
        "etl_k": r["k"], "sf": SF,
        "settings": dict(
            settings, shuffle_partitions=settings["cpus"],
            local_dirs=os.path.relpath(os.path.join(work, "spark-local"),
                                       ROOT),
            console_progress=False, heap="fixed and pre-touched"),
        "end_to_end": {m: {"value": v, "unit": units[m]}
                       for m, v in e2e.items()},
        "passes": res["passes"], "op_p50_n": res["n_ops"],
        "verified": len(mismatches),
        **r["info"],
        "item_runs_s": res["lat"],
    }
    if tracer is not None:
        layers = r["layers"]
        layers["session.start_s"] = r["info"]["session_start_s"]
        layers["session.warmup_s"] = r["info"]["warmup_s"]
        layers["verify_s"] = r["info"]["verify_s"]
        metrics = {m: {"value": layers[m], "unit": u}
                   for m, u in spec_units("per_layer").items()}
        summary["trace_file"] = write_trace(args, tracer, layers, summary)
    else:
        metrics = {m: {"value": e2e[m], "unit": u} for m, u in gated.items()}
    print(json.dumps(rounded(summary)))
    print(json.dumps({
        "correct": (not wrong and len(mismatches) == n_items
                    and not runner.failed),
        "attempted": runner.attempted,
        "failed": len(runner.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
