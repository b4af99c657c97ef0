#!/usr/bin/env python3
"""Isolated per-query re-run: times ONLY the queries named on the
command line (n warm runs each, default 7, after a cold run) in a
dedicated Spark session with nothing co-scheduled — the BENCH_NOTES.md
discipline for adjudicating whether a full-suite regression is ambient
contention or a real plan shift. Each run is timed exactly as bench.py
times a query (build the DataFrame, then the noop write), so ``median``
is comparable with the bench figure; the run is also split by layer.

Per query: ``median`` / ``spread`` [min, max] / ``n`` over the warm
runs, ``cold`` (first run, codegen compiling), ``plan`` (AQE-final plan
fingerprint of the cold run) and ``plan_flip`` (first warm fingerprint
that differs; null = stable), plus ``{"cold": .., "median": ..}`` of:
  build   — the query function: Python DSL build, analysis, and any
            driver jobs it submits before returning (collects, counts,
            fits);
  plan_s  — Catalyst optimization + physical planning of the noop
            write, read from the write's own QueryExecution tracker;
  exec    — the noop write's wall time minus ``plan_s``;
  jobs    — Spark jobs submitted by build + write.

Usage: python scripts/bench_isolated.py ann_ivf embedding_lsh ...
Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (see scripts/harness.py),
       SPARK_GRAFT_BENCH_RUNS (default 7),
       SPARK_GRAFT_AB_CONF (JSON object of extra session conf; the
       conf is fixed at session start, so A/B one variant per process).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from scripts.harness import (  # noqa: E402
    SF_DIR, materialize, queries, session, warm_up)

LAYERS = ("build", "plan_s", "exec", "jobs")


def plan_sig(plan: str) -> dict:
    """Executed-plan fingerprint: join strategies, exchange counts,
    scan count — enough to tell a plan flip from ambient noise without
    reading the full plan dump."""
    if "isFinalPlan=false" in plan:
        raise ValueError(
            "captured plan is not AQE-final — fingerprint would be the "
            "static plan; refusing to record it")
    final = plan.split("== Initial Plan ==")[0]
    return {
        "joins": re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)", final),
        "exchanges": final.count("Exchange hashpartitioning"),
        "single_partition": final.count("Exchange SinglePartition"),
        "scans": final.count("FileScan parquet"),
    }


class _NoopWriteListener:
    """QueryExecutionListener that keeps ``(executed plan, plan_s)`` of
    every noop write. The write runs through its own QueryExecution,
    so fingerprinting the DataFrame's executedPlan() would see the
    un-finalized AdaptiveSparkPlan (blind to runtime join-strategy
    flips) and time a second Catalyst pass the bench never runs; the
    listener hands over the write's OWN QueryExecution after it
    completes, at zero extra executions. Queries that collect while
    they are built emit their own events first, hence the NoopWrite
    match."""

    def __init__(self):
        self.captures: list[tuple[str, float]] = []

    def onSuccess(self, funcName, qe, durationNs):
        plan = qe.executedPlan().toString()
        if "NoopWrite" in plan.split("\n", 1)[0]:
            phases = qe.tracker().phases()
            ms = sum(phases.get(p).get().durationMs()
                     for p in ("optimization", "planning")
                     if phases.get(p).isDefined())
            self.captures.append((plan, ms / 1000.0))

    def onFailure(self, funcName, qe, exception):
        pass

    def equals(self, other):
        # unregistering a listener compares it with those registered
        # before it, and py4j forwards that equals() here
        return other is self

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _invoke(jobj, method: str, args) -> None:
    """``jobj.<method>(*args)`` through Java reflection. A Python object
    passed through py4j becomes a NEW Java proxy on every call, so
    ``unregister(listener)`` would never match the registered proxy;
    ``args`` (a Java Object[]) holds one proxy for both calls."""
    for m in jobj.getClass().getMethods():
        if m.getName() == method:
            m.invoke(jobj, args)
            return
    raise AttributeError(method)


def run(spark, names, n_warm: int, sf_dir: str = SF_DIR) -> dict:
    """Time ``names`` (cold run + ``n_warm`` warm runs each) on
    ``spark``; returns ``{query: {median, spread, cold, n, plan,
    plan_flip, build, plan_s, exec, jobs}}`` as the module doc says."""
    from pyspark.java_gateway import ensure_callback_server_started

    sc = spark.sparkContext
    ensure_callback_server_started(sc._gateway)
    # jobs are counted off the scheduler's job-id counter, which is
    # exact when the write returns; the status tracker is fed by the
    # async listener bus and keeps only spark.ui.retainedJobs jobs
    dag = sc._jsc.sc().dagScheduler()
    listener = _NoopWriteListener()
    proxy_args = sc._jvm.java.util.Collections.singletonList(
        listener).toArray()
    listener_manager = spark._jsparkSession.listenerManager()

    def once(fn) -> tuple[dict, dict]:
        base, jobs0 = len(listener.captures), dag.numTotalJobs()
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        t1 = time.monotonic()
        materialize(df)
        t2 = time.monotonic()
        jobs = dag.numTotalJobs() - jobs0
        # the listener bus is async: await the capture outside the
        # timed region
        deadline = time.monotonic() + 30
        while len(listener.captures) <= base:
            if time.monotonic() > deadline:
                raise TimeoutError(
                    "QueryExecutionListener never delivered the noop "
                    "write's plan — cannot fingerprint this run")
            time.sleep(0.02)
        plan, plan_s = listener.captures[-1]
        return ({"total": t2 - t0, "build": t1 - t0, "plan_s": plan_s,
                 "exec": t2 - t1 - plan_s, "jobs": jobs}, plan_sig(plan))

    out = {}
    _invoke(listener_manager, "register", proxy_args)
    try:
        for name, fn in queries(names).items():
            cold, sig_cold = once(fn)
            warm, sig_flip = [], None
            for _ in range(n_warm):
                layers, sig = once(fn)
                warm.append(layers)
                if sig != sig_cold and sig_flip is None:
                    sig_flip = sig  # first warm run whose plan diverged
            totals = [r["total"] for r in warm]
            out[name] = {
                "median": round(statistics.median(totals), 3),
                "spread": [round(min(totals), 3), round(max(totals), 3)],
                "cold": round(cold["total"], 3),
                "n": n_warm,
                "plan": sig_cold,
                "plan_flip": sig_flip,
                **{k: {"cold": round(cold[k], 3), "median": round(
                    statistics.median(r[k] for r in warm), 3)}
                   for k in LAYERS},
            }
    finally:
        _invoke(listener_manager, "unregister", proxy_args)
    return out


def main() -> None:
    names = sys.argv[1:]
    if not names:
        sys.exit("usage: bench_isolated.py <query> [<query> ...]")
    queries(names)  # fail on a typo before paying for session start-up
    extra = json.loads(os.environ.get("SPARK_GRAFT_AB_CONF", "{}"))
    spark = session("yaetl-spark-bench-isolated", extra_conf=extra)
    warm_up(spark)
    n_warm = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "7"))
    print(json.dumps(run(spark, names, n_warm), indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
