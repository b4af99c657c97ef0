"""Layer spans and Spark stage metrics for the traced benchmark run.

``install()`` wraps the public entry points of each ``yaetl_spark``
layer from the outside -- nothing in the package changes -- and must run
before ``__spark_entry__`` is imported, so the names that module binds
at import time are the wrapped ones. A wrapper is a pass-through until
``Tracer.active`` is set; while active it appends one span
``[item, layer, name, start, end, parent]`` to an in-memory list. The
spans are written out when the run ends.

Stage metrics come from the Spark REST API of the running application
(``{ui}/api/v1/applications/{app}/jobs|stages``), read once after the
timed phase; jobs are attributed to items through the job groups the
benchmark sets around each item's build and action.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
import urllib.request
from collections import defaultdict

# Which end-to-end metric on which workload each per-layer metric is
# expected to move; written into every trace file next to the unit
# BENCHMARK.json gives it.
MOVES = {
    "session.start_s": "setup_s, every workload",
    "session.warmup_s": "setup_s, every workload",
    "sources.read_s": "rows_per_s on etl_flow",
    "sources.read_calls": "rows_per_s on etl_flow",
    "operators.build_s": "wall_s on curation_ml",
    "operators.build_jobs": "wall_s on curation_ml",
    "operators.calls": "wall_s on curation_ml",
    "operators.pins": ("wall_s, rss_mb on curation_ml; "
                       "0 and unchanged on etl_flow"),
    "operators.pinned_bytes": "wall_s, rss_mb on curation_ml",
    "operators.similarity_s": ("wall_s on curation_ml; "
                               "0 and unchanged on etl_flow"),
    "catalyst.plan_s": "wall_s and first_pass_s, every workload",
    "exec.s": "wall_s on curation_ml",
    "exec.jobs": "wall_s on curation_ml",
    "exec.stages": "wall_s on curation_ml",
    "exec.tasks": "wall_s on curation_ml",
    "exec.task_run_s": "wall_s on curation_ml",
    "exec.task_cpu_s": "wall_s on curation_ml",
    "exec.gc_s": "wall_s on curation_ml",
    "exec.shuffle_read_bytes": "wall_s on curation_ml",
    "exec.shuffle_write_bytes": "wall_s on curation_ml",
    "exec.spill_bytes": "wall_s on curation_ml",
    "exec.input_rows": "wall_s on curation_ml",
    "exec.task_skew": "wall_s on curation_ml",
    "exec.failed_tasks": "wall_s on curation_ml",
    "exec.core_busy": ("wall_s, every workload; low means the item is "
                       "driver-bound"),
    "pipeline.run_s": "rows_per_s on etl_flow",
    "pipeline.jobs": "rows_per_s on etl_flow",
    "pipeline.persist_bytes": "rows_per_s, rss_mb on etl_flow",
    "plans.assert_scales_s": "rows_per_s on etl_flow",
    "sinks.write_s": "rows_per_s on etl_flow",
    "sinks.bytes_written": "rows_per_s on etl_flow",
    "sinks.bytes_per_row": "rows_per_s on etl_flow",
    "trace.overhead": "none: traced / untraced warm pass time",
    "verify_s": "none: the benchmark's own output check",
}


class Tracer:
    """In-memory spans of the wrapped calls made while ``active``."""

    def __init__(self) -> None:
        self.active = False
        self.item: str | None = None
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.sc = None  # set once the session exists
        self.baseline: set[int] = set()  # RDDs in storage when item began
        self.persist_bytes: dict[str, list[int]] = defaultdict(list)

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            span = [self.item, layer, name, time.perf_counter(), None,
                    self._stack[-1] if self._stack else None]
            self._stack.append(len(self.spans))
            self.spans.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                span[4] = time.perf_counter()
                if layer == "sinks" and self.sc is not None:
                    # a fan-out flow's shared persist is live until run()
                    # returns; sample it while the sink's output is fresh
                    self.persist_bytes[self.item].append(
                        stored_bytes(self.sc, self.baseline))

        return traced

    def outermost(self, item: str, layer: str, prefix: str = "") -> list:
        """Spans of ``layer`` (and name ``prefix``) for ``item`` that have
        no such ancestor: the calls made from outside the layer."""
        def hit(span):
            return span[1] == layer and span[2].startswith(prefix)

        out = []
        for span in self.spans:
            if span[0] != item or not hit(span):
                continue
            p = span[5]
            while p is not None and not hit(self.spans[p]):
                p = self.spans[p][5]
            if p is None:
                out.append(span)
        return out

    def seconds(self, item: str, layer: str, prefix: str = "") -> float:
        return sum(s[4] - s[3] for s in self.outermost(item, layer, prefix))


def rdd_ids(sc) -> set[int]:
    """Ids of the RDDs that hold blocks in storage now."""
    return {int(info.id()) for info in sc._jsc.sc().getRDDStorageInfo()}


def stored_bytes(sc, exclude: set[int]) -> int:
    """Memory + disk bytes of the persisted or checkpointed RDDs not in
    ``exclude``: pins left by earlier items or passes, which the
    ContextCleaner frees only after a JVM GC, do not count."""
    return sum(int(info.memSize()) + int(info.diskSize())
               for info in sc._jsc.sc().getRDDStorageInfo()
               if int(info.id()) not in exclude)


def install(tracer: Tracer) -> None:
    """Wrap each layer's public entry points in every loaded module."""
    import yaetl_spark
    from pyspark.sql.classic.dataframe import DataFrame

    for mod in pkgutil.walk_packages(yaetl_spark.__path__, "yaetl_spark."):
        importlib.import_module(mod.name)
    from yaetl_spark import pipeline, plans, session
    from yaetl_spark.sinks.base import Sink
    from yaetl_spark.sources.base import Source

    originals: dict[int, object] = {}
    ops = importlib.import_module("yaetl_spark.operators")
    for mod in pkgutil.iter_modules(ops.__path__):
        module = importlib.import_module(f"yaetl_spark.operators.{mod.name}")
        for name, fn in vars(module).items():
            if (inspect.isfunction(fn) and not name.startswith("_")
                    and fn.__module__ == module.__name__):
                originals[id(fn)] = tracer.wrap(
                    "operators", f"{mod.name}.{name}", fn)
    originals[id(session.compute_once)] = tracer.wrap(
        "pins", "compute_once", session.compute_once)
    originals[id(plans.assert_scales)] = tracer.wrap(
        "plans", "assert_scales", plans.assert_scales)
    # rebind every module-level reference, re-exports included
    for name, module in list(sys.modules.items()):
        if not name.startswith("yaetl_spark") or module is None:
            continue
        for attr, value in list(vars(module).items()):
            wrapped = originals.get(id(value))
            if wrapped is not None:
                setattr(module, attr, wrapped)

    def patch(cls, meth: str, layer: str, name: str) -> None:
        setattr(cls, meth, tracer.wrap(layer, name, cls.__dict__[meth]))

    patch(Source, "read", "sources", "Source.read")
    patch(pipeline.Pipeline, "run", "pipeline", "Pipeline.run")
    patch(DataFrame, "localCheckpoint", "pins", "DataFrame.localCheckpoint")
    todo = [Sink]
    while todo:
        cls = todo.pop()
        todo.extend(cls.__subclasses__())
        if "write" in cls.__dict__:
            patch(cls, "write", "sinks", f"{cls.__name__}.write")


class Rest:
    """Read-only client for the application's status REST API."""

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        # the UI is on this host: never route through an environment proxy
        self._open = urllib.request.build_opener(
            urllib.request.ProxyHandler({})).open

    def get(self, path: str):
        with self._open(f"{self.base}/{path}", timeout=60) as resp:
            return json.load(resp)

    def settled_jobs(self, timeout: float = 30.0) -> list:
        """All jobs, once the status listener has caught up: two reads
        agree and no job is still running."""
        deadline = time.monotonic() + timeout
        last = None
        while True:
            jobs = self.get("jobs")
            n = len(jobs)
            if (n == last and all(j["status"] != "RUNNING" for j in jobs)
                    or time.monotonic() > deadline):
                return jobs
            last = n
            time.sleep(0.3)


def stage_metrics(rest: Rest, jobs: list,
                  groups: dict[str, str]) -> dict[str, dict]:
    """Per-item ``exec.*`` metrics from the jobs whose job group appears
    in ``groups`` (job group -> "<item>|build" or "<item>|exec")."""
    by_stage_id = defaultdict(list)  # every attempt of each stage
    for s in rest.get("stages"):
        by_stage_id[s["stageId"]].append(s)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    slowest: dict[str, dict] = {}
    seen: set[tuple[str, tuple]] = set()
    for job in jobs:
        tag = groups.get(job.get("jobGroup"))
        if tag is None:
            continue
        item, phase = tag.split("|")
        m = out[item]
        m["exec.jobs" if phase == "exec" else "operators.build_jobs"] += 1
        for sid in job["stageIds"]:
            for s in by_stage_id.get(sid, []):
                key = (item, (s["stageId"], s["attemptId"]))
                if key in seen or s["status"] == "SKIPPED":
                    continue
                seen.add(key)
                run_s = s["executorRunTime"] / 1e3
                m["exec.stages"] += 1
                m["exec.tasks"] += s["numTasks"]
                m["exec.task_run_s"] += run_s
                if phase == "exec":  # the action's share, for core_busy
                    m["exec_task_run_s"] += run_s
                m["exec.task_cpu_s"] += s["executorCpuTime"] / 1e9
                m["exec.gc_s"] += s.get("jvmGcTime", 0) / 1e3
                m["exec.shuffle_read_bytes"] += s["shuffleReadBytes"]
                m["exec.shuffle_write_bytes"] += s["shuffleWriteBytes"]
                m["exec.spill_bytes"] += (s["memoryBytesSpilled"]
                                          + s["diskBytesSpilled"])
                m["exec.input_rows"] += s["inputRecords"]
                m["exec.failed_tasks"] += s["numFailedTasks"]
                if run_s > slowest.get(item, {}).get("run_s", -1):
                    slowest[item] = {"run_s": run_s, "stage": s}
    for item, hit in slowest.items():
        s = hit["stage"]
        q = rest.get(f"stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                     "?quantiles=0.5,1.0")["executorRunTime"]
        out[item]["exec.task_skew"] = q[1] / q[0] if q[0] > 0 else 1.0
    return {k: dict(v) for k, v in out.items()}
