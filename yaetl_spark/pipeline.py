"""Pipeline — the YaEtl grammar compiled to DataFrame lineage.

Reference grammar (``/root/reference/src/YaEtl.php:89-229``)::

    (new YaEtl)->from($e)->join($j,$e,$on)->qualify($q)
               ->transform($t)->to($l)->branch($flow)->exec();

Spark-first equivalent::

    (Pipeline(spark)
        .from_(ParquetSource(path))
        .join(ParquetSource(dim), OnClause("key"), how="left")
        .qualify(F.col("x") > 0)
        .transform(Rename({"a": "b"}))
        .to(ParquetSink(out))
        .branch(child)          # fan-out over the shared upstream
        .run())

Execution model: every grammar call composes *lazy* DataFrame
transformations; ``run()`` triggers exactly one write action per sink.
With multiple sinks/branches the shared upstream is persisted so the slow
extract runs once (the reference's whole reason for branches,
``README.md:219-246``). ``run()`` returns a stats report with the
reference's counter vocabulary (``num_extract``/``num_transform``/…,
``YaEtl.php:38-53``) sourced from ``df.observe`` metrics — observed on the
executors, no second pass over the data.
"""

from __future__ import annotations

import time
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation
from pyspark.storagelevel import StorageLevel

from .operators.joins import OnClause, join as _join
from .operators.qualifiers import Predicate, Qualifier
from .operators.transformers import Apply, Transformer
from .sinks.base import Sink
from .sources.base import DataFrameSource, Source


class PipelineError(Exception):
    pass


class Pipeline:
    def __init__(
        self,
        spark: SparkSession | None = None,
        count_stages: bool = False,
    ):
        """``count_stages=True`` weaves one free ``observe`` counter into
        the lineage after EVERY grammar stage (from_/join/qualify/
        transform) plus one per sink write, and the :meth:`run` report
        gains ``stage_records`` (per-node record counts, the reference's
        per-node ``num_exec``/``num_iterate`` matrix —
        ``src/YaEtl.php:38-53``, ``tests/QualifierTest.php:292-296``)
        and ``records`` (the reference counter vocabulary:
        ``num_extract``/``num_join``/``num_qualify``/``num_transform``/
        ``num_load`` as RECORD totals, node-call counts stay top-level).

        The flag lives on the constructor, not ``run()``, because the
        counters must be woven into the lineage as it is composed.
        Scale trade (why opt-in): each counter is a ``CollectMetrics``
        node computed during the normal write pass — no second pass over
        the data — but the optimizer will not push filters across one
        (the count must see the rows at that point), so stage-accurate
        counting pins the plan shape. Leave it off for production plans;
        turn it on to debug where records disappear. Branch lineages
        built as ``BranchPipeline(count_stages=True)`` report their own
        ``stage_records`` too (reference counts per-node inside branches,
        ``tests/QualifierTest.php:904-908``), surfaced in the parent
        report under ``b{i}_``-prefixed names.

        With ``count_stages`` on, :meth:`run` is SINGLE-SHOT per
        composed Pipeline: a PySpark ``Observation`` captures only its
        first action, so a second ``run()`` would silently report the
        first run's counters — it raises instead. Recompose (or leave
        counting off) to re-run.

        ``num_extract`` counts records PER EXTRACTOR (observed on each
        incoming source frame BEFORE union/crossJoin combination), the
        reference's per-extractor record semantics; every other stage
        counter observes the records LEAVING that stage.
        """
        if spark is None:
            from .session import get_spark

            spark = get_spark()
        self.spark = spark
        self._count_stages = bool(count_stages)
        self._ran = False
        # (name, kind, observation): kind keys the records-total bucket,
        # name is the per-stage report key
        self._stage_obs: list[tuple[str, str, Observation]] = []
        self._df: DataFrame | None = None
        self._sinks: list[Sink] = []
        self._branches: list["Pipeline"] = []
        self._observations: list[tuple[str, Observation]] = []
        self._counters = {
            "num_from": 0,
            "num_join": 0,
            "num_qualify": 0,
            "num_transform": 0,
            "num_to": 0,
            "num_branch": 0,
        }
        self._parent_df: DataFrame | None = None  # set on branches at run time
        # a StopWhen qualifier marks the flow break-truncated: sinks then
        # flush 'dirty', the reference's "one node broke the flow" status
        # (LoaderAbstract.php:61-87, docs/callbacks.md:27-48)
        self._dirty = False
        # BreakAt bookkeeping: trigger-count observations (dirty only if a
        # break actually fired) and branch-declared root-targeted breaks
        self._break_obs: list[Observation] = []
        self._root_breaks: list[tuple[int, Any]] = []
        # qualify(reject_to=...) capture: (rejected frame, sink) pairs,
        # written + flushed alongside the regular sink chains at run()
        self._reject_chains: list[tuple[DataFrame, Sink]] = []

    # -- grammar --------------------------------------------------------------
    def _observe_stage(self, kind: str) -> None:
        """With count_stages on, count the records leaving the stage just
        composed — a CollectMetrics node evaluated during the write pass
        (never a separate job)."""
        if not self._count_stages or self._df is None:
            return
        name = f"{kind}_{len(self._stage_obs)}"
        obs = Observation(f"_stage_{name}")
        self._df = self._df.observe(obs, F.count(F.lit(1)).alias("n"))
        self._stage_obs.append((name, kind, obs))

    def _require_df(self) -> DataFrame:
        if self._df is None:
            raise PipelineError("call from_() before adding downstream nodes")
        return self._df

    def _coerce_source(
        self, source: Source | DataFrame, root: bool = False
    ) -> DataFrame:
        if isinstance(source, DataFrame):
            return source
        if isinstance(source, Source):
            return source.read(self.spark, root=root)
        raise TypeError(f"expected Source or DataFrame, got {type(source)!r}")

    def from_(
        self,
        source: Source | DataFrame,
        aggregate_with: bool = False,
    ) -> "Pipeline":
        """Add a record source. ``aggregate_with=True`` unions with the
        current source (AggregateExtractor parity, ``YaEtl.php:305-340``);
        a second plain ``from_`` is a cross join (sequential re-extraction
        per upstream record, ``README.md:140-168`` — SURVEY.md §2.7).

        Root-extract floor: the FIRST ``from_`` reads a :class:`Source`
        whose ``min_parallelism`` is unset as if it were ``'auto'``, when
        the source fingerprints its input (today a local
        ``ParquetSource``). A scan with fewer splits than
        ``defaultParallelism`` — a single-row-group file — then gets one
        round-robin spread, so the joins, qualifiers, transforms and sink
        writes below it use every core instead of one; a scan that
        already splits is left alone. The split probe is memoized per
        session and input, so rebuilding the pipeline does not repeat
        it. Not floored: an explicit ``min_parallelism`` (``1`` never
        spreads), DataFrame / Memory / JDBC roots (no fingerprint, so
        the probe would run on every build), a second ``from_`` and
        :meth:`join` lookup sources. The spread costs one exchange of the
        root rows: in front of a broadcast join that is a win (an sf0.1
        lineitem-orders-customer flow on 4 cores, 6.50 -> 4.10 s), in front
        of a sort-merge join it adds to the join's own shuffle (the same
        flow with both joins forced to sort-merge, 3.22 -> 4.17 s) — pass
        ``min_parallelism=1`` there."""
        df = self._coerce_source(source, root=self._df is None)
        self._counters["num_from"] += 1
        if self._count_stages:
            # observe the INCOMING source frame before it is combined so
            # num_extract counts per-extractor records (the reference's
            # per-extractor semantics, YaEtl.php:38-53) — observing after
            # a union/crossJoin would double-count the upstream stream
            name = f"extract_{len(self._stage_obs)}"
            obs = Observation(f"_stage_{name}")
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            self._stage_obs.append((name, "extract", obs))
        if self._df is None:
            self._df = df
        elif aggregate_with:
            self._df = self._df.unionByName(df, allowMissingColumns=True)
        elif self._count_stages:
            # under a CartesianProduct each side re-executes once per
            # partition of the other, so the stage Observations would
            # multiply (nondeterministically, by partition count).
            # Broadcasting the incoming side pins BroadcastNestedLoopJoin:
            # the build side executes exactly once and the streamed side
            # once per own partition — both counters exact. This matches
            # the reference's sequential-from_ model (a small inner
            # source re-extracted per upstream record, README.md:140-168)
            # and is one more way count_stages pins the plan shape; a
            # too-large inner source belongs in join()/unionByName anyway.
            self._df = self._df.crossJoin(F.broadcast(df))
        else:
            self._df = self._df.crossJoin(df)
        return self

    def observe(self, name: str, *exprs: Column) -> "Pipeline":
        """Attach named metrics computed during the write pass."""
        obs = Observation(name)
        self._df = self._require_df().observe(obs, *exprs)
        self._observations.append((name, obs))
        return self

    def qualify(
        self,
        condition: Qualifier | Column | str | Callable,
        reject_to: Sink | None = None,
    ) -> "Pipeline":
        """Keep rows satisfying ``condition``. With ``reject_to``, the
        rows this stage DROPS (condition false or NULL) are captured as
        a side stream and written to the given sink at :meth:`run` —
        the quarantine / dead-letter pattern the reference's skip-style
        qualifiers silently discard
        (``src/Qualifiers/QualifierAbstract.php:61-81`` drops the
        record and moves on; here the drop is observable). The reject
        sink participates in the normal flush protocol and the run
        report gains ``num_rejected``.

        ``reject_to`` needs a condition-expressible predicate (Column /
        SQL string / ``df -> Column`` callable / :class:`Predicate`);
        flow interrupts (:class:`StopWhen` / :class:`BreakAt`) truncate
        the stream rather than reject rows, and opaque qualifiers don't
        expose a negatable condition — both raise. Scale note: the
        reject stream re-runs the upstream lineage up to this stage
        (same cost model as a branch over an unpersisted mid-chain
        frame); rejects captured here do not see a run-time
        root-targeted break's truncation.
        """
        from .operators.qualifiers import BreakAt, StopWhen

        df = self._require_df()
        self._counters["num_qualify"] += 1
        if reject_to is not None:
            if isinstance(condition, (StopWhen, BreakAt)):
                raise PipelineError(
                    "reject_to only applies to row-wise keep/skip "
                    "conditions; StopWhen/BreakAt truncate the flow "
                    "instead of rejecting individual rows"
                )
            if isinstance(condition, Predicate):
                raw = condition.condition
                cond = F.expr(raw) if isinstance(raw, str) else raw
            elif isinstance(condition, Qualifier):
                raise PipelineError(
                    "reject_to needs a condition-expressible qualifier "
                    "(Column / SQL string / callable / Predicate) — "
                    f"{type(condition).__name__} does not expose a "
                    "negatable condition"
                )
            elif callable(condition) and not isinstance(condition, Column):
                cond = condition(df)
            else:
                cond = F.expr(condition) if isinstance(condition, str) else condition
            # filter(cond) keeps TRUE rows; the complement (FALSE or
            # NULL) is exactly what this captures
            self._reject_chains.append(
                (df.filter(~cond | cond.isNull()), reject_to)
            )
            self._df = df.filter(cond)
            self._observe_stage("qualify")
            return self
        if isinstance(condition, StopWhen):
            self._dirty = True
            self._df = condition.apply(df)
        elif isinstance(condition, BreakAt):
            # dirty only if the break actually fires: count trigger rows via
            # a free observation on the pre-truncation frame (all pre rows
            # flow through it — the cut join's probe side)
            obs = Observation(f"_break_{len(self._break_obs)}")
            pre = df.observe(
                obs, F.count(F.when(condition._cond(), 1)).alias("n_trig")
            )
            self._break_obs.append(obs)
            self._df = condition.apply(pre)
        elif isinstance(condition, Qualifier):
            self._df = condition.apply(df)
        elif callable(condition) and not isinstance(condition, Column):
            self._df = df.filter(condition(df))
        else:
            self._df = Predicate(condition).apply(df)
        self._observe_stage("qualify")
        return self

    def transform(
        self, transformer: Transformer | Callable[[DataFrame], DataFrame]
    ) -> "Pipeline":
        df = self._require_df()
        self._counters["num_transform"] += 1
        t = transformer if isinstance(transformer, Transformer) else Apply(transformer)
        self._df = t.apply(df)
        self._observe_stage("transform")
        return self

    def join(
        self,
        source: Source | DataFrame,
        on: OnClause | str | Sequence[str] | Mapping[str, str],
        how: str = "inner",
        broadcast: bool = False,
    ) -> "Pipeline":
        df = self._require_df()
        self._counters["num_join"] += 1
        right = self._coerce_source(source)
        self._df = _join(df, right, on, how=how, broadcast=broadcast)
        self._observe_stage("join")
        return self

    def left_join(self, source, on, default_record=None, **kw) -> "Pipeline":
        clause = (
            on
            if isinstance(on, OnClause)
            else OnClause(on, default_record=default_record)
        )
        return self.join(source, clause, how="left", **kw)

    def limit(self, n: int) -> "Pipeline":
        """Keep ``n`` rows. Without an ordering (e.g. ``transform(lambda
        df: df.orderBy(...))``) WHICH rows is unspecified, as on any
        multi-split input — the root-extract spread of :meth:`from_`
        included. Use :class:`BreakAt` or an explicit ``orderBy`` for a
        deterministic cut."""
        self._df = self._require_df().limit(n)
        return self

    def offset(self, n: int) -> "Pipeline":
        """Skip ``n`` rows; unspecified rows without an ordering, see
        :meth:`limit`."""
        self._df = self._require_df().offset(n)
        return self

    def to(self, sink: Sink) -> "Pipeline":
        self._require_df()
        self._counters["num_to"] += 1
        self._sinks.append(sink)
        return self

    def branch(self, child: "Pipeline") -> "Pipeline":
        """Embed a child pipeline over this pipeline's current DataFrame.

        The child must NOT have its own root source; at run time its
        lineage is grafted onto the shared (persisted) upstream — fan-out
        parity (``YaEtl.php:223-229``)."""
        self._require_df()
        self._counters["num_branch"] += 1
        self._branches.append(child)
        return self

    # -- execution ------------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        """The composed DataFrame (for interactive use / explain)."""
        return self._require_df()

    def explain(self, mode: str = "formatted") -> None:
        self._require_df().explain(mode=mode)

    def run(
        self,
        count_records: bool = True,
        on_event: Callable[[str, dict], None] | None = None,
        progress_interval: float | None = None,
        scale_gate: bool | dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Execute: one write action per sink (+ branch sinks). Returns the
        stats report. With no sink, runs a noop write so the flow is
        actually exercised (parity: a YaEtl flow always executes).

        ``on_event`` receives (event, payload) callbacks mirroring the
        reference's event vocabulary (``src/Events/YaEtlEvent.php:17-37``):
        ``flow.start``, ``flow.flush`` (per sink), ``flow.success`` /
        ``flow.fail``. With ``progress_interval`` (seconds) set, a
        ``flow.progress`` event fires per active stage at that cadence,
        carrying (job, stage, tasks_done, tasks) from the status tracker —
        the ProgressBarSubscriber analogue
        (``src/Events/ProgressBarSubscriber.php:134-198``). Time-based
        throttling replaces the reference's every-1024-records progressMod:
        records don't tick one at a time in a vectorized engine, task
        completions do.

        ``scale_gate`` pre-flights the physical plan BEFORE any write:
        ``True`` runs :func:`yaetl_spark.plans.assert_scales` with
        defaults, a dict passes through as its kwargs (e.g.
        ``{"max_shuffles": 4, "allow_python": False}``; an empty dict
        gates with defaults, same as ``True``). On failure the
        flow raises without executing; on success the one-line plan
        summary lands in the report under ``"plan"``.
        """
        df = self._require_df()
        if self._ran and (
            self._count_stages
            or any(b._count_stages for b in self._branches)
            or self._observations
            or self._break_obs
        ):
            # Observations capture only their FIRST action; a second run
            # would silently report the first run's stage_records, user
            # observe() metrics, and BreakAt trigger counts (branch-level
            # BreakAt observations are re-created per replay and root
            # record counters are fresh per run, so a plain pipeline
            # stays re-runnable)
            raise PipelineError(
                "run() is single-shot once compose-time Observations are "
                "woven in (count_stages=True, observe(), or a root-flow "
                "BreakAt): PySpark Observations capture only their first "
                "action, so a second run would silently report the first "
                "run's metrics — recompose the pipeline to run again"
            )
        self._ran = True
        t0 = time.monotonic()
        # root-targeted breaks declared inside branches (BreakAt
        # target="root"): compute each cut eagerly (one-row job over the
        # branch's pre-break lineage), then truncate the SHARED flow with a
        # literal filter — pushdown-able, and sibling branches + root sinks
        # all see the truncated flow, matching the reference's root-targeted
        # break from inside a branch (tests/QualifierTest.php:570-648)
        broke = False
        for child in self._branches:
            for prefix_len, brk in child._root_breaks:
                trig_df = df
                for op in (child._ops or [])[:prefix_len]:
                    if getattr(op, "_stage_obs", False):
                        continue  # see _observe_stage_op: attach-once
                    trig_df = op(trig_df)
                cut_value = brk.cut(trig_df)
                if cut_value is not None:
                    df = brk.truncate(df, cut_value)
                    broke = True
        plan_info: str | None = None
        # identity, not truthiness: scale_gate={} means "gate with
        # defaults", exactly like True — only None/False skip the check
        if scale_gate is not None and scale_gate is not False:
            from .plans import assert_scales

            gate_kwargs = {} if scale_gate is True else dict(scale_gate)
            plan_info = str(assert_scales(df, **gate_kwargs))
        # break-truncated flows (StopWhen here or in a branch) flush dirty
        status = "dirty" if (
            broke or self._dirty or any(b._dirty for b in self._branches)
        ) else "clean"

        def emit(event: str, **payload) -> None:
            if on_event is not None:
                on_event(event, payload)

        emit("flow.start", counters=dict(self._counters))
        progress_stop = self._start_progress_poller(
            emit, progress_interval) if (
            on_event is not None and progress_interval) else None
        # record-count observation on the final frame, free during the write
        obs: Observation | None = None
        if count_records:
            obs = Observation("_pipeline")
            df = df.observe(obs, F.count(F.lit(1)).alias("num_records"))

        # sink chains: the root's sinks run in declared order over the root
        # frame, each branch's over its own lineage; within a chain a
        # returning sink's output feeds the next sink (docs/citizens.md:
        # 465-496 chained loaders)
        chains: list[tuple[list[Sink], DataFrame, bool]] = []
        if self._sinks:
            chains.append((list(self._sinks), df, False))
        n_branch_sinks = 0
        executed_branches: list["Pipeline"] = []
        for child in self._branches:
            if child._df is not None:
                raise PipelineError("branch pipelines must not call from_()")
            if child._sinks:
                chains.append((list(child._sinks), child._apply_to(df), False))
                n_branch_sinks += len(child._sinks)
                executed_branches.append(child)

        # reject side-streams: independent lineage (captured pre-filter at
        # their qualify stage), so they neither consume nor justify the
        # shared-upstream persist below
        root_actions = len(self._sinks) + n_branch_sinks
        reject_obs: list[Observation] = []
        for i, (rej_df, rej_sink) in enumerate(self._reject_chains):
            r_obs = Observation(f"_reject_{i}")
            chains.append((
                [rej_sink],
                rej_df.observe(r_obs, F.count(F.lit(1)).alias("n")),
                True,
            ))
            reject_obs.append(r_obs)
        n_actions = root_actions + (0 if root_actions else 1)
        load_obs: list[tuple[str, str, Observation]] = []
        persisted = False
        if n_actions > 1:
            # shared upstream: extract once, fan out (README.md:219-246)
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            persisted = True
        all_sinks: list[Sink] = []
        try:
            if not root_actions:
                from .sinks.base import NoOpSink

                NoOpSink().write(df)
            # register BEFORE writing: a sink whose write fails still gets
            # its flush('exception') — loaders always see the flow status
            # at flush time (LoaderAbstract.php:61-87). force_flush sinks
            # flush right after their own write (YaEtl.php:148-153);
            # everyone else defers to the root flush in `finally`.
            for sinks, chain_df, is_reject in chains:
                cur = chain_df
                for sink in sinks:
                    all_sinks.append(sink)
                    # reject sinks stay out of num_load — their row count
                    # is already reported as num_rejected
                    if self._count_stages and not is_reject:
                        lname = f"load_{len(load_obs)}"
                        lo = Observation(f"_stage_{lname}")
                        cur = cur.observe(
                            lo, F.count(F.lit(1)).alias("n"))
                        load_obs.append((lname, "load", lo))
                    ret = sink.write(cur)
                    if sink.returning and ret is not None:
                        cur = ret
                    if sink.force_flush:
                        all_sinks.remove(sink)
                        sink.flush(status)
                        emit("flow.flush", sink=type(sink).__name__,
                             status=status, forced=True)
            # all writes done → every BreakAt observation has a value; a
            # lazy (self-target) break that actually fired dirties the flow
            if status == "clean":
                break_obs = self._break_obs + [
                    o for b in self._branches for o in b._break_obs
                ]
                if any((o.get.get("n_trig") or 0) > 0 for o in break_obs):
                    status = "dirty"
        except Exception as exc:
            status = "exception"
            emit("flow.fail", error=repr(exc))
            raise
        finally:
            if progress_stop is not None:
                progress_stop()
            for sink in all_sinks:
                sink.flush(status)
                emit("flow.flush", sink=type(sink).__name__, status=status)
            if persisted:
                df.unpersist()
        report: dict[str, Any] = {
            "status": status,
            "duration_sec": round(time.monotonic() - t0, 3),
            **self._counters,
        }
        if obs is not None:
            report["num_records"] = obs.get.get("num_records")
        if reject_obs:
            report["num_rejected"] = sum(
                o.get.get("n") or 0 for o in reject_obs
            )
        if plan_info is not None:
            report["plan"] = plan_info
        branch_obs: list[tuple[str, str, Observation]] = []
        for i, child in enumerate(self._branches):
            # only branches whose chain actually ran have computed
            # observations (an attached-but-unexecuted one blocks on get)
            if child in executed_branches:
                branch_obs.extend(
                    (f"b{i}_{name}", kind, o)
                    for name, kind, o in child._stage_obs
                )
        if self._stage_obs or load_obs or branch_obs:
            # per-node record counts + the reference's RECORD-counter
            # vocabulary (num_extract/num_join/num_qualify/num_transform/
            # num_load, YaEtl.php:38-53); node-CALL counts stay top-level.
            # Branch stages land with a b{i}_ prefix and roll into the
            # same totals (QualifierTest.php:904-908 counts inside
            # branches too).
            stage_records: dict[str, Any] = {}
            totals = {k: 0 for k in (
                "num_extract", "num_join", "num_qualify",
                "num_transform", "num_load")}
            for name, kind, o in self._stage_obs + load_obs + branch_obs:
                n = o.get.get("n")
                stage_records[name] = n
                if n is not None:
                    totals[f"num_{kind}"] += n
            report["stage_records"] = stage_records
            # the totals dict claims the reference's FULL record-counter
            # vocabulary; with only branch-level counters on (parent
            # count_stages=False) num_extract/num_load would read 0
            # despite extracts/loads having run — emit per-stage counts
            # only, totals need the parent's counters
            if self._count_stages:
                report["records"] = totals
        for name, o in self._observations:
            report[f"observe_{name}"] = o.get
        emit("flow.success", report=dict(report))
        return report

    def _start_progress_poller(
        self, emit: Callable[..., None], interval: float
    ) -> Callable[[], None]:
        """Poll the status tracker on a daemon thread, emitting
        ``flow.progress`` per active stage. Returns a stop() that joins the
        thread. Driver-side observation only — zero executor overhead."""
        import threading

        stop_evt = threading.Event()
        tracker = self.spark.sparkContext.statusTracker()

        def poll() -> None:
            while not stop_evt.wait(interval):
                try:
                    for jid in tracker.getActiveJobsIds():
                        info = tracker.getJobInfo(jid)
                        for sid in (info.stageIds if info else []):
                            si = tracker.getStageInfo(sid)
                            if si and si.numTasks:
                                emit(
                                    "flow.progress",
                                    job=jid,
                                    stage=sid,
                                    tasks_done=si.numCompletedTasks,
                                    tasks=si.numTasks,
                                )
                except Exception:  # py4j races as jobs finish: drop tick
                    continue

        t = threading.Thread(
            target=poll, name="yaetl-progress", daemon=True)
        t.start()

        def stop() -> None:
            stop_evt.set()
            t.join(timeout=2)

        return stop

    def _apply_to(self, parent_df: DataFrame) -> DataFrame:
        """Branch lineage: replay deferred ops onto the shared upstream."""
        if self._ops is None:
            raise PipelineError("branches must be BranchPipeline instances")
        df = parent_df
        for op in self._ops:
            df = op(df)
        return df

    # Deferred-op list; only BranchPipeline populates it.
    _ops: list[Callable[[DataFrame], DataFrame]] | None = None

    def collect(self) -> list:
        return self._require_df().collect()


class BranchPipeline(Pipeline):
    """Sourceless pipeline whose grammar records deferred ops; used with
    ``parent.branch(child)`` for fan-out over a shared cached upstream."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        count_stages: bool = False,
    ):
        """``count_stages=True`` weaves a record counter after every
        deferred grammar op, reported by the PARENT run() under
        ``b{i}_``-prefixed stage names (reference counts per-node inside
        branches, ``tests/QualifierTest.php:904-908``). The branch's
        counters only materialize if the branch has a sink (otherwise
        its lineage never runs)."""
        super().__init__(spark, count_stages=count_stages)
        self._ops = []

    def _require_df(self) -> DataFrame:  # grammar guard not applicable
        raise PipelineError("BranchPipeline composes lazily; no df until run")

    def _observe_stage_op(self, kind: str) -> None:
        """Deferred-op twin of :meth:`Pipeline._observe_stage`: the
        Observation is created now (stable report name), attached when
        the op list is replayed onto the shared upstream at run()."""
        if not self._count_stages:
            return
        name = f"{kind}_{len(self._stage_obs)}"
        obs = Observation(f"_stage_br_{id(self)}_{name}")
        self._stage_obs.append((name, kind, obs))

        def op(df: DataFrame, _o=obs) -> DataFrame:
            return df.observe(_o, F.count(F.lit(1)).alias("n"))

        # marker lets the root-break trigger replay skip this op: an
        # Observation attaches once, and the eager trigger job must not
        # consume (or mis-capture) the branch's stage counters
        op._stage_obs = True  # type: ignore[attr-defined]
        self._ops.append(op)

    def from_(self, *a, **kw):
        raise PipelineError("branch pipelines must not call from_()")

    def qualify(self, condition) -> "BranchPipeline":
        from .operators.qualifiers import BreakAt, StopWhen

        self._counters["num_qualify"] += 1
        if isinstance(condition, StopWhen):
            self._dirty = True
            self._ops.append(condition.apply)
        elif isinstance(condition, BreakAt) and condition.target == "root":
            # recorded for Pipeline.run(): the cut is computed over this
            # branch's lineage up to here, then truncates the shared flow.
            # No local op — the root truncation already covers this branch.
            self._root_breaks.append((len(self._ops), condition))
        elif isinstance(condition, BreakAt):

            def op(df: DataFrame, _brk=condition) -> DataFrame:
                obs = Observation(f"_br_break_{id(_brk)}")
                self._break_obs.append(obs)
                pre = df.observe(
                    obs, F.count(F.when(_brk._cond(), 1)).alias("n_trig")
                )
                return _brk.apply(pre)

            self._ops.append(op)
        elif isinstance(condition, Qualifier):
            self._ops.append(condition.apply)
        elif callable(condition) and not isinstance(condition, Column):
            self._ops.append(lambda df: df.filter(condition(df)))
        else:
            self._ops.append(Predicate(condition).apply)
        # root-targeted breaks add no local op (the truncation happens on
        # the shared root flow), so there is no local stream to count
        if not (
            isinstance(condition, BreakAt) and condition.target == "root"
        ):
            self._observe_stage_op("qualify")
        return self

    def transform(self, transformer) -> "BranchPipeline":
        self._counters["num_transform"] += 1
        t = transformer if isinstance(transformer, Transformer) else Apply(transformer)
        self._ops.append(t.apply)
        self._observe_stage_op("transform")
        return self

    def join(self, source, on, how: str = "inner", broadcast: bool = False):
        self._counters["num_join"] += 1

        def op(df: DataFrame) -> DataFrame:
            right = self._coerce_source(source)
            return _join(df, right, on, how=how, broadcast=broadcast)

        self._ops.append(op)
        self._observe_stage_op("join")
        return self

    def limit(self, n: int) -> "BranchPipeline":
        self._ops.append(lambda df: df.limit(n))
        return self

    def to(self, sink: Sink) -> "BranchPipeline":
        self._counters["num_to"] += 1
        self._sinks.append(sink)
        return self
