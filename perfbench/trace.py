"""Traced-mode instruments: spans, per-span Spark job groups, wrappers
around the program's public functions, and the event-log reader.

Nothing here is imported or installed in an untraced run. Wrappers are
installed at the name the caller looks up (``flows.pipeline.schema_gate``
because pipeline.py imports it by name; ``operators.train.bpe_train_merges``
because queries_train calls it through the module) and every one is
undone by ``Tracer.uninstall``.

A span's job group is ``pb<span id>``; Spark tags each job with the group
of the thread that launched it, so the event log attributes every job to
the innermost span that was open on that thread. Jobs launched with no
benchmark group are attributed by submission time to the operation
running then; the workloads are single-client, so operations never
overlap.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench import stats

_GROUP_PREFIX = "pb"


class Tracer:
    """In-memory spans plus counters; written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op_span: int | None = None
        self.op_id: int | None = None
        self.op_start = 0.0
        self.sc = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: bool = False):
        """Record a span; its Spark jobs carry the span's job group.
        ``op=True`` marks an operation root (its parent is None)."""
        stack = self._stack()
        sid = next(self._ids)
        parent = None if op else (stack[-1] if stack else self.op_span)
        if op:
            self.op_span = sid
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", name)
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.add_span(name, start, end, parent, sid)

    def add_span(self, name, start, end, parent, sid=None) -> int:
        sid = sid if sid is not None else next(self._ids)
        with self._lock:
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "op": self.op_id}
            )
        return sid

    def count(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[name] += value

    # -- wrappers -----------------------------------------------------------
    def patch(self, owner, attr: str, span_name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``after(result,
        args, kwargs)`` runs inside the span (e.g. to size a write)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                out = orig(*args, **kwargs)
                if after is not None:
                    after(out, args, kwargs)
                return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def replace(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def install_common(self) -> None:
        """Wrappers every workload shares: the memo hit counter."""
        from salesforce_prefect_etl_pipeline_spark import memo

        orig_get = memo.AppMemo.get
        tracer = self
        miss = object()

        def get(self_, key, default=None):
            out = orig_get(self_, key, miss)
            tracer.count("memo.gets")
            if out is miss:
                return default
            tracer.count("memo.hits")
            return out

        self.replace(memo.AppMemo, "get", get)

    def install_flow(self) -> None:
        """Stage, gate, quality, io, metadata and compiler wrappers for
        ``flows.pipeline.run_pipeline``."""
        from salesforce_prefect_etl_pipeline_spark import metadata
        from salesforce_prefect_etl_pipeline_spark.flows import pipeline
        from salesforce_prefect_etl_pipeline_spark.sources import io as sio

        tracer = self
        base_stage = pipeline.Stage
        base_runner = pipeline.LocalTaskRunner

        class TracedStage(base_stage):
            def __call__(self, *args, **kwargs):
                with tracer.span(f"flows.stages.{self.name}"):
                    try:
                        return super().__call__(*args, **kwargs)
                    finally:
                        tracer.count("flows.stages.retries", max(0, self.attempts - 1))

        class TracedRunner(base_runner):
            def __init__(self, *args, **kwargs):
                # the run's cached extract is materialized just before
                # the QA runner is built: that interval is raw_cache
                tracer.add_span(
                    "flows.stages.raw_cache", tracer.op_start, time.time(), tracer.op_span
                )
                super().__init__(*args, **kwargs)

            def submit(self, fn, *args, wait_for=(), **kwargs):
                def waited(*a, **k):
                    t0 = time.time()
                    for f in wait_for:
                        f.result()
                    tracer.count("flows.stages.gate_wait_s", time.time() - t0)
                    return fn(*a, **k)

                return super().submit(waited, *args, **kwargs)

        self.replace(pipeline, "Stage", TracedStage)
        self.replace(pipeline, "LocalTaskRunner", TracedRunner)
        for fn in ("schema_gate", "nonempty_gate", "profile_columns", "rowcount_drift_check"):
            self.patch(pipeline, fn, f"operators.quality.{fn}")
        self.patch(pipeline, "dedup_keep_first", "operators.dedup.dedup_keep_first")
        for fn in ("prepare_input", "build_agg_exprs"):
            self.patch(pipeline, fn, f"plans.compiler.{fn}")

        def sized(_out, args, _kwargs):
            tracer.count("sources.io.bytes_written", stats.tree_bytes(args[1]))

        for fn in ("write_csv_single", "write_json_records", "snapshot_parquet"):
            self.patch(sio, fn, f"sources.io.{fn}", after=sized)
        for fn in ("append", "write_latest"):
            self.patch(metadata.RunMetadataStore, fn, f"metadata.{fn}")

    def install_loops(self) -> None:
        """Operator wrappers at their callers' lookup names (the
        registered queries call them through the module)."""
        from salesforce_prefect_etl_pipeline_spark.operators import train

        self.patch(train, "bpe_train_merges", "operators.train.bpe_train_merges")

    def listen_planning(self, spark) -> None:
        """Sum the QueryPlanningTracker phases (analysis, optimization,
        planning) of every query the session executes, through a
        QueryExecutionListener served by the py4j callback server."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        tracer = self

        class PlanningListener:
            def onSuccess(self, _func, qe, _duration_ns):
                it = qe.tracker().phases().values().iterator()
                ms = 0
                while it.hasNext():
                    ms += it.next().durationMs()
                tracer.count("spark.planning_ms", ms)

            def onFailure(self, _func, _qe, _exc):
                tracer.count("spark.failed_queries")

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = PlanningListener()
        self._listeners = spark._jsparkSession.listenerManager()
        self._listeners.register(self._listener)

    def stop_listening(self) -> None:
        time.sleep(1.0)  # the listener bus delivers asynchronously
        self._listeners.unregister(self._listener)

    @contextmanager
    def op(self, op_id: int, name: str):
        """The root span of one timed operation."""
        self.op_id = op_id
        self.op_start = time.time()
        with self.span(name, op=True) as sid:
            yield sid

    # -- output -------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


# ----------------------------------------------------------------------
# Event log


def read_event_log(path: str) -> tuple[dict, dict]:
    """(jobs, stage metrics) from an uncompressed event log.

    jobs: job id -> {group, submit_s, stages}
    stage metrics: stage id -> task metrics summed over its attempts
    """
    jobs: dict[int, dict] = {}
    stage_metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit_s": ev.get("Submission Time", 0) / 1000.0,
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stage_metrics[info["Stage ID"]]["ran"] = 1
            elif kind == "SparkListenerTaskEnd":
                m = stage_metrics[ev["Stage ID"]]
                ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                m["tasks"] += 1
                if ti.get("Failed"):
                    m["failed_tasks"] += 1
                run = tm.get("Executor Run Time", 0)
                m["executor_run_ms"] += run
                m["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                m["gc_ms"] += tm.get("JVM GC Time", 0)
                m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                m["scheduler_delay_ms"] += max(
                    0,
                    dur
                    - run
                    - tm.get("Executor Deserialize Time", 0)
                    - tm.get("Result Serialization Time", 0)
                    - (
                        ti.get("Finish Time", 0) - ti["Getting Result Time"]
                        if ti.get("Getting Result Time")
                        else 0
                    ),
                )
    return jobs, stage_metrics


ENGINE_FIELDS = (
    "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "scheduler_delay_ms", "failed_tasks",
)


def attribute_jobs(jobs: dict, spans: list[dict]) -> dict[int, list[int]]:
    """span id -> job ids launched directly in it. Jobs without a
    benchmark group go to the operation whose root span contains their
    submission time; jobs outside every operation are dropped."""
    ids = {s["id"] for s in spans}
    roots = sorted((s["start"], s["end"], s["id"]) for s in spans if s["parent"] is None)
    out: dict[int, list[int]] = defaultdict(list)
    for jid, j in jobs.items():
        g = j["group"] or ""
        sid = int(g[len(_GROUP_PREFIX):]) if g.startswith(_GROUP_PREFIX) and g[len(_GROUP_PREFIX):].isdigit() else None
        if sid in ids:
            out[sid].append(jid)
            continue
        for a, b, rid in roots:
            if a - 0.001 <= j["submit_s"] <= b + 0.001:
                out[rid].append(jid)
                break
    return out


def subtree(spans: list[dict]) -> dict[int, list[int]]:
    """span id -> ids of itself and all descendants."""
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out = {}
    for s in spans:
        todo, seen = [s["id"]], []
        while todo:
            x = todo.pop()
            seen.append(x)
            todo.extend(kids.get(x, []))
        out[s["id"]] = seen
    return out


def layer_metrics(spans: list[dict], jobs: dict, stage_metrics: dict) -> dict[str, dict]:
    """Per-layer busy time (summed inclusive span durations per name),
    self time, and Spark jobs per span name; per-op engine figures."""
    by_span = attribute_jobs(jobs, spans)
    tree = subtree(spans)
    selfs = stats.self_times(spans)
    names: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        n = names[s["name"]]
        n["busy_s"] += s["end"] - s["start"]
        n["self_s"] += selfs[s["id"]]
        n["calls"] += 1
        n["jobs"] += sum(len(by_span.get(x, [])) for x in tree[s["id"]])
    roots = [s for s in spans if s["parent"] is None]
    engine: dict[str, float] = defaultdict(float)
    jobs_by_kind: dict[str, list[int]] = defaultdict(list)
    for r in roots:
        jids = [j for x in tree[r["id"]] for j in by_span.get(x, [])]
        jobs_by_kind[r["name"]].append(len(jids))
        engine["jobs"] += len(jids)
        stage_ids = {sid for j in jids for sid in jobs[j]["stages"]}
        engine["stages"] += sum(1 for sid in stage_ids if stage_metrics.get(sid, {}).get("ran"))
        for sid in stage_ids:
            for fld in ENGINE_FIELDS:
                engine[fld] += stage_metrics.get(sid, {}).get(fld, 0.0)
    n_ops = max(1, len(roots))
    per_op = {k: v / n_ops for k, v in engine.items()}
    return {
        "names": {k: dict(v) for k, v in names.items()},
        "per_op": per_op,
        "n_ops": len(roots),
        "jobs_by_kind": dict(jobs_by_kind),
    }
