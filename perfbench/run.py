"""Benchmark runner: prepares data and oracle answers, sets up a Spark
session, runs one workload closed loop for whole rounds sized to about
``--seconds`` of timed operations, checks every operation's output, and
prints the result.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_flow --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 30 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines
before it list every metric with its unit; the full record (manifest,
per-op latencies, spans in traced runs) is written under
``.perfbench_data/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import datagen, stats  # noqa: E402
from perfbench import oracle as oracle_mod  # noqa: E402
from perfbench import workloads as wl  # noqa: E402

#: Wall-clock cap on the timed phase, so a run always exits well within
#: the 180 s a run may take even when the program is slow.
TIMED_WALL_CAP_S = 120.0

#: The result line's metrics: every workload defines them. Per-op cost
#: is CPU time, not wall latency: the kernel does not charge a process
#: for time the hypervisor gives to other guests, and on a shared host
#: that time moved wall latency by up to 60% between runs (see
#: perfbench/README.md and ``work_cpu_s``).
END_TO_END = {
    "op_cpu_s": "s",
    "setup_s": "s",
}
#: Printed and recorded beside them (see perfbench/README.md for why
#: they are not in the result line).
EXTRA_UNITS = {
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "write_p50_s": "s",
    "write_tail_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "failed_ratio": "ratio",
}


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _tree() -> dict[int, list[str]]:
    """This process and its descendants, zombies included: pid -> the
    fields of /proc/<pid>/stat after the command name (state first)."""
    stat: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stat[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = {}, [os.getpid()]
    while todo:
        p = todo.pop()
        if p in stat:
            out[p] = stat[p]
        todo.extend(children.get(p, []))
    return out


def _descendants() -> list[int]:
    """Live descendant processes of this one (zombies left out)."""
    return [p for p, f in _tree().items() if p != os.getpid() and f[0] != "Z"]


def cpu_snapshot() -> tuple[int, dict[int, int]]:
    """CPU ticks (user plus system) used so far by this process, its
    descendants (the Spark JVM, Spark's Python workers) and their reaped
    children; and the ticks of each JIT compiler thread among them, by
    thread id. The kernel charges no ticks for time the hypervisor gave
    to other guests."""
    tree = _tree()
    total = sum(sum(int(v) for v in f[11:15]) for f in tree.values())
    jit: dict[int, int] = {}
    for pid in tree:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if "CompilerThre" in stat[stat.index("(") + 1 : stat.rindex(")")]:
                fields = stat.rsplit(")", 1)[1].split()
                jit[int(tid)] = int(fields[11]) + int(fields[12])
    return total, jit


def work_cpu_s(before: tuple[int, dict[int, int]], after: tuple[int, dict[int, int]]) -> float:
    """CPU seconds between two ``cpu_snapshot``s, less the JVM's JIT
    compiler threads. Spark generates new classes for every query, so
    the JVM compiles in the background all through a run, and how much
    it compiles during a given operation varies from run to run more
    than the operation's own work does. A compiler thread that ended
    between the snapshots (HotSpot ends idle ones) is charged to the
    operation from its last reading."""
    jit = sum(v - before[1].get(tid, 0) for tid, v in after[1].items())
    return (after[0] - before[0] - jit) / os.sysconf("SC_CLK_TCK")


def _jvm_pids() -> list[int]:
    """Descendant processes of this one that are the Spark JVM."""
    out = []
    for p in _descendants():
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    out.append(p)
        except OSError:
            continue
    return out


#: prctl option that makes orphaned descendants children of this process
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the subreaper of every process this one starts: when the
    Spark JVM or a data-generation child exits, its own children (Python
    workers, a child's JVM) become this process's children, so
    ``stop_processes`` can wait for them too."""
    import ctypes

    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 60.0) -> None:
    """Stop the Spark gateway JVM, then wait until every process this
    one started has ended, killing what is left after ``grace_s``."""
    import signal

    sc_mod = sys.modules.get("pyspark.core.context")
    gateway = getattr(getattr(sc_mod, "SparkContext", None), "_gateway", None)
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin ends
        proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        sc_mod.SparkContext._gateway = None
        sc_mod.SparkContext._jvm = None
    deadline = time.time() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        left = _descendants()
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sig = signal.SIGKILL
            deadline = time.time() + 5.0
        time.sleep(0.1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far (/proc/stat)."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def peak_rss_mb() -> float:
    """Summed VmHWM of this process (the Spark session's Python side)
    and the Spark JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    kb += sum(_status_kb(p, "VmHWM") for p in _jvm_pids())
    return kb / 1024.0


def applied_overrides(spark) -> dict[str, str | None]:
    """``$SPARK_GRAFT_CONF`` pairs, split by the same ``key=value``
    filter session.get_spark applies, with the value the live session
    actually holds for each key."""
    conf = spark.sparkContext.getConf()
    out = {}
    for pair in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in pair:
            k = pair.split("=", 1)[0].strip()
            out[k] = conf.get(k, None)
    return out


# ----------------------------------------------------------------------
# Preparation


def prepare_data(data: Path, need_sf1: bool) -> tuple[dict, dict, dict]:
    """Base and (when ``need_sf1``) sf1 data, each reused while
    its recorded checksums (and, for sf1, the layout guard) hold.
    Returns (dirs, data keys, preparation record)."""
    dirs = {k: str(data / k) for k in ("base", "sf1")}
    record: dict = {}
    t0 = time.time()
    sums = datagen.verified_checksums(dirs["base"])
    record["base_reused"] = sums is not None
    if sums is None:
        sums = datagen.write_base(dirs["base"])
    record["base_prep_s"] = time.time() - t0
    keys = {"base": oracle_mod.data_key(sums)}
    if not need_sf1:
        record["checksums"] = keys
        return dirs, keys, record
    t0 = time.time()
    sums = datagen.verified_checksums(dirs["sf1"])
    if sums is not None and not datagen.layout_ok(dirs["sf1"], str(ROOT / "tools")):
        sums = None
    record["sf1_reused"] = sums is not None
    if sums is None:
        sums = datagen.write_sf1(dirs["base"], dirs["sf1"], str(ROOT), dict(os.environ))
    record["sf1_prep_s"] = time.time() - t0
    keys["sf1"] = oracle_mod.data_key(sums)
    record["checksums"] = keys
    return dirs, keys, record


def start_session(event_log_dir: str | None):
    from salesforce_prefect_etl_pipeline_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


# ----------------------------------------------------------------------
# One workload


def timed_loop(w: wl.Workload, ctx: wl.Ctx, rounds, tracer=None):
    """Run the given rounds closed loop; check each output right after
    its operation, outside the timed interval. An operation fails if it
    raises or its check reports a problem.

    Returns (records, problems, timed seconds, rounds run, truncated).
    """
    records, problems_all = [], []
    timed = 0.0
    done = 0
    truncated = False
    t_loop = time.time()
    op_id = 0
    for rnd in rounds:
        for op in rnd:
            if time.time() - t_loop > TIMED_WALL_CAP_S:
                truncated = True
                break
            op_id += 1
            out, err = None, None
            cpu0 = cpu_snapshot()
            t0 = time.perf_counter()
            try:
                if tracer is not None:
                    with tracer.op(op_id, f"op.{op.kind}"):
                        out = w.run(ctx, op)
                else:
                    out = w.run(ctx, op)
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                err = traceback.format_exc(limit=3)
            dt = time.perf_counter() - t0
            cpu = work_cpu_s(cpu0, cpu_snapshot())
            timed += dt
            if err is None:
                try:
                    probs = w.check(ctx, op, out)
                except Exception:  # noqa: BLE001 - a check that cannot run is a failure
                    probs = [traceback.format_exc(limit=3)]
            else:
                probs = [err]
            if probs:
                problems_all.append({"op": op_id, "kind": op.kind, "problems": probs})
                print(f"# FAILED {w.name} op {op_id} {op.kind}: {probs[0]}", file=sys.stderr)
            records.append(
                {"kind": op.kind, "write": op.write, "s": dt, "cpu_s": cpu, "ok": not probs}
            )
        if truncated:
            break
        done += 1
    return records, problems_all, timed, done, truncated


def n_rounds(w: wl.Workload, seconds: float) -> int:
    """Rounds a run measures: ``seconds`` of work at the workload's
    nominal round time. A fixed count, not a deadline, so every run of a
    workload measures the same operations whatever the machine's speed
    at the moment: a deadline that falls near a round boundary would
    measure one round more or less from run to run."""
    return max(1, round(seconds / w.round_s))


def run_workload(w: wl.Workload, ctx: wl.Ctx, args, t_origin: float) -> dict:
    """Set up, run the timed loop, and collect the workload's figures.
    ``t_origin`` is when this workload's setup began: process start
    (preparation time excluded) for the first workload of a run."""
    trace = bool(args.trace)
    event_dir = os.path.join(ctx.work_dir, "eventlog") if trace else None
    t0 = time.time()
    if ctx.spark is None:
        if event_dir is not None:
            shutil.rmtree(event_dir, ignore_errors=True)
        ctx.spark = start_session(event_dir)
    t1 = time.time()
    ctx.state.clear()
    w.setup(ctx, args.seed)
    t2 = time.time()
    w.warm(ctx)
    t3 = time.time()
    setup_s = t3 - t_origin
    parts = {"before_session_s": t0 - t_origin, "session_s": t1 - t0,
             "state_s": t2 - t1, "warm_s": t3 - t2}

    rounds = w.rounds(args.seed, n_rounds(w, args.seconds), w.vocab(ctx))
    tracer = None
    if trace:
        from perfbench import trace as trace_mod

        tracer = trace_mod.Tracer()
        tracer.sc = ctx.spark.sparkContext
        tracer.install_common()
        tracer.install_flow()
        tracer.install_loops()
        tracer.listen_planning(ctx.spark)
        ctx.tracer = tracer

    steal0, total0 = cpu_ticks()
    records, problems_all, timed, rounds_run, truncated = timed_loop(w, ctx, rounds, tracer)
    steal1, total1 = cpu_ticks()

    rss = peak_rss_mb()
    if tracer is not None:
        tracer.stop_listening()
        tracer.uninstall()
        ctx.tracer = None
    finish = w.finish(ctx, trace)
    spark = ctx.spark
    manifest = {
        "workload": w.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(trace),
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version,
        "jvm_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark_graft_conf_applied": applied_overrides(spark),
        "op_sequence_hash": wl.sequence_hash(rounds),
        "code_hash": code_hash(),
        "rounds": rounds_run,
        "truncated": truncated,
        "setup_parts": parts,
        # CPU time the hypervisor gave to other guests during the timed
        # phase: a run on a contended host reads slow for that reason
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
    }
    lat = [(r["kind"], r["s"]) for r in records if not r["write"]]
    wlat = [r["s"] for r in records if r["write"]]
    attempted, failed = len(records), sum(1 for r in records if not r["ok"])
    label, tail_v, n = stats.tail([v for _k, v in lat])
    e2e = {
        "op_cpu_s": stats.typical([(r["kind"], r["cpu_s"]) for r in records if not r["write"]]),
        "setup_s": setup_s,
    }
    extra = {"op_tail_percentile": label, "op_samples": n}
    e2e_extra = {
        "op_p50_s": stats.typical(lat),
        "ops_per_s": attempted / timed,
        "op_tail_s": tail_v,
        "peak_rss_mb": rss,
        "failed_ratio": failed / attempted,
    }
    if wlat:
        wl_label, wl_tail, wl_n = stats.tail(wlat)
        e2e_extra.update(write_p50_s=stats.median(wlat), write_tail_s=wl_tail)
        extra.update(write_tail_percentile=wl_label, write_samples=wl_n)
    if "stored_bytes_per_input_byte" in finish:
        e2e_extra["stored_bytes_per_input_byte"] = finish["stored_bytes_per_input_byte"]

    result = {
        "manifest": manifest,
        "end_to_end": e2e,
        "end_to_end_extra": e2e_extra,
        "extra": extra,
        "attempted": attempted,
        "failed": failed,
        "problems": problems_all,
        "ops": records,
        "finish": finish,
    }
    if tracer is not None:
        spark.stop()
        ctx.spark = None
        result["layers"], lm = per_layer(
            tracer, event_dir, finish, parts["session_s"], rss, timed
        )
        # per span name: summed busy and self time, calls, Spark jobs;
        # and the job count of every operation, by kind
        result["spans_by_name"] = lm["names"]
        result["jobs_by_kind"] = lm["jobs_by_kind"]
        tracer.dump(os.path.join(ctx.work_dir, f"spans-{w.name}.json"))
    return result


# ----------------------------------------------------------------------
# Per-layer metrics


def _busy(names: dict, name: str, key: str = "busy_s") -> float:
    return names.get(name, {}).get(key, 0.0)


#: operator functions wrapped by ``Tracer.install_loops``
OPERATOR_FNS = (
    "operators.train.bpe_train_merges",
)
#: metric name -> wrapped function, kept short so that the names stay
#: within 64 characters under a workload prefix in ``--workload all``
RETRIEVAL_FNS = {
    "probe": "probe_text_index",
    "append": "append_text_index",
    "retract": "retract_text_index",
    "maybe_compact": "maybe_compact_text_index",
}
FLOW_STAGES = ("raw_cache", "schema_gate", "nonempty_gate", "dedup", "profile", "snapshot", "process")
#: engine figure -> unit; all per operation
SPARK_FIELDS = {
    "jobs_per_op": "count",
    "stages_per_op": "count",
    "tasks_per_op": "count",
    "planning_ms": "ms",
    "scheduler_delay_ms": "ms",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "gc_ms": "ms",
    "input_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "failed_tasks": "count",
}


def _layer_units() -> dict[str, str]:
    u = {"session.start_s": "s", "session.peak_rss_mb": "MB"}
    u.update({f"flows.stages.{st}.busy_s": "s" for st in FLOW_STAGES})
    u.update({
        "flows.stages.gate_wait_s": "s",
        "flows.stages.retries": "count",
        "flows.stages.overlap_ratio": "ratio",
        "operators.quality.busy_s": "s",
        "operators.quality.jobs": "count",
        "sources.io.write_s": "s",
        "sources.io.jobs": "count",
        "sources.io.bytes_written": "bytes",
        "metadata.append_s": "s",
        "metadata.store_bytes": "bytes",
        "plans.compiler.build_s": "s",
        "queries.build_s": "s",
        "queries.action_s": "s",
    })
    for fn in OPERATOR_FNS:
        u.update({f"{fn}.busy_s": "s", f"{fn}.jobs": "count"})
    u["memo.hit_ratio"] = "ratio"
    for short in RETRIEVAL_FNS:
        u[f"operators.retrieval.{short}.busy_s"] = "s"
        u[f"operators.retrieval.{short}.jobs"] = "count"
    u.update({
        "operators.retrieval.compactions": "count",
        "index.files": "count",
        "index.bytes": "bytes",
        "index.committed_batches": "count",
        "index.live_posting_ratio": "ratio",
    })
    u.update({f"spark.{k}": unit for k, unit in SPARK_FIELDS.items()})
    return u


#: Every per-layer metric name with its unit.
LAYER_UNITS = _layer_units()


def per_layer(tracer, event_dir, finish, session_s, peak_rss, timed) -> tuple[dict, dict]:
    """Layer figures per operation (sums over the run divided by the
    number of operations), from spans, counters and the event log; and
    the span and job attribution they were computed from."""
    from perfbench import trace as trace_mod

    logs = sorted(Path(event_dir).iterdir(), key=lambda p: p.stat().st_mtime)
    jobs, stage_metrics = trace_mod.read_event_log(str(logs[-1]))
    lm = trace_mod.layer_metrics(tracer.spans, jobs, stage_metrics)
    names, per_op, n_ops = lm["names"], lm["per_op"], max(1, lm["n_ops"])
    c = tracer.counters
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out["session.start_s"] = session_s
    out["session.peak_rss_mb"] = peak_rss
    for st in FLOW_STAGES:
        out[f"flows.stages.{st}.busy_s"] = _busy(names, f"flows.stages.{st}") / n_ops
    out["flows.stages.gate_wait_s"] = c.get("flows.stages.gate_wait_s", 0.0) / n_ops
    out["flows.stages.retries"] = c.get("flows.stages.retries", 0.0)
    out["flows.stages.overlap_ratio"] = (
        sum(_busy(names, f"flows.stages.{st}") for st in FLOW_STAGES) / timed
    )
    q = [n for n in names if n.startswith("operators.quality.")]
    out["operators.quality.busy_s"] = sum(_busy(names, n) for n in q) / n_ops
    out["operators.quality.jobs"] = sum(_busy(names, n, "jobs") for n in q) / n_ops
    io = [n for n in names if n.startswith("sources.io.")]
    out["sources.io.write_s"] = sum(_busy(names, n) for n in io) / n_ops
    out["sources.io.jobs"] = sum(_busy(names, n, "jobs") for n in io) / n_ops
    out["sources.io.bytes_written"] = c.get("sources.io.bytes_written", 0.0) / n_ops
    out["metadata.append_s"] = (
        _busy(names, "metadata.append") + _busy(names, "metadata.write_latest")
    ) / n_ops
    out["metadata.store_bytes"] = finish.get("metadata.store_bytes", 0)
    out["plans.compiler.build_s"] = sum(
        _busy(names, n) for n in names if n.startswith("plans.compiler.")
    ) / n_ops
    out["queries.build_s"] = _busy(names, "queries.build") / n_ops
    out["queries.action_s"] = _busy(names, "queries.action") / n_ops
    for fn in OPERATOR_FNS:
        out[f"{fn}.busy_s"] = _busy(names, fn) / n_ops
        out[f"{fn}.jobs"] = _busy(names, fn, "jobs") / n_ops
    gets = c.get("memo.gets", 0.0)
    out["memo.hit_ratio"] = c.get("memo.hits", 0.0) / gets if gets else 0.0
    for short, fn in RETRIEVAL_FNS.items():
        span = f"operators.retrieval.{fn}"
        calls = max(1.0, _busy(names, span, "calls"))
        # per call of that function: probes and writes differ in count
        out[f"operators.retrieval.{short}.busy_s"] = _busy(names, span) / calls
        out[f"operators.retrieval.{short}.jobs"] = _busy(names, span, "jobs") / calls
    for k in ("operators.retrieval.compactions", "index.files", "index.bytes",
              "index.committed_batches", "index.live_posting_ratio"):
        out[k] = finish.get(k, 0)
    for k in SPARK_FIELDS:
        src = {"jobs_per_op": "jobs", "stages_per_op": "stages", "tasks_per_op": "tasks"}.get(k, k)
        out[f"spark.{k}"] = per_op.get(src, 0.0)
    out["spark.planning_ms"] = c.get("spark.planning_ms", 0.0) / n_ops
    return out, lm


# ----------------------------------------------------------------------


#: Sources whose code a run measures; their hash goes in the manifest.
CODE_ROOTS = ("__spark_entry__.py", "salesforce_prefect_etl_pipeline_spark", "perfbench")


def code_hash() -> str:
    """sha256 over the measured sources (every .py file under
    ``CODE_ROOTS``, by relative path and content)."""
    h = hashlib.sha256()
    for top in CODE_ROOTS:
        p = ROOT / top
        files = [p] if p.is_file() else sorted(p.rglob("*.py"))
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()[:16]


def _pairing(manifest: dict) -> dict:
    """What a traced run shares with the untraced run it is compared
    to: the same code, data and operation sequence."""
    return {
        "code_hash": manifest["code_hash"],
        "op_sequence_hash": manifest["op_sequence_hash"],
        "checksums": manifest["preparation"]["checksums"],
    }


def trace_overhead(traced: dict, untraced: dict | None) -> dict | None:
    """Traced minus untraced end-to-end figures, and the traced
    ``op_cpu_s`` and ``op_p50_s`` as shares over the untraced ones; None
    unless the untraced record ran the same code on the same data and
    operation sequence. ``untraced["end_to_end"]`` holds every figure,
    the result line's and the ones printed beside them."""
    if untraced is None or untraced["pairing"] != _pairing(traced["manifest"]):
        return None
    base = untraced["end_to_end"]
    now = {**traced["end_to_end"], **traced["end_to_end_extra"]}
    out = {k: now[k] - base[k] for k in base if k in now}
    for k in ("op_cpu_s", "op_p50_s"):
        out[k.removesuffix("_s") + "_share"] = now[k] / base[k] - 1.0
    return out


def process_start() -> float:
    """Wall-clock time this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def main(argv: list[str] | None = None) -> int:
    t_origin = process_start()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*wl.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "salesforce_prefect_etl_pipeline_spark").is_dir() or not (
        ROOT / "tools" / "gen_scale_data.py"
    ).is_file():
        print(
            f"perfbench: {ROOT} holds no program sources "
            "(salesforce_prefect_etl_pipeline_spark/, tools/); nothing to measure",
            file=sys.stderr,
        )
        return 2

    data = ROOT / ".perfbench_data"
    tmp = data / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # everything a run writes stays in the checkout: Spark's shuffle and
    # spill files, Python and JVM temporary files
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.chdir(ROOT)
    adopt_orphans()

    names = list(wl.WORKLOADS) if args.workload == "all" else [args.workload]
    results_dir = data / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    oracle = oracle_mod.Oracle(str(data / "oracles"), str(data / "duckdb_tmp"))
    ctx = None
    try:
        t_prep = time.time()
        dirs, keys, prep = prepare_data(data, any(wl.WORKLOADS[n].data == "sf1" for n in names))
        ctx = wl.Ctx(
            spark=None,
            base_dir=dirs["base"],
            sf1_dir=dirs["sf1"],
            work_dir=str(data / "work"),
            oracle=oracle,
            keys=keys,
        )
        os.makedirs(ctx.work_dir, exist_ok=True)
        for name in names:
            wl.WORKLOADS[name].prepare(ctx)
        prep["prep_s"] = time.time() - t_prep
        results = {}
        for i, name in enumerate(names):
            # later workloads of an 'all' run start their setup now
            origin = t_origin + prep["prep_s"] if i == 0 else time.time()
            results[name] = run_workload(wl.WORKLOADS[name], ctx, args, origin)
            results[name]["manifest"]["preparation"] = prep
    finally:
        if ctx is not None and ctx.spark is not None:
            ctx.spark.stop()
        oracle.close()
        stop_processes()

    metrics: dict = {}
    attempted = failed = 0
    for name, r in results.items():
        attempted += r["attempted"]
        failed += r["failed"]
        sidecar = results_dir / f"{name}-seed{args.seed}.untraced.json"
        if args.trace:
            try:
                untraced = json.loads(sidecar.read_text())
            except (OSError, ValueError):
                untraced = None
            r["trace_overhead"] = trace_overhead(r, untraced)
            picked = {k: (v, LAYER_UNITS[k]) for k, v in r["layers"].items()}
        else:
            if args.workload != "all":  # later workloads of 'all' share a session
                sidecar.write_text(json.dumps(
                    {"pairing": _pairing(r["manifest"]),
                     "end_to_end": {**r["end_to_end"], **r["end_to_end_extra"]}}
                ))
            picked = {k: (v, END_TO_END[k]) for k, v in r["end_to_end"].items()}
        prefix = f"{name}." if args.workload == "all" else ""
        for k, (v, unit) in picked.items():
            metrics[prefix + k] = {"value": float(v), "unit": unit}
        tag = f"{name}-seed{args.seed}-trace{args.trace}"
        (results_dir / f"{tag}.json").write_text(json.dumps(r, indent=1, default=str))
        print(f"# {name}: {r['attempted']} ops, {r['failed']} failed, "
              f"{r['manifest']['rounds']} rounds, record in {results_dir / tag}.json")
        shown = {**r["end_to_end"], **r["end_to_end_extra"], **r["extra"]}
        units = {**END_TO_END, **EXTRA_UNITS}
        for k, v in shown.items():
            print(f"{name} {k} {v} {units.get(k, '')}".rstrip())
        if args.trace:
            over = r["trace_overhead"]
            for k in ("op_cpu_share", "op_p50_share"):
                print(f"{name} trace_overhead_{k} "
                      + ("unavailable (no untraced run of this code, data and seed)"
                         if over is None else f"{over[k]} ratio"))
    stats.check_metrics(metrics)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
