"""Tests of the benchmark's own logic; no Spark session needed.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import oracle, run, stats  # noqa: E402
from perfbench import workloads as wl  # noqa: E402


# -- tail percentile -------------------------------------------------------


@pytest.mark.parametrize(
    "n, label",
    [
        (1000, "p99"),  # 10 beyond p99; p99.9 has 1
        (200, "p95"),  # 10 beyond p95; p99 has 2
        (100, "p90"),
        (40, "p75"),
        (20, "p50"),  # exactly 10 beyond the median
        (19, "max"),  # no ladder percentile keeps ten beyond it
        (1, "max"),
    ],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, label):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted input
    got_label, value, count = stats.tail(samples)
    assert (got_label, count) == (label, n)
    if label != "max":
        beyond = sum(1 for s in samples if s > value)
        assert beyond >= stats.MIN_BEYOND
    else:
        assert value == max(samples)


def test_typical_is_the_geometric_mean_of_per_kind_medians():
    samples = [("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 8.0)]
    assert stats.typical(samples) == pytest.approx(4.0)
    assert stats.typical([("a", 2.0), ("a", 5.0), ("a", 3.0)]) == pytest.approx(3.0)


def test_tail_never_picks_a_percentile_with_fewer_than_ten_beyond():
    for n in range(1, 400):
        label, value, _ = stats.tail([float(i) for i in range(n)])
        if label != "max":
            assert sum(1 for i in range(n) if i > value) >= 10


# -- seeded sequences --------------------------------------------------------

VOCAB = tuple(f"w{i}" for i in range(40))


@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_sequences_are_seeded(name):
    w = wl.WORKLOADS[name]
    a = w.rounds(7, 30, VOCAB)
    assert a == w.rounds(7, 30, VOCAB)
    assert wl.sequence_hash(a) != wl.sequence_hash(w.rounds(8, 30, VOCAB))


@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_every_round_holds_the_same_mix(name):
    """Whole rounds give every seed the same operation mix."""
    w = wl.WORKLOADS[name]
    mixes = {tuple(sorted(o.kind for o in r)) for r in w.rounds(3, 20, VOCAB)}
    if name == "index_serve":
        assert mixes == {tuple(sorted(wl.ROUND))}
    else:
        assert mixes == {tuple(sorted(w.kinds))}


def test_index_serve_times_every_write_kind_in_one_round():
    """A run measures at least one round, so it times a compaction tick."""
    (rnd,) = wl.WORKLOADS["index_serve"].rounds(5, 1, VOCAB)
    assert tuple(o.kind for o in rnd if o.write) == ("append", "retract", "compact")


# -- spans -------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        # two overlapping children cover [1, 6]; a third covers [8, 9]
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},
        {"id": 4, "parent": 1, "start": 8.0, "end": 9.0},
        # a grandchild does not count against the root
        {"id": 5, "parent": 2, "start": 1.5, "end": 2.5},
    ]
    selfs = stats.self_times(spans)
    assert selfs[1] == pytest.approx(10 - 5 - 1)
    assert selfs[2] == pytest.approx(3 - 1)
    assert selfs[3] == pytest.approx(3)
    assert selfs[5] == pytest.approx(1)


def test_child_running_past_its_parent_is_clipped():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 2.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 5.0},
    ]
    assert stats.self_times(spans)[1] == pytest.approx(1.0)


# -- metric grammar ----------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["setup_s", "op_p50_s", "flows.stages.raw_cache.busy_s", "spark.gc_ms", "9lives", "a-b", "x" * 64],
)
def test_valid_metric_names(name):
    assert stats.valid_metric_name(name)


@pytest.mark.parametrize(
    "name", ["", "_x", ".x", "-x", "has space", "x" * 65, "op/s", "p50%"]
)
def test_invalid_metric_names(name):
    assert not stats.valid_metric_name(name)


def test_every_declared_metric_name_and_unit_is_valid():
    names = {**run.END_TO_END, **run.LAYER_UNITS}
    for name, unit in names.items():
        stats.check_metrics({name: {"value": 1.0, "unit": unit}})
        # --workload all prefixes every name with its workload's
        for w in wl.WORKLOADS:
            stats.check_metrics({f"{w}.{name}": {"value": 1.0, "unit": unit}})


@pytest.mark.parametrize(
    "metrics",
    [
        {"ok": {"value": float("nan"), "unit": "s"}},
        {"ok": {"value": True, "unit": "s"}},
        {"ok": {"value": 1.0, "unit": "far too long a unit"}},
        {"bad name": {"value": 1.0, "unit": "s"}},
    ],
)
def test_check_metrics_rejects(metrics):
    with pytest.raises(ValueError):
        stats.check_metrics(metrics)


# -- run length ----------------------------------------------------------------


@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_run_length_is_whole_rounds_of_nominal_time(name):
    w = wl.WORKLOADS[name]
    assert run.n_rounds(w, 0.1) == 1
    assert run.n_rounds(w, 3 * w.round_s) == 3
    assert run.n_rounds(w, 3.4 * w.round_s) == 3


# -- failures ------------------------------------------------------------------


class _Fake(wl.Workload):
    """Returns a fixed frame; one op's output carries a wrong value, one
    op raises."""

    name = "fake"
    kinds = ("good", "bad", "boom")
    want = pd.DataFrame({"k": [1, 2], "v": [10.5, 20.25]})

    def run(self, ctx, op):
        if op.kind == "boom":
            raise RuntimeError("engine error")
        out = self.want.copy()
        if op.kind == "bad":
            out.loc[1, "v"] = 20.5  # injected mismatch
        return out

    def check(self, ctx, op, out):
        return oracle.compare(op.kind, out, self.want)


def test_injected_mismatch_and_raise_count_as_failures():
    w = _Fake()
    records, problems, timed, n_rounds, truncated = run.timed_loop(w, None, w.rounds(1, 2))
    assert (n_rounds, truncated) == (2, False)
    assert len(records) == 6
    failed = [r["kind"] for r in records if not r["ok"]]
    assert sorted(failed) == ["bad", "bad", "boom", "boom"]
    assert sorted(p["kind"] for p in problems) == sorted(failed)
    assert timed > 0


def test_compare_flags_row_count_and_column_differences():
    want = pd.DataFrame({"k": [1, 2]})
    assert oracle.compare("x", pd.DataFrame({"k": [1]}), want)
    assert oracle.compare("x", pd.DataFrame({"j": [1, 2]}), want)
    assert not oracle.compare("x", pd.DataFrame({"k": [2, 1]}), want)


def test_json_records_take_the_oracle_dtypes():
    want = pd.DataFrame({"s": ["a"], "records": [3], "avg": [1.5]})
    got = wl._coerce_like(pd.DataFrame({"s": ["a"], "records": [3.0], "avg": [1.5]}), want)
    assert not oracle.compare("x", got, want)


# -- the BM25 twin the index_serve probes are checked against ----------------


def test_bm25_twin_matches_the_sql_replay(tmp_path):
    import random

    import pyarrow.parquet as pq

    from perfbench import datagen
    from salesforce_prefect_etl_pipeline_spark.operators import retrieval

    datagen.write_base(str(tmp_path), scale=0.06)
    docs = pq.read_table(tmp_path / "documents.parquet")
    ids, texts = docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()
    twin = wl.Bm25Twin(ids, texts)
    rng = random.Random(3)
    live = sorted(rng.sample(ids, 200))
    queries = tuple(
        (q, " ".join(rng.sample(datagen.DOC_VOCAB + ["dup", "absent"], rng.randint(1, 3))))
        for q in range(1, 6)
    )
    sql = retrieval.bm25_topk_sql(queries, k=5, doc_pred="doc_id IN (SELECT doc_id FROM live_ids)")
    want = oracle.run_sql(str(tmp_path), str(tmp_path), sql, live)
    got = twin.topk(set(live), queries, 5)
    assert len(got) > 0
    assert not oracle.compare("probe", got, want)


def test_benchmark_json_lists_what_the_benchmark_prints():
    import json

    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(wl.WORKLOADS)


def test_event_log_jobs_go_to_their_span_or_running_op(tmp_path):
    import json

    from perfbench import trace

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101_000,
         "Stage Infos": [{"Stage ID": 0}], "Properties": {"spark.jobGroup.id": "pb2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 105_000,
         "Stage Infos": [{"Stage ID": 1}], "Properties": {}},
        # outside every operation: setup work, not attributed
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 200_000,
         "Stage Infos": [{"Stage ID": 2}], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Submission Time": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Submission Time": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 0, "Finish Time": 100},
         "Task Metrics": {"Executor Run Time": 60, "Executor Deserialize Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 0, "Finish Time": 10},
         "Task Metrics": {"Executor Run Time": 10}},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events))
    spans = [
        {"id": 1, "name": "op.x", "parent": None, "start": 100.0, "end": 110.0},
        {"id": 2, "name": "layer.f", "parent": 1, "start": 100.5, "end": 102.0},
    ]
    jobs, stage_metrics = trace.read_event_log(str(log))
    lm = trace.layer_metrics(spans, jobs, stage_metrics)
    assert lm["names"]["layer.f"]["jobs"] == 1
    assert lm["names"]["op.x"]["jobs"] == 2  # inclusive of its child span
    assert lm["jobs_by_kind"] == {"op.x": [2]}
    per_op = lm["per_op"]
    assert (per_op["jobs"], per_op["stages"], per_op["tasks"]) == (2, 2, 2)
    assert per_op["executor_run_ms"] == 70
    assert per_op["scheduler_delay_ms"] == 30  # 100 - 60 run - 10 deserialize
    assert per_op["shuffle_write_bytes"] == 7


def test_trace_overhead_needs_an_untraced_run_of_the_same_code_data_and_ops():
    manifest = {
        "code_hash": "c1",
        "op_sequence_hash": "s1",
        "preparation": {"checksums": {"base": "d1"}},
    }
    traced = {
        "manifest": manifest,
        "end_to_end": {"op_cpu_s": 2.2, "setup_s": 10.0},
        "end_to_end_extra": {"op_p50_s": 1.2},
    }
    untraced = {
        "pairing": run._pairing(manifest),
        "end_to_end": {"op_cpu_s": 2.0, "setup_s": 9.0, "op_p50_s": 1.0},
    }
    over = run.trace_overhead(traced, untraced)
    assert over["op_p50_share"] == pytest.approx(0.2)
    assert over["op_cpu_share"] == pytest.approx(0.1)
    assert over["setup_s"] == pytest.approx(1.0)
    assert run.trace_overhead(traced, None) is None
    for key, value in (("code_hash", "c2"), ("op_sequence_hash", "s2")):
        other = dict(untraced, pairing=dict(untraced["pairing"], **{key: value}))
        assert run.trace_overhead(traced, other) is None


# -- per-operation CPU --------------------------------------------------------


def test_work_cpu_leaves_out_jit_compiler_threads():
    import os

    hz = os.sysconf("SC_CLK_TCK")
    # thread 7 compiled 30 ticks during the op, thread 8 started and
    # compiled 5, thread 9 ended (its earlier ticks are no part of the op)
    before = (1000, {7: 100, 9: 40})
    after = (1000 + 120, {7: 130, 8: 5})
    assert run.work_cpu_s(before, after) == pytest.approx((120 - 35) / hz)
    assert run.work_cpu_s((0, {}), (hz, {})) == pytest.approx(1.0)


def test_cpu_snapshot_counts_this_process():
    import time

    total0, _ = run.cpu_snapshot()
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    total1, jit = run.cpu_snapshot()
    assert total1 > total0
    assert jit == {}

# -- process cleanup --------------------------------------------------------


def test_stop_processes_waits_for_orphaned_grandchildren():
    """A grandchild whose parent already exited (as a Spark Python worker
    is when the JVM exits) is adopted and ended before the run returns.
    Runs in its own interpreter, so this test process is never made a
    subreaper."""
    import subprocess

    code = "\n".join([
        "import subprocess, sys, time",
        f"sys.path.insert(0, {str(Path(__file__).resolve().parents[2])!r})",
        "from perfbench import run",
        "run.adopt_orphans()",
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)",
        "assert run._descendants(), 'the orphaned sleep was not adopted'",
        "t0 = time.time()",
        "run.stop_processes(grace_s=0.5)",
        "assert not run._descendants()",
        "assert time.time() - t0 < 10",
    ])
    subprocess.run([sys.executable, "-c", code], check=True, timeout=60)


def test_oracle_worker_answers_and_is_waited_for(tmp_path):
    import duckdb

    for t in oracle.TABLES:
        duckdb.sql(f"COPY (SELECT 1 AS k) TO '{tmp_path}/{t}.parquet' (FORMAT parquet)")
    o = oracle.Oracle(str(tmp_path / "cache"), str(tmp_path / "tmp"))
    try:
        assert o.query(str(tmp_path), "SELECT k + 1 AS v FROM orders")["v"].tolist() == [2]
        with pytest.raises(RuntimeError, match="oracle query failed"):
            o.query(str(tmp_path), "SELECT no_such_column FROM orders")
        proc = o._proc
    finally:
        o.close()
    assert proc.returncode == 0
