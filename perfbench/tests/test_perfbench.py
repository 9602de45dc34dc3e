"""Self-tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -p no:cacheprovider -m "gate or not gate"

The last two tests start the benchmark as a subprocess; the smoke run
brings up Spark on a tiny sf0.001 corpus (about 40 s). They carry the
repository's ``gate`` marker, so the default selection (``-m "not
gate"`` in pytest.ini) leaves them out; the command above runs all.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import measure, trace

ROOT = Path(__file__).resolve().parents[2]


def test_tail_percentile_needs_ten_samples_beyond():
    for n in (100, 250):
        xs = [float(i) for i in range(1, n + 1)][::-1]  # order does not matter
        pct, value, beyond = measure.tail_percentile(xs)
        assert value == n - 10  # the 11th-largest sample
        assert beyond == 10
        assert pct == pytest.approx(100 * (n - 10) / n)


def test_tail_percentile_with_fewer_than_ten_beyond_any_percentile():
    # below 100 samples no percentile of p90 or above has ten beyond it:
    # nearest-rank p90, never the 11th-largest sample at or below the median
    for n, value in ((1, 1.0), (5, 5.0), (10, 9.0), (13, 12.0), (37, 34.0),
                     (99, 90.0)):
        xs = [float(i) for i in range(1, n + 1)]
        assert measure.tail_percentile(xs) == (90.0, value, n - value)
    # ties at the tail: the count beyond is of strictly larger samples
    assert measure.tail_percentile([1.0] * 12 + [2.0] * 3) == (90.0, 2.0, 0)
    with pytest.raises(ValueError):
        measure.tail_percentile([])


def test_op_p50_and_tail_weigh_every_op_once():
    samples = [measure.Sample("a", p, x, 0.0, True) for p, x in enumerate((1, 1, 9))]
    samples += [measure.Sample("b", p, x, 0.0, True) for p, x in enumerate((4, 4))]
    # medians 1 and 4; the pooled median (1) would ignore op "b"
    assert measure.op_p50(samples) == pytest.approx(2.0)
    # per-op nearest-rank p90: 9 of "a", 4 of "b"
    assert measure.op_tail(samples) == (pytest.approx(6.0), 90.0)


def _span(name, layer, t0, t1, parent=None, op="q:build", err=None):
    return [name, layer, t0, t1, parent, op, err]


def test_self_time_subtracts_direct_children_once():
    spans = [
        _span("q:build", trace.BENCH, 0.0, 10.0),
        _span("tx_update", "txlog", 1.0, 5.0, parent=0),
        _span("_commit", "txlog", 2.0, 3.0, parent=1),  # grandchild
        _span("load_table", "tables", 4.0, 6.0, parent=0),  # overlaps tx_update
        _span("run_x", "streaming", 9.0, 12.0, parent=0),  # runs past its parent
    ]
    selfs = trace.self_times(spans)
    # children cover [1, 6] and [9, 10] of the parent: 10 - 6 = 4
    assert selfs[0] == pytest.approx(4.0)
    assert selfs[1] == pytest.approx(3.0)
    assert selfs[2] == pytest.approx(1.0)
    assert trace.outermost(spans, "txlog") == [1]
    m = trace.reduce_spans(spans, n_ops=2)
    assert m["queries.build_s"] == pytest.approx(2.0)
    assert m["op.build_s"] == pytest.approx(5.0)
    assert m["txlog.write_s"] == pytest.approx(2.0)
    assert m["txlog.write_calls"] == pytest.approx(0.5)
    assert m["txlog.cas_s"] == pytest.approx(0.5)
    assert m["streaming.drain_s"] == pytest.approx(1.5)
    assert m["tables.load_table_calls"] == pytest.approx(0.5)


def test_event_log_phases_and_slot_idle(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q:action"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 10**9,
            "JVM GC Time": 100, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}},
        # no group (a streaming thread): attributed by submission time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 500,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
        # outside every timed phase: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "q:verify"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor Run Time": 99000}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    phases = [("q:build", 0.0, 0.9), ("q:action", 0.9, 1.9)]
    m = trace.event_log_metrics(str(tmp_path), phases, cores=2, n_ops=1)
    assert (m["spark.jobs.build"], m["spark.jobs.action"]) == (1, 1)
    assert (m["spark.stages.action"], m["spark.tasks.action"]) == (1, 1)
    assert m["spark.tasks.build"] == 1
    assert m["spark.executor_run_s"] == pytest.approx(1.5)
    assert m["spark.executor_cpu_s"] == pytest.approx(1.0)
    assert m["spark.gc_s"] == pytest.approx(0.1)
    assert (m["spark.shuffle_read_bytes"], m["spark.shuffle_write_bytes"],
            m["spark.spill_bytes"]) == (3, 5, 7)
    # 1.5 s of task time over 1.0 s of action wall on 2 cores
    assert m["spark.slot_idle_ratio"] == pytest.approx(0.25)


class _FakeContext:
    def setJobGroup(self, group, description):
        self.group = group


class _FakeSpark:
    sparkContext = _FakeContext()


def test_digest_mismatch_counts_as_failed(monkeypatch):
    digests = iter([(5, 123), (5, 999), (5, 123)])
    monkeypatch.setattr(measure, "digest", lambda df: next(digests))
    from perfbench.workloads import Op

    ops = [Op("q", lambda spark, sf_dir: object(), None)]
    loop = measure.Loop(_FakeSpark(), "/nowhere", ops, duck=None)
    loop.outcome.expected["q"] = (5, 123)
    samples = [loop.run_one(ops[0], 0) for _ in range(3)]
    assert [s.ok for s in samples] == [True, False, True]
    loop.outcome.samples = samples
    loop.outcome.timed_wall_s = 1.0
    e2e = measure.end_to_end(loop.outcome)
    assert (e2e["attempted"], e2e["failed"]) == (3, 1)
    assert e2e["op_p50_samples"] == 2  # the mismatch is never timed as a success
    assert "q" in loop.outcome.errors


def test_warm_up_records_the_digest_of_the_verified_rows(monkeypatch):
    from perfbench.workloads import Op

    digests = {"ok": iter([(2, 7), (2, 7)]), "short": iter([(1, 7), (1, 7)]),
               "drifts": iter([(2, 7), (2, 8)])}
    monkeypatch.setattr(measure, "digest", lambda df: next(digests[df]))
    ops = [Op(n, lambda spark, sf_dir, n=n: n, None) for n in digests]
    loop = measure.Loop(_FakeSpark(), "/nowhere", ops, duck=None)
    loop.outcome.verified_rows = {n: 2 for n in digests}
    loop.warm_up(2)
    assert loop.outcome.expected == {"ok": (2, 7)}
    assert set(loop.outcome.verify_failures) == {"short", "drifts"}
    # a failed op is not run again: "short" drew one digest, not two
    assert next(digests["short"]) == (1, 7)


def test_timed_loop_runs_whole_passes_in_order(monkeypatch):
    monkeypatch.setattr(measure, "digest", lambda df: (1, 1))
    from perfbench.workloads import Op

    ops = [Op(n, lambda spark, sf_dir: object(), None) for n in "abc"]
    loop = measure.Loop(_FakeSpark(), "/nowhere", ops, duck=None)
    loop.outcome.expected = {n: (1, 1) for n in "abc"}
    loop.timed(2)
    assert [(s.op, s.pass_no) for s in loop.outcome.samples] == [
        ("a", 0), ("b", 0), ("c", 0), ("a", 1), ("b", 1), ("c", 1)]
    assert loop.outcome.passes == 2


def test_seeded_retrieval_calls_fill_their_slots():
    from perfbench import workloads

    names = [op.name for op in workloads.pass_ops("agent_turn", seed=1)]
    spec = workloads.WORKLOADS["agent_turn"]["ops"]
    assert len(names) == len(spec)
    seeded = [i for i, n in enumerate(spec) if n == workloads.RAG]
    assert [names[i] for i in seeded] == [
        f"{workloads.RAG}_{k}" for k in range(len(seeded))]


def test_exception_counts_as_failed(monkeypatch):
    from perfbench.workloads import Op

    def boom(spark, sf_dir):
        raise RuntimeError("no table")

    loop = measure.Loop(_FakeSpark(), "/nowhere", [Op("q", boom, None)], duck=None)
    s = loop.run_one(loop.ops[0], 0)
    assert not s.ok and loop.outcome.errors["q"].startswith("RuntimeError")


@pytest.mark.gate
def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "agent_turn", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0
    assert "{" not in p.stdout


@pytest.mark.gate
def test_smoke_run_prints_every_end_to_end_metric():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "agent_turn", "--seed", "3", "--seconds", "1",
                        "--trace", "0", "--sf", "0.001"], cwd=ROOT,
                       capture_output=True, text=True, timeout=170)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    # the detail line reports all six figures, fail_ratio included
    report = json.loads(lines[-2])["perfbench"]["end_to_end"]
    assert {k: v["unit"] for k, v in report.items()} == want | {"fail_ratio": "ratio"}
    assert report["fail_ratio"]["value"] == 0
