"""Tests for the benchmark's own code; none of them needs Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
from measure import Tally, valid_metric_name  # noqa: E402
from workloads import Ctx, SetupFailed  # noqa: E402
from spans import Span, fold_event_log, self_cpu, self_times  # noqa: E402


def test_failed_ratio_counts_raises_and_failed_checks():
    t = Tally()
    with t.op("ok") as op:
        op.check(True, "fine")
    with t.op("raises"):
        raise ValueError("boom")
    with t.op("wrong") as op:
        op.check(False, "oracle disagrees")
        op.check(False, "counted once")
    ran_after = False
    with t.op("after"):
        ran_after = True
    assert ran_after
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_ratio == 0.5
    assert t.errors == ["raises: ValueError: boom", "wrong: oracle disagrees"]


def test_late_failed_check_still_counts():
    t = Tally()
    with t.op("closed") as op:
        pass
    op.check(False, "checked after the block")
    assert (t.attempted, t.failed) == (1, 1)


def test_setup_checks_fail_the_run_but_do_not_abort_it():
    ctx = Ctx(None, "", 0)
    assert ctx.setup_step("wrong", lambda: 7, lambda op, out: op.check(out == 8, "want 8")) == 7
    assert ctx.setup_step("raises", lambda: 1, lambda op, out: 1 / 0) == 1
    assert ctx.setup_step("fine", lambda: 2, lambda op, out: op.check(True, "")) == 2
    assert (ctx.tally.attempted, ctx.tally.failed) == (3, 2)
    assert set(ctx.setup_steps) == {"wrong", "raises", "fine"}
    import run

    res = run.end_to_end(ctx, 1.0)
    assert res["setup_s"]["value"] >= 1.0 and ctx.tally.failed > 0  # the run prints correct: false
    with pytest.raises(SetupFailed):
        ctx.setup_step("step_raises", lambda: 1 / 0)
    assert ctx.tally.failed == 3


def _span(i, parent, start, end, cpu=0.0):
    return Span(i, f"s{i}", "x", parent, "r", start, end, cpu)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0, cpu=8.0),
        _span(1, 0, 1.0, 3.0, cpu=2.0),
        _span(2, 0, 2.0, 4.0, cpu=1.0),  # overlaps span 1: union is 1..4
        _span(3, 0, 5.0, 6.0, cpu=1.0),
        _span(4, 3, 5.2, 5.7, cpu=0.5),  # grandchild: only its parent subtracts it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(0.5)
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)  # overlap counted in both children
    sc = self_cpu(spans)
    assert sc[0] == pytest.approx(4.0) and sc[3] == pytest.approx(0.5)


def test_fold_event_log_by_job_group(tmp_path):
    d = tmp_path / "eventlog_v2_app" / "events_1_app"
    d.parent.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 4, "Accumulables": [
                {"Name": "internal.metrics.executorCpuTime", "Value": 2_000_000_000},
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 100}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 3, "Accumulables": [
                {"Name": "internal.metrics.diskBytesSpilled", "Value": 7}]}},
    ]
    d.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = fold_event_log(str(tmp_path))
    assert got["g1"] == {"jobs": 1, "tasks": 4, "executor_cpu_s": 2.0,
                         "shuffle_bytes": 100, "spill_bytes": 0}
    assert got[None]["tasks"] == 3 and got[None]["spill_bytes"] == 7


def test_metric_names_are_valid_and_declared():
    import run

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    assert layer == run.per_layer_names()
    assert all(m["unit"] == run.unit_of(m["name"]) for m in bench["per_layer"])
    assert len(set(e2e + layer)) == len(e2e + layer) <= 16 + 128
    assert all(valid_metric_name(n) for n in e2e + layer)
    assert not valid_metric_name("bad name") and not valid_metric_name("_x")
    assert {w["name"] for w in bench["workloads"]} == set(__import__("workloads").WHY)


def test_generators_are_seeded(tmp_path):
    a = gen.serve_inputs(3, str(tmp_path / "a.parquet"))
    b = gen.serve_inputs(3, str(tmp_path / "b.parquet"))
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()
    assert a["queries"] == b["queries"] and a["n_null"] >= 2 and a["valid"][0]
    c = gen.churn_inputs(3, str(tmp_path / "c.parquet"))
    d = gen.churn_inputs(3, str(tmp_path / "d.parquet"))
    assert c["writes"] == d["writes"]
    assert (tmp_path / "c.parquet").read_bytes() == (tmp_path / "d.parquet").read_bytes()
    w = c["writes"]
    assert not set(w["up_ids"]) & set(w["del_ids"])
    # an added row sits next to the deleted row the second read queries
    X = dict(zip(c["ids"], np.array(pq.read_table(tmp_path / "c.parquet")["embedding"].to_pylist())))
    assert np.array_equal(np.float32(w["deleted_probe"]), X[w["del_ids"][0]])
    assert np.linalg.norm(np.array(w["add_vecs"][w["probe"]]) - X[w["del_ids"][0]]) < 0.1
    assert w["probe"] != w["added_probe"]


def test_oracles():
    X = np.array([[1, 0], [0.9, 0.1], [0, 1]], dtype=np.float32)
    ids = ["x", "y", "z"]
    assert oracle.exact_topk(X, ids, np.array([True, True, True]), [1, 0], 2) == ["x", "y"]
    assert oracle.exact_topk(X, ids, np.array([False, True, True]), [1, 0], 1) == ["y"]
    assert oracle.recall(["x", "q"], ["x", "y"]) == 0.5


def test_pick_topic_makes_the_probe_double_once():
    C = np.arange(8, dtype=np.float64)[:, None]  # cell c is c away from q = 0
    cell = np.array([0, 0, 1, 2, 2, 3, 3, 5, -1])
    topic = np.array([0, 0, 1, 2, 2, 3, 3, 4, 5])
    # nprobe 2: topics 0 and 1 lie in the first two cells; 2 and 3 need
    # the second two, 4 lies beyond 4 cells, 5 is not indexed
    assert oracle.pick_topic(C, cell, topic, [0.0], 2, 2) == 3
    assert oracle.pick_topic(C, cell, topic, [0.0], 3, 2) is None
    assert list(oracle.probe_order(C, [2.4])[:3]) == [2, 3, 1]


def test_recall_floors():
    ctx = Ctx(None, "", 0)
    with ctx.tally.op("filtered") as op:
        ctx.check_recall(op, "rating", ["a"], ["b"], filtered=True)
    with ctx.tally.op("plain") as op:
        ctx.check_recall(op, "plain", ["a"], ["b"])
    assert (ctx.tally.attempted, ctx.tally.failed) == (2, 1)
    ctx.check_mean_recall()
    assert (ctx.tally.attempted, ctx.tally.failed) == (3, 2)
    assert ctx.recall == {"rating": [0.0], "plain": [0.0]}
