"""Self-tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import stats  # noqa: E402
from checks import compare, load_check_oracle  # noqa: E402
from spans import UNATTRIBUTED, Tracer, attribute  # noqa: E402


def test_tail_index_needs_ten_samples_beyond():
    assert stats.tail_index(19) is None
    assert stats.tail_index(20) == 9
    assert stats.tail_index(32) == 21
    value, pct, n = stats.tail([float(v) for v in range(32, 0, -1)])
    assert (value, pct, n) == (22.0, 68.75, 32)
    assert sum(1 for v in range(1, 33) if v > value) == 10
    assert stats.tail([1.0] * 19) is None


class FakeClock:
    def __init__(self, times):
        self.times = iter(times)

    def __call__(self):
        return next(self.times)


def test_span_self_time_subtracts_union_of_children():
    # op [0, 10]; children [1, 4] and [3, 6] overlap, [8, 9] stands alone
    tr = Tracer(clock=FakeClock([0, 1, 4, 3, 6, 8, 9, 10]))
    with tr.span("op") as op:
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
        with tr.span("c"):
            pass
    assert [c.name for c in op.children] == ["a", "b", "c"]
    assert op.duration == 10
    assert op.self_time == 10 - (5 + 1)
    assert all(c.self_time == c.duration for c in op.children)


def test_span_self_time_of_nested_chain():
    # op [0, 7] > build [2, 6] > probe [3, 5]
    tr = Tracer(clock=FakeClock([0, 2, 3, 5, 6, 7]))
    with tr.span("op") as op:
        with tr.span("build") as build:
            with tr.span("probe"):
                pass
    assert (op.self_time, build.self_time) == (7 - 4, 4 - 2)
    assert op.self_time + build.self_time + build.children[0].self_time == op.duration


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def _task(stage, run_ms, shuffle_read=0, out_bytes=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1,
            "Result Size": 100,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Output Metrics": {"Bytes Written": out_bytes},
        },
    }


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


def test_event_log_attribution_keeps_unattributed_jobs():
    events = [
        _job(0, [0, 1], "op0.exec"),
        _task(0, 10), _task(0, 20), _stage_done(0),
        _task(1, 5, shuffle_read=64), _stage_done(1),
        _job(1, [1, 2], "op1.exec"),  # stage 1 is shared and stays with job 0
        _task(2, 7, out_bytes=3), _stage_done(2),
        _job(2, [3]),  # no group: a cleaner or a streaming thread
        _task(3, 4), _stage_done(3),
        _job(3, [4], "someone-else"),  # a group the benchmark did not set
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4},
         "Properties": {"spark.jobGroup.id": "someone-else"}},
        _task(4, 1), _stage_done(4),
    ]
    got = attribute(events, {"op0.exec", "op1.exec"})
    op0, op1, un = got["op0.exec"], got["op1.exec"], got[UNATTRIBUTED]
    assert (op0["jobs"], op0["stages"], op0["tasks"]) == (1, 2, 3)
    assert op0["executor_run_s"] == pytest.approx(0.035)
    assert op0["executor_cpu_s"] == pytest.approx(0.035)
    assert op0["shuffle_read_bytes"] == 64
    assert op0["shuffle_write_bytes"] == 21
    assert (op1["jobs"], op1["stages"], op1["tasks"], op1["output_bytes"]) == (1, 1, 1, 3)
    assert (un["jobs"], un["stages"], un["tasks"]) == (2, 2, 2)
    total_tasks = sum(g["tasks"] for g in got.values())
    assert total_tasks == 6  # every task is attributed somewhere, none dropped


def test_injected_wrong_result_counts_as_failed_op(tmp_path):
    norm = load_check_oracle(run.ROOT)
    expected = {"q_ok": [(1, 2.5)], "q_wrong": [(1, 2.5)], "q_raises": [(0, 0.0)]}

    def execute(name):
        if name == "q_raises":
            raise RuntimeError("builder failed")
        # q_wrong differs from its oracle in the last bit of one value
        value = 2.5 if name == "q_ok" else 2.5000000000000004
        return ["k", "v"], [(1, value)]

    def check(name, cols, rows):
        return compare(norm, name, "sf_test", cols, rows, ["k", "v"], expected[name])

    args = run.parse_args(["--workload", "curation", "--seed", "1", "--seconds", "1",
                           "--trace", "0"])
    r = run.Run(args, str(tmp_path / "state"))
    r.checked_pass(["q_ok", "q_wrong", "q_raises"], execute, check)
    assert (r.attempted, r.failed) == (3, 2)
    assert any(f.startswith("check:q_wrong: value-hash mismatch") for f in r.failures)
    assert any(f.startswith("warmup:q_raises: RuntimeError") for f in r.failures)


def test_compare_rejects_degenerate_and_shape_mismatches():
    norm = load_check_oracle(run.ROOT)
    assert compare(norm, "q", "sf", ["a"], [(1,)], ["a"], [(1,)]) is None
    assert "rows" in compare(norm, "q", "sf", ["a"], [(1,)], ["a"], [(1,), (2,)])
    assert "cols" in compare(norm, "q", "sf", ["a"], [(1,)], ["b"], [(1,)])
    assert "degenerate" in compare(norm, "q", "sf", ["a"], [(None,)], ["a"], [(None,)])
