"""Tests of the benchmark's own math and guards (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os
import subprocess

import pytest

import datagen
import measure
from layers import layer_record, pass_layers
from workloads import compare


def test_tail_keeps_ten_samples_beyond_when_there_are_enough():
    values = list(range(100))
    assert measure.tail(values) == (89, 90.0, 100)
    assert measure.tail(list(range(50))) == (39, 80.0, 50)


def test_tail_keeps_a_quarter_beyond_for_short_runs():
    # 8 samples: 2 stay above the reported one
    assert measure.tail([5, 1, 4, 2, 8, 3, 7, 6]) == (6, 75.0, 8)
    assert measure.tail([3.0]) == (3.0, 100.0, 1)
    with pytest.raises(ValueError):
        measure.tail([])


def test_gap_counts_overlapping_job_spans_once():
    spans = [(1.0, 3.0), (2.0, 4.0)]  # overlap 2..3
    assert measure.covered(spans, 0.0, 10.0) == pytest.approx(3.0)
    assert measure.gap(spans, 0.0, 10.0) == pytest.approx(7.0)


def test_gap_clips_spans_to_the_op_and_handles_nesting():
    spans = [(-5.0, 1.0), (2.0, 8.0), (3.0, 4.0), (9.0, 20.0)]
    # inside [0, 10]: 0..1, 2..8, 9..10 -> 8 covered, 2 uncovered
    assert measure.gap(spans, 0.0, 10.0) == pytest.approx(2.0)
    assert measure.gap([], 2.0, 5.0) == pytest.approx(3.0)


def test_unit_conversions():
    assert measure.to_mb(2_500_000) == 2.5
    assert measure.ms_to_s(1_500) == 1.5
    assert measure.ns_to_s(250_000_000) == 0.25


def test_env_guard_refuses_other_package_knobs():
    measure.check_env({"SPARK_GRAFT_CPUS": "4", "PATH": "/bin"})
    with pytest.raises(SystemExit, match="SPARK_GRAFT_PLAN_ONLY=1"):
        measure.check_env({"SPARK_GRAFT_PLAN_ONLY": "1", "SPARK_GRAFT_CPUS": "4"})
    with pytest.raises(SystemExit, match="SPARK_GRAFT_CACHE_EVENTS"):
        measure.check_env({"SPARK_GRAFT_CACHE_EVENTS": "1"})


def test_layer_record_splits_phases_and_pass_adds_busy_share():
    job = lambda lo, hi: {"submissionTime": lo * 1000, "completionTime": hi * 1000}  # noqa: E731
    stage = {
        "numTasks": 4,
        "executorRunTime": 6_000,
        "executorCpuTime": 3_000_000_000,
        "shuffleWriteBytes": 1_000_000,
        "shuffleReadBytes": 2_000_000,
        "diskBytesSpilled": 0,
        "inputBytes": 5_000_000,
        "inputRecords": 100,
        "outputBytes": 0,
    }
    progress = [
        {"runId": "r", "durationMs": {"addBatch": 500, "queryPlanning": 100, "walCommit": 50},
         "stateOperators": [{"numRowsTotal": 3}]},
        {"runId": "r", "durationMs": {"addBatch": 250}, "stateOperators": [{"numRowsTotal": 7}]},
    ]
    rec = layer_record(
        phases={"build": (100.0, 101.0), "execute": (101.0, 105.0)},
        jobs={"build": [job(100.2, 100.4)], "execute": [job(101.5, 103.0), job(102.0, 104.0)]},
        stages={"build": [], "execute": [stage]},
        progress=progress,
        spans=[("writers.write", 102.0, 102.5)],
    )
    assert rec["build.jobs"] == 1 and rec["execute.jobs"] == 2
    assert rec["execute.wall_s"] == pytest.approx(4.0)
    assert rec["execute.driver_gap_s"] == pytest.approx(1.5)  # 101-101.5, 104-105
    assert rec["execute.executor_cpu_s"] == pytest.approx(3.0)
    assert rec["execute.shuffle_read_mb"] == pytest.approx(2.0)
    assert rec["sources.input_mb"] == pytest.approx(5.0)
    assert rec["streaming.batches"] == 2
    assert rec["streaming.add_batch_s"] == pytest.approx(0.75)
    assert rec["streaming.state_rows"] == 7  # final batch only
    assert rec["writers.write_s"] == pytest.approx(0.5)
    total = pass_layers([rec, rec], cores=4)
    assert total["execute.jobs"] == 4
    assert total["execute.busy_share"] == pytest.approx(12.0 / (8.0 * 4))


def test_compare_is_exact_and_order_insensitive():
    want = (["a", "b"], [(1, 0.5), (2, float("nan"))])
    assert compare((["b", "a"], [(float("nan"), 2), (0.5, 1)]), want) is None
    assert "column b" in compare((["a", "b"], [(1, 0.5000001), (2, math.nan)]), want)
    assert "rows" in compare((["a", "b"], [(1, 0.5)]), want)
    assert "columns" in compare((["a", "c"], [(1, 0.5), (2, 1.0)]), want)
    # an int where the oracle has a float would hash differently
    assert compare((["x"], [(1,)]), (["x"], [(1.0,)])) is not None


def test_fixture_depends_only_on_the_seed():
    a, b, c = (datagen.tables(s) for s in (7, 7, 8))
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}
    assert not a["events"].equals(c["events"])


def test_process_tree_readings_cover_children():
    child = subprocess.Popen(["sleep", "30"])
    try:
        members = measure.tree(os.getpid())
        assert os.getpid() in members and child.pid in members
        assert measure.tree_rss_bytes(members) > 0
        before = measure.tree_cpu_s(members)
        sum(i * i for i in range(3_000_000))  # burn some CPU
        assert measure.tree_cpu_s(measure.tree(os.getpid())) > before
    finally:
        child.kill()
        child.wait()
