"""Tests of the benchmark's pure pieces (no Spark session).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import stats  # noqa: E402
from run import busy_steal, steal_share, timed_pass_count, unstolen  # noqa: E402


# ----------------------------------------------------------- statistics
def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 90) == pytest.approx(3.7)
    assert stats.median([7.0]) == 7.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([0.5]) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_timed_pass_count_follows_seconds_not_measured_speed():
    assert timed_pass_count(15) == 4
    assert timed_pass_count(1) == 3  # never fewer than MIN_TIMED_PASSES


def test_busy_and_steal_seconds_from_proc_stat_ticks():
    import run

    # user nice system idle iowait irq softirq steal guest guest_nice
    before = [100, 0, 10, 800, 5, 1, 2, 90, 0, 0]
    after = [200, 10, 20, 900, 9, 2, 4, 170, 0, 0]
    busy, steal = busy_steal(before, after)
    assert busy == pytest.approx((100 + 10 + 10 + 1 + 2) / run.HZ)
    assert steal == pytest.approx(80 / run.HZ)
    assert busy_steal(None, after) == (0.0, 0.0)
    assert steal_share(before, after) == pytest.approx(80 / 203)
    assert steal_share(before, before) is None


def test_unstolen_takes_out_the_withheld_share_of_the_wall():
    assert unstolen(2.0, 3.0, 0.0) == 2.0  # quiet host: the wall itself
    assert unstolen(2.0, 3.0, 1.0) == pytest.approx(1.5)
    assert unstolen(2.0, 0.0, 0.0) == 2.0  # no readings
    import run

    op = run.OpTiming("bm_q2", 0.5, 1.5, busy_s=3.0, steal_s=1.0)
    p = run.PassResult(no=0, order=["bm_q2"], ops=[op, op])
    assert op.unstolen_s == pytest.approx(1.5) and p.op_s == pytest.approx(3.0)


def test_operation_times_are_scaled_to_the_reference_host_speed():
    import run

    assert run.host_speed([run.REF_PROBE_S] * 3) == 1.0
    # probes twice as slow as the reference: a host at half speed
    slow = [2 * run.REF_PROBE_S, 2 * run.REF_PROBE_S, 9.0]
    assert run.host_speed(slow) == pytest.approx(0.5)
    passes = [
        run.PassResult(no=n, order=["a", "b"], probes_s=slow, ops=[
            run.OpTiming("a", 0.0, 1.0), run.OpTiming("b", 0.0, 4.0)])
        for n in (0, 1)
    ]
    values, samples = run.e2e_metrics([3.0, 1.0, 2.0], passes)
    assert values["op_geomean_s"] == pytest.approx(1.0)  # geomean of 0.5 and 2
    assert values["ops_per_min"] == pytest.approx(60.0 * 2 / 2.5)
    assert values["setup_s"] == 2.0  # set-up walls are not scaled
    assert samples["host_speed"] == 6


# --------------------------------------------------------- output check
def test_norm_rounds_and_makes_integral_floats_ints():
    assert stats.norm_value(1.23456789) == 1.234568
    assert stats.norm_value(2.0) == 2 and isinstance(stats.norm_value(2.0), int)
    assert stats.norm_value(decimal.Decimal("3.5000000001")) == 3.5
    assert stats.norm_value(True) is True


def test_norm_negative_zero_is_zero():
    assert stats.norm_value(-0.0) == 0
    assert isinstance(stats.norm_value(-0.0), int)
    assert stats.norm_value(-1e-9) == 0
    assert stats.digest(["a"], [[-0.0]]) == stats.digest(["a"], [[0.0]])


def test_norm_rejects_nan():
    with pytest.raises(ValueError):
        stats.norm_value(float("nan"))
    with pytest.raises(ValueError):
        stats.digest(["a"], [[1.0], [math.nan]])


def test_norm_keeps_infinity():
    assert stats.norm_value(float("inf")) == float("inf")


def test_norm_nested_and_temporal_values():
    from pyspark.sql import Row

    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    assert stats.norm_value(ts) == "2024-01-02 03:04:05.000006"
    assert stats.norm_value(dt.date(2024, 1, 2)) == "2024-01-02"
    # a Spark struct and a DuckDB struct reduce to the same value
    assert stats.norm_value(Row(x=1.0, y=2.5)) == stats.norm_value({"y": 2.5, "x": 1})
    assert stats.norm_value([1.0000004, None]) == [1, None]


def test_digest_is_row_order_insensitive_and_rounding_tolerant():
    a = stats.digest(["k", "v"], [[1, 0.1], [2, 0.2]])
    assert a == stats.digest(["v", "k"], [[2, 0.2000000001], [1, 0.1]])
    assert a != stats.digest(["k", "v"], [[1, 0.1], [2, 0.21]])
    assert a != stats.digest(["k", "w"], [[1, 0.1], [2, 0.2]])


# --------------------------------------------------------------- event log
def _task(stage, run_ms, *, cpu_ns=1_000_000, gc_ms=0, sw=0, rr=0, lr=0, spill=(0, 0), acc=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {"Accumulables": list(acc)},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill[0],
            "Disk Bytes Spilled": spill[1],
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": rr, "Local Bytes Read": lr},
        },
    }


def _stage(kind, stage, group):
    e = {"Event": kind, "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0}}
    if kind == "SparkListenerStageSubmitted":
        e["Properties"] = {"spark.jobGroup.id": group} if group else {}
    return e


def _node(name, metrics=(), children=()):
    return {
        "nodeName": name,
        "metrics": [{"name": n, "accumulatorId": i} for n, i in metrics],
        "children": list(children),
    }


SQL = "org.apache.spark.sql.execution.ui."
BUILD = eventlog.group_name("timed", 0, "q", "build")
RUN = eventlog.group_name("timed", 0, "q", "run")


def _log():
    plan = _node(
        "Project",
        children=[
            _node(
                "ArrowEvalPython",
                [("number of output rows", 7), (eventlog.PY_BYTES_SENT, 8)],
                [_node("Project", children=[_node("Filter", [("number of output rows", 5)])])],
            )
        ],
    )
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {}},  # setup job
        _stage("SparkListenerStageSubmitted", 0, None),
        _task(0, 999),
        _stage("SparkListenerStageCompleted", 0, None),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {"spark.jobGroup.id": BUILD}},
        _stage("SparkListenerStageSubmitted", 1, BUILD),
        _task(1, 10, sw=100),
        _stage("SparkListenerStageCompleted", 1, BUILD),
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 3,
         "jobGroupId": RUN, "sparkPlanInfo": _node("Dummy")},
        {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 3,
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": {"spark.jobGroup.id": RUN}},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Properties": {"spark.jobGroup.id": RUN}},
        _stage("SparkListenerStageSubmitted", 2, RUN),
        _task(2, 10, rr=5, lr=6, acc=[{"ID": 5, "Update": 40, "Name": "number of output rows"},
                                     {"ID": 8, "Update": "300", "Name": eventlog.PY_BYTES_SENT}]),
        _task(2, 10, gc_ms=3, acc=[{"ID": 5, "Update": 2, "Name": "number of output rows"}]),
        _task(2, 40, spill=(7, 8), cpu_ns=2_000_000),
        _stage("SparkListenerStageCompleted", 2, RUN),
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 3, "accumUpdates": [[5, 1]]},
    ]


def test_fold_attributes_jobs_stages_and_tasks_to_groups():
    g = eventlog.fold(_log())
    assert set(g) == {BUILD, RUN}  # the ungrouped setup job is not attributed
    b, r = g[BUILD], g[RUN]
    assert (b.jobs, b.stages, b.tasks) == (1, 1, 1)
    assert (r.jobs, r.stages, r.tasks) == (2, 1, 3)
    assert b.shuffle_write_bytes == 100
    assert r.shuffle_read_bytes == 11
    assert r.run_ms == 60 and r.cpu_ns == 4_000_000 and r.gc_ms == 3
    assert r.spill_bytes == 15
    assert r.task_skew == pytest.approx(4.0)  # max 40 / median 10
    assert b.task_skew == 1.0  # one task: no skew


def test_fold_counts_rows_and_bytes_into_python():
    r = eventlog.fold(_log())[RUN]
    # rows entering ArrowEvalPython = output rows of its nearest counted
    # descendant (the Filter, accumulator 5): 40 + 2 from tasks, 1 from the driver
    assert r.python_rows == 43
    assert r.python_bytes == 300


def test_group_names_round_trip_and_reject_foreign_groups():
    assert eventlog.split_group(eventlog.group_name("warmup", 2, "bm_q5", "run")) == (
        "warmup", 2, "bm_q5", "run")
    assert eventlog.split_group(None) is None
    assert eventlog.split_group("someone-else") is None
    assert eventlog.split_group("a|x|b|c") is None


# ---------------------------------------------------------- BENCHMARK.json
def test_benchmark_json_matches_the_runner():
    import json
    import re

    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layers == run.LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert name.match(m["name"]) and unit.match(m["unit"]), m
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_layer_metrics_attribute_build_and_run_groups_per_timed_pass():
    import run

    def gs(jobs, tasks, run_ms):
        return eventlog.GroupStats(jobs=jobs, stages=jobs, tasks=tasks, run_ms=run_ms)

    groups = {
        eventlog.group_name("timed", 0, "bm_q5", "build"): gs(2, 4, 100),
        eventlog.group_name("timed", 0, "bm_q5", "run"): gs(3, 6, 300),
        eventlog.group_name("timed", 1, "bm_q5", "build"): gs(2, 4, 100),
        eventlog.group_name("timed", 1, "bm_q5", "run"): gs(3, 6, 500),
        eventlog.group_name("warmup", 0, "bm_q5", "run"): gs(99, 99, 9999),
    }
    passes = [
        run.PassResult(no=n, order=["bm_q5"], ops=[run.OpTiming("bm_q5", 0.5, 1.5)])
        for n in (0, 1)
    ]
    ctx = run.Ctx(spark=None, sf_dir="", work="", trace=True, cpus=2)
    out, counts = run.layer_metrics(ctx, passes, groups)
    assert counts["spark.jobs"] == [5, 5] and counts["queries.build_jobs"] == [2, 2]
    assert out["spark.counts_repeat"] == 1.0
    assert out["queries.jobs.bm_q5"] == 5 and out["queries.jobs.doc_minhash_pairs"] == 0
    assert out["queries.build_s.bm_q5"] == 0.5
    # executor time over wall x cores: the median of 0.4/4 and 0.6/4
    assert out["spark.core_busy_frac"] == pytest.approx(0.125)
