"""Tests of the benchmark's own arithmetic. Run with
``python3 -m pytest perfbench``; no Spark session is started."""

from __future__ import annotations

import pytest

from perfbench.layers import PER_LAYER, owners, per_layer
from perfbench.metrics import (
    driver_gap,
    failed_share,
    footprint_ratio,
    interval_union,
    nearest_rank,
    self_time,
    space_amplification,
    tail_percentile,
    write_amplification,
)
from perfbench.run import END_TO_END, end_to_end
from perfbench.telemetry import Job


def test_union_of_overlapping_jobs_is_less_than_their_sum():
    # three jobs summing to 4.5 s that cover only 2.7 s of wall time
    jobs = [(0.0, 2.0), (0.5, 2.2), (1.9, 2.7)]
    assert sum(e - s for s, e in jobs) == pytest.approx(4.5)
    assert interval_union(jobs) == pytest.approx(2.7)


def test_union_handles_gaps_nesting_and_empty_intervals():
    assert interval_union([]) == 0.0
    assert interval_union([(5.0, 6.0), (0.0, 1.0), (0.2, 0.4), (3.0, 3.0)]) == pytest.approx(2.0)
    assert interval_union([(0.0, 1.0), (1.0, 2.0)]) == pytest.approx(2.0)


def test_self_time_subtracts_only_covered_part_of_the_span():
    span = (10.0, 20.0)
    children = [(9.0, 12.0), (11.0, 13.0), (18.0, 25.0)]
    # covered inside the span: [10, 13] and [18, 20] = 5 s
    assert self_time(span, children) == pytest.approx(5.0)
    assert driver_gap(span, children) == pytest.approx(5.0)
    assert driver_gap(span, []) == pytest.approx(10.0)


def test_tail_percentile_leaves_at_least_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(39) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(50) == 80
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99
    assert tail_percentile(10_000) == 99.9
    for n in range(20, 400):
        pct = tail_percentile(n)
        values = list(range(n))
        beyond = sum(1 for v in values if v > nearest_rank(values, pct))
        assert beyond >= 10


def test_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert nearest_rank(values, 50) == 3.0
    assert nearest_rank(values, 90) == 5.0
    assert nearest_rank(values, 1) == 1.0
    with pytest.raises(ValueError):
        nearest_rank([], 50)


def test_amplification_and_footprint_ratios():
    assert write_amplification(300, 100) == 3.0
    assert space_amplification(250, 100) == 2.5
    assert footprint_ratio(1000, 0) == 1.0
    assert footprint_ratio(1000, 500) == 1.5


def test_failed_share_counts_failures_against_attempts():
    assert failed_share(10, 0) == 0.0
    assert failed_share(8, 2) == 0.25
    with pytest.raises(ValueError):
        failed_share(0, 0)
    with pytest.raises(ValueError):
        failed_share(3, 4)


def _op(name, latency, ok=True):
    return {"name": name, "latency": latency, "ok": ok}


def _pass(kind, ops, peak=1000.0, traced=False, span=0):
    return {"kind": kind, "ops": ops, "peak_rss_mb": peak, "gc_s": 0.1, "traced": traced, "span": span,
            "restaged": 0, "info": None}


def test_end_to_end_from_a_run_record():
    record = {
        "setup": {"start_s": 5.0, "warmup_s": 1.0, "staging_s": 2.0, "staging_bytes": 0},
        "passes": [
            _pass("first", [_op("a", 4.0), _op("b", 6.0, ok=False)]),
            _pass("settle", [_op("b", 9.0), _op("a", 9.0)], peak=5000.0),
            _pass("warm", [_op("a", 1.0), _op("b", 2.0)], peak=900.0),
            _pass("warm", [_op("b", 3.0), _op("a", 1.0)], peak=1100.0),
            _pass("warm", [_op("a", 1.0), _op("b", 5.0)], peak=1000.0),
        ],
        "attempted": 10,
        "failed": 1,
        "input_bytes": 200,
        "stored_bytes": 100,
    }
    m = end_to_end(record)
    assert set(m) == set(END_TO_END) | {"first_pass_s"}
    assert m["setup_s"] == 8.0
    assert m["first_pass_s"] == 10.0
    assert m["pass_s"] == 4.0  # median of 3, 4, 6: the first and settling passes are left out
    assert m["op_p50_s"] == 1.5
    assert m["slowest_op_s"] == 3.0  # median of each pass's slowest: 2, 3, 5
    assert m["peak_rss_mb"] == 1000.0
    assert m["footprint_ratio"] == 1.5
    assert m["success_share"] == 0.9


def _span(id, parent, name, layer, start, end, group=None, **attrs):
    return {"id": id, "parent": parent, "name": name, "layer": layer, "start": start,
            "end": end, "group": group, "attrs": attrs}


def test_per_layer_driver_gap_union_and_utilisation():
    spans = [
        _span(0, None, "pass2", None, 100.0, 110.0),
        _span(1, 0, "q1", None, 100.0, 106.0, op=True, latency=6.0, udf_s=0.5),
        _span(2, 1, "build", "queries.build", 100.0, 102.0, group="g2"),
        _span(3, 1, "exec", "queries.exec", 102.0, 106.0, group="g3"),
        _span(4, 0, "q2", None, 106.0, 110.0, op=True, latency=4.0, udf_s=0.0),
        _span(5, 4, "build", "queries.build", 106.0, 107.0, group="g5"),
        _span(6, 4, "exec", "queries.exec", 107.0, 110.0, group="g6"),
    ]
    jobs = [
        # an eager job during build, then two overlapping jobs in exec
        Job("g2", 101.0, 102.0, stages=1, tasks=4, executor_run_s=2.0),
        Job("g3", 102.0, 105.0, stages=2, tasks=4, executor_run_s=3.0),
        Job("g3", 103.0, 105.5, stages=1, tasks=4, executor_run_s=3.0),
        Job("g6", 108.0, 110.0, stages=2, tasks=4, executor_run_s=4.0),
    ]
    record = {
        "setup": {"start_s": 5.0, "warmup_s": 1.0, "staging_s": 0.0, "staging_bytes": 0},
        "passes": [_pass("warm", [_op("q1", 6.0), _op("q2", 4.0)], traced=True, span=0)],
        "spans": spans,
    }
    m = per_layer(record, jobs, cores=4)
    assert set(m) == set(PER_LAYER)
    assert m["queries.build_s"] == pytest.approx(3.0)
    assert m["queries.exec_s"] == pytest.approx(7.0)
    assert m["queries.jobs"] == 4
    assert m["queries.stages"] == 6
    # q1 jobs cover [101, 105.5] of [100, 106]; q2 covers [108, 110] of [106, 110]
    assert m["queries.job_union_s"] == pytest.approx(4.5 + 2.0)
    assert m["queries.driver_gap_s"] == pytest.approx(1.5 + 2.0)
    assert m["queries.slot_utilisation"] == pytest.approx(12.0 / (6.5 * 4))
    assert m["queries.python_udf_s"] == pytest.approx(0.5)
    assert m["store.jobs"] == 0
    assert m["streaming.triggers"] == 0


def test_jobs_under_a_group_no_call_set_go_to_the_call_running_them():
    # a stream op: Spark runs its micro-batches under the query's run
    # id, not the group the benchmark set around the call
    spans = [
        _span(0, None, "pass1", None, 100.0, 110.0),
        _span(1, 0, "stream", None, 100.0, 108.0, op=True, latency=8.0, udf_s=0.0),
        _span(2, 1, "build", "queries.build", 100.0, 107.0, group="g2"),
        _span(3, 2, "stage", "store.staging", 100.5, 101.0, group="g3"),
        _span(4, 1, "exec", "queries.exec", 107.0, 108.0, group="g4"),
    ]
    jobs = [
        Job("g2", 100.2, 100.4, stages=1, tasks=1, executor_run_s=0.5),
        Job("run-7f3a", 101.5, 104.0, stages=2, tasks=4, executor_run_s=6.0),
        Job("run-7f3a", 104.5, 106.0, stages=2, tasks=4, executor_run_s=4.0),
        # inside the nested staging call, under no group at all
        Job(None, 100.6, 100.9, stages=1, tasks=1, executor_run_s=0.2),
        Job("g4", 107.2, 107.8, stages=1, tasks=2, executor_run_s=1.0),
        # after the op, outside every layer call: credited to none
        Job("perfbench-idle", 109.0, 109.5, stages=1, tasks=1, executor_run_s=9.0),
    ]
    owned = owners(spans, jobs)
    assert [j.start for j in owned[2]] == [100.2, 101.5, 104.5]
    assert [j.start for j in owned[3]] == [100.6]
    assert [j.start for j in owned[4]] == [107.2]
    record = {
        "setup": {"start_s": 5.0, "warmup_s": 1.0, "staging_s": 0.0, "staging_bytes": 0},
        "passes": [_pass("warm", [_op("stream", 8.0)], traced=True, span=0)],
        "spans": spans,
    }
    m = per_layer(record, jobs, cores=4)
    assert m["queries.jobs"] == 4
    assert m["queries.executor_run_s"] == pytest.approx(11.5)
    # jobs cover [100.2, 100.4], [101.5, 104], [104.5, 106], [107.2, 107.8]
    assert m["queries.job_union_s"] == pytest.approx(0.2 + 2.5 + 1.5 + 0.6)
    assert m["queries.driver_gap_s"] == pytest.approx(8.0 - 4.8)
