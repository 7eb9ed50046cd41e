"""Summary statistics, span self time and the /proc sampler."""

import os
import statistics

import pytest

import measure
from spans import Tracer, _union


def test_median_and_quartiles_match_statistics():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    assert measure.median(xs) == 3.5
    assert measure.quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    assert measure.quartiles([2.5]) == (2.5, 2.5, 2.5)


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert measure.percentile(xs, 50) == 50
    assert measure.percentile(xs, 90) == 90
    assert measure.percentile(xs, 99) == 99
    assert measure.percentile(xs, 100) == 100
    assert measure.percentile([7], 95) == 7


def test_supported_percentile_leaves_ten_beyond():
    assert measure.supported_percentile(list(range(19))) is None
    assert measure.supported_percentile(list(range(20))) == (50.0, 9)
    assert measure.supported_percentile(list(range(1, 101)))[0] == 90.0
    assert measure.supported_percentile(list(range(1, 1001)))[0] == 99.0


def test_summary_reports_max_when_no_percentile_supported():
    s = measure.summary([1.0, 2.0, 3.0])
    assert s["n"] == 3 and s["median"] == 2.0
    assert s["high_percentile"] is None and s["max"] == 3.0
    s = measure.summary([float(x) for x in range(1, 101)])
    assert s["high_percentile"]["p"] == 90.0


def test_self_time_subtracts_covered_child_intervals():
    t = Tracer()
    t.spans = [
        {"id": 0, "name": "a", "start": 0.0, "end": 10.0, "parent": None,
         "pass_id": 0},
        {"id": 1, "name": "b", "start": 1.0, "end": 4.0, "parent": 0,
         "pass_id": 0},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0,
         "pass_id": 0},
        {"id": 3, "name": "c", "start": 2.0, "end": 3.0, "parent": 1,
         "pass_id": 0},
    ]
    st = t.self_times()
    assert st["a"] == pytest.approx(5.0)     # children cover [1, 6]
    assert st["b"] == pytest.approx(5.0)     # 3 - 1 (c) + 3
    assert st["c"] == pytest.approx(1.0)
    assert _union([(0, 2), (1, 3), (5, 9)], 0, 8) == pytest.approx(6.0)


def test_tracer_nests_spans():
    t = Tracer()
    with t.span("outer", 1):
        with t.span("inner", 1):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_steal_share_reads_eighth_field():
    before = [100, 0, 50, 800, 0, 0, 0, 50, 0, 0]
    after = [200, 0, 100, 1600, 0, 0, 0, 100, 0, 0]
    assert measure.steal_share(before, after) == pytest.approx(50 / 1000)
    assert len(measure.host_cpu_times()) >= 8


def test_tree_sample_counts_own_process():
    cpu, rss, n = measure.tree_sample(os.getpid())
    assert n >= 1 and rss > 0 and cpu > 0
    assert measure.tree_sample(2 ** 22 + 12345) == (0.0, 0, 0)
