"""Unit tests for the benchmark's own helpers (no Spark, no engine).

Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import stats  # noqa: E402


# -- tail percentile: the highest one with >= 10 samples beyond it ----------
def test_tail_needs_more_than_ten_samples():
    assert stats.tail(list(range(10))) is None
    assert stats.tail([]) is None


def test_tail_picks_the_eleventh_largest():
    values = list(range(100, 0, -1))  # input order must not matter
    pct, value = stats.tail(values)
    assert value == 90  # 91..100 are the ten samples beyond it
    assert pct == 90.0
    assert sum(v > value for v in values) == 10


def test_tail_with_eleven_samples_is_the_minimum():
    pct, value = stats.tail([5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert value == 1.0
    assert pct == pytest.approx(100 / 11)


def test_tail_counts_ties_beyond_as_samples():
    values = [1.0] * 5 + [2.0] * 20
    pct, value = stats.tail(values)
    assert value == 2.0 and pct == 60.0


# -- stage-interval union behind driver_gap_s --------------------------------
def test_union_merges_overlaps_and_gaps():
    assert stats.interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.interval_union([(5, 6), (0, 2), (1, 3)]) == 4
    assert stats.interval_union([]) == 0


def test_union_counts_nested_and_touching_once():
    assert stats.interval_union([(0, 10), (2, 3), (4, 5)]) == 10
    assert stats.interval_union([(0, 1), (1, 2)]) == 2


def test_union_clips_to_the_call_window():
    assert stats.interval_union([(-5, 1), (9, 20)], lo=0, hi=10) == 2
    assert stats.interval_union([(11, 12)], lo=0, hi=10) == 0


def test_driver_gap_is_wall_minus_stage_union():
    # two overlapping concurrent stages (compaction's thread pool) and idle
    # driver time before, between and after them
    assert stats.driver_gap(0, 10, [(1, 4), (2, 5), (7, 8)]) == 10 - 5
    assert stats.driver_gap(0, 10, []) == 10


# -- span self time ------------------------------------------------------------
def test_self_time_subtracts_children_once():
    # children overlap (worker threads), one sticks out past the parent
    assert stats.self_time(0, 10, [(1, 3), (2, 4), (9, 12)]) == pytest.approx(10 - 3 - 1)


def test_self_time_without_children_is_the_duration():
    assert stats.self_time(2.5, 4.0, []) == 1.5


def test_layer_self_time_from_spans():
    from perfbench.layers import cycle_metrics
    from perfbench.trace import Span

    spans = [
        Span(0, "maintain.compact", "c1.compact.2", 1, None, 0.0, 10.0),
        Span(1, "operators.compact.compact", "c1.compact.2", 1, 0, 0.5, 9.5),
        Span(2, "meta.catalog.manifest_entries", "c1.compact.2", 1, 1, 1.0, 2.0),
        Span(3, "operators.binpack.plan_compaction_groups", "c1.compact.2", 1, 1, 2.0, 2.5,
             {"groups": 2, "fill_sum": 1.5}),
        Span(4, "meta.catalog.commit", "c1.compact.2", 1, 1, 8.0, 9.0),
    ]
    m = cycle_metrics(spans, {})
    assert m["operators.compact.self_ms"] == pytest.approx(1e3 * (9.0 - 1.0 - 0.5 - 1.0))
    assert m["meta.catalog.self_ms"] == pytest.approx(2e3)
    assert m["operators.binpack.plan_ms"] == pytest.approx(500)
    assert m["operators.binpack.fill_ratio"] == pytest.approx(0.75)
    assert m["operators.cluster.wall_ms"] == 0  # a layer not entered reads 0


# -- failure share ---------------------------------------------------------------
def test_failure_share():
    assert stats.failure_share(40, 0) == 0.0
    assert stats.failure_share(40, 10) == 0.25
    assert stats.failure_share(1, 1) == 1.0


@pytest.mark.parametrize("attempted, failed", [(0, 0), (3, 4), (3, -1)])
def test_failure_share_rejects_impossible_counts(attempted, failed):
    with pytest.raises(ValueError):
        stats.failure_share(attempted, failed)


def test_recorder_counts_an_operation_once():
    from perfbench.harness import OpFailed, Recorder

    rec = Recorder("w")
    rec.begin_cycle(1, measuring=True)
    rec.timed("a", lambda: 1)
    rec.check(False, "first")
    rec.check(False, "second check of the same operation")
    rec.timed("b", lambda: 2)
    with pytest.raises(OpFailed):
        rec.timed("c", lambda: 1 / 0)
    assert (rec.attempted, len(rec.failed)) == (3, 2)
    assert stats.failure_share(rec.attempted, len(rec.failed)) == pytest.approx(2 / 3)
    assert rec.cycles == []  # an aborted cycle keeps no timings


# -- BENCHMARK.json: the runner reports exactly the metrics listed there --------
def test_benchmark_json_names_each_metric_once():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))


def test_stage_busy_counts_outermost_spark_spans_once():
    from perfbench.layers import stage_busy_s
    from perfbench.trace import Span

    spans = [
        Span(0, "maintain.merge", "c1.merge.4", 1, None, 0.0, 10.0),
        Span(1, "operators.merge.merge_into", "c1.merge.4", 1, 0, 0.0, 9.0, {"driver_gap_s": 3.0}),
        # a Spark call nested in a counted one is already inside its window
        Span(2, "meta.catalog.append", "c1.merge.4", 1, 1, 2.0, 5.0, {"driver_gap_s": 1.0}),
        Span(3, "maintain.scan", "c1.scan.5", 1, None, 10.0, 12.0),
        Span(4, "meta.catalog.table_digest", "c1.scan.5", 1, 3, 10.0, 12.0, {"driver_gap_s": 0.5}),
    ]
    assert stage_busy_s(spans) == pytest.approx(6.0 + 1.5)
