"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixtures  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402
from harness import Op, Span  # noqa: E402


def ops(*secs, failed=()):
    return [Op(i, "k", s, ok=i not in failed) for i, s in enumerate(secs)]


def test_nearest_rank_percentile():
    xs = ops(*range(1, 11))  # 1..10 s
    assert harness.percentile(xs, 50) == 5
    assert harness.percentile(xs, 90) == 9
    assert harness.percentile(xs, 100) == 10
    assert harness.percentile(ops(7.0), 50) == 7.0


def test_failed_ops_rank_slowest():
    # The 0.1 s op failed: it ranks above every completed op.
    xs = ops(0.1, 1.0, 2.0, 3.0, failed={0})
    assert [o.seconds for o in harness.rank_ops(xs)] == [1.0, 2.0, 3.0, 0.1]
    assert harness.percentile(xs, 50) == 2.0
    assert harness.percentile(xs, 100) == 0.1
    # Half failed: the median lands on a failure and reports its time.
    xs = ops(5.0, 6.0, 0.5, 0.7, failed={2, 3})
    assert harness.percentile(xs, 50) == 6.0
    assert harness.percentile(xs, 75) == 0.5


def test_median_latency_interpolates_and_ranks_failures_slowest():
    assert harness.median_latency(ops(3.0, 1.0, 2.0)) == 2.0
    assert harness.median_latency(ops(4.0, 1.0, 3.0, 2.0)) == 2.5
    # The failed 0.1 s op ranks last: the middle pair is (3.0, 4.0).
    assert harness.median_latency(ops(0.1, 1.0, 2.0, 3.0, 4.0, 5.0, failed={0})) == 3.5
    # Most ops failed: the middle pair holds failures, reported by elapsed time.
    assert harness.median_latency(ops(1.0, 0.2, 0.3, failed={1, 2})) == 0.2


def test_tail_percentile_needs_ten_beyond():
    assert harness.beyond(100, 90) == 10
    assert harness.tail_percentile(100) == 90.0
    assert harness.tail_percentile(99) is None
    assert harness.tail_percentile(1000) == 99.0
    assert harness.tail_percentile(10_000) == 99.9
    assert harness.tail_percentile(5) is None


def test_median():
    assert harness.median([3, 1, 2]) == 2
    assert harness.median([4, 1, 3, 2]) == 2.5


def test_self_time_subtracts_children():
    spans = [
        Span(0, "op.x", 0.0, 10.0),
        Span(1, "table.merge", 1.0, 4.0, parent=0),
        Span(2, "table.read", 5.0, 9.0, parent=0),
        Span(3, "maintenance.health", 2.0, 3.0, parent=1),
    ]
    st = harness.self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 4.0, 3: 1.0}
    # Self times partition the root span's duration.
    assert math.isclose(sum(st.values()), 10.0)


def test_covered_merges_overlaps_and_clips():
    assert harness.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert harness.covered([(-2, 1), (9, 12)], 0, 10) == 2
    assert harness.covered([], 0, 10) == 0


def test_tracer_disabled_records_nothing():
    t = harness.Tracer()
    with t.span("table.merge"):
        pass
    assert t.spans == []
    t.enabled = True
    with t.span("op.merge"):
        with t.span("table.merge"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("op.merge", None), ("table.merge", 0)]


def test_same_seed_same_inputs_and_order():
    a, b = fixtures.generate(0.001, 7), fixtures.generate(0.001, 7)
    assert all(a[k].equals(b[k]) for k in a)
    assert workloads.query_order(7, 3) == workloads.query_order(7, 3)
    days = [str(d) for d in workloads.stocks_dates(64)]
    assert workloads.narrow_plan(7, days[-5:], 8) == workloads.narrow_plan(7, days[-5:], 8)


def test_other_seed_other_inputs_and_order():
    a, b = fixtures.generate(0.001, 7), fixtures.generate(0.001, 8)
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["documents"].equals(b["documents"])
    assert workloads.query_order(7, 3) != workloads.query_order(8, 3)
    days = [str(d) for d in workloads.stocks_dates(64)]
    assert workloads.narrow_plan(7, days[-5:], 8) != workloads.narrow_plan(8, days[-5:], 8)


def test_query_order_passes_cover_the_mix():
    mix = sorted((m, k) for m, keys in workloads.MIX.items() for k in keys)
    order = workloads.query_order(3, 2)
    assert sorted(order[: len(mix)]) == mix
    assert sorted(order[len(mix):]) == mix


def test_fixture_shapes():
    t = fixtures.generate(0.001, 1)
    assert t["lineitem"].num_rows == 6000 and t["orders"].num_rows == 1500
    assert t["region"].num_rows == 5 and t["nation"].num_rows == 25
    assert len(t["embeddings"]["embedding"][0]) == fixtures.EMBED_DIM


def test_stocks_dates_are_the_generator_days():
    days = workloads.stocks_dates(3)
    assert [str(d) for d in days] == ["2024-01-08", "2024-01-09", "2024-01-10"]
