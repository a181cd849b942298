"""Tests of the benchmark harness's own logic; none of them starts Spark.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from diff import layer_label, verdict  # noqa: E402
from sparkstats import parse_metric  # noqa: E402
from spans import Span, covered, self_times  # noqa: E402
from stats import beyond, best_pass_s, percentile, tail_percentile  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402


# -- tail percentile --------------------------------------------------------

@pytest.mark.parametrize("n, expected", [
    (19, None),      # p50 of 19 has 9 samples beyond it
    (20, 50.0),
    (39, 50.0),      # p75 of 39 has 9 beyond
    (40, 75.0),
    (100, 90.0),
    (200, 95.0),
    (1000, 99.0),
    (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, expected):
    assert tail_percentile(n) == expected
    if expected is not None:
        assert beyond(n, expected) >= 10


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50.0) == 3.0
    assert percentile(values, 100.0) == 5.0
    assert percentile(values, 1.0) == 1.0


# -- gated wall time --------------------------------------------------------

def test_best_pass_sums_each_querys_fastest_pass():
    passes = [{"a": 3.0, "b": 1.0}, {"a": 2.0, "b": 1.5}, {"b": 0.5}]
    # a's best is pass 2, b's is pass 3 (where a failed)
    assert best_pass_s(passes) == pytest.approx(2.5)
    assert best_pass_s([]) == 0.0


# -- self time from nested spans -------------------------------------------

def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, None, "query", 0.0, 10.0),
        Span(1, 0, "plan", 0.0, 4.0),
        Span(2, 0, "exec", 4.0, 10.0),
        # two overlapping jobs inside plan count once: [1, 3] U [2, 3.5]
        Span(3, 1, "spark.job", 1.0, 3.0),
        Span(4, 1, "spark.job", 2.0, 3.5),
        # a job that runs past its parent is clipped to it
        Span(5, 2, "spark.job", 9.0, 12.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(0.0)
    assert st[1] == pytest.approx(4.0 - 2.5)
    assert st[2] == pytest.approx(6.0 - 1.0)
    assert st[3] == pytest.approx(2.0)


def test_covered_ignores_intervals_outside_window():
    assert covered([(0.0, 1.0), (5.0, 6.0)], 2.0, 4.0) == 0.0
    assert covered([(1.0, 3.0), (3.0, 5.0)], 0.0, 10.0) == pytest.approx(4.0)


# -- Python-worker SQL metric strings --------------------------------------

@pytest.mark.parametrize("text, expected", [
    ("total (min, med, max (stageId: taskId))\n14.3 s (1.2 s, 3.4 s, 5.0 s (stage 2.0: task 3))", 14.3),
    ("363 ms", 0.363),
    ("0 ms", 0.0),
    ("total (min, med, max (stageId: taskId))\n2.5 min (1 s, 2 s, 3 s (stage 1.0: task 1))", 150.0),
    ("total (min, med, max (stageId: taskId))\n708.5 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 2.0: task 2))", 708.5 / 1024),
    ("1,565.1 KiB", 1565.1 / 1024),
    ("0.0 B", 0.0),
    ("2.0 GiB", 2048.0),
])
def test_parse_metric(text, expected):
    assert parse_metric(text) == pytest.approx(expected)


def test_parse_metric_rejects_unknown_unit():
    with pytest.raises(ValueError):
        parse_metric("12 parsecs")


# -- diff verdict rule ------------------------------------------------------

PARENT = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]


def test_verdict_better_needs_nine_tenths_of_pairs_and_gap_beyond_spread():
    change = [v * 0.8 for v in PARENT]
    assert verdict(PARENT, change, "lower", 0.1) == "better"
    # one pair lost out of ten still wins nine tenths
    change[0] = 11.0
    assert verdict(PARENT, change, "lower", 0.1) == "better"
    # two lost pairs is not enough
    change[1] = 11.0
    assert verdict(PARENT, change, "lower", 0.1) != "better"


def test_verdict_better_needs_ten_pairs():
    assert verdict(PARENT[:5], [v * 0.8 for v in PARENT[:5]], "lower", 0.1) != "better"


def test_verdict_worse_beyond_bound_and_unchanged_within():
    assert verdict(PARENT, [v * 1.2 for v in PARENT], "lower", 0.1) == "worse"
    assert verdict(PARENT, [v * 1.05 for v in PARENT], "lower", 0.1) == "unchanged"
    # "higher is better" flips the direction
    assert verdict(PARENT, [v * 0.8 for v in PARENT], "higher", 0.1) == "worse"


def test_verdict_unresolved_when_spread_exceeds_bound():
    noisy = [5.0, 15.0, 7.0, 13.0, 10.0, 6.0, 14.0, 9.0, 11.0, 12.0]
    assert verdict(noisy, noisy[::-1], "lower", 0.1) == "unresolved"


def test_layer_label():
    base = {"spark.jobs": 12.0, "spark.stages": 20.0, "spark.shuffle_write_mb": 3.0}
    assert layer_label(base, dict(base, **{"spark.executor_run_s": 9.0})) == "same-plan drift"
    assert layer_label(base, dict(base, **{"spark.jobs": 11.0})) == "plan change"
    assert layer_label(base, dict(base, **{"spark.shuffle_write_mb": 4.0})) == "plan change"


# -- seed -> query order ----------------------------------------------------

def test_pass_order_is_a_deterministic_permutation():
    queries = WORKLOADS["fanout_join"]
    first = pass_order(queries, seed=7, pass_no=1)
    assert first == pass_order(queries, seed=7, pass_no=1)
    assert sorted(first) == sorted(queries)
    orders = {tuple(pass_order(queries, seed, 1)) for seed in range(5)}
    assert len(orders) > 1
    assert pass_order(queries, 7, 1) != pass_order(queries, 7, 2)
