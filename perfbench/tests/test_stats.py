"""Nearest-rank percentile, backlog slope, spread and the pair rule."""

from __future__ import annotations

import statistics

import pytest

from perfbench.stats import judge_pairs, nearest_rank, quartiles, slope


def test_nearest_rank_reports_value_and_sample_count():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 9.0, 8.0, 7.0, 6.0]
    p50 = nearest_rank(values, 50)
    assert (p50.value, p50.n) == (5.0, 10)
    assert nearest_rank(values, 90).value == 9.0
    assert nearest_rank(values, 100).value == 10.0
    assert nearest_rank(values, 0).value == 1.0
    assert nearest_rank([3.0], 90).value == 3.0


def test_nearest_rank_is_always_a_sample():
    values = [0.1 * i for i in range(1, 21)]
    for p in (1, 33, 50, 67, 90, 95, 99):
        assert nearest_rank(values, p).value in values


def test_nearest_rank_rejects_no_samples():
    with pytest.raises(ValueError):
        nearest_rank([], 50)


def test_backlog_slope():
    assert slope([0, 1, 2, 3], [2, 2, 2, 2]) == 0.0
    assert slope([0, 1, 2, 3], [0, 2, 4, 6]) == pytest.approx(2.0)
    assert slope([0, 1, 2, 3], [6, 4, 2, 0]) == pytest.approx(-2.0)
    assert slope([5.0], [3.0]) == 0.0
    assert slope([1, 1, 1], [0, 5, 9]) == 0.0


def test_quartiles_match_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
    assert quartiles(values) == tuple(statistics.quantiles(values, n=4))
    assert quartiles([3.0]) == (3.0, 3.0, 3.0)


def _pairs(parent, change):
    return list(zip(parent, change))


def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_the_parent_iqr():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    change = [9.0, 9.1, 8.9, 9.2, 9.0, 9.1, 8.8, 9.0, 9.1, 9.0]
    assert judge_pairs(_pairs(parent, change), "lower", 0.1).status == "gain"
    # higher-is-better metrics mirror it
    assert judge_pairs(_pairs(change, parent), "higher", 0.1).status == "gain"


def test_eight_wins_in_ten_is_not_a_gain():
    parent = [10.0] * 10
    change = [9.0] * 8 + [10.5, 10.5]
    v = judge_pairs(_pairs(parent, change), "lower", 0.1)
    assert (v.wins, v.losses) == (8, 2)
    assert v.status != "gain"


def test_ties_count_for_neither_side():
    parent = [10.0] * 10
    change = [9.0] * 9 + [10.0]
    v = judge_pairs(_pairs(parent, change), "lower", 0.1)
    assert (v.wins, v.losses) == (9, 0)
    assert v.status == "gain"


def test_fewer_than_ten_pairs_is_never_a_gain():
    parent = [10.0] * 9
    change = [5.0] * 9
    assert judge_pairs(_pairs(parent, change), "lower", 0.1).status != "gain"


def test_gap_within_parent_iqr_is_not_a_gain():
    parent = [8.0, 12.0, 8.0, 12.0, 8.0, 12.0, 8.0, 12.0, 8.0, 12.0]
    change = [p - 0.5 for p in parent]
    v = judge_pairs(_pairs(parent, change), "lower", 0.5)
    assert v.wins == 10
    assert v.status != "gain"


def test_regression_beyond_bound():
    parent = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0]
    change = [11.5] * 10
    assert judge_pairs(_pairs(parent, change), "lower", 0.1).status == "regression"
    assert judge_pairs(_pairs(parent, change), "lower", 0.2).status == "within_bound"


def test_wide_spread_is_unresolved_unless_the_change_dominates():
    parent = [8.0, 12.0, 8.5, 11.5, 9.0, 11.0, 8.0, 12.0, 9.5, 10.5]
    change = [8.2, 12.1, 8.4, 11.6, 9.1, 11.2, 8.1, 11.9, 9.6, 10.4]
    assert judge_pairs(_pairs(parent, change), "lower", 0.05).status == "unresolved"
    dominated = [7.0] * 10
    v = judge_pairs(_pairs(parent, dominated), "lower", 0.05)
    assert v.status in ("gain", "within_bound")
