"""The A/B summary of ``scripts/ab.py`` on fixed numbers (no Spark)."""

from __future__ import annotations

import pytest

from scripts.ab import parse_seeds, quartiles, summarize

BASE = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.05, 9.95]


def test_quartiles_are_the_benchmarks_spread_definition():
    assert quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == (2.75, 5.5, 8.25)


def test_gain_needs_nine_wins_and_a_move_past_the_base_iqr():
    s = summarize(BASE, [v * 0.8 for v in BASE], 0.25)
    assert s["wins"] == 10 and s["n"] == 10
    assert s["delta"] == pytest.approx(-0.2)
    assert s["verdict"] == "gain"
    # one lost pair of ten still counts; two do not
    change = [v * 0.8 for v in BASE]
    change[0] = change[1] = 11.0
    assert summarize(BASE, change, 0.25)["verdict"] == "flat"


def test_regression_beyond_the_bound():
    s = summarize(BASE, [v * 1.3 for v in BASE], 0.25)
    assert s["wins"] == 0
    assert s["delta"] == pytest.approx(0.3)
    assert s["verdict"] == "regression"
    assert summarize(BASE, [v * 1.2 for v in BASE], 0.25)["verdict"] == "flat"


def test_higher_is_better_flips_the_sign():
    s = summarize(BASE, [v * 0.7 for v in BASE], 0.25, better="higher")
    assert s["delta"] == pytest.approx(0.3)
    assert s["verdict"] == "regression"


def test_spread_wider_than_the_bound_is_unresolved():
    wide = [5.0, 10.0, 15.0, 20.0, 5.0, 10.0, 15.0, 20.0, 5.0, 10.0]
    s = summarize(BASE, wide, 0.25)
    assert s["spread"] > 0.25
    assert s["verdict"] == "unresolved"
    # even a would-be regression reads unresolved when either side spreads
    s = summarize(wide, [v * 2 for v in wide], 0.25)
    assert s["verdict"] == "unresolved"


def test_parse_seeds():
    assert parse_seeds("121-124") == [121, 122, 123, 124]
    assert parse_seeds("1,5,9") == [1, 5, 9]
