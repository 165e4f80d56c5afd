"""Verdicts of the interleaved A/B script (``scripts/perfbench_ab.py``);
no Spark session."""

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "perfbench_ab",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "perfbench_ab.py"),
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

LOWER = {"name": "peak_rss_mb", "better": "lower", "bound": 0.1}
HIGHER = {"name": "turns_per_s", "better": "higher", "bound": 0.25}


def test_gain_needs_nine_tenths_wins_and_a_gap_past_the_quartiles():
    base = [2600, 2650, 2700, 2620, 2680, 2640, 2660, 2610, 2690, 2630]
    head = [1450, 1470, 1460, 1480, 1440, 1465, 1455, 1475, 1445, 2700]
    s = ab.summarize(LOWER, base, head)
    assert (s["wins"], s["pairs"], s["verdict"]) == (9, 10, "gain")
    assert s["change"] == pytest.approx(1462.5 / 2645 - 1)
    # eight wins of ten are not enough, however large the gap
    s = ab.summarize(LOWER, base, head[:8] + [2700, 2700])
    assert (s["wins"], s["verdict"]) == (8, "within bound")


def test_regression_past_the_bound():
    base = [10.0, 10.2, 9.8, 10.1, 9.9]
    s = ab.summarize(HIGHER, base, [7.0, 7.2, 6.8, 7.1, 6.9])
    assert (s["wins"], s["verdict"]) == (0, "REGRESSION")
    # 20 % worse is within turns_per_s's 0.25 bound
    s = ab.summarize(HIGHER, base, [8.0, 8.2, 7.8, 8.1, 7.9])
    assert s["verdict"] == "within bound"


def test_unresolved_when_the_base_spread_exceeds_the_bound():
    base = [5.0, 10.0, 15.0, 20.0, 8.0, 12.0]
    head = [6.0, 9.0, 16.0, 19.0, 9.0, 11.0]
    s = ab.summarize(LOWER, base, head)
    assert (s["base"]["q3"] - s["base"]["q1"]) / s["base"]["median"] > LOWER["bound"]
    assert s["verdict"] == "unresolved"


def test_every_head_run_better_than_every_base_run_is_not_unresolved():
    base = [10.0, 20.0, 30.0, 40.0]
    head = [9.0, 9.5, 8.0, 9.9]
    s = ab.summarize(LOWER, base, head)
    # all four pairs won, but the gap (25 - 9.25) is inside the base's
    # quartile distance (12.5 .. 37.5), so it is no gain either
    assert s["wins"] == 4
    assert s["verdict"] == "within bound"
