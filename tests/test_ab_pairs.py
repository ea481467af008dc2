"""The gain rule of scripts/ab_pairs.py, on hand-made pair results (no Spark)."""

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "ab_pairs",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "ab_pairs.py"),
)
ab_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab_pairs)

SPEC = [
    {"name": "rss", "better": "lower"},
    {"name": "rate", "better": "higher"},
]


def _pairs(parent, change, name="rss"):
    return [({name: p}, {name: c}) for p, c in zip(parent, change)]


def test_gain_holds_with_nine_of_ten_wins_and_a_gap_past_the_parent_iqr():
    parent = [150, 151, 152, 152, 153, 151, 152, 150, 153, 152]
    change = [140, 141, 139, 140, 142, 140, 141, 139, 140, 152]  # last pair tied
    s = ab_pairs.summarize(_pairs(parent, change), SPEC)["rss"]
    assert (s["wins"], s["pairs"]) == (9, 10)
    assert s["parent"][1] == 152 and s["change"][1] == 140
    assert s["gain_holds"]


def test_gain_fails_on_eight_wins_a_small_gap_or_too_few_pairs():
    parent = [150, 151, 152, 152, 153, 151, 152, 150, 153, 152]
    eight = [140] * 8 + [160, 160]
    assert not ab_pairs.summarize(_pairs(parent, eight), SPEC)["rss"]["gain_holds"]
    # every pair won, but by less than the parent's own spread
    close = [p - 0.5 for p in parent]
    s = ab_pairs.summarize(_pairs(parent, close), SPEC)["rss"]
    assert s["wins"] == 10 and not s["gain_holds"]
    few = ab_pairs.summarize(_pairs(parent[:9], [100] * 9), SPEC)["rss"]
    assert few["wins"] == 9 and not few["gain_holds"]


def test_higher_is_better_metrics_and_missing_values():
    parent = [10.0] * 10
    change = [12.0] * 10
    pairs = _pairs(parent, change, "rate") + [({}, {"rate": 1.0})]
    s = ab_pairs.summarize(pairs, SPEC)
    assert "rss" not in s
    assert (s["rate"]["wins"], s["rate"]["pairs"]) == (10, 10)
    assert s["rate"]["gain_holds"]
    assert ab_pairs.quartiles([3.0]) == (3.0, 3.0, 3.0)
