"""The gain rule and the regression verdict of scripts/ab_pairs.py, on
hand-made pair results (no Spark)."""

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "ab_pairs",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "ab_pairs.py"),
)
ab_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab_pairs)

SPEC = [
    {"name": "rss", "better": "lower", "bound": 0.25},
    {"name": "rate", "better": "higher", "bound": 0.25},
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


def _verdict(parent, change, name):
    return ab_pairs.summarize(_pairs(parent, change, name), SPEC)[name]["regression"]


# parent runs with a tight spread: IQR 2 around a median of 100
TIGHT = [99, 100, 101, 100, 98, 102, 100, 99, 101, 100]


def test_regression_held_within_the_bound_in_both_directions():
    # 20 % worse is inside the 25 % bound; better is always held
    assert _verdict(TIGHT, [120] * 10, "rss") == "held"
    assert _verdict(TIGHT, [80] * 10, "rate") == "held"
    assert _verdict(TIGHT, [50] * 10, "rss") == "held"
    assert _verdict(TIGHT, [150] * 10, "rate") == "held"


def test_regression_regressed_past_the_bound_in_both_directions():
    # lower is better: the change median 130 is 30 % above the parent's 100
    assert _verdict(TIGHT, [130] * 10, "rss") == "regressed"
    # higher is better: the change median 70 is 30 % below the parent's 100
    assert _verdict(TIGHT, [70] * 10, "rate") == "regressed"


def test_regression_unresolved_when_the_parent_spread_exceeds_the_bound():
    # parent IQR 60 around a median of 100 (0.6 > 0.25): even a 40 % worse
    # change median, or an unchanged one, cannot be called either way
    wide = [40, 70, 100, 130, 160, 40, 70, 100, 130, 160]
    assert _verdict(wide, [140] * 10, "rss") == "unresolved"
    assert _verdict(wide, [100] * 10, "rss") == "unresolved"
    assert _verdict(wide, [60] * 10, "rate") == "unresolved"
    assert _verdict(wide, [100] * 10, "rate") == "unresolved"
    # ... unless every change run beats every parent run
    assert _verdict(wide, [39] * 10, "rss") == "held"
    assert _verdict(wide, [161] * 10, "rate") == "held"
    # one change run no better than the best parent run leaves it unresolved
    assert _verdict(wide, [39] * 9 + [40], "rss") == "unresolved"
    assert _verdict(wide, [161] * 9 + [160], "rate") == "unresolved"
