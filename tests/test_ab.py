"""The A/B harness's pure parts: the verdict rule, the bound check, the
result digest and the plan comparison. Starts no Spark and no git."""

from __future__ import annotations

import importlib.util
import pathlib

from pyspark.sql import Row

_path = pathlib.Path(__file__).resolve().parent.parent / "scripts" / "ab.py"
_spec = importlib.util.spec_from_file_location("ab", _path)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

# ten old runs, Q1 = 1.775 and Q3 = 2.225 (statistics.quantiles, n=4),
# so the old arm's Q3 - Q1 is 0.45
OLD = [1.6, 1.7, 1.8, 1.9, 2.0, 2.0, 2.1, 2.2, 2.3, 2.4]


def test_nine_of_ten_wins_and_a_gain_above_the_iqr_is_a_gain():
    new = [x - 0.6 for x in OLD[:9]] + [OLD[9] + 0.1]
    v = ab.verdict(OLD, new, "lower")
    assert (v["wins"], v["losses"], v["ties"]) == (9, 1, 0)
    assert v["median_gain"] > v["parent_iqr"] == 0.45
    assert v["gain"]


def test_eight_of_ten_wins_is_not_a_gain():
    new = [x - 0.6 for x in OLD[:8]] + [x + 0.1 for x in OLD[8:]]
    v = ab.verdict(OLD, new, "lower")
    assert v["wins"] == 8
    assert v["median_gain"] > v["parent_iqr"]
    assert not v["gain"]


def test_ties_count_for_neither_side():
    new = [x - 0.6 for x in OLD[:8]] + OLD[8:]
    v = ab.verdict(OLD, new, "lower")
    assert (v["wins"], v["losses"], v["ties"]) == (8, 0, 2)
    assert not v["gain"]


def test_a_gain_below_the_parent_iqr_is_not_a_gain():
    new = [x - 0.4 for x in OLD]
    v = ab.verdict(OLD, new, "lower")
    assert v["wins"] == 10
    assert v["median_gain"] < v["parent_iqr"]
    assert not v["gain"]


def test_higher_is_better_flips_the_sign():
    v = ab.verdict(OLD, [x + 0.6 for x in OLD], "higher")
    assert v["wins"] == 10 and v["gain"]
    v = ab.verdict(OLD, [x + 0.6 for x in OLD], "lower")
    assert v["losses"] == 10 and v["median_gain"] < 0 and not v["gain"]


def test_bound_check_on_a_worse_metric():
    # medians: old 2.0; the bound is relative to the old median
    assert ab.within_bound(OLD, [x * 1.2 for x in OLD], "lower", 0.25)
    assert not ab.within_bound(OLD, [x * 1.3 for x in OLD], "lower", 0.25)
    assert ab.within_bound(OLD, [x * 0.8 for x in OLD], "higher", 0.25)
    assert not ab.within_bound(OLD, [x * 0.7 for x in OLD], "higher", 0.25)
    # better is always within the bound
    assert ab.within_bound(OLD, [x * 0.5 for x in OLD], "lower", 0.05)


def test_digest_ignores_row_order_and_sees_one_value_change():
    rows = [Row(k=1, v=0.5, tags=["a", "b"]), Row(k=2, v=None, tags=[]),
            Row(k=2, v=None, tags=[])]
    assert ab.digest(rows) == ab.digest(list(reversed(rows)))
    changed = [Row(k=1, v=0.5000000000000001, tags=["a", "b"])] + rows[1:]
    assert ab.digest(changed) != ab.digest(rows)
    # duplicates count, and array order is part of the value
    assert ab.digest(rows[:2]) != ab.digest(rows)
    swapped = [Row(k=1, v=0.5, tags=["b", "a"])] + rows[1:]
    assert ab.digest(swapped) != ab.digest(rows)


def test_digest_ignores_map_entry_order():
    a = [Row(m={"x": 1, "y": 2})]
    b = [Row(m={"y": 2, "x": 1})]
    assert ab.digest(a) == ab.digest(b)


def test_plan_comparison_strips_ids_only():
    a = ("Project [o_custkey#41L, o_totalprice#43]\n+- Filter isnotnull(o_custkey#41L)\n"
         "Arguments: hashpartitioning(o_custkey#41L, 256), ENSURE_REQUIREMENTS, [plan_id=891]")
    b = ("Project [o_custkey#7L, o_totalprice#9]\n+- Filter isnotnull(o_custkey#7L)\n"
         "Arguments: hashpartitioning(o_custkey#7L, 256), ENSURE_REQUIREMENTS, [plan_id=817]")
    assert ab.plans_equal(a, b)
    assert not ab.plans_equal(a, b.replace("Filter", "Sort"))
    assert not ab.plans_equal(a, a.replace("o_totalprice", "o_orderdate"))
    assert not ab.plans_equal(a, a.replace("256", "200"))
    assert not ab.plans_equal(a, a.replace("o_custkey#41L, 256", "o_custkey#41, 256"))
    assert not ab.plans_equal("SortMergeJoin (12)", "ShuffledHashJoin (12)")
    assert not ab.plans_equal("Exchange (12)", "Exchange (13)")
