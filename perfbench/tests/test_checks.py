"""The benchmark's output checks and summary statistics."""
from __future__ import annotations

import math

import pandas as pd
import pytest

from perfbench import checks, stats


def triplets(rows):
    return pd.DataFrame(rows, columns=["FeatureA", "FeatureB", "Score"])


PAIRS = [("a", "label"), ("b", "label"), ("a", "b"), ("a", "a")]


def full_rows():
    rows = []
    for i, (x, y) in enumerate(PAIRS):
        rows.append((x, y, 0.1 * i))
        if x != y:
            rows.append((y, x, 0.1 * i))
    return rows


def test_pairwise_accepts_every_pair_in_both_orders():
    assert checks.check_pairwise(triplets(full_rows()), PAIRS) == []


@pytest.mark.parametrize("mutate, expect", [
    (lambda r: r[1:], "missing"),
    (lambda r: r + [("x", "y", 0.0)], "unplanned"),
    (lambda r: [(a, b, math.nan if {a, b} == {"b", "label"} else s)
                for a, b, s in r], "non-finite"),
    (lambda r: [(a, b, 9.0 if (a, b) == ("label", "a") else s)
                for a, b, s in r], "asymmetric"),
])
def test_pairwise_reports_each_defect(mutate, expect):
    problems = checks.check_pairwise(triplets(mutate(full_rows())), PAIRS)
    assert len(problems) == 1 and expect in problems[0]


def test_hll_bound_is_three_sigma():
    assert checks.hll_error_bound(16) == pytest.approx(3 * 1.04 / 256)


def test_cardinality_check():
    exact = {"a": 1000, "b": 10}
    assert checks.card_rel_err_max({"a": 1010, "b": 10}, exact) == 0.01
    assert checks.check_cardinality({"a": 1010, "b": 10}, exact, 16) == []
    assert checks.check_cardinality({"a": 1013, "b": 10}, exact, 16)
    assert "no cardinality" in checks.check_cardinality({"a": 1}, exact,
                                                        16)[0]


def test_split_feature_name():
    assert checks.split_feature_name("f30-(75; 100)") == ("f30", 75)
    assert checks.split_feature_name("a AND b-(12; 99)") == ("a AND b", 12)
    assert checks.split_feature_name("plain") == ("plain", None)


def test_top_features_ignores_tie_order_but_not_intruders():
    ok = pd.DataFrame({"Feature": ["f30-(9; 100)", "label-(9; 100)",
                                   "f31-(9; 100)", "f7-(9; 100)"]})
    assert checks.check_top_features(ok, "label", ("f30", "f31")) == []
    bad = pd.DataFrame({"Feature": ["label-(9; 100)", "f30-(9; 100)",
                                    "f7-(9; 100)", "f31-(9; 100)"]})
    assert checks.check_top_features(bad, "label", ("f30", "f31"))


def test_report_files(tmp_path):
    (tmp_path / "a.tsv").write_text("x")
    (tmp_path / "empty.tsv").write_text("")
    assert checks.check_report_files(str(tmp_path), ["a.tsv"]) == []
    problems = checks.check_report_files(str(tmp_path),
                                         ["a.tsv", "empty.tsv", "gone.tsv"])
    assert len(problems) == 2


def test_blobs_equal():
    a = {("c", "hll"): b"\x01", ("c", "counter"): b"\x02"}
    assert checks.check_blobs_equal(a, dict(a)) == []
    assert "differ" in checks.check_blobs_equal(
        a, {**a, ("c", "hll"): b"\x03"})[0]
    assert "keys" in checks.check_blobs_equal(a, {("c", "hll"): b"\x01"})[0]


def test_tail_needs_ten_samples_beyond_it():
    xs = list(range(1, 201))           # 200 samples
    value, q = stats.tail(xs)
    assert q == 95.0 and value == pytest.approx(stats.percentile(xs, 95))
    assert stats.tail(list(range(100)))[1] == 90.0
    assert stats.tail(list(range(40)))[1] == 75.0
    # too few samples for ten beyond p75: p75 all the same
    assert stats.tail([4.0, 1.0, 3.0, 2.0, 5.0]) == (4.0, 75.0)


def test_percentile():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([5], 99) == 5
