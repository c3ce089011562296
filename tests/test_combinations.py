"""Combination planner + heuristic dispatch tests (ports of
tests/ranking_module_test.py goldens and heuristic sanity checks).
"""
from __future__ import annotations

import numpy as np
import pytest

from outrank_spark.functions.heuristics import adjusted_mi, exact_mi, score_pair
from outrank_spark.plans.combinations import CombinationPlanner


class TestPlanner:
    # ref ranking_module_test.py:99-109
    def test_target_ranking_only(self):
        p = CombinationPlanner()
        combos = p.enumerate(["a", "b", "label"], "label",
                             "MI-numba-randomized", True)
        assert set(combos) == {("a", "label"), ("b", "label"),
                               ("label", "label")}

    # ref ranking_module_test.py:111-120
    def test_full_triangle(self):
        p = CombinationPlanner()
        combos = p.enumerate(["a", "b", "label"], "label",
                             "MI-numba-randomized", False)
        assert set(combos) == {
            ("a", "a"), ("b", "b"), ("label", "label"),
            ("a", "b"), ("a", "label"), ("b", "label"),
        }

    # ref ranking_module_test.py:122-131
    def test_3mr_combinations(self):
        p = CombinationPlanner()
        combos = p.enumerate(["a", "b", "label"], "label", "MI-numba-3mr",
                             False)
        assert set(combos) == {
            ("a", "a"), ("b", "b"), ("label", "label"),
            ("a", "b"), ("a", "label"), ("b", "label"),
        }

    def test_prior_sampling_round_robin(self):
        # least-sampled-first: a second plan with bound=1 must pick a
        # different pair than the first
        p = CombinationPlanner(seed=1)
        combos = [("a", "label"), ("b", "label")]
        first = p.sample(list(combos), 1)
        second = p.sample(list(combos), 1)
        assert first != second
        assert p.prior_counts[first[0]] == 1
        assert p.prior_counts[second[0]] == 1

    def test_bound_cap(self):
        p = CombinationPlanner()
        cols = [f"f{i}" for i in range(50)] + ["label"]
        pairs = p.plan(cols, "label", "MI-numba-randomized", True, 10)
        assert len(pairs) == 10

    def test_state_roundtrip(self):
        p = CombinationPlanner()
        p.plan(["a", "b", "label"], "label", "MI", True, 10)
        q = CombinationPlanner()
        q.restore(p.state())
        assert q.prior_counts == p.prior_counts

    def test_state_follows_enumeration_order(self):
        # the state's key order reaches combination_estimation_counts
        # .json and the pickled stream state; it must not depend on
        # string hashing (PYTHONHASHSEED)
        p = CombinationPlanner()
        cols = [f"f{i}" for i in range(30)] + ["label"]
        combos = p.enumerate(cols, "label", "MI", False)
        p.sample(combos, 10)
        expected = [f"{a}\x1f{b}" for a, b in dict.fromkeys(combos)]
        assert list(p.state()) == expected


class TestHeuristics:
    def test_exact_mi_identity(self):
        x = np.array([0, 1, 0, 1] * 100, dtype=np.int32)
        assert exact_mi(x, x) == pytest.approx(np.log(2), rel=1e-9)

    def test_exact_mi_independent(self):
        x = np.array([0, 0, 1, 1], dtype=np.int32)
        y = np.array([0, 1, 0, 1], dtype=np.int32)
        assert exact_mi(x, y) == pytest.approx(0.0, abs=1e-12)

    def test_ami_identity_one(self):
        x = np.array([0, 1, 2] * 50, dtype=np.int32)
        assert adjusted_mi(x, x) == pytest.approx(1.0, rel=1e-6)

    def test_ami_independent_near_zero(self):
        rng = np.random.default_rng(3)
        x = rng.integers(0, 4, 2000).astype(np.int32)
        y = rng.integers(0, 4, 2000).astype(np.int32)
        assert abs(adjusted_mi(x, y)) < 0.05

    def test_pearson(self):
        x = np.arange(100, dtype=np.int32)
        assert score_pair(x, x, "correlation-Pearson") == pytest.approx(1.0)

    def test_constant(self):
        x = np.zeros(10, dtype=np.int32)
        assert score_pair(x, x, "Constant") == 0.0

    def test_surrogate_dispatches(self):
        # surrogates are implemented numpy-only (functions/surrogate.py)
        rng = np.random.default_rng(3)
        y = rng.integers(0, 2, 200).astype(np.int32)
        x = (y * 2 + rng.integers(0, 2, 200)).astype(np.int32)
        s = score_pair(x, y, "surrogate-SGD")
        assert np.isfinite(s) and s <= 1.0 + 1e-9

    def test_unknown_raises(self):
        x = np.zeros(10, dtype=np.int32)
        with pytest.raises(ValueError):
            score_pair(x, x, "bogus")
