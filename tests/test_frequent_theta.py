"""Misra-Gries heavy hitters + KMV/theta set-operation sketches:
kernel bounds, mergeability, wire format, and the Spark
candidate-verify / group-overlap operators."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from outrank_spark.sketches import FrequentItems, ThetaSketch, sketch_from_bytes
from outrank_spark.sketches.frequent import FrequentItems as FI


def _zipf_stream(seed=7, n_heavy=20, heavy_count=5000, n_noise=300_000):
    rng = np.random.default_rng(seed)
    heavy = np.repeat([f"H{i}" for i in range(n_heavy)], heavy_count)
    noise = np.array(
        [f"n{i}" for i in rng.integers(0, 200_000, n_noise)],
    )
    stream = np.concatenate([heavy, noise])
    rng.shuffle(stream)
    return stream


# -- Misra-Gries kernel ------------------------------------------------


def test_mg_error_bound_and_guarantee():
    """distinct >> k: realized err <= N/(k+1); every planted heavy
    item is enumerated; every estimate brackets the true count."""
    stream = _zipf_stream()
    sk = FrequentItems(k=512).update(stream)
    assert sk.n == stream.size
    assert 0 < sk.err <= sk.worst_case_err
    assert len(sk) <= 512
    cands = sk.candidates(3000)
    assert set(f"H{i}" for i in range(20)) <= set(cands)
    for i in range(20):
        est = sk.query(f"H{i}")
        assert est <= 5000 <= est + sk.err


def test_mg_merge_bound_holds_any_partitioning():
    """Bound-level merge correctness (PODS'12): arbitrary split +
    arbitrary merge tree keeps est <= true <= est + err, and errs of
    the parts bound the merged err."""
    stream = _zipf_stream(seed=11)
    for n_parts in (3, 17, 64):
        parts = np.array_split(stream, n_parts)
        sks = [FrequentItems(k=512).update(p) for p in parts]
        acc = FrequentItems(k=512)
        for s in sks:
            acc = acc.merge(sketch_from_bytes("mg", s.to_bytes()))
        assert acc.n == stream.size
        assert acc.err <= acc.worst_case_err
        for i in range(20):
            est = acc.query(f"H{i}")
            assert est <= 5000 <= est + acc.err


def test_mg_exact_below_k():
    """A stream with <= k distinct values is summarized EXACTLY:
    err == 0 and queries return true counts."""
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 40, 10_000)
    sk = FrequentItems(k=64).update(vals)
    assert sk.err == 0
    vc = pd.Series(vals).value_counts()
    for v, c in vc.items():
        assert sk.query(v) == c


def test_mg_wire_roundtrip_and_guards():
    sk = FrequentItems(k=8).update(np.array(list("aabbbcccc") * 3))
    back = FrequentItems.from_bytes(sk.to_bytes())
    assert (back.k, back.n, back.err) == (sk.k, sk.n, sk.err)
    assert back.counts == sk.counts
    assert back.to_bytes() == sk.to_bytes()
    with pytest.raises(ValueError):
        sk.merge(FrequentItems(k=16))
    with pytest.raises(ValueError):
        FI(k=0)
    # threshold below the realized error bound must refuse, not
    # silently return a set missing true positives
    big = FrequentItems(k=4).update(
        np.array([f"x{i}" for i in range(100)]),
    )
    assert big.err > 0
    with pytest.raises(ValueError):
        big.candidates(big.err)


# -- theta kernel ------------------------------------------------------


def test_theta_estimate_within_rse():
    vals = np.array([f"u{i}" for i in range(100_000)])
    sk = ThetaSketch(k=4096).update(vals)
    assert abs(sk.estimate() - 100_000) / 100_000 < 4 * sk.rse


def test_theta_exact_below_k():
    vals = np.array([f"u{i}" for i in range(1000)])
    sk = ThetaSketch(k=4096).update(np.concatenate([vals, vals]))
    assert sk.estimate() == 1000.0


def test_theta_merge_bitwise_order_independent():
    """Retained set is a deterministic function of the value set —
    merge in any order, or build single-pass, bitwise equal."""
    rng = np.random.default_rng(5)
    vals = np.array([f"v{i}" for i in rng.integers(0, 500_000, 400_000)])
    parts = np.array_split(vals, 13)
    sks = [ThetaSketch(k=2048).update(p) for p in parts]
    fwd = ThetaSketch(2048)
    for s in sks:
        fwd.merge(sketch_from_bytes("theta", s.to_bytes()))
    rev = ThetaSketch(2048)
    for s in reversed(sks):
        rev.merge(s)
    single = ThetaSketch(k=2048).update(vals)
    assert fwd.to_bytes() == rev.to_bytes() == single.to_bytes()


def test_theta_set_operations_bounds():
    """|A|=100k, |B|=180k, |A∩B|=30k planted: union / intersection /
    jaccard estimates inside loose (5 sigma-ish) bounds."""
    a = ThetaSketch(k=4096).update(
        np.array([f"u{i}" for i in range(100_000)]),
    )
    b = ThetaSketch(k=4096).update(
        np.array([f"u{i}" for i in range(70_000, 250_000)]),
    )
    union = ThetaSketch(4096).merge(a).merge(b)
    assert abs(union.estimate() - 250_000) / 250_000 < 5 * a.rse
    jac = a.jaccard(b)
    true_j = 30_000 / 250_000
    assert abs(jac - true_j) < 5 * np.sqrt(true_j * (1 - true_j) / 4096)
    inter = a.intersection_estimate(b)
    assert abs(inter - 30_000) / 30_000 < 0.15
    # disjoint sets -> zero intersection, exactly
    c = ThetaSketch(k=4096).update(
        np.array([f"w{i}" for i in range(50_000)]),
    )
    assert a.jaccard(c) == 0.0
    assert a.intersection_estimate(c) == 0.0


def test_theta_wire_roundtrip():
    sk = ThetaSketch(k=64).update(np.array([f"x{i}" for i in range(500)]))
    back = ThetaSketch.from_bytes(sk.to_bytes())
    assert back.k == 64
    assert np.array_equal(back.hashes, sk.hashes)
    assert back.to_bytes() == sk.to_bytes()
    with pytest.raises(ValueError):
        sk.merge(ThetaSketch(k=128))
    with pytest.raises(ValueError):
        ThetaSketch(k=2)


# -- Spark layer -------------------------------------------------------


def test_exact_heavy_hitters_matches_full_aggregation(spark):
    """Candidate-verify == plain exact groupBy/HAVING, row for row,
    on a skewed stream where distinct(8000) >> k(256)."""
    from outrank_spark.operators.sketch_build import exact_heavy_hitters

    rng = np.random.default_rng(9)
    heavy = np.repeat([f"H{i}" for i in range(12)], 400)
    noise = np.array([f"n{i}" for i in rng.integers(0, 8000, 20_000)])
    pdf = pd.DataFrame({"v": np.concatenate([heavy, noise])})
    df = spark.createDataFrame(pdf).repartition(8)

    got = (
        exact_heavy_hitters(df, "v", threshold=300, k=256)
        .toPandas().sort_values("v").reset_index(drop=True)
    )
    exp = (
        pdf.groupby("v").size().reset_index(name="n")
        .query("n >= 300").sort_values("v").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_exact_heavy_hitters_fallback_warns(spark):
    """Undersized k (err >= threshold) falls back to the full exact
    aggregation — identical rows, plus a warning."""
    from outrank_spark.operators.sketch_build import exact_heavy_hitters

    rng = np.random.default_rng(2)
    pdf = pd.DataFrame(
        {"v": [f"n{i}" for i in rng.integers(0, 5000, 30_000)]},
    )
    df = spark.createDataFrame(pdf).repartition(4)
    with pytest.warns(UserWarning, match="falling back"):
        got = (
            exact_heavy_hitters(df, "v", threshold=2, k=8)
            .toPandas().sort_values("v").reset_index(drop=True)
        )
    exp = (
        pdf.groupby("v").size().reset_index(name="n")
        .query("n >= 2").sort_values("v").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_theta_group_overlap_vs_exact(spark):
    """Per-group sketches through the salted grouped build: pairwise
    distinct/overlap estimates within bound of pandas exact."""
    from outrank_spark.operators.sketch_build import theta_group_overlap

    rng = np.random.default_rng(4)
    rows = []
    for g, lo, hi in [("a", 0, 6000), ("b", 3000, 10_000),
                      ("c", 20_000, 21_000)]:
        users = rng.integers(lo, hi, 15_000)
        rows.append(pd.DataFrame({"g": g, "u": users}))
    pdf = pd.concat(rows, ignore_index=True)
    df = spark.createDataFrame(pdf).repartition(8)

    got = theta_group_overlap(df, "g", "u", k=2048)
    assert list(got["group_a"]) == ["a", "a", "b"]
    sets = {g: set(pdf[pdf["g"] == g]["u"]) for g in "abc"}
    for _, r in got.iterrows():
        sa, sb = sets[r["group_a"]], sets[r["group_b"]]
        for est, true in [
            (r["est_a"], len(sa)), (r["est_b"], len(sb)),
            (r["est_union"], len(sa | sb)),
        ]:
            assert abs(est - true) <= max(5 * 0.0221 * true, 1.0)
        true_i = len(sa & sb)
        if true_i == 0:
            assert r["est_intersection"] == 0.0
        else:
            assert abs(r["est_intersection"] - true_i) / true_i < 0.2


def test_mg_theta_through_build_sketches(spark):
    """Both new kinds flow through the generic one-scan build; theta
    rides the JVM-prehash channel."""
    from outrank_spark.operators.sketch_build import SketchPlan, build_sketches

    rng = np.random.default_rng(6)
    pdf = pd.DataFrame({
        "s": [f"v{i}" for i in rng.integers(0, 3000, 40_000)],
    })
    df = spark.createDataFrame(pdf).repartition(6)
    plan = SketchPlan(
        columns=["s"],
        sketches={"mg": {"k": 512}, "theta": {"k": 2048}, "hll": {"p": 14}},
    )
    true_distinct = pdf["s"].nunique()
    skc = build_sketches(df, plan)
    theta = skc[("s", "theta")]
    assert abs(theta.estimate() - true_distinct) / true_distinct \
        < 4 * theta.rse
    mg = skc[("s", "mg")]
    assert mg.n == len(pdf)
    assert mg.err <= mg.worst_case_err
    vc = pdf["s"].value_counts()
    top = vc.index[0]
    assert mg.query(top) <= vc.iloc[0] <= mg.query(top) + mg.err
    summary = skc.summary()
    assert set(summary["kind"]) == {"mg", "theta", "hll"}


class TestWeightedFrequentItems:
    def test_guarantee_and_exact_small(self):
        import numpy as np
        from outrank_spark.sketches.frequent import WeightedFrequentItems
        rng = np.random.default_rng(5)
        vals = np.array([f"v{int(x)}" for x in
                         rng.zipf(1.6, 30000) % 2000])
        w = rng.uniform(0.1, 1.0, 30000)
        sk = WeightedFrequentItems(k=64).update_weighted(vals, w)
        import pandas as pd
        truth = pd.Series(w).groupby(pd.Series(vals)).sum()
        # deterministic guarantee: est <= true <= est + err, any key
        assert sk.err <= sk.worst_case_err + 1e-9
        for v, t in truth.items():
            est = sk.query(v)
            assert est <= t + 1e-6
            assert t <= est + sk.err + 1e-6
        # distinct <= k -> exact, err 0
        ex = WeightedFrequentItems(k=4000).update_weighted(vals, w)
        assert ex.err == 0.0
        for v, t in truth.items():
            assert abs(ex.query(v) - t) < 1e-9

    def test_candidates_superset_and_merge_law(self):
        import numpy as np
        import pandas as pd
        from outrank_spark.sketches.frequent import WeightedFrequentItems
        rng = np.random.default_rng(9)
        # planted trending keys on a heavy uniform background
        bg_v = np.array([f"b{int(x)}" for x in
                         rng.integers(0, 5000, 40000)])
        bg_w = np.full(40000, 0.05)
        hot_v = np.repeat([f"hot{i}" for i in range(8)], 300)
        hot_w = np.full(8 * 300, 0.9)
        vals = np.concatenate([bg_v, hot_v])
        w = np.concatenate([bg_w, hot_w])
        order = rng.permutation(len(vals))
        vals, w = vals[order], w[order]
        parts = [WeightedFrequentItems(k=256).update_weighted(
            vals[i::5], w[i::5]) for i in range(5)]
        m = parts[2]
        for p in (parts[0], parts[4], parts[1], parts[3]):
            m.merge(p)
        assert m.err < 100.0  # W/(k+1) ~ 16.6 per part bound
        truth = pd.Series(w).groupby(pd.Series(vals)).sum()
        thr = 200.0  # hot keys carry 270 each
        cands = set(m.candidates(thr))
        for v, t in truth.items():
            if t >= thr:
                assert v in cands, v  # no false negatives
        assert all(c.startswith(("hot", "b")) for c in cands)
        # wire round-trip preserves everything
        rt = WeightedFrequentItems.from_bytes(m.to_bytes())
        assert rt.to_bytes() == m.to_bytes()
        assert set(rt.candidates(thr)) == cands

    def test_validation(self):
        import numpy as np
        import pytest
        from outrank_spark.sketches.frequent import WeightedFrequentItems
        with pytest.raises(ValueError, match="k must be"):
            WeightedFrequentItems(k=0)
        sk = WeightedFrequentItems(k=4)
        with pytest.raises(ValueError, match="mismatch"):
            sk.update_weighted(np.array(["a"]), np.array([1.0, 2.0]))
        sk.update_weighted(np.array(["a", "b"]),
                           np.array([np.nan, -1.0]))  # both dropped
        assert sk.n == 0.0
        sk.update_weighted(np.array(["a"]), np.array([1.0]))
        with pytest.raises(ValueError, match="threshold"):
            sk.candidates(0.0)
        with pytest.raises(ValueError, match="incompatible"):
            sk.merge(WeightedFrequentItems(k=5))
