"""Distributed exact grouped quantiles (operators/quantiles.py).

Oracle: Spark's built-in exact ``percentile()`` — every comparison is
bitwise (``==`` on float64), since the operator reproduces
Percentile.scala's weighted interpolation form exactly.
"""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from outrank_spark.operators.quantiles import exact_grouped_quantiles

SF = "/root/testdata/sf0.001"


def _builtin(df, group_col, value_col, probs):
    aggs = [
        F.expr(f"percentile({value_col}, {p})").alias(f"p{i}")
        for i, p in enumerate(probs)
    ]
    return (
        df.groupBy(F.col(group_col).cast("string").alias(group_col))
        .agg(*aggs)
        .toPandas()
        .sort_values(group_col, kind="stable")
        .reset_index(drop=True)
    )


class TestExactGroupedQuantiles:
    def test_bitwise_vs_builtin_on_lineitem(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        probs = [0.25, 0.5, 0.75, 0.95]
        got = exact_grouped_quantiles(
            li, "l_returnflag", "l_extendedprice", probs)
        ref = _builtin(li, "l_returnflag", "l_extendedprice", probs)
        for i, c in enumerate(["q25", "q5", "q75", "q95"]):
            assert (got[c].values == ref[f"p{i}"].values).all()

    def test_ties_and_endpoints_integer_column(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        got = exact_grouped_quantiles(
            li, "l_linestatus", "l_quantity", [0.0, 0.5, 1.0])
        ref = _builtin(li, "l_linestatus", "l_quantity",
                       [0.0, 0.5, 1.0])
        assert (got[["q0", "q5", "q100"]].values
                == ref[["p0", "p1", "p2"]].values).all()

    def test_many_groups_across_few_partitions(self, spark):
        df = spark.range(40_000).select(
            (F.col("id") % 200).cast("string").alias("g"),
            (F.xxhash64("id") % 10_000).cast("double").alias("v"),
        )
        got = exact_grouped_quantiles(df, "g", "v", [0.5],
                                      num_partitions=8)
        ref = _builtin(df, "g", "v", [0.5])
        assert len(got) == 200
        assert (got["q5"].values == ref["p0"].values).all()

    def test_partition_count_invariance(self, spark):
        """Exactness cannot depend on how the range partitioner slices
        the sorted order."""
        df = spark.range(5_000).select(
            (F.col("id") % 7).cast("string").alias("g"),
            F.sin("id").alias("v"),
        )
        a = exact_grouped_quantiles(df, "g", "v", [0.1, 0.9],
                                    num_partitions=2)
        b = exact_grouped_quantiles(df, "g", "v", [0.1, 0.9],
                                    num_partitions=19)
        assert (a.values == b.values).all()

    def test_single_row_group_and_interpolation(self, spark):
        df = spark.createDataFrame(
            [("a", 5.0), ("b", 1.0), ("b", 3.0)], "g string, v double")
        r = exact_grouped_quantiles(df, "g", "v", [0.5, 0.9])
        assert r[r.g == "a"]["q5"].iloc[0] == 5.0
        assert r[r.g == "a"]["q9"].iloc[0] == 5.0
        # pos = 0.9 -> 1*(1-0.9) + 3*0.9 ... weighted form on (1,3)
        assert r[r.g == "b"]["q9"].iloc[0] == pytest.approx(2.8,
                                                            abs=1e-12)

    def test_nulls_ignored_and_null_groups_dropped(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("a", None), ("a", 3.0), (None, 9.0)],
            "g string, v double")
        r = exact_grouped_quantiles(df, "g", "v", [0.5])
        assert list(r["g"]) == ["a"]
        assert r["q5"].iloc[0] == 2.0

    def test_empty_and_bad_probs(self, spark):
        df = spark.createDataFrame([], "g string, v double")
        r = exact_grouped_quantiles(df, "g", "v", [0.5])
        assert len(r) == 0
        with pytest.raises(ValueError):
            exact_grouped_quantiles(df, "g", "v", [1.5])
        with pytest.raises(ValueError):
            exact_grouped_quantiles(df, "g", "v", [])

    def test_property_random_grouped_data_vs_numpy(self, spark):
        """Randomized micro-corpora vs a numpy oracle of the exact
        weighted interpolation formula (seeded loop rather than
        hypothesis: each example pays a Spark job, so examples are few
        and deterministic)."""
        import math

        rng = np.random.default_rng(1234)
        for trial in range(6):
            n_groups = int(rng.integers(1, 6))
            rows = []
            for g in range(n_groups):
                size = int(rng.integers(1, 40))
                vals = rng.choice(
                    [rng.normal(), 0.0, 1.0, -3.5, 2.25], size=size,
                ) + rng.normal(size=size) * (trial % 2)
                rows += [(f"g{g}", float(v)) for v in vals]
            probs = sorted(set(
                float(p) for p in rng.random(int(rng.integers(1, 4)))
            )) or [0.5]
            df = spark.createDataFrame(rows, "g string, v double") \
                .repartition(int(rng.integers(1, 6)))
            got = exact_grouped_quantiles(
                df, "g", "v", probs,
                num_partitions=int(rng.integers(1, 9)))
            by_g = {}
            for g, v in rows:
                by_g.setdefault(g, []).append(v)
            for _, r in got.iterrows():
                vals = np.sort(np.array(by_g[r["g"]]))
                for j, p in enumerate(probs):
                    pos = p * (len(vals) - 1)
                    lo, hi = int(math.floor(pos)), int(math.ceil(pos))
                    want = (vals[lo] if lo == hi else
                            vals[lo] * (hi - pos) + vals[hi] * (pos - lo))
                    assert r.iloc[1 + j] == want, (trial, r["g"], p)

    def test_adversarial_column_names(self, spark):
        """Group/value columns named like the operator's internals
        (pid/cnt/local/val) or needing quoting must work unchanged."""
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("b", 7.0)],
            ["pid", "local"])
        r = exact_grouped_quantiles(df, "pid", "local", [0.5])
        assert list(r["pid"]) == ["a", "b"]
        assert list(r["q5"]) == [2.0, 7.0]

    def test_duplicate_probs_rejected(self, spark):
        df = spark.createDataFrame([("a", 1.0)], "g string, v double")
        with pytest.raises(ValueError, match="colliding"):
            exact_grouped_quantiles(df, "g", "v", [0.5, 0.5])

    def test_skewed_group_spreads_over_partitions(self, spark):
        """One group holding ~90% of rows must still match — its
        sorted order spans many range partitions."""
        df = spark.range(30_000).select(
            F.when(F.col("id") % 10 < 9, F.lit("hot"))
            .otherwise(F.lit("cold")).alias("g"),
            (F.xxhash64("id") % 99_991).cast("double").alias("v"),
        )
        got = exact_grouped_quantiles(df, "g", "v",
                                      [0.01, 0.5, 0.99],
                                      num_partitions=12)
        ref = _builtin(df, "g", "v", [0.01, 0.5, 0.99])
        assert (got[["q01", "q5", "q99"]].values
                == ref[["p0", "p1", "p2"]].values).all()

    def test_pick_checks_each_row_group(self, spark, monkeypatch):
        """Counts that keep a partition's total but move rows between
        two groups of unequal size make every requested id resolve —
        to the other group's rows.  The pick must notice the group."""
        from outrank_spark.operators import quantiles

        df = spark.createDataFrame(
            [("a", float(i)) for i in range(30)]
            + [("b", 100.0 + i) for i in range(10)],
            "g string, v double")
        real = quantiles._partition_group_counts

        def shifted(data, group_col):
            out = real(data, group_col)
            out.loc[out["__g"] == "a", "cnt"] -= 10
            out.loc[out["__g"] == "b", "cnt"] += 10
            return out

        monkeypatch.setattr(quantiles, "_partition_group_counts", shifted)
        with pytest.raises(RuntimeError, match="pick mismatch"):
            exact_grouped_quantiles(df, "g", "v", [0.5, 0.9],
                                    num_partitions=1)


class TestWinsorize:
    def test_clamps_at_numpy_quantiles(self, spark):
        from outrank_spark.operators.quantiles import winsorize
        rng = np.random.default_rng(11)
        vals = rng.normal(0, 100, size=400)
        df = spark.createDataFrame(
            [("g", float(v)) for v in vals], "grp string, v double")
        out = winsorize(df, "v", "grp", 0.1, 0.9).collect()
        lo, hi = np.quantile(vals, 0.1), np.quantile(vals, 0.9)
        for r in out:
            want = min(max(r["v"], lo), hi)
            assert r["v_wins"] == pytest.approx(want, abs=1e-9)
        assert min(r["v_wins"] for r in out) == pytest.approx(lo, abs=1e-9)
        assert max(r["v_wins"] for r in out) == pytest.approx(hi, abs=1e-9)

    def test_groups_clamp_independently_and_rows_preserved(self, spark):
        from outrank_spark.operators.quantiles import winsorize
        rows = ([("a", float(i)) for i in range(101)]
                + [("b", float(1000 + i)) for i in range(11)])
        df = spark.createDataFrame(rows, "grp string, v double")
        out = winsorize(df, "v", "grp", 0.0, 0.5)
        got = out.collect()
        assert len(got) == len(rows)
        per = {}
        for r in got:
            per.setdefault(r["grp"], []).append(r["v_wins"])
        assert max(per["a"]) == 50.0     # median of 0..100
        assert max(per["b"]) == 1005.0   # median of 1000..1010

    def test_null_values_pass_through(self, spark):
        from outrank_spark.operators.quantiles import winsorize
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", None)], "grp string, v double")
        got = {r["v"]: r["v_wins"] for r in
               winsorize(df, "v", "grp", 0.25, 0.75).collect()}
        assert got[None] is None

    def test_bad_probs_raise(self, spark):
        from outrank_spark.operators.quantiles import winsorize
        df = spark.createDataFrame([("a", 1.0)], "grp string, v double")
        with pytest.raises(ValueError, match="p_lo < p_hi"):
            winsorize(df, "v", "grp", 0.9, 0.1)

    def test_broadcast_join_plan(self, spark):
        from outrank_spark.operators.quantiles import winsorize
        df = spark.createDataFrame(
            [("a", float(i)) for i in range(50)], "grp string, v double")
        plan = winsorize(df, "v", "grp")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestRobustOutlierStats:
    def test_planted_outliers(self, spark):
        from outrank_spark.operators.quantiles import robust_outlier_stats
        # 99 values in [0, 98] plus one wild point
        rows = ([("a", float(i)) for i in range(99)]
                + [("a", 10000.0)])
        df = spark.createDataFrame(rows, "grp string, v double")
        r = robust_outlier_stats(df, "v", "grp").collect()[0]
        vals = np.array([v for _, v in rows])
        med = np.median(vals)
        mad = np.median(np.abs(vals - med))
        assert r["median"] == pytest.approx(med, abs=1e-9)
        assert r["mad"] == pytest.approx(mad, abs=1e-9)
        want = int(np.sum(0.6745 * np.abs(vals - med) / mad > 3.5))
        assert r["n_outliers"] == want >= 1

    def test_zero_mad_reports_null(self, spark):
        from outrank_spark.operators.quantiles import robust_outlier_stats
        rows = [("c", 5.0)] * 10 + [("c", 99.0)]
        df = spark.createDataFrame(rows, "grp string, v double")
        r = robust_outlier_stats(df, "v", "grp").collect()[0]
        assert r["mad"] == 0.0
        assert r["n_outliers"] is None   # undefined, never a fake 0

    def test_bad_threshold(self, spark):
        from outrank_spark.operators.quantiles import robust_outlier_stats
        df = spark.createDataFrame([("a", 1.0)], "grp string, v double")
        with pytest.raises(ValueError, match="z_thresh"):
            robust_outlier_stats(df, "v", "grp", z_thresh=0)


class TestWeightedGroupedQuantiles:
    def test_matches_numpy_weighted_inverse_cdf(self, spark):
        import numpy as np

        from outrank_spark.operators.quantiles import (
            weighted_grouped_quantiles,
        )

        rng = np.random.default_rng(9)
        vals = rng.integers(0, 500, 3000).astype(float)
        wts = rng.integers(1, 10, 3000).astype(float)
        grp = rng.integers(0, 3, 3000)
        df = spark.createDataFrame(
            [(int(g), float(v), float(w))
             for g, v, w in zip(grp, vals, wts)],
            "g int, v double, w double")
        probs = [0.25, 0.5, 0.95]
        got = {(r["g"], r["prob"]): r["value"] for r in
               weighted_grouped_quantiles(df, "g", "v", "w",
                                          probs).collect()}
        for g in range(3):
            m = grp == g
            order = np.argsort(vals[m], kind="stable")
            v_s, w_s = vals[m][order], wts[m][order]
            # collapse ties like the histogram does
            uv, inv = np.unique(v_s, return_inverse=True)
            uw = np.bincount(inv, weights=w_s)
            cw = np.cumsum(uw)
            for p in probs:
                want = uv[np.searchsorted(cw, p * cw[-1])]
                assert got[(g, p)] == want, (g, p)

    def test_weight_one_matches_lower_edge_unweighted(self, spark):
        from outrank_spark.operators.quantiles import (
            weighted_grouped_quantiles,
        )

        df = spark.createDataFrame(
            [("a", float(v), 1.0) for v in range(1, 11)],
            "g string, v double, w double")
        got = {r["prob"]: r["value"] for r in
               weighted_grouped_quantiles(df, "g", "v", "w",
                                          [0.5, 1.0]).collect()}
        assert got[0.5] == 5.0      # smallest v with cumw >= 5
        assert got[1.0] == 10.0

    def test_heavy_weight_dominates_and_zero_weight_ignored(self, spark):
        from outrank_spark.operators.quantiles import (
            weighted_grouped_quantiles,
        )

        df = spark.createDataFrame(
            [("g", 1.0, 1.0), ("g", 2.0, 98.0), ("g", 3.0, 1.0),
             ("g", 999.0, 0.0), ("g", None, 5.0)],
            "g string, v double, w double")
        got = {r["prob"]: r["value"] for r in
               weighted_grouped_quantiles(df, "g", "v", "w",
                                          [0.5, 0.99]).collect()}
        assert got[0.5] == 2.0
        assert got[0.99] == 2.0     # 99% of mass still inside v=2

    def test_validation(self, spark):
        from outrank_spark.operators.quantiles import (
            weighted_grouped_quantiles,
        )

        df = spark.createDataFrame(
            [("g", 1.0, 1.0)], "g string, v double, w double")
        with pytest.raises(ValueError, match="probs"):
            weighted_grouped_quantiles(df, "g", "v", "w", [0.0])
        with pytest.raises(ValueError, match="unknown column"):
            weighted_grouped_quantiles(df, "g", "zz", "w", [0.5])
