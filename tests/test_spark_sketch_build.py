"""End-to-end Spark tests: pages fixture -> derived features -> sketch
build/merge (the SURVEY.md §7.5 minimum slice).
"""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from outrank_spark.operators.derived import (
    extract_text_from_html,
    with_web_features,
)
from outrank_spark.operators.sketch_build import (
    SketchPlan,
    _merge_partials,
    _scan_plan,
    build_grouped_sketches,
    build_sketches,
)
from outrank_spark.sketches import sketch_from_bytes
from outrank_spark.sources import generate_pages

N = 4000


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, N, seed=42, partitions=8).cache()
    df.count()
    return df


class TestPagesFixture:
    def test_row_count_and_schema(self, pages):
        assert pages.count() == N
        assert [f.name for f in pages.schema.fields] == [
            "url", "warc_ts", "html", "text", "lang",
        ]

    def test_partitioning_invariance(self, spark):
        a = generate_pages(spark, 500, seed=42, partitions=2)
        b = generate_pages(spark, 500, seed=42, partitions=7)
        rows_a = sorted(a.select("url", "text", "lang").collect())
        rows_b = sorted(b.select("url", "text", "lang").collect())
        assert rows_a == rows_b

    def test_text_extraction_byte_identical(self, pages):
        # the north-rule per-row invariant (BASELINE.json input_hint)
        bad = (
            extract_text_from_html(pages)
            .filter(F.col("extracted_text") != F.col("text"))
            .count()
        )
        assert bad == 0

    def test_host_skew_is_zipfian(self, pages):
        feats = with_web_features(pages)
        top = (
            feats.groupBy("host").count()
            .orderBy(F.desc("count")).first()
        )
        assert top["host"] == "site0000.com"
        assert top["count"] / N > 0.03  # head domain holds a real share

    def test_lang_distribution(self, pages):
        langs = dict(
            pages.groupBy("lang").count().collect()
            and [(r["lang"], r["count"]) for r in pages.groupBy("lang").count().collect()],
        )
        assert langs["en"] / N == pytest.approx(0.5, abs=0.05)


class TestWebFeatures:
    def test_feature_values(self, pages):
        row = (
            with_web_features(pages)
            .select("url", "host", "tld", "text_len", "n_token")
            .first()
        )
        assert row["url"].startswith("https://" + row["host"] + "/")
        assert row["host"].endswith("." + row["tld"])
        assert row["text_len"] > 0
        assert row["n_token"] >= 3

    def test_multi_label_tld(self, pages):
        tlds = {
            r["tld"]
            for r in with_web_features(pages).select("tld").distinct().collect()
        }
        assert "co.uk" in tlds  # multi-label TLD preserved

    def test_plan_stays_jvm_side(self, pages):
        # derived features must not introduce Python eval nodes
        plan = with_web_features(pages)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestBuildSketches:
    @pytest.fixture(scope="class")
    def feats(self, pages):
        df = with_web_features(pages).cache()
        df.count()
        return df

    def test_hll_matches_exact_within_bound(self, feats):
        plan = SketchPlan(
            columns=["host", "tld", "lang", "url"],
            sketches={"hll": {"p": 14}},
        )
        skc = build_sketches(feats, plan)
        for col in ["host", "tld", "lang", "url"]:
            exact = feats.select(F.countDistinct(col)).first()[0]
            est = skc.cardinality(col)
            assert abs(est - exact) / max(exact, 1) < 4 * 1.04 / np.sqrt(2 ** 14), col

    def test_tree_merge_order_invariance_bitwise(self, feats):
        """The merge gives the same blobs for one partition (folded on
        the driver), for sixteen (a ``treeAggregate`` with one executor
        merge level), and for the partial blobs merged in reverse
        order."""
        plan = SketchPlan(
            columns=["host", "lang", "text_len"],
            sketches={"hll": {"p": 12}, "cms": {"depth": 4, "width": 2 ** 12},
                      "coverage": {}, "bytes": {}},
        )
        one = build_sketches(feats.repartition(1), plan)
        many = build_sketches(feats.repartition(16), plan)
        rows = _scan_plan(feats.repartition(16), plan, True).collect()
        assert len(rows) > len(plan.keys())   # several partials per key
        reverse = {}
        for r in rows[::-1]:
            _merge_partials(reverse, {(r["column"], r["kind"]):
                                      sketch_from_bytes(r["kind"], bytes(r["blob"]))})
        assert set(one) == set(many) == set(reverse) == set(plan.keys())
        for key in one:
            assert one[key].to_bytes() == many[key].to_bytes(), key
            assert one[key].to_bytes() == reverse[key].to_bytes(), key

    def test_driver_receives_few_partials_at_many_partitions(
            self, feats, monkeypatch):
        """At P = 64 partitions the executors fold the partials, so the
        driver merges 2 to 5 partial dicts, not 64 (the driver's
        share of the merge is the final ``reduce`` over what it
        collected; the executors run their own copy of the function)."""
        from outrank_spark.operators import sketch_build

        calls = []

        def counted(acc, other):
            calls.append(len(other))
            return _merge_partials(acc, other)

        monkeypatch.setattr(sketch_build, "_merge_partials", counted)
        plan = SketchPlan(columns=["host", "lang"],
                          sketches={"hll": {"p": 12}, "coverage": {}})
        got = build_sketches(feats.repartition(64), plan)
        assert 2 <= len(calls) + 1 <= 5, len(calls) + 1
        want = build_sketches(feats.repartition(1), plan)
        for key in plan.keys():
            assert got[key].to_bytes() == want[key].to_bytes(), key

    def test_bytes_sketch_matches_octet_length(self, feats):
        """The ``bytes`` kind averages the UTF-8 length of each value's
        string form, skipping nulls, like SQL ``avg(octet_length)``."""
        cols = ["host", "text_len"]
        plan = SketchPlan(columns=cols, sketches={"bytes": {}})
        skc = build_sketches(feats.repartition(5), plan)
        want = feats.selectExpr(
            *[f"avg(octet_length(CAST({c} AS STRING))) AS {c}"
              for c in cols]).first()
        for c in cols:
            assert skc[(c, "bytes")].mean() == pytest.approx(want[c]), c

    def test_repartition_invariance_bitwise(self, feats):
        plan = SketchPlan(columns=["host"], sketches={"hll": {"p": 12}})
        a = build_sketches(feats.repartition(3), plan)
        b = build_sketches(feats.repartition(16), plan)
        assert a[("host", "hll")].to_bytes() == b[("host", "hll")].to_bytes()

    def test_numeric_sketches(self, feats):
        plan = SketchPlan(
            columns=["text_len"],
            numeric_columns=["text_len"],
            sketches={"kll": {"k": 200}, "tdigest": {"delta": 200}},
        )
        skc = build_sketches(feats, plan)
        exact_median = feats.selectExpr("percentile(text_len, 0.5)").first()[0]
        assert skc[("text_len", "kll")].quantile(0.5) == pytest.approx(
            exact_median, rel=0.1,
        )
        assert skc[("text_len", "tdigest")].quantile(0.5) == pytest.approx(
            exact_median, rel=0.05,
        )

    def test_cms_frequencies(self, feats):
        plan = SketchPlan(
            columns=["lang"], sketches={"cms": {"depth": 6, "width": 2 ** 12}},
        )
        skc = build_sketches(feats, plan)
        cms = skc[("lang", "cms")]
        exact = dict(
            (r["lang"], r["count"])
            for r in feats.groupBy("lang").count().collect()
        )
        for lang, cnt in exact.items():
            assert cms.query(lang) >= cnt
            assert cms.query(lang) <= cnt + cms.epsilon * N

    def test_numeric_missing_symbol_same_on_both_paths(self, spark):
        """A symbol a number prints as ("-1") marks a long column's
        values missing whether flags are computed JVM-side or not."""
        df = spark.createDataFrame([(-1,), (5,), (-1,), (None,)], "x long")
        plan = SketchPlan(
            columns=["x"],
            sketches={"coverage": {"missing_symbols": ("-1",)}},
        )
        cov = {
            prehash: build_sketches(df, plan, jvm_prehash=prehash)
            [("x", "coverage")].coverage()
            for prehash in (True, False)
        }
        assert cov[True] == cov[False] == pytest.approx(25.0)

    def test_summary_frame(self, feats):
        plan = SketchPlan(columns=["lang"], sketches={"hll": {"p": 12}})
        df = build_sketches(feats, plan).summary()
        assert set(df.columns) == {"column", "kind", "estimate"}
        assert len(df) == 1


class TestGroupedSketches:
    def test_per_host_distinct_urls(self, pages, spark):
        feats = with_web_features(pages)
        per_host = build_grouped_sketches(
            feats, "host", "url", kind="hll", params={"p": 12}, salt=4,
        ).collect()
        est = {
            r["key"]: sketch_from_bytes("hll", bytes(r["blob"])).estimate()
            for r in per_host
        }
        exact = {
            r["host"]: r["cnt"]
            for r in feats.groupBy("host")
            .agg(F.countDistinct("url").alias("cnt"))
            .collect()
        }
        # head host (skewed) plus a tail host must both be within bound
        top = max(exact, key=exact.get)
        for host in [top, min(exact, key=exact.get)]:
            assert abs(est[host] - exact[host]) / max(exact[host], 1) < 0.1


class TestGroupedQuantiles:
    def test_within_kll_rank_bound(self, spark):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(11)
        pdf = pd.DataFrame({
            "grp": np.repeat(["a", "b", "c"], 20_000),
            "x": np.concatenate([
                rng.normal(0, 1, 20_000),
                rng.exponential(5, 20_000),
                rng.uniform(-3, 7, 20_000),
            ]),
        })
        df = spark.createDataFrame(pdf).repartition(8)
        from outrank_spark.operators.sketch_build import grouped_quantiles

        out = grouped_quantiles(df, "grp", "x", qs=(0.25, 0.5, 0.75),
                                kind="kll").collect()
        assert len(out) == 9
        for r in out:
            grp_x = np.sort(pdf.loc[pdf["grp"] == r["key"], "x"].to_numpy())
            true_rank = np.searchsorted(grp_x, r["value"]) / len(grp_x)
            assert abs(true_rank - r["q"]) <= 3 * (2.0 / 200)

    def test_rejects_non_quantile_kind(self, spark):
        from outrank_spark.operators.sketch_build import grouped_quantiles

        df = spark.createDataFrame([("a", 1.0)], "grp string, x double")
        with pytest.raises(ValueError, match="kll, tdigest or ddsketch"):
            grouped_quantiles(df, "grp", "x", kind="hll")

    def test_tdigest_backend(self, spark):
        import numpy as np
        import pandas as pd

        from outrank_spark.operators.sketch_build import grouped_quantiles

        pdf = pd.DataFrame({"grp": ["a"] * 5000,
                            "x": np.arange(5000, dtype=float)})
        out = grouped_quantiles(spark.createDataFrame(pdf), "grp", "x",
                                qs=(0.5,), kind="tdigest").collect()
        assert len(out) == 1
        assert abs(out[0]["value"] - 2499.5) < 100


class TestGroupedDDSketch:
    def test_within_relative_error_bound(self, spark):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(17)
        pdf = pd.DataFrame({
            "grp": np.repeat(["a", "b"], 30_000),
            "x": np.concatenate([
                rng.lognormal(5, 2, 30_000),   # heavy right tail
                rng.lognormal(2, 1, 30_000),
            ]),
        })
        df = spark.createDataFrame(pdf).repartition(8)
        from outrank_spark.operators.sketch_build import grouped_quantiles

        out = grouped_quantiles(df, "grp", "x", qs=(0.5, 0.9, 0.99),
                                kind="ddsketch",
                                params={"alpha": 0.01}).collect()
        assert len(out) == 6
        for r in out:
            grp_x = np.sort(pdf.loc[pdf["grp"] == r["key"], "x"].to_numpy())
            truth = grp_x[int(np.floor(r["q"] * (len(grp_x) - 1)))]
            # the published guarantee: VALUE within alpha, relatively
            assert abs(r["value"] - truth) <= 0.01 * abs(truth) + 1e-9, (
                r["key"], r["q"], r["value"], truth)


class TestSparseGroupedHLL:
    def test_sparse_estimates_match_dense_and_blobs_shrink(self, pages,
                                                           spark):
        feats = with_web_features(pages)
        dense = build_grouped_sketches(
            feats, "host", "url", kind="hll",
            params={"p": 14, "sparse": False}, salt=4,
        ).collect()
        # sparse is the DEFAULT for grouped hll since r6 (Zipf key
        # domains are the advertised use case) — build one arm with
        # no explicit flag to pin the default itself
        sparse = build_grouped_sketches(
            feats, "host", "url", kind="hll", params={"p": 14}, salt=4,
        ).collect()
        d_est = {r["key"]: sketch_from_bytes("hll", bytes(r["blob"]))
                 .estimate() for r in dense}
        s_est = {r["key"]: sketch_from_bytes("hll", bytes(r["blob"]))
                 .estimate() for r in sparse}
        assert s_est == d_est  # identical logical registers
        d_bytes = sum(len(bytes(r["blob"])) for r in dense)
        s_bytes = sum(len(bytes(r["blob"])) for r in sparse)
        # every test host is tiny vs m=16384 -> order-of-magnitude win
        assert s_bytes * 10 < d_bytes, (s_bytes, d_bytes)


class TestCountingBloomBuild:
    def test_spark_build_matches_single_pass_bitwise(self, spark):
        from pyspark.sql import functions as F

        from outrank_spark.operators.sketch_build import (
            build_counting_bloom,
        )
        from outrank_spark.sketches.countingbloom import (
            CountingBloomFilter,
        )

        df = (
            spark.range(4000)
            .withColumn("v", F.concat(F.lit("doc"), F.col("id")))
            .withColumn("d", F.when(F.col("id") % 5 == 0, -1)
                        .otherwise(1))
        )
        # signed stream: every 5th id arrives as a NET retraction of
        # a value never added -> negative final counters are expected
        # for those; build must still be partition-order-free
        got = build_counting_bloom(df, "v", delta_col="d",
                                   capacity=5000, fpr=0.01)
        rows = [(f"doc{i}", -1 if i % 5 == 0 else 1)
                for i in range(4000)]
        want = CountingBloomFilter(capacity=5000, fpr=0.01)
        import numpy as np
        vals = np.array([v for v, _ in rows], dtype=object)
        ds = np.array([d for _, d in rows])
        want.add(vals[ds > 0]).remove(vals[ds < 0])
        assert got.to_bytes() == want.to_bytes()
        repart = build_counting_bloom(df.repartition(13), "v",
                                      delta_col="d",
                                      capacity=5000, fpr=0.01)
        assert repart.to_bytes() == want.to_bytes()

    def test_add_remove_roundtrip_and_empty(self, spark):
        from pyspark.sql import functions as F

        from outrank_spark.operators.sketch_build import (
            build_counting_bloom,
        )

        adds = spark.range(500).withColumn(
            "v", F.concat(F.lit("k"), F.col("id")))
        both = adds.select("v", F.lit(1).alias("d")).unionAll(
            adds.where(F.col("v").endswith("7"))
            .select("v", F.lit(-1).alias("d")))
        cbf = build_counting_bloom(both, "v", delta_col="d",
                                   capacity=2000, fpr=0.001)
        import numpy as np
        kept = np.array([f"k{i}" for i in range(500)
                         if not str(i).endswith("7")], dtype=object)
        gone = np.array([f"k{i}" for i in range(500)
                         if str(i).endswith("7")], dtype=object)
        assert cbf.contains(kept).all()
        assert cbf.contains(gone).mean() < 0.05
        assert cbf.min_negative() == 0
        empty = build_counting_bloom(
            adds.where(F.lit(False)), "v", capacity=100)
        assert empty.counts.sum() == 0


class TestDecayedHeavyHitters:
    def test_planted_trend_with_k_below_distinct(self, spark):
        """80k background users (1 event each, old) + 5 planted
        trending users (200 recent events each): k=512 << distinct,
        so the summary genuinely shrinks — candidate-verify must
        still return exactly the trending set with exact decayed
        counts (vs a full-groupBy reference)."""
        from pyspark.sql import functions as F

        from outrank_spark.operators.sketch_build import (
            decayed_heavy_hitters,
        )

        bg = spark.range(80_000).select(
            F.concat(F.lit("u"), F.col("id")).alias("user"),
            F.timestamp_seconds(F.lit(0.0)
                                + F.col("id") % 1000).alias("ts"),
        )
        hot = spark.range(1000).select(
            F.concat(F.lit("hot"), F.col("id") % 5).alias("user"),
            F.timestamp_seconds(F.lit(10_000_000.0)
                                + F.col("id")).alias("ts"),
        )
        ev = bg.unionAll(hot)
        out = decayed_heavy_hitters(
            ev, "user", "ts", half_life_secs=7 * 86400.0,
            threshold=50.0, k=512)
        got = {r["key"]: (r["n_events"], r["decayed_count"])
               for r in out.collect()}
        assert set(got) == {f"hot{i}" for i in range(5)}
        ref = {r["user"]: (r["n_events"], r["decayed_count"])
               for r in ev.groupBy("user").agg(
                   F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.pow(F.lit(0.5),
                               ((F.lit(10_000_999.0) * 1e6
                                 - F.unix_micros("ts")) / 1e6)
                               / (7 * 86400.0))).alias("decayed_count"))
               .where(F.col("user").startswith("hot")).collect()}
        for k_, (n, dc) in got.items():
            assert n == ref[k_][0] == 200
            assert abs(dc - ref[k_][1]) < 1e-6

    def test_undersized_k_falls_back_exact(self, spark):
        import warnings

        from pyspark.sql import functions as F

        from outrank_spark.operators.sketch_build import (
            decayed_heavy_hitters,
        )

        ev = spark.range(20_000).select(
            F.concat(F.lit("u"), F.col("id") % 3000).alias("user"),
            F.timestamp_seconds(F.col("id") % 100).alias("ts"),
        )
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            out = decayed_heavy_hitters(
                ev, "user", "ts", half_life_secs=1e9,
                threshold=2.0, k=4).collect()
        assert any("falling back" in str(w.message) for w in rec)
        # half-life huge -> weights ~1 -> every user (6-7 events) >= 2
        assert len(out) == 3000

    def test_validation_and_empty(self, spark):
        import pytest as _pt
        from pyspark.sql import functions as F

        from outrank_spark.operators.sketch_build import (
            decayed_heavy_hitters,
        )

        ev = spark.range(10).select(
            F.lit("u").alias("user"),
            F.timestamp_seconds(F.col("id")).alias("ts"))
        with _pt.raises(ValueError, match="half_life"):
            decayed_heavy_hitters(ev, "user", "ts", 0.0, 1.0)
        with _pt.raises(ValueError, match="anchor"):
            decayed_heavy_hitters(
                ev.where(F.lit(False)), "user", "ts", 1.0, 1.0)


class TestTrailingDistinctExact:
    """q155's operator: exact trailing-window distinct counts from one
    per-value max(ts) table — and the certification harness for the
    sliding HLL's per-window 1.04/sqrt(m) bound."""

    @pytest.fixture(scope="class")
    def events(self, spark):
        df = spark.range(60_000).select(
            F.concat(F.lit("u"), F.pmod(F.xxhash64("id"),
                                        F.lit(9000))).alias("user"),
            F.timestamp_seconds(
                (F.col("id") % 1000).cast("double")).alias("ts"),
        ).cache()
        df.count()
        return df

    def test_matches_brute_force_per_window(self, spark, events):
        from outrank_spark.operators.sketch_build import (
            trailing_distinct_exact,
        )

        windows = {
            "all": 0,
            "mid": 500 * 1_000_000,
            # boundary: ts == ts0 must be IN the window
            "edge": 999 * 1_000_000,
            "beyond": 10_000 * 1_000_000,  # after max(ts) -> 0
        }
        got = {r["window"]: (r["ts_from_us"], r["distinct_count"])
               for r in trailing_distinct_exact(
                   events, "user", "ts", windows).collect()}
        sec = F.col("ts").cast("double")
        for label, t0_us in windows.items():
            exact = (events.filter(sec >= t0_us / 1e6)
                     .agg(F.countDistinct("user")).first()[0])
            assert got[label] == (t0_us, exact), label
        assert got["beyond"][1] == 0

    def test_certifies_sliding_hll_bound(self, events):
        """The operator's headline purpose: the q152 sketch estimates
        must sit inside 3 * 1.04/sqrt(m) of THESE exact counts."""
        from outrank_spark.operators.sketch_build import (
            sliding_distinct_counts,
            trailing_distinct_exact,
        )

        w_us = {"a": 0, "b": 600 * 1_000_000}
        exact = {r["window"]: r["distinct_count"] for r in
                 trailing_distinct_exact(
                     events, "user", "ts", w_us).collect()}
        est = {r["window"]: r["est_distinct"] for r in
               sliding_distinct_counts(
                   events, "user", "ts",
                   {k: v / 1e6 for k, v in w_us.items()},
                   p=12).collect()}
        for k in w_us:
            assert exact[k] > 0
            assert abs(est[k] - exact[k]) / exact[k] < 3 * 1.04 / 2**6

    def test_partition_invariance_and_nulls(self, spark, events):
        from outrank_spark.operators.sketch_build import (
            trailing_distinct_exact,
        )

        w = {"m": 250 * 1_000_000}
        base = trailing_distinct_exact(events, "user", "ts", w).collect()
        noisy = events.unionByName(spark.createDataFrame(
            [(None, None)], "user string, ts timestamp"))
        for variant in (events.repartition(13), events.coalesce(1), noisy):
            assert trailing_distinct_exact(
                variant, "user", "ts", w).collect() == base

    def test_validation_and_empty(self, spark):
        import pytest as _pt

        from outrank_spark.operators.sketch_build import (
            trailing_distinct_exact,
        )

        df = spark.range(5).select(
            F.col("id").cast("string").alias("u"),
            F.timestamp_seconds(F.col("id")).alias("ts"))
        with _pt.raises(ValueError, match="at least one window"):
            trailing_distinct_exact(df, "u", "ts", {})
        got = trailing_distinct_exact(
            df.where(F.lit(False)), "u", "ts", {"w": 0}).collect()
        assert [(r["window"], r["distinct_count"]) for r in got] == \
            [("w", 0)]


    def test_quoted_label_survives(self, spark):
        """Window labels are data, not SQL text — a label with quotes
        and backticks must pass through unharmed."""
        from outrank_spark.operators.sketch_build import (
            trailing_distinct_exact,
        )

        df = spark.range(8).select(
            F.col("id").cast("string").alias("u"),
            F.timestamp_seconds(F.col("id")).alias("ts"))
        evil = "w'1; drop `x`"
        got = trailing_distinct_exact(df, "u", "ts", {evil: 0}).collect()
        assert [(r["window"], r["distinct_count"]) for r in got] == \
            [(evil, 8)]


class TestExactGroupOverlap:
    """q156's operator: exact pairwise group overlap — and the
    certification harness for theta_group_overlap's union/Jaccard
    estimates."""

    @pytest.fixture(scope="class")
    def grouped(self, spark):
        # 4 groups with controlled overlap: g0 = 0..5999,
        # g1 = 3000..8999 (overlap 3000), g2 = 0..999 (subset of g0),
        # g3 = 100000..100099 (disjoint from all)
        df = spark.range(6000).select(
            F.lit("g0").alias("g"), F.col("id").alias("v"))
        df = df.unionByName(spark.range(3000, 9000).select(
            F.lit("g1").alias("g"), F.col("id").alias("v")))
        df = df.unionByName(spark.range(1000).select(
            F.lit("g2").alias("g"), F.col("id").alias("v")))
        df = df.unionByName(spark.range(100000, 100100).select(
            F.lit("g3").alias("g"), F.col("id").alias("v")))
        # duplicates must not change distinct-set semantics
        df = df.unionByName(df.limit(500)).cache()
        df.count()
        return df

    def test_matches_set_arithmetic(self, grouped):
        from outrank_spark.operators.sketch_build import (
            exact_group_overlap,
        )

        rows = {(r["group_a"], r["group_b"]): r for r in
                exact_group_overlap(grouped, "g", "v").collect()}
        sets = {"g0": set(range(6000)), "g1": set(range(3000, 9000)),
                "g2": set(range(1000)),
                "g3": set(range(100000, 100100))}
        assert set(rows) == {("g0", "g1"), ("g0", "g2"), ("g0", "g3"),
                             ("g1", "g2"), ("g1", "g3"), ("g2", "g3")}
        for (ga, gb), r in rows.items():
            a, b = sets[ga], sets[gb]
            assert r["n_a"] == len(a) and r["n_b"] == len(b)
            assert r["n_intersection"] == len(a & b)
            assert r["n_union"] == len(a | b)
            assert r["jaccard"] == pytest.approx(
                round(len(a & b) / len(a | b), 6), abs=1e-9)
        # zero-intersection pairs are present, not dropped
        assert rows[("g0", "g3")]["n_intersection"] == 0
        assert rows[("g0", "g3")]["jaccard"] == 0.0

    def test_certifies_theta_estimates(self, grouped):
        """q72's sketch path must sit inside its published bounds of
        THESE exact counts: union RSE 1/sqrt(k-2), Jaccard binomial
        sqrt(J(1-J)/k) (3-sigma, plus the union-error cross term for
        the intersection product)."""
        import math

        from outrank_spark.operators.sketch_build import (
            exact_group_overlap,
            theta_group_overlap,
        )

        k = 2048
        exact = {(r["group_a"], r["group_b"]): r for r in
                 exact_group_overlap(grouped, "g", "v").collect()}
        est = theta_group_overlap(grouped, "g", "v", k=k)
        for r in est.itertuples():
            e = exact[(r.group_a, r.group_b)]
            rse = 1.0 / math.sqrt(k - 2)
            assert abs(r.est_union - e["n_union"]) \
                <= 3 * rse * e["n_union"]
            j = e["n_intersection"] / e["n_union"]
            j_tol = 3 * math.sqrt(max(j * (1 - j), 1e-12) / k)
            assert abs(r.jaccard - j) <= j_tol + 1e-9

    def test_partition_invariance_and_nulls(self, spark, grouped):
        from outrank_spark.operators.sketch_build import (
            exact_group_overlap,
        )

        base = exact_group_overlap(grouped, "g", "v").collect()
        noisy = grouped.unionByName(spark.createDataFrame(
            [(None, 1), ("g0", None)], "g string, v long"))
        for variant in (grouped.repartition(17), noisy):
            assert exact_group_overlap(variant, "g", "v").collect() \
                == base

    def test_collect_set_path_beyond_64_groups(self, spark):
        """G > 64 falls back from the long-bitmask state to the
        sorted-group-set state — same results, verified against
        driver-side set arithmetic on a 70-group dataset."""
        from collections import defaultdict

        from outrank_spark.operators.sketch_build import (
            exact_group_overlap,
        )

        rows = [(f"g{(i * 3) % 70:02d}", i % 40) for i in range(2000)]
        df = spark.createDataFrame(rows, "g string, v long")
        got = {(r["group_a"], r["group_b"]):
               (r["n_a"], r["n_b"], r["n_union"], r["n_intersection"])
               for r in exact_group_overlap(df, "g", "v").collect()}
        sets = defaultdict(set)
        for g, v in rows:
            sets[g].add(v)
        names = sorted(sets)
        assert len(names) == 70
        assert len(got) == 70 * 69 // 2
        for i, ga in enumerate(names):
            for gb in names[i + 1:]:
                a, b = sets[ga], sets[gb]
                assert got[(ga, gb)] == (
                    len(a), len(b), len(a | b), len(a & b)), (ga, gb)

    def test_unbounded_group_domain_raises(self, spark):
        """Misuse guard (r5 verdict #4): an unbounded group column
        must raise BEFORE the driver materializes its distinct set,
        with a pointer to the sketch path."""
        import pytest as _pytest

        from outrank_spark.operators.sketch_build import (
            exact_group_overlap,
        )

        # 10^5-distinct group column (a url/user-id shape)
        df = spark.range(100_000).select(
            F.concat(F.lit("u"), F.col("id")).alias("g"),
            (F.col("id") % 40).alias("v"))
        with _pytest.raises(ValueError, match="theta_group_overlap"):
            exact_group_overlap(df, "g", "v", max_groups=1000)
        with _pytest.raises(ValueError, match="max_groups"):
            exact_group_overlap(df, "g", "v", max_groups=1)

    def test_single_group_and_empty(self, spark):
        from outrank_spark.operators.sketch_build import (
            exact_group_overlap,
        )

        one = spark.range(10).select(
            F.lit("only").alias("g"), F.col("id").alias("v"))
        assert exact_group_overlap(one, "g", "v").collect() == []
        assert exact_group_overlap(
            one.where(F.lit(False)), "g", "v").collect() == []

    def test_plan_reuses_distinct_exchange(self, grouped):
        """The docstring's scale claim: ONE corpus shuffle — the
        pair-count and per-group-size aggregates both read the same
        groupBy(value) exchange (ReusedExchange in the static plan),
        so the corpus is shuffled once, never joined or re-shuffled
        per consumer."""
        from outrank_spark.operators.sketch_build import (
            exact_group_overlap,
        )

        spark = grouped.sparkSession
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        # static planner: AQE re-derives the same reuse per stage at
        # runtime but hides it from canonical plan text on cached
        # inputs — the static plan is the deterministic witness
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            out = exact_group_overlap(grouped, "g", "v")
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           prev_bc)
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        assert plan.count("ReusedExchange") >= 1, plan[:2000]
