"""Rare-value counter, baseline features, numeric bounds summary,
valid-line filter — the round-2 reference-parity additions.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from outrank_spark.sketches.rare import RareValueCounter


class TestRareValueCounter:
    def test_reference_semantics_on_fixture(self):
        # bound=1 (reference default): values seen more than once are
        # evicted and never reported (core_ranking.py:409-436)
        rc = RareValueCounter(bound=1)
        rc.update(np.array(["a", "b", "b", "c"], dtype=object))
        rc.update(np.array(["c", "d"], dtype=object))
        assert rc.rare_values() == {"a": 1, "d": 1}
        assert "b" in rc.ignored and "c" in rc.ignored

    def test_evicted_value_stays_ignored(self):
        rc = RareValueCounter(bound=1)
        rc.update(np.array(["x", "x"], dtype=object))
        rc.update(np.array(["x"], dtype=object))  # ignored, not recounted
        assert rc.rare_values() == {}
        assert rc.ignored == {"x"}

    def test_merge_order_independent(self):
        vals = np.array(
            ["a"] * 1 + ["b"] * 3 + ["c"] * 2 + ["d"] * 1 + ["e"] * 5,
            dtype=object,
        )
        rng = np.random.default_rng(4)
        perm = rng.permutation(len(vals))
        chunks = np.array_split(vals[perm], 4)

        def build(order):
            parts = []
            for ch in chunks:
                sk = RareValueCounter(bound=2)
                sk.update(ch)
                parts.append(RareValueCounter.from_bytes(sk.to_bytes()))
            acc = parts[order[0]]
            for i in order[1:]:
                acc.merge(parts[i])
            return acc

        a = build([0, 1, 2, 3])
        b = build([3, 1, 0, 2])
        assert a.rare_values() == b.rare_values() == {"a": 1, "c": 2, "d": 1}
        assert a.ignored == b.ignored == {"b", "e"}
        assert a.to_bytes() == b.to_bytes()  # canonical wire form

    def test_matches_exact_groupby(self):
        # final rare set == exact count filter, regardless of chunking
        rng = np.random.default_rng(11)
        vals = rng.integers(0, 200, 2000).astype(str).astype(object)
        exact = pd.Series(vals).value_counts()
        bound = 8
        expected = {v: int(c) for v, c in exact.items() if c <= bound}
        acc = None
        for ch in np.array_split(vals, 7):
            sk = RareValueCounter(bound=bound)
            sk.update(ch)
            acc = sk if acc is None else acc.merge(sk)
        assert acc.rare_values() == expected


@pytest.mark.slow
class TestRareReportsE2E:
    def test_rare_reports_written(self, spark, tmp_path):
        from outrank_spark.plans import RankingConfig, run_ranking
        from outrank_spark.plans.reports import write_rare_value_reports
        from outrank_spark.sources import generate_pages

        df = generate_pages(spark, 5000, seed=5, partitions=4) \
            .select("lang", "url")
        cfg = RankingConfig(subsampling=1, label_column="lang",
                            rare_value_count_upper_bound=2,
                            feature_columns=["lang", "url"])
        res = run_ranking(spark, df, cfg)
        assert any(kind == "rare" for (_, kind) in res.sketches)
        files = write_rare_value_reports(res, str(tmp_path))
        rare = pd.read_csv(tmp_path / "rare_values.tsv", sep="\t")
        assert list(rare.columns) == ["Namespace", "value", "Count"]
        assert (rare["Count"] <= 2).all()
        sparsity = pd.read_csv(
            tmp_path / "feature_sparsity_summary.tsv", sep="\t",
        )
        assert list(sparsity.columns) == [
            "rare_proportion", "feature_type", "feature_name",
        ]
        assert sparsity["rare_proportion"].is_monotonic_increasing
        assert set(files) == {
            "rare_values.tsv", "feature_sparsity_summary.tsv",
        }


class TestBaselineFeatures:
    def test_missing_proportion_and_dummy(self, spark):
        from outrank_spark.operators.transformers import (
            with_baseline_features,
        )

        df = spark.createDataFrame(pd.DataFrame({
            "a": ["x", "", "y", ""],
            "b": ["", "", "z", "w"],
        }))
        out, names = with_baseline_features(df)
        assert names == ["BASELINE-MISSING-PROPORTION", "BASELINE-DUMMY"]
        rows = out.orderBy("a", "b").collect()
        got = {(r["a"], r["b"]): r["BASELINE-MISSING-PROPORTION"]
               for r in rows}
        assert got[("x", "")] == "0.5"
        assert got[("", "")] == "1.0"
        assert got[("y", "z")] == "0.0"
        assert got[("", "w")] == "0.5"
        assert all(r["BASELINE-DUMMY"] == "0" for r in rows)

    def test_pure_jvm(self, spark):
        from outrank_spark.operators.transformers import (
            with_baseline_features,
        )

        df = spark.createDataFrame(pd.DataFrame({"a": ["x", ""]}))
        out, _ = with_baseline_features(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan


class TestNumericFeatureStatistics:
    def test_mean_in_median_field(self, spark):
        from outrank_spark.plans.reports import numeric_feature_statistics

        df = spark.createDataFrame(pd.DataFrame({
            "n": ["1.0", "2.0", "3.0", "10.0"],
            "s": ["a", "b", "c", "d"],
        }))
        stats = numeric_feature_statistics(df, ["n"], exact_unique=True)
        row = stats.iloc[0]
        assert row["Feature"] == "n"
        assert row["Minimum"] == 1.0
        assert row["Maximum"] == 10.0
        # the reference stores the MEAN in a field named `median`
        # (core_ranking.py:476) — quirk preserved
        assert row["Median"] == 4.0
        assert row["Num avg. unique (batch)"] == 4
        assert list(stats.columns) == [
            "Feature", "Minimum", "Maximum", "Median",
            "Num avg. unique (batch)",
        ]

    def test_empty_numeric_set(self, spark):
        from outrank_spark.plans.reports import numeric_feature_statistics

        df = spark.createDataFrame(pd.DataFrame({"s": ["a"]}))
        assert numeric_feature_statistics(df, []) is None


class TestValidLineFilter:
    def _write_dirty_csv(self, tmp_path):
        d = tmp_path / "dirty"
        d.mkdir()
        lines = [
            "a,b,c",
            "1,2,3",
            "4,5",          # too few fields
            "6,7,8,9",      # too many fields
            "10,11,12",
        ]
        (d / "data.csv").write_text("\n".join(lines) + "\n")
        return str(d)

    def test_invalid_rows_split_out(self, spark, tmp_path):
        from outrank_spark.sources.readers import (
            invalid_line_summary,
            read_csv_raw,
        )

        info = read_csv_raw(spark, self._write_dirty_csv(tmp_path))
        assert info.column_names == ["a", "b", "c"]
        valid = info.df.orderBy("a").collect()
        assert [r["a"] for r in valid] == ["1", "10"]
        count, samples = invalid_line_summary(info)
        assert count == 2
        assert set(samples) == {"4,5", "6,7,8,9"}

    def test_summary_counts_once_and_samples_only_bad_files(
            self, spark, tmp_path, count_jobs):
        """A clean file's summary runs only the count of its invalid
        lines; the samples are collected only when a line is
        invalid."""
        from outrank_spark.sources.readers import (
            invalid_line_summary,
            read_csv_raw,
        )

        bad = ["4,5", "6,7,8,9", "13,14,15,16,17"]
        summaries, jobs = {}, {}
        for name, lines in (("clean", []), ("dirty", bad)):
            d = tmp_path / name
            d.mkdir()
            (d / "data.csv").write_text(
                "\n".join(["a,b,c", "1,2,3", *lines, "10,11,12"]) + "\n")
            info = read_csv_raw(spark, str(d))
            with count_jobs() as jobs[name]:
                summaries[name] = invalid_line_summary(info)
            with count_jobs() as jobs[name + " count"]:
                info.invalid_lines.count()
        assert summaries["clean"] == (0, [])
        count, samples = summaries["dirty"]
        assert count == 3 and sorted(samples) == sorted(bad)
        assert jobs["clean"] == jobs["clean count"], jobs
        assert jobs["dirty"]["jobs"] > jobs["dirty count"]["jobs"], jobs

    def test_clean_file_has_no_invalid(self, spark, tmp_path):
        from outrank_spark.sources.readers import (
            invalid_line_summary,
            read_csv_raw,
        )

        d = tmp_path / "clean"
        d.mkdir()
        (d / "data.csv").write_text("a,b\n1,2\n3,4\n")
        info = read_csv_raw(spark, str(d))
        assert info.df.count() == 2
        count, samples = invalid_line_summary(info)
        assert count == 0 and samples == []
