"""Report sink tests: every reference output file materializes with
the expected shape from a small end-to-end ranking run."""
from __future__ import annotations

import dataclasses
import json
import os

import pandas as pd
import pytest

from outrank_spark.plans import RankingConfig, run_ranking
from outrank_spark.plans.reports import feature_memory_estimate, write_reports
from outrank_spark.plans.three_mr import three_mr_from_triplets
from outrank_spark.sources import generate_ranking_matrix


@pytest.fixture(scope="module")
def run(spark):
    df = generate_ranking_matrix(spark, num_features=40, size=3000,
                                 variant="naive")
    cfg = RankingConfig(subsampling=1)
    res = run_ranking(spark, df, cfg)
    mem = feature_memory_estimate(res.sketches, list(df.columns))
    return df, cfg, res, mem


class TestReports:
    def test_all_files_written(self, run, tmp_path):
        df, cfg, res, mem = run
        out = str(tmp_path / "reports")
        written = write_reports(res, cfg, out, memory=mem,
                                timings=[{"step": "t", "sec": 1.0}])
        for name in ["pairwise_ranks.tsv", "feature_singles.tsv",
                     "memory.tsv", "value_repetitions.json",
                     "combination_estimation_counts.json",
                     "timings.json", "arguments.json"]:
            assert name in written
            assert os.path.exists(os.path.join(out, name))

    def test_pairwise_shape(self, run, tmp_path):
        df, cfg, res, mem = run
        out = str(tmp_path / "r2")
        write_reports(res, cfg, out)
        pw = pd.read_csv(os.path.join(out, "pairwise_ranks.tsv"), sep="\t")
        assert list(pw.columns) == ["FeatureA", "FeatureB", "Score"]
        # 40 features + label, target-only: 40*2 symmetrized + diagonal
        assert len(pw) == 81
        assert pw.Score.is_monotonic_increasing

    def test_value_repetitions_profile(self, run, tmp_path):
        df, cfg, res, mem = run
        out = str(tmp_path / "r3")
        write_reports(res, cfg, out)
        with open(os.path.join(out, "value_repetitions.json")) as f:
            prof = json.load(f)
        assert "f0" in prof
        # 3000 rows over 90 values -> every value repeats > 10 times
        assert prof["f0"]["10"] == 90

    def test_memory_estimate_positive(self, run):
        df, cfg, res, mem = run
        assert all(v >= 1.0 for v in mem.values())
        assert mem["f0"] == pytest.approx(2.0, abs=0.2)  # 2-digit ints

    def test_memory_estimate_is_mean_encoded_length(self, run):
        """memory.tsv comes from the ranking scan's ``bytes`` sketches:
        the mean UTF-8 length of the scored rows' values (all rows at
        subsampling 1)."""
        df, cfg, res, mem = run
        pdf = df.toPandas()
        assert list(mem) == list(pdf.columns)
        for c in pdf.columns:
            want = pdf[c].dropna().astype(str).map(
                lambda v: len(v.encode("utf-8"))).mean()
            assert mem[c] == pytest.approx(want), c

    def test_value_repetitions_independent_of_insertion_order(
            self, run, tmp_path):
        df, cfg, res, mem = run
        keys = list(res.sketches)
        written = []
        for i, order in enumerate((keys, keys[::-1])):
            permuted = dataclasses.replace(
                res, sketches={k: res.sketches[k] for k in order})
            out = str(tmp_path / f"order{i}")
            write_reports(permuted, cfg, out)
            with open(os.path.join(out, "value_repetitions.json"), "rb") as f:
                written.append(f.read())
        assert written[0] == written[1]
        assert list(json.loads(written[0])) == sorted(json.loads(written[0]))

    def test_3mr_file(self, run, tmp_path):
        df, cfg, res, mem = run
        mr = three_mr_from_triplets(res.triplets_raw, "label")
        out = str(tmp_path / "r4")
        written = write_reports(res, cfg, out, three_mr=mr)
        assert "3mr_ranks.tsv" in written
        df3 = pd.read_csv(os.path.join(out, "3mr_ranks.tsv"), sep="\t")
        assert list(df3.columns) == ["Feature", "3MR_Ranking"]
