"""Reference-model JSON tests (fixture I from FIXTURES.md, ref
tests/test_ref_model.json shape)."""
from __future__ import annotations

import json

import numpy as np
import pytest

from outrank_spark.plans.reference_model import (
    conditioned_vector,
    extract_features_from_reference_json,
    filter_pairs,
    model_feature_names,
)


@pytest.fixture()
def model_json(tmp_path):
    path = tmp_path / "ref_model.json"
    path.write_text(json.dumps({"desc": {"features": ["f0", "f1", "f0,f1"]}}))
    return str(path)


class TestExtract:
    def test_unique_features(self, model_json):
        assert extract_features_from_reference_json(model_json) == {"f0", "f1"}

    def test_combined_only(self, model_json):
        assert extract_features_from_reference_json(
            model_json, combined_features_only=True,
        ) == {"f0,f1"}

    def test_all_features(self, model_json):
        assert extract_features_from_reference_json(
            model_json, all_features=True,
        ) == {"f0", "f1", "f0,f1"}

    def test_names_normalized(self, model_json):
        names = set(model_feature_names(model_json))
        assert names == {"f0", "f1", "f0 AND f1"}


class TestConditioning:
    def test_filter_pairs(self):
        pairs = [("f0", "label"), ("f2", "label"), ("f2", "f3")]
        assert filter_pairs(pairs, ["f0"]) == [("f2", "label"), ("f2", "f3")]

    def test_conditioned_vector_shape(self):
        model = np.array([[1, 2], [3, 4], [5, 6]])
        cand = np.array([7, 8, 9])
        out = conditioned_vector(model, cand)
        # |max - sum| per row of [model || cand]
        assert out.tolist() == [
            abs(7 - 10), abs(8 - 15), abs(9 - 20),
        ]

    def test_conditioned_ranking_runs_and_filters(self, spark, model_json):
        """End-to-end: model features are excluded from the pair list
        and candidates score through the conditioning matrix (scores
        differ from the unconditioned run)."""
        from outrank_spark.plans import RankingConfig, run_ranking

        df = _conditioning_frame(spark)
        _assert_conditioned(
            lambda **kw: run_ranking(
                spark, df, RankingConfig(subsampling=1, **kw),
            ).triplets_raw,
            model_json,
        )

    def test_checkpointed_ranking_honours_model(self, spark, model_json,
                                                tmp_path):
        """The checkpointed CLI run (the stream accumulator, one batch
        per hash slice) drops the model's features from the pairs and
        conditions the candidates on them, as the batch run does."""
        import argparse

        from outrank_spark.jobs.rank_job import _run_ranking_checkpointed
        from outrank_spark.plans import RankingConfig

        df = _conditioning_frame(spark)

        def checkpointed(**kw):
            out = tmp_path / ("cond" if kw else "plain")
            args = argparse.Namespace(
                checkpoint_dir=str(out / "state"), checkpoint_slices=2,
                output_folder=str(out / "out"),
            )
            return _run_ranking_checkpointed(
                spark, df, RankingConfig(subsampling=1, **kw), args,
            ).triplets_raw

        _assert_conditioned(checkpointed, model_json)


def _conditioning_frame(spark):
    import pandas as pd

    rng = np.random.default_rng(5)
    n = 4000
    label = rng.integers(0, 2, n)
    f0 = label * 3 + rng.integers(0, 2, n)      # model feature
    cand = label * 5 + rng.integers(0, 3, n)    # candidate
    return spark.createDataFrame(pd.DataFrame({
        "f0": f0, "cand": cand, "label": label,
    }).astype(str))


def _assert_conditioned(rank, model_json):
    """``rank(**cfg_fields)`` returns a run's ``triplets_raw``."""
    cond = rank(reference_model_json=model_json)
    plain = rank()
    # model feature f0 excluded from pairs entirely
    assert not (cond.FeatureA == "f0").any()
    assert (plain.FeatureA == "f0").any()
    s_cond = cond[(cond.FeatureA == "cand")
                  & (cond.FeatureB == "label")].Score.iloc[0]
    s_plain = plain[(plain.FeatureA == "cand")
                    & (plain.FeatureB == "label")].Score.iloc[0]
    assert np.isfinite(s_cond)
    assert s_cond != s_plain  # conditioning changed the score
