"""One ranking finalisation (plans/ranking_job.py:finalize) for the
batch, stream and checkpointed drivers.

The differential test runs the three drivers on one input, scored in
one minibatch or in several; their rankings must be equal.  The
median tests pin ``finalize`` against Spark's ``F.median`` (which the
batch driver used before) and against the reference's pandas median.
"""
from __future__ import annotations

import argparse

import numpy as np
import pandas as pd
import pytest

from outrank_spark.plans.ranking_job import RankingConfig, finalize, run_ranking
from outrank_spark.streaming.ranking_stream import (
    StreamingRankingAccumulator,
)


def _frame(rng, n):
    good = rng.integers(0, 8, n)
    return pd.DataFrame({
        "label": (good % 2).astype(str),
        "good": good.astype(str),
        "noise": rng.integers(0, 8, n).astype(str),
        "weak": ((good // 2 + rng.integers(0, 2, n)) % 5).astype(str),
    })


class TestDriversAgree:
    @pytest.mark.parametrize("subsampling, rows, minibatch_size, n_mini", [
        pytest.param(1, 2000, 2 ** 14, 1, id="1"),
        pytest.param(2, 2000, 2 ** 14, 1, id="2"),
        pytest.param(1, 5000, 2048, 3, id="3-minibatches"),
    ])
    def test_batch_stream_checkpointed_equal(self, spark, tmp_path,
                                             subsampling, rows,
                                             minibatch_size, n_mini):
        """``run_ranking``, a stream of one batch and a one-slice
        checkpointed run rank the same rows identically: 2,000 rows in
        one minibatch, or 5,000 rows in the reference's ceil(5000 /
        2048) = 3 minibatches, in each driver."""
        from outrank_spark.jobs.rank_job import _run_ranking_checkpointed

        df = spark.createDataFrame(_frame(np.random.default_rng(11), rows))
        cfg = RankingConfig(subsampling=subsampling,
                            target_ranking_only=False,
                            minibatch_size=minibatch_size)

        batch = run_ranking(spark, df, cfg)
        acc = StreamingRankingAccumulator(cfg)
        acc.process_batch(df, batch_id=0)
        stream = acc.result()
        assert acc.triplets["batch_key"].nunique() == n_mini
        ckpt = _run_ranking_checkpointed(spark, df, cfg, argparse.Namespace(
            checkpoint_dir=str(tmp_path / "state"), checkpoint_slices=1,
            output_folder=str(tmp_path / "out"),
        ))

        assert len(batch.pairwise) == 16  # 4 x 4 symmetrised pairs
        for other in (stream, ckpt):
            pd.testing.assert_frame_equal(other.pairwise, batch.pairwise)
            pd.testing.assert_frame_equal(other.singles, batch.singles)


def _finalize(sym):
    cfg = RankingConfig(include_cardinality_in_feature_names=False,
                        heuristic="MI")
    return finalize(sym, {}, cfg, None).triplets_raw.set_index(
        ["FeatureA", "FeatureB"])["Score"]


class TestFinalizeMedian:
    def test_even_groups_equal_spark_median_bitwise(self, spark):
        """pandas averages the two middle values, Spark's ``median``
        interpolates between them: the same float64, bit for bit."""
        from pyspark.sql import functions as F

        rng = np.random.default_rng(3)
        rows = []
        for g in range(300):
            size = 2 * int(rng.integers(1, 6))
            scores = rng.random(size) * 10.0 ** rng.integers(-6, 3)
            rows += [(f"a{g}", f"b{g % 7}", float(s)) for s in scores]
        sym = pd.DataFrame(rows, columns=["feature_a", "feature_b",
                                          "score"])
        spark_median = {
            (r["feature_a"], r["feature_b"]): r["score"]
            for r in spark.createDataFrame(sym)
            .groupBy("feature_a", "feature_b")
            .agg(F.median("score").alias("score")).collect()
        }
        ours = _finalize(sym)
        assert len(ours) == len(spark_median) == 300
        for key, value in spark_median.items():
            assert (np.float64(ours[key]).view(np.int64)
                    == np.float64(value).view(np.int64)), key

    def test_nan_scores_are_skipped(self):
        """A NaN minibatch score is skipped, as the reference's pandas
        ``groupby(...).median()`` skips it (Spark's ``median`` sorts NaN
        above every number and would return 0.3 here)."""
        sym = pd.DataFrame({
            "feature_a": ["x", "x", "x", "label", "label", "label"],
            "feature_b": ["label", "label", "label", "x", "x", "x"],
            "score": [0.1, np.nan, 0.3, 0.1, np.nan, 0.3],
        })
        ours = _finalize(sym)
        assert ours[("x", "label")] == np.median([0.1, 0.3])
        assert ours[("label", "x")] == np.median([0.1, 0.3])
