"""Minibatch and checkpoint-slice keys do not share the subsample's hash.

``deterministic_subsample`` keeps a row when ``pmod(xxhash64(columns),
n) = 0``.  A minibatch or slice key taken from that same hash would
see only kept rows with ``h = 0 (mod n)``, so with ``--subsampling 10``
two or five minibatches would all land in batch 0, four in batches 0
and 2, and every odd checkpoint slice would be empty.  Both keys are
salted hashes of the same columns.
"""
from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from outrank_spark.operators.pair_scoring import (
    deterministic_subsample,
    score_batches,
)


@pytest.mark.parametrize("n_batches", [2, 4, 5])
def test_every_minibatch_gets_rows_after_subsampling(spark, n_batches):
    """``precode`` off: the scoring values are the raw columns the
    subsample hashed."""
    rng = np.random.default_rng(5)
    n = 20_000
    cols = ["label", "a", "b"]
    df = spark.createDataFrame(pd.DataFrame({
        "label": rng.integers(0, 2, n).astype(str),
        "a": rng.integers(0, 1000, n).astype(str),
        "b": rng.integers(0, 1000, n).astype(str),
    }))
    sub = deterministic_subsample(df, 10, key_cols=cols)
    out = score_batches(sub, cols, [("label", "a")], "MI", "label",
                        n_batches, precode=False)
    got = sorted(r.batch_id for r in out.select("batch_id").collect())
    assert got == list(range(n_batches))


def test_checkpointed_call_has_no_empty_slice(spark, tmp_path):
    """A ``--checkpoint_dir`` CLI call with ``--subsampling 10`` on a
    ``bench_naive`` matrix: each of the 8 slices holds rows."""
    from outrank_spark.jobs import rank_job
    from outrank_spark.sources.ranking_matrix import ranking_matrix_pandas

    data = tmp_path / "data"
    data.mkdir()
    ranking_matrix_pandas(40, 2000, "bench_naive", seed=1).to_csv(
        data / "data.csv", index=False)
    out = tmp_path / "out"
    args = rank_job.build_parser().parse_args([
        "--task", "ranking", "--data_source", "csv-raw",
        "--data_path", str(data), "--subsampling", "10",
        "--output_folder", str(out), "--tldr", "False",
        "--checkpoint_dir", str(tmp_path / "state"),
    ])
    rank_job.run_task(spark, args)
    slices = json.loads((out / "checkpoint_metrics.json").read_text())
    assert len(slices) == 8
    assert all(s["rows"] > 0 for s in slices), slices


def test_state_of_the_unsalted_slicing_is_refused(spark, tmp_path):
    """State that a checkpointed call wrote under the former, unsalted
    slice key (context ``cli-slices=<n>``) is not resumed."""
    import argparse

    from outrank_spark.jobs.rank_job import _run_ranking_checkpointed
    from outrank_spark.plans.ranking_job import RankingConfig
    from outrank_spark.streaming.ranking_stream import (
        StreamingRankingAccumulator,
    )

    df = spark.createDataFrame(pd.DataFrame({
        "label": [str(i % 2) for i in range(64)],
        "a": [str(i % 5) for i in range(64)],
    }))
    cfg = RankingConfig(subsampling=1)
    state = str(tmp_path / "state")
    StreamingRankingAccumulator(
        cfg, state_dir=state, context="cli-slices=4").process_batch(
            df.limit(8), batch_id=0)
    with pytest.raises(ValueError, match="different config"):
        _run_ranking_checkpointed(spark, df, cfg, argparse.Namespace(
            checkpoint_dir=state, checkpoint_slices=4,
            output_folder=str(tmp_path / "out")))
