"""Streaming incremental ranking (streaming/ranking_stream.py).

The reference's minibatch ranking loop mapped onto Structured
Streaming: per-micro-batch scoring + sketch accumulation + atomic
checkpoint, median-so-far finalization.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from outrank_spark.plans.ranking_job import RankingConfig
from outrank_spark.streaming.ranking_stream import (
    StreamingRankingAccumulator,
)

SCHEMA = "label string, good string, noise string"


def _chunk(rng, n):
    """label is a deterministic function of `good`; `noise` is random."""
    good = rng.integers(0, 8, n)
    return pd.DataFrame({
        "label": (good % 2).astype(str),
        "good": good.astype(str),
        "noise": rng.integers(0, 8, n).astype(str),
    })


def _write_chunks(spark, tmp_path, n_chunks=3, rows=600, seed=5):
    rng = np.random.default_rng(seed)
    data_dir = str(tmp_path / "data")
    for i in range(n_chunks):
        spark.createDataFrame(_chunk(rng, rows)).coalesce(1).write.mode(
            "append").parquet(data_dir)
    return data_dir


class _CreatesFile:
    """Unpickling this object creates ``path``."""

    def __init__(self, path):
        self.path = path

    def __reduce__(self):
        return (open, (self.path, "w"))


def _cfg():
    return RankingConfig(
        heuristic="MI-numba-randomized", subsampling=1,
        target_ranking_only=False,
        include_cardinality_in_feature_names=False,
    )


class TestStreamingRanking:
    def test_stream_ranks_informative_feature_first(self, spark, tmp_path):
        data_dir = _write_chunks(spark, tmp_path)
        acc = StreamingRankingAccumulator(
            _cfg(), state_dir=str(tmp_path / "state"))
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(data_dir)
        )
        q = acc.attach(stream, str(tmp_path / "ckpt"))
        q.awaitTermination(180)

        assert len(acc.batches_seen) >= 2  # one micro-batch per file
        res = acc.result()
        assert list(res.singles.columns) == [
            "Feature", "Score MI-numba-randomized",
        ]
        # label itself tops its own ranking (reference behavior — the
        # selftest golden has label-(2; 100) first); `good` must be the
        # best real feature, ahead of `noise`
        non_label = res.singles[res.singles["Feature"] != "label"]
        assert non_label.iloc[0]["Feature"] == "good"
        # full triangle, symmetrized medians: 3x3 pair groups
        assert len(res.pairwise) == 9

    def test_median_so_far_semantics(self, spark, tmp_path):
        """result() must be the median over ALL accumulated batch
        triplets (both orders), recomputed here by hand."""
        data_dir = _write_chunks(spark, tmp_path, n_chunks=2)
        acc = StreamingRankingAccumulator(_cfg(), state_dir=None)
        for i, f in enumerate(sorted(
                p for p in (tmp_path / "data").iterdir()
                if p.suffix == ".parquet")):
            acc.process_batch(spark.read.parquet(str(f)), batch_id=i)
        res = acc.result()
        sym = pd.concat([
            acc.triplets[["feature_a", "feature_b", "score"]],
            acc.triplets.rename(columns={
                "feature_a": "feature_b", "feature_b": "feature_a",
            })[["feature_a", "feature_b", "score"]],
        ])
        manual = (
            sym.groupby(["feature_a", "feature_b"])["score"].median()
        )
        for _, row in res.pairwise.iterrows():
            assert row["Score"] == manual.loc[
                (row["FeatureA"], row["FeatureB"])
            ]

    def test_restart_replay_is_idempotent(self, spark, tmp_path):
        data_dir = _write_chunks(spark, tmp_path, n_chunks=2)
        state_dir = str(tmp_path / "state_r")
        acc1 = StreamingRankingAccumulator(_cfg(), state_dir=state_dir)
        stream = spark.readStream.schema(SCHEMA).parquet(data_dir)
        q = acc1.attach(stream, str(tmp_path / "ckpt_r"))
        q.awaitTermination(180)
        before = acc1.result().pairwise

        # fresh accumulator from persisted state; replaying batch 0 is
        # recognized and skipped -> bitwise-equal result
        acc2 = StreamingRankingAccumulator(_cfg(), state_dir=state_dir)
        acc2.process_batch(spark.read.parquet(data_dir), batch_id=0)
        after = acc2.result().pairwise
        pd.testing.assert_frame_equal(before, after)
        assert acc2.planner.prior_counts == acc1.planner.prior_counts

    def test_sketch_state_matches_batch_build(self, spark, tmp_path):
        """Merged streaming sketches == one-shot batch build, bitwise
        (merge associativity, the north-rule requirement)."""
        from outrank_spark.operators.sketch_build import build_sketches
        from outrank_spark.plans.ranking_job import sketch_plan_for

        data_dir = _write_chunks(spark, tmp_path, n_chunks=3)
        cfg = _cfg()
        acc = StreamingRankingAccumulator(cfg, state_dir=None)
        files = sorted(
            str(p) for p in (tmp_path / "data").iterdir()
            if p.suffix == ".parquet")
        for i, f in enumerate(files):
            acc.process_batch(spark.read.parquet(f), batch_id=i)

        full = spark.read.parquet(data_dir)
        batch = build_sketches(
            full, sketch_plan_for(cfg, ["label", "good", "noise"]))
        for key in batch:
            assert acc.sketches[key].to_bytes() == batch[key].to_bytes()

    def test_single_atomic_state_file(self, spark, tmp_path):
        import json
        import os

        state_dir = str(tmp_path / "state_a")
        acc = StreamingRankingAccumulator(_cfg(), state_dir=state_dir)
        rng = np.random.default_rng(2)
        acc.process_batch(spark.createDataFrame(_chunk(rng, 300)),
                          batch_id=0)
        assert set(os.listdir(state_dir)) == {"ranking_state.bin"}
        with open(os.path.join(state_dir, "ranking_state.bin")) as f:
            record = json.load(f)
        assert set(record) == {
            "fingerprint", "blobs", "triplets", "prior_counts",
            "batches_seen",
        }

    def test_pickled_state_is_refused_without_running_it(
            self, tmp_path, count_jobs):
        """The state is a JSON record: a ``ranking_state.bin`` holding
        a pickle (an older version's state, or a crafted one) is
        refused, and loading it runs none of its code."""
        import os
        import pickle

        state_dir = tmp_path / "state_p"
        marker = tmp_path / "marker"
        os.makedirs(state_dir)
        cfg = _cfg()
        record = {
            "fingerprint": StreamingRankingAccumulator(cfg)._fingerprint(),
            "blobs": _CreatesFile(str(marker)), "triplets": None,
            "prior_counts": {}, "batches_seen": [],
        }
        with open(state_dir / "ranking_state.bin", "wb") as f:
            pickle.dump(record, f, protocol=4)
        with count_jobs() as n:
            with pytest.raises(ValueError,
                               match="not a ranking state record"):
                StreamingRankingAccumulator(cfg, state_dir=str(state_dir))
        assert not marker.exists()
        assert n["jobs"] == 0

    def test_crafted_sketch_blob_is_refused_without_running_it(
            self, tmp_path):
        """A valid state record (right fingerprint) whose ``counter``
        blob pickles a callable: opening the accumulator refuses the
        blob, and decoding it runs none of its code."""
        import base64
        import json
        import os
        import pickle

        state_dir = tmp_path / "state_b"
        marker = tmp_path / "marker"
        os.makedirs(state_dir)
        cfg = _cfg()
        blob = pickle.dumps(
            {"bound": 3, "counts": {_CreatesFile(str(marker)): 1}},
            protocol=4)
        record = {
            "fingerprint": StreamingRankingAccumulator(cfg)._fingerprint(),
            "blobs": {"a\x1fcounter": base64.b64encode(blob).decode()},
            "triplets": {c: [] for c in
                         ("batch_key", "feature_a", "feature_b", "score")},
            "prior_counts": {}, "batches_seen": [],
        }
        with open(state_dir / "ranking_state.bin", "w") as f:
            json.dump(record, f)
        with pytest.raises(ValueError, match="sketch state references"):
            StreamingRankingAccumulator(cfg, state_dir=str(state_dir))
        assert not marker.exists()

    def test_whole_table_heuristic_median_over_batches(self, spark):
        """``MI-table-exact`` scores each batch whole; a two-batch
        stream's score for a pair is the median (here the mean) of the
        two one-batch ``run_ranking`` scores."""
        from dataclasses import replace

        from outrank_spark.plans.ranking_job import run_ranking

        cfg = replace(_cfg(), heuristic="MI-table-exact")
        rng = np.random.default_rng(4)
        dfs = [spark.createDataFrame(_chunk(rng, n)) for n in (300, 500)]
        acc = StreamingRankingAccumulator(cfg)
        for i, df in enumerate(dfs):
            acc.process_batch(df, batch_id=i)
        stream = acc.result().pairwise
        one = [run_ranking(spark, df, cfg).pairwise.set_index(
            ["FeatureA", "FeatureB"])["Score"] for df in dfs]
        assert len(stream) == 9
        for _, row in stream.iterrows():
            key = (row["FeatureA"], row["FeatureB"])
            assert row["Score"] == np.mean([one[0][key], one[1][key]])
            assert one[0][key] != one[1][key]


class TestCheckpointedCliRanking:
    """jobs/rank_job._run_ranking_checkpointed: deterministic hash
    slices through the streaming accumulator — crash, rerun, skip."""

    def _args(self, tmp_path, slices=4):
        import argparse

        return argparse.Namespace(
            checkpoint_dir=str(tmp_path / "ckpt_state"),
            checkpoint_slices=slices,
            output_folder=str(tmp_path / "out"),
        )

    def test_resume_skips_done_slices_bitwise(self, spark, tmp_path):
        import json
        import os

        from outrank_spark.jobs.rank_job import _run_ranking_checkpointed
        from outrank_spark.streaming.ranking_stream import (
            StreamingRankingAccumulator,
        )

        rng = np.random.default_rng(3)
        df = spark.createDataFrame(_chunk(rng, 1200))
        cfg = _cfg()
        args = self._args(tmp_path)

        # uninterrupted reference run (separate state dir)
        ref_args = self._args(tmp_path / "ref")
        ref = _run_ranking_checkpointed(spark, df, cfg, ref_args)

        # "crash" after 2 of 4 slices: process them manually
        from outrank_spark.jobs.rank_job import _checkpoint_slicing

        context, slice_key = _checkpoint_slicing(list(df.columns), 4)
        acc = StreamingRankingAccumulator(
            cfg, state_dir=args.checkpoint_dir, context=context)
        for i in (0, 1):
            acc.process_batch(df.where(f"{slice_key} = {i}"), batch_id=i)
        del acc  # crash

        res = _run_ranking_checkpointed(spark, df, cfg, args)
        pd.testing.assert_frame_equal(res.pairwise, ref.pairwise)
        # metrics recorded for all 4 slices; state removed on success
        with open(os.path.join(args.output_folder,
                               "checkpoint_metrics.json")) as f:
            metrics = json.load(f)
        assert sorted(m["batch_id"] for m in metrics) == [0, 1, 2, 3]
        assert all(m["wall_sec"] >= 0 for m in metrics)
        assert not os.path.exists(
            os.path.join(args.checkpoint_dir, "ranking_state.bin"))


    def test_resume_with_different_config_refuses(self, spark, tmp_path):
        rng = np.random.default_rng(8)
        df = spark.createDataFrame(_chunk(rng, 300))
        state_dir = str(tmp_path / "fp_state")
        acc = StreamingRankingAccumulator(
            _cfg(), state_dir=state_dir, context="cli-slices=8")
        acc.process_batch(df, batch_id=0)
        # different slicing -> different fingerprint -> refuse to resume
        with pytest.raises(ValueError, match="different config"):
            StreamingRankingAccumulator(
                _cfg(), state_dir=state_dir, context="cli-slices=4")
        # same config restores fine
        again = StreamingRankingAccumulator(
            _cfg(), state_dir=state_dir, context="cli-slices=8")
        assert [b["batch_id"] for b in again.batches_seen] == [0]

    def test_resume_from_state_of_older_sketch_plan_refuses(
            self, spark, tmp_path, count_jobs):
        """A state written before the ``bytes`` kind existed has no
        ``bytes`` blobs and a fingerprint without the sketch plan; the
        checkpointed CLI path refuses it before running any Spark job,
        instead of failing in ``memory.tsv`` after the ranking or
        averaging over only the slices run since.  A changed sketch
        parameter (``hll_p``) is refused the same way."""
        import json
        import os
        from dataclasses import replace

        from outrank_spark.jobs.rank_job import (
            _checkpoint_slicing,
            _run_ranking_checkpointed,
        )

        rng = np.random.default_rng(9)
        df = spark.createDataFrame(_chunk(rng, 300))
        args = self._args(tmp_path)
        context, _ = _checkpoint_slicing(list(df.columns), 4)
        acc = StreamingRankingAccumulator(
            _cfg(), state_dir=args.checkpoint_dir, context=context)
        acc.process_batch(df, batch_id=0)
        path = os.path.join(args.checkpoint_dir, "ranking_state.bin")
        with open(path) as f:
            record = json.load(f)
        # the older writer: no plan fields in the fingerprint, no bytes
        record["fingerprint"] = record["fingerprint"].rsplit("|", 2)[0]
        record["blobs"] = {k: v for k, v in record["blobs"].items()
                           if not k.endswith("\x1fbytes")}
        with open(path, "w") as f:
            json.dump(record, f)
        with count_jobs() as n:
            with pytest.raises(ValueError, match="sketch plan"):
                _run_ranking_checkpointed(spark, df, _cfg(), args)
        assert n["jobs"] == 0
        os.remove(path)
        StreamingRankingAccumulator(
            _cfg(), state_dir=args.checkpoint_dir,
            context=context).process_batch(df, batch_id=0)
        with pytest.raises(ValueError, match="sketch plan"):
            StreamingRankingAccumulator(
                replace(_cfg(), hll_p=10), state_dir=args.checkpoint_dir,
                context=context)

    def test_empty_micro_batch_is_recorded_not_crashed(self, spark, tmp_path):
        """Empty micro-batches are normal in foreachBatch (idle
        triggers; empty resume slices) — they must be journaled for
        idempotent replay, not KeyError on the empty SketchCollection."""
        acc = StreamingRankingAccumulator(
            _cfg(), state_dir=str(tmp_path / "state"))
        empty = spark.createDataFrame([], SCHEMA)
        acc.process_batch(empty, 0)
        assert len(acc.batches_seen) == 1
        assert acc.batches_seen[0]["batch_id"] == 0
        assert acc.batches_seen[0]["rows"] == 0
        # replay of the same empty batch is a no-op
        acc.process_batch(empty, 0)
        assert len(acc.batches_seen) == 1
        # a real batch afterwards still works end-to-end
        rng = np.random.default_rng(7)
        acc.process_batch(spark.createDataFrame(_chunk(rng, 400)), 1)
        assert acc.batches_seen[1]["rows"] > 0
        assert len(acc.result().pairwise) > 0
