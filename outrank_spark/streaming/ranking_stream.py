"""Structured Streaming incremental feature ranking.

The reference's whole ranking loop IS streaming semantics: consume the
input in minibatches, score every planned pair per batch, accumulate
``(FeatureA, FeatureB, score)`` triplets, keep median-so-far as the
running estimate, checkpoint so a crash resumes mid-scan
(core_ranking.py:637-683, 676-681, 583-589).  This module runs that
loop on a live stream: ``readStream -> foreachBatch`` where each
micro-batch

1. builds the SAME mergeable sketches as the batch job (one
   ``mapInPandas`` scan, folded into accumulated state — merge
   associativity makes stream == batch bitwise),
2. scores the pair triangle on the micro-batch with the SAME
   ``score_batches`` fan-out (micro-batch == the reference's
   minibatch; large micro-batches split into minibatch groups), and
3. appends the raw triplets and persists (triplets + sketch blobs +
   planner prior counts + batch manifest) in ONE atomically-replaced
   file, so a replayed batch after restart is recognized and skipped —
   never double-counted.

Pairs are planned with the batch job's ``plan_pairs`` (reference-model
features are dropped from the pairs and condition the scores), and
``result()`` symmetrises the accumulated triplets and hands them to the
batch job's ``finalize``: median across all batches, cardinality/coverage
feature renaming from the merged sketches, singles summary.  The
running median-so-far after every batch mirrors the reference's
``ranking_checkpoint_tmp.tsv``.  ``MI-table-exact`` scores the whole
table at once and has no per-batch form, so it is refused here.

Scale notes: executor-side work per micro-batch is identical to the
batch job (sketch scan + scoring fan-out); driver state is small (one
triplet row per pair per minibatch + bounded sketch blobs).
"""
from __future__ import annotations

import os
import pickle
import time

import pandas as pd

from outrank_spark.operators.pair_scoring import score_batches
from outrank_spark.hashing import sql_ident
from outrank_spark.operators.sketch_build import (
    SketchCollection,
    build_sketches,
)
from outrank_spark.plans.combinations import CombinationPlanner
from outrank_spark.plans.ranking_job import (
    RankingConfig,
    RankingResult,
    feature_singles_summary,  # noqa: F401 -- perfbench's tracer wraps it here
    finalize,
    plan_pairs,
    sketch_plan_for,
)
from outrank_spark.sketches import sketch_from_bytes

__all__ = ["StreamingRankingAccumulator"]

_TRIPLET_COLS = ["batch_key", "feature_a", "feature_b", "score"]


class StreamingRankingAccumulator:
    """foreachBatch hook + accumulated ranking state."""

    def __init__(self, cfg: RankingConfig, state_dir: str | None = None,
                 context: str = ""):
        if cfg.heuristic == "MI-table-exact":
            raise ValueError(
                "heuristic 'MI-table-exact' scores the whole table in one "
                "pass and has no per-batch form; the stream and the "
                "checkpointed run need a minibatch heuristic",
            )
        self.cfg = cfg
        self.state_dir = state_dir
        self.context = context
        self.planner = CombinationPlanner(seed=cfg.seed)
        self.sketches = SketchCollection()
        self.triplets = pd.DataFrame(columns=_TRIPLET_COLS)
        self.batches_seen: list[dict] = []
        if state_dir:
            os.makedirs(state_dir, exist_ok=True)
            self._restore()

    def _fingerprint(self) -> str:
        """Everything a restored run must agree on — resuming with a
        different plan would silently skip mismatched batches, and
        state from another sketch plan (other kinds or parameters, as
        written by an older version) cannot be merged into."""
        cfg = self.cfg
        return "|".join(str(x) for x in (
            cfg.heuristic, cfg.label_column, cfg.subsampling,
            cfg.minibatch_size, cfg.target_ranking_only,
            cfg.combination_number_upper_bound,
            cfg.mi_stratified_sampling_ratio,
            sorted(cfg.feature_columns or []), self.context,
            cfg.reference_model_json,
            sketch_plan_for(cfg, []).sketches, cfg.counter_exclude_derived,
        ))

    # -- state persistence -------------------------------------------
    def _state_path(self) -> str:
        return os.path.join(self.state_dir, "ranking_state.bin")

    def _persist(self) -> None:
        """Everything in ONE atomic replace (same rationale as
        sketch_stream._persist: a partial two-file write would let a
        restarted stream double-count a replayed batch)."""
        if not self.state_dir:
            return
        record = {
            "fingerprint": self._fingerprint(),
            "blobs": {
                f"{c}\x1f{k}": sk.to_bytes()
                for (c, k), sk in self.sketches.items()
            },
            "triplets": self.triplets,
            "prior_counts": dict(self.planner.prior_counts),
            "batches_seen": self.batches_seen,
        }
        tmp = self._state_path() + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump(record, f, protocol=4)
        os.replace(tmp, self._state_path())

    def _restore(self) -> None:
        if not os.path.exists(self._state_path()):
            return
        with open(self._state_path(), "rb") as f:
            record = pickle.load(f)
        saved = record.get("fingerprint")
        if saved is not None and saved != self._fingerprint():
            raise ValueError(
                "ranking checkpoint was written under a different config "
                "or sketch plan "
                f"(saved {saved!r} != current {self._fingerprint()!r}); "
                "resuming would silently skip mismatched batches — use a "
                "fresh state_dir or rerun with the original config",
            )
        for key, blob in record["blobs"].items():
            c, k = key.split("\x1f")
            self.sketches[(c, k)] = sketch_from_bytes(k, blob)
        self.triplets = record["triplets"]
        self.planner.prior_counts.update(record["prior_counts"])
        self.batches_seen = record["batches_seen"]

    # -- the foreachBatch hook ---------------------------------------
    def process_batch(self, batch_df, batch_id: int) -> None:
        if any(b["batch_id"] == batch_id for b in self.batches_seen):
            return  # replayed after restart — idempotent skip
        t0 = time.time()
        cfg = self.cfg
        columns = cfg.feature_columns or list(batch_df.columns)
        sub = batch_df.selectExpr(*map(sql_ident, columns))
        if cfg.subsampling > 1:
            from outrank_spark.operators.pair_scoring import (
                deterministic_subsample,
            )

            sub = deterministic_subsample(sub, cfg.subsampling,
                                          key_cols=columns)

        delta = build_sketches(sub, sketch_plan_for(cfg, columns))
        if not delta:
            # Empty micro-batch (normal in Structured Streaming — idle
            # triggers — and the CLI's per-slice resume can feed an
            # empty hash slice): record it for idempotent replay and
            # return before any sketch/scoring access would KeyError.
            self.batches_seen.append({
                "batch_id": int(batch_id), "rows": 0, "pairs": 0,
                "wall_sec": round(time.time() - t0, 3),
            })
            self._persist()
            return
        for key, sk in delta.items():
            if key in self.sketches:
                self.sketches[key].merge(sk)
            else:
                self.sketches[key] = sk
        n_rows = delta[(columns[0], "coverage")].total

        pairs, model_features = plan_pairs(self.planner, cfg, columns)
        n_batches = max(1, -(-n_rows // max(cfg.minibatch_size, 1)))
        batch_triplets = score_batches(
            sub, columns, pairs, cfg.heuristic, cfg.label_column,
            n_batches, cfg.mi_stratified_sampling_ratio,
            model_features=model_features,
        ).toPandas()
        batch_triplets["batch_key"] = (
            str(int(batch_id)) + ":" + batch_triplets["batch_id"].astype(str)
        )
        new = batch_triplets[_TRIPLET_COLS]
        self.triplets = (
            new.copy() if not len(self.triplets)
            else pd.concat([self.triplets, new], ignore_index=True)
        )
        self.batches_seen.append({
            "batch_id": int(batch_id),
            "rows": int(n_rows),
            "pairs": len(pairs),
            "wall_sec": round(time.time() - t0, 3),
        })
        self._persist()

    def attach(self, stream_df, checkpoint_dir: str,
               query_name: str = "ranking"):
        """writeStream wiring: returns the started StreamingQuery."""
        return (
            stream_df.writeStream
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .foreachBatch(self.process_batch)
            .start()
        )

    # -- finalization (median-so-far, callable after any batch) -------
    def result(self) -> RankingResult:
        if not len(self.triplets):
            raise ValueError("no batches processed yet")
        # both orders unconditionally, exactly like the batch path's
        # symmetrize (duplicating the diagonal leaves medians unchanged)
        cols = ["feature_a", "feature_b", "score"]
        sym = pd.concat([
            self.triplets[cols],
            self.triplets.rename(columns={
                "feature_a": "feature_b", "feature_b": "feature_a",
            })[cols],
        ], ignore_index=True)
        return finalize(sym, self.sketches, self.cfg, self.planner)
