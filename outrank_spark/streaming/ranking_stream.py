"""The ranking fold: Structured Streaming incremental feature ranking,
and the one fold every ranking driver runs.

The reference's whole ranking loop IS streaming semantics: consume the
input in minibatches, score every planned pair per batch, accumulate
``(FeatureA, FeatureB, score)`` triplets, keep median-so-far as the
running estimate, checkpoint so a crash resumes mid-scan
(core_ranking.py:637-683, 676-681, 583-589).  ``process_batch`` folds
one batch — a ``foreachBatch`` micro-batch, a checkpointed CLI slice or
``run_ranking``'s whole input:

1. subsample, then build the mergeable sketches (one ``mapInPandas``
   scan; merge associativity makes stream == batch bitwise) on a
   one-worker pool, while the driver
2. counts the rows and scores the ``plan_pairs`` pairs with the SAME
   ``score_batches`` fan-out in every driver, over the reference's
   minibatches of ``minibatch_size`` rows (``MI-table-exact``: exact
   MI over the whole batch);
3. append the raw triplets and persist (triplets + sketch blobs +
   planner prior counts + batch manifest) as ONE atomically-replaced
   JSON record, so a replayed batch after restart is recognized and
   skipped — never double-counted.  The record is not a pickle; the
   ``counter`` and ``rare`` blobs in it still pickle their value maps.

``result()`` symmetrises the accumulated triplets and hands them to
``finalize``: median across all minibatches, feature renaming from the
merged sketches, singles summary — the median-so-far the reference
writes to ``ranking_checkpoint_tmp.tsv``.

Driver state is small (one triplet row per pair per minibatch + bounded
sketch blobs), but the whole record is rewritten after every batch.
"""
from __future__ import annotations

import base64
import json
import os
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
_STATE_KEYS = {"fingerprint", "blobs", "triplets", "prior_counts",
               "batches_seen"}


class StreamingRankingAccumulator:
    """The ranking fold (``process_batch``, also a foreachBatch hook)
    and its accumulated state; ``result()`` finalises it."""

    def __init__(self, cfg: RankingConfig, state_dir: str | None = None,
                 context: str = ""):
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
        restarted stream double-count a replayed batch), as a JSON
        record, which unlike a pickle runs no code when parsed."""
        if not self.state_dir:
            return
        record = {
            "fingerprint": self._fingerprint(),
            "blobs": {
                f"{c}\x1f{k}": base64.b64encode(sk.to_bytes()).decode()
                for (c, k), sk in self.sketches.items()
            },
            "triplets": {c: self.triplets[c].tolist() for c in _TRIPLET_COLS},
            "prior_counts": self.planner.state(),
            "batches_seen": self.batches_seen,
        }
        tmp = self._state_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, self._state_path())

    def _restore(self) -> None:
        path = self._state_path()
        if not os.path.exists(path):
            return
        try:
            with open(path, "rb") as f:
                record = json.loads(f.read())
        except ValueError as exc:  # also a pickle from an older version
            raise ValueError(
                f"{path} is not a ranking state record; use a fresh "
                "state_dir or rerun with the original version",
            ) from exc
        if not isinstance(record, dict) or set(record) != _STATE_KEYS:
            raise ValueError(f"{path} is not a ranking state record")
        saved = record["fingerprint"]
        if saved != self._fingerprint():
            raise ValueError(
                "ranking checkpoint was written under a different config "
                "or sketch plan "
                f"(saved {saved!r} != current {self._fingerprint()!r}); "
                "resuming would silently skip mismatched batches — use a "
                "fresh state_dir or rerun with the original config",
            )
        for key, blob in record["blobs"].items():
            c, k = key.split("\x1f")
            self.sketches[(c, k)] = sketch_from_bytes(k,
                                                      base64.b64decode(blob))
        self.triplets = pd.DataFrame(record["triplets"], columns=_TRIPLET_COLS)
        self.planner.restore(record["prior_counts"])
        self.batches_seen = record["batches_seen"]

    # -- the fold (the foreachBatch hook) -----------------------------
    def process_batch(self, batch_df, batch_id: int) -> None:
        """Fold one batch into the state: subsample, sketch, score its
        minibatches, append the raw triplets, persist.

        The sketch scan and the scoring are independent jobs (the
        sketches only feed the renaming and the reports), so the scan
        runs on a one-worker pool while the driver counts the rows and
        scores: the sketch job's tail back-fills executor slots while
        the scoring stages run, and vice versa.
        """
        if any(b["batch_id"] == batch_id for b in self.batches_seen):
            return  # replayed after restart — idempotent skip
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        from outrank_spark.operators.pair_scoring import (
            deterministic_subsample,
        )

        t0 = time.time()
        cfg = self.cfg
        columns = cfg.feature_columns or list(batch_df.columns)
        sub = deterministic_subsample(
            batch_df.selectExpr(*map(sql_ident, columns)), cfg.subsampling,
            key_cols=columns)
        plan = sketch_plan_for(cfg, columns)
        pool = ThreadPoolExecutor(max_workers=1)
        sketch_future = pool.submit(inheritable_thread_target(
            sub.sparkSession)(lambda: build_sketches(sub, plan)))
        try:
            # row-count pruned to the scan, no sketch state; sizes the
            # minibatches by the reference's rule (core_ranking.py:625)
            n_rows = sub.count()
            pairs, new = [], None
            if n_rows:
                pairs, model_features = plan_pairs(self.planner, cfg,
                                                   columns)
                new = self._score(sub, columns, pairs, model_features,
                                  n_rows)
            # join the concurrent sketch job (raises here if it failed)
            delta = sketch_future.result()
        finally:
            pool.shutdown(wait=True)
        if new is not None:
            # Empty batches (idle Structured Streaming triggers, empty
            # resume slices) are only recorded, for idempotent replay.
            for key, sk in delta.items():
                if key in self.sketches:
                    self.sketches[key].merge(sk)
                else:
                    self.sketches[key] = sk
            new["batch_key"] = (
                str(int(batch_id)) + ":" + new["batch_id"].astype(str))
            new = new[_TRIPLET_COLS]
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

    def _score(self, sub, columns, pairs, model_features,
               n_rows: int) -> pd.DataFrame:
        """Raw per-minibatch triplets ``(batch_id, feature_a, feature_b,
        score)`` of one batch, collected to the driver."""
        cfg = self.cfg
        if cfg.heuristic == "MI-table-exact":
            # exact plug-in MI over the whole (sampled) batch, one
            # grouping-sets scan per pair chunk (operators/
            # mi_distributed.py); across batches the median applies as
            # for any heuristic.  Engine addition beyond the reference,
            # whose MI heuristics are always minibatch-sampled.
            from outrank_spark.operators.mi_distributed import (
                mi_table_scores,
            )

            return mi_table_scores(sub, pairs).toPandas().assign(batch_id=0)
        # the reference's minibatches of ``minibatch_size`` rows
        n_batches = max(1, -(-n_rows // max(cfg.minibatch_size, 1)))
        return score_batches(
            sub, columns, pairs, cfg.heuristic, cfg.label_column,
            n_batches, cfg.mi_stratified_sampling_ratio,
            model_features=model_features,
        ).toPandas()

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
        if not self.batches_seen:
            raise ValueError("no batches processed yet")
        # both orders unconditionally, like ``pair_scoring.symmetrize``
        # (core_ranking.py:156-165; duplicating the diagonal leaves
        # medians unchanged)
        cols = ["feature_a", "feature_b", "score"]
        sym = pd.concat([
            self.triplets[cols],
            self.triplets.rename(columns={
                "feature_a": "feature_b", "feature_b": "feature_a",
            })[cols],
        ], ignore_index=True)
        return finalize(sym, self.sketches, self.cfg, self.planner)
