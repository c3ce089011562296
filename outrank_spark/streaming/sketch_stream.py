"""Structured Streaming sketch accumulation.

The reference's minibatch traversal (core_ranking.py:637-683) is a
bounded incremental scan: accumulate sketches per batch, checkpoint,
refine.  SURVEY.md §2.8 notes this maps 1:1 onto Structured Streaming
— this module is that mapping: ``readStream -> foreachBatch`` where
each micro-batch runs the SAME mergeable sketch build
(``build_sketches``, one ``mapInArrow`` scan) and folds the result into
the accumulated state, persisted per batch (``streaming/state.py``,
under the ``SketchPlan`` as fingerprint) so a restarted query resumes
exactly (merge associativity again).

Works with any streaming source; tests use a file source with
``trigger(availableNow=True)`` for deterministic, bounded runs.
"""
from __future__ import annotations

import time

from outrank_spark.operators.sketch_build import (
    SketchCollection,
    SketchPlan,
    build_sketches,
)
from outrank_spark.sketches import sketch_from_bytes
from outrank_spark.streaming.state import (
    FoldState,
    decode_sketches,
    encode_sketches,
)

__all__ = ["StreamingSketchAccumulator", "keyed_sketch_stream"]


class StreamingSketchAccumulator:
    def __init__(self, plan: SketchPlan, state_dir: str | None = None):
        self.plan = plan
        self.state = SketchCollection()
        self.store = FoldState(state_dir, "sketch_state.bin", "sketch",
                               repr(plan))
        record = self.store.load(("blobs",))
        if record:
            self.state = decode_sketches(record["blobs"])

    @property
    def batches_seen(self) -> list[dict]:
        return self.store.batches_seen

    # -- the foreachBatch hook ---------------------------------------
    def process_batch(self, batch_df, batch_id: int) -> None:
        if self.store.seen(batch_id):
            return  # replayed batch after restart — idempotent skip
        t0 = time.time()
        delta = build_sketches(batch_df, self.plan)
        for key, sk in delta.items():
            if key in self.state:
                self.state[key].merge(sk)
            else:
                self.state[key] = sk
        self.store.commit({
            "batch_id": int(batch_id),
            "rows": batch_df.count(),
            "wall_sec": round(time.time() - t0, 3),
        }, lambda: {"blobs": encode_sketches(self.state)})

    def attach(self, stream_df, checkpoint_dir: str, query_name: str = "sketches"):
        """writeStream wiring: returns the started StreamingQuery."""
        return self.store.attach(self.process_batch, stream_df,
                                 checkpoint_dir, query_name)

    def estimates(self):
        return self.state.summary()


def keyed_sketch_stream(stream, key_col: str, value_col: str,
                        kind: str = "hll", params: dict | None = None):
    """Per-KEY mergeable sketch state over a stream (the keyed
    companion to :class:`StreamingSketchAccumulator`'s global fold):
    ``groupBy(key).applyInPandasWithState`` holds one serialized
    sketch blob per key in the state store, updates it with each
    micro-batch's values, and emits ``(key, n_seen, estimate, blob)``
    in update mode — per-host streaming cardinalities whose blobs
    stay rollup-able (operators/sketch_build.rollup_grouped_sketches)
    and restart-safe (the state store checkpoints with the query).

    Because register/KMV folds are commutative-idempotent, the final
    per-key blob is BITWISE identical to a batch
    ``build_grouped_sketches`` over the same rows, for ANY micro-batch
    slicing — pinned in tests/test_sketch_rollup.py.  ``n_seen`` is
    the cumulative non-null row count, so "latest emission per key" =
    max n_seen (memory-sink rows carry no order guarantee).

    ``kind`` must expose ``estimate()`` (hll / theta / counter-style
    cardinality sketches); quantile sketches stream through the same
    state shape but need a different finalize — use the batch
    ``grouped_quantiles`` path or extend here.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from outrank_spark.sketches import SKETCH_REGISTRY

    params = dict(params or {})
    if kind == "hll":
        # match build_grouped_sketches' sparse default so streaming
        # per-key blobs stay bitwise-comparable with the batch build
        # (a sparse/dense merge promotes to the dense wire format)
        params.setdefault("sparse", True)
    if not hasattr(SKETCH_REGISTRY[kind](**params), "estimate"):
        raise ValueError(f"kind {kind!r} has no estimate(); "
                         "keyed_sketch_stream is for cardinality sketches")

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            blob, n_seen = state.get
            sk = sketch_from_bytes(kind, bytes(blob))
        else:
            sk, n_seen = SKETCH_REGISTRY[kind](**params), 0
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            n_seen += len(vals)
            if len(vals):
                sk.update(vals.to_numpy())
        blob = sk.to_bytes()
        state.update((blob, int(n_seen)))
        yield pd.DataFrame({
            "key": [key[0]], "n_seen": [int(n_seen)],
            "estimate": [int(sk.estimate())], "blob": [blob],
        })

    src = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).alias(value_col),
    )
    return src.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType="key string, n_seen long, estimate long, "
                         "blob binary",
        stateStructType="blob binary, n_seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
