"""Streaming sliding-window distinct counts: one sliding-HLL state,
folded per micro-batch, answering ANY trailing window on demand.

The batch operator (operators/sketch_build.sliding_distinct_counts)
answers "distinct users in the last hour/day/week" from one scan of a
static table.  A continuously-ingested event stream wants the same
answer LIVE: each micro-batch folds its distributed sketch blob into
one driver-held SlidingHyperLogLog (sketches/slidinghll.py), and any
window start can be queried between batches without touching the
stream's history.

Equality contract: because skyline merge is associative, commutative
AND idempotent with a canonical wire format, the accumulated state is
BITWISE the sketch a single batch build over the union of all batches
would produce — any micro-batch slicing, any arrival order
(tests/test_sliding_stream.py pins stream == batch on the blob, not
just the estimates).  So every window estimate carries plain HLL's
published 1.04/sqrt(m) bound, live.

Restart safety is the folds' shared state (``streaming/state.py``):
blob + batches-seen manifest are ONE atomically-replaced JSON record,
whose fingerprint (precision, columns, salt) must match to resume; a
replayed ``batch_id`` after a restart is an idempotent skip (and even
a double-fold would be harmless here — idempotent merge — the skip
keeps the manifest honest).

No reference-repo counterpart; north-rule sketch-tier addition
(SURVEY.md §2.9g, streaming leg).
"""
from __future__ import annotations

import time

from pyspark.sql import DataFrame

from outrank_spark.sketches.slidinghll import SlidingHyperLogLog
from outrank_spark.streaming.state import (
    FoldState,
    decode_sketches,
    encode_sketches,
)

__all__ = ["StreamingSlidingDistinct"]


class StreamingSlidingDistinct:
    """``foreachBatch`` hook accumulating a sliding-window HLL over a
    stream; ``estimate(ts_from)`` answers any trailing window between
    batches.  ``state_dir`` (optional) makes it restart-safe."""

    def __init__(self, value_col: str, ts_col: str, p: int = 12,
                 salt: int = 64, state_dir: str | None = None):
        self.value_col = value_col
        self.ts_col = ts_col
        self.p = int(p)
        self.salt = int(salt)
        self.sketch = SlidingHyperLogLog(p=self.p)
        self.store = FoldState(
            state_dir, "shll_state.pkl", "sliding-HLL",
            f"precision={self.p}|{value_col}|{ts_col}|salt={self.salt}")
        record = self.store.load(("blobs",))
        if record:
            self.sketch = decode_sketches(record["blobs"])[
                (self.value_col, "shll")]

    @property
    def batches_seen(self) -> list[dict]:
        return self.store.batches_seen

    # -- the foreachBatch hook -----------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from outrank_spark.operators.sketch_build import (
            build_sliding_hll_blob,
        )

        if self.store.seen(batch_id):
            return  # replayed batch after restart — idempotent skip
        t0 = time.time()
        blob = build_sliding_hll_blob(
            batch_df, self.value_col, self.ts_col,
            p=self.p, salt=self.salt)
        if blob is not None:
            self.sketch.merge(SlidingHyperLogLog.from_bytes(blob))
        self.store.commit({
            "batch_id": int(batch_id),
            "wall_sec": round(time.time() - t0, 3),
        }, lambda: {"blobs": encode_sketches(
            {(self.value_col, "shll"): self.sketch})})

    def attach(self, stream_df, checkpoint_dir: str,
               query_name: str = "sliding_distinct"):
        """writeStream wiring: returns the started StreamingQuery."""
        return self.store.attach(self.process_batch, stream_df,
                                 checkpoint_dir, query_name)

    # -- reporting -------------------------------------------------------
    def estimate(self, ts_from: float | None = None) -> int:
        return self.sketch.estimate(ts_from)

    def report(self, spark, window_starts: dict[str, float]) -> DataFrame:
        """Same shape as the batch operator: one row per window."""
        rows = [(label, float(t0), int(self.sketch.estimate(float(t0))))
                for label, t0 in sorted(window_starts.items())]
        return spark.createDataFrame(
            rows, "window string, ts_from double, est_distinct long")
