"""Rare-value counter with evict-to-ignore semantics, mergeable.

Behavioral counterpart of the reference's rare-value machinery
(core_ranking.py:409-436 ``compute_value_counts``): per ``(column,
value)`` counts accumulate while the count stays <= the upper bound;
the moment a value's count exceeds the bound it is evicted into an
ignore set and never reported again.

Distributed upgrade (documented): the reference's eviction happens at
minibatch boundaries, so which values get evicted depends on batch
order.  Here partial counters evict locally and merges evict on the
summed counts, which makes the FINAL rare set exact and merge-order
independent:

* a value with total count <= bound is never evicted anywhere, and
  its partial counts sum exactly;
* a value with total count > bound either exceeds the bound inside
  some partial (evicted there, ignore sets union) or at a merge when
  the partial sums cross the bound — either way it lands in the
  ignore set.

Same final report as the reference (its kept values are exactly those
with total <= bound), minus the batch-order nondeterminism.
"""
from __future__ import annotations

import pickle
from collections import Counter

import numpy as np
import pandas as pd

from outrank_spark.sketches import safe_pickle

__all__ = ["RareValueCounter"]


class RareValueCounter:
    kind = "rare"

    def __init__(self, bound: int = 1):
        self.bound = bound
        self.counts: Counter = Counter()
        self.ignored: set = set()

    # -- build ---------------------------------------------------------
    def update(self, values) -> "RareValueCounter":
        """Vectorized: value_counts in C, one dict op per UNIQUE value."""
        vc = pd.Series(np.asarray(values)).value_counts()
        for val, cnt in vc.items():
            if val in self.ignored:
                continue
            self.counts[val] += int(cnt)
        self._evict()
        return self

    def add(self, val) -> None:
        if val in self.ignored:
            return
        self.counts[val] += 1
        if self.counts[val] > self.bound:
            self.ignored.add(val)
            del self.counts[val]

    def _evict(self) -> None:
        over = [v for v, c in self.counts.items() if c > self.bound]
        for v in over:
            self.ignored.add(v)
            del self.counts[v]

    # -- merge ---------------------------------------------------------
    def merge(self, other: "RareValueCounter") -> "RareValueCounter":
        if other.bound != self.bound:
            raise ValueError("incompatible rare-counter bounds")
        self.ignored |= other.ignored
        for v in list(self.counts):
            if v in self.ignored:
                del self.counts[v]
        for v, c in other.counts.items():
            if v in self.ignored:
                continue
            self.counts[v] += c
        self._evict()
        return self

    # -- finalize ------------------------------------------------------
    def rare_values(self) -> dict:
        """value -> exact count, for every value with total <= bound."""
        return dict(self.counts)

    def __len__(self) -> int:
        return len(self.counts)

    # -- wire ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        return pickle.dumps(
            {"bound": self.bound,
             # canonical order -> bitwise-equal blobs for equal state
             "counts": dict(sorted(self.counts.items(),
                                   key=lambda kv: str(kv[0]))),
             "ignored": sorted(self.ignored, key=str)},
            protocol=4,
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "RareValueCounter":
        state = safe_pickle.loads(blob)
        out = cls(bound=state["bound"])
        out.counts = Counter(state["counts"])
        out.ignored = set(state["ignored"])
        return out
