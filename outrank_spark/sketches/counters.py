"""Bounded exact value counter, mergeable.

Behavioral counterpart of the reference ``PrimitiveConstrainedCounter``
(``counting_counters_ordinary.py:6-21``): an exact per-value histogram
that freezes once it holds >= ``bound`` distinct keys (default 30,000 —
``--max_unique_hist_constraint``, reference ``__main__.py:141-145``).
Backs the ``value_repetitions.json`` report (task_ranking.py:282-288).

Merge semantics (upgrade, documented per SURVEY.md §2.4): counters sum
per key; if the union exceeds the bound the result keeps the top-bound
keys by count (ties broken by key string) — deterministic regardless of
merge order for the *kept key set*, unlike the reference's
insertion-order freeze which is inherently order-dependent.
"""
from __future__ import annotations

import pickle
from collections import Counter

import numpy as np
import pandas as pd

from outrank_spark.sketches import safe_pickle

__all__ = ["BoundedCounter"]


class BoundedCounter:
    kind = "counter"

    def __init__(self, bound: int = 30_000):
        self.bound = bound
        self.counts: Counter = Counter()

    @property
    def frozen(self) -> bool:
        return len(self.counts) >= self.bound

    # -- build ---------------------------------------------------------
    def update(self, values) -> "BoundedCounter":
        """Vectorized: value_counts in C, dict update per *unique* value
        only (never per row)."""
        if self.frozen:
            return self
        vc = pd.Series(np.asarray(values)).value_counts()
        for val, cnt in vc.items():
            self.counts[val] += int(cnt)
        self._truncate()
        return self

    def update_counts(self, values, counts) -> "BoundedCounter":
        if self.frozen:
            return self
        for val, cnt in zip(np.asarray(values).tolist(),
                            np.asarray(counts).tolist()):
            self.counts[val] += int(cnt)
        self._truncate()
        return self

    def add(self, val) -> None:
        if not self.frozen:
            self.counts[val] += 1

    def _truncate(self) -> None:
        if len(self.counts) > self.bound:
            kept = sorted(
                self.counts.items(), key=lambda kv: (-kv[1], str(kv[0])),
            )[: self.bound]
            self.counts = Counter(dict(kept))

    # -- merge ---------------------------------------------------------
    def merge(self, other: "BoundedCounter") -> "BoundedCounter":
        if other.bound != self.bound:
            raise ValueError("incompatible counter bounds")
        self.counts.update(other.counts)
        self._truncate()
        return self

    # -- finalize ------------------------------------------------------
    def query(self, val) -> int:
        return self.counts.get(val, 0)

    def most_common(self, n: int | None = None):
        return self.counts.most_common(n)

    def __len__(self) -> int:
        return len(self.counts)

    # -- wire ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        # canonical key order: equal state -> bitwise-equal blobs no
        # matter the merge order (dict insertion order otherwise leaks
        # the accumulation history into the serialization)
        return pickle.dumps(
            {"bound": self.bound,
             "counts": dict(sorted(self.counts.items(),
                                   key=lambda kv: str(kv[0])))},
            protocol=4)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BoundedCounter":
        state = safe_pickle.loads(blob)
        out = cls(bound=state["bound"])
        out.counts = Counter(state["counts"])
        return out
