"""Misra–Gries frequent-items summary (heavy hitters), mergeable.

Sketch-tier addition beyond the reference's counting layer (the
reference's only frequency structures are the exact
``PrimitiveConstrainedCounter`` — counting_counters_ordinary.py:6-21 —
and the count-min matrix — counting_cms.py:15-44).  CMS answers point
queries but cannot *enumerate* the heavy items without a second
candidate stream; Misra–Gries (Misra & Gries 1982; batch/decrement form
a.k.a. SpaceSaving, Metwally et al. 2005) keeps at most ``k`` weighted
candidates and supports enumeration directly, with the deterministic
guarantee

    est(v)  <=  true(v)  <=  est(v) + err,      err <= N / (k + 1)

where ``err`` is tracked EXACTLY (the cumulative decrement this
instance has applied) rather than assumed from the worst case — so a
stream whose distinct count never exceeds ``k`` reports ``err == 0``
and the summary is exact.

Merge follows Agarwal, Cormode, Huang, Phillips, Wei, Yi, "Mergeable
Summaries" (PODS 2012, §3): sum counters pointwise, then if more than
``k`` keys survive, subtract the (k+1)-th largest count from every key
and drop the non-positive ones; the per-instance ``err`` fields add,
plus the subtracted amount.  The N/(k+1) bound is preserved under ANY
merge tree — that is what makes the single-pass
``mapInPandas`` + grouped/tree reduce build in
``operators.sketch_build`` correct.  Like KLL (and unlike the purely
additive max/or/add sketches), different merge orders may yield
different *internal* counters; only the error bound, not bitwise state,
is order-independent — tests pin the bound, wire round-trip, and the
no-false-negative guarantee.

The guarantee turns into EXACT distributed heavy-hitter enumeration via
candidate-verify (``operators.sketch_build.exact_heavy_hitters``):
every value with true count > ``err`` is necessarily in the summary, so
for a threshold ``t > err`` the summary is a superset of the true
answer; one exact count over just those <= k candidate values removes
the false positives.  Sizing rule: ``k >= N / t`` guarantees
``err < t``.
"""
from __future__ import annotations

import pickle
from collections import Counter

import numpy as np
import pandas as pd

from outrank_spark.sketches import safe_pickle

__all__ = ["FrequentItems", "WeightedFrequentItems"]


class FrequentItems:
    kind = "mg"

    def __init__(self, k: int = 256):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = k
        self.counts: Counter = Counter()
        self.n = 0          # total (weighted) stream length seen
        self.err = 0        # exact cumulative decrement == max undercount

    # -- build ---------------------------------------------------------
    def update(self, values) -> "FrequentItems":
        """Vectorized batch add: value_counts in C, then one combine +
        at most one decrement step — never per-row Python."""
        vals = np.asarray(values)
        if vals.size == 0:
            return self
        vc = pd.Series(vals).value_counts()
        return self.update_counts(vc.index.to_numpy(), vc.to_numpy())

    def update_counts(self, values, counts) -> "FrequentItems":
        """Pre-aggregated (value, count) add — the map-side-combine
        fast path.  The batch's exact histogram is itself a summary
        with err 0, so this is the PODS'12 merge with an exact side."""
        c = np.asarray(counts, dtype=np.int64)
        self.n += int(c.sum())
        for val, cnt in zip(np.asarray(values).tolist(), c.tolist()):
            self.counts[val] += int(cnt)
        self._shrink()
        return self

    def add(self, val, count: int = 1) -> None:
        """Single-element convenience (tests only)."""
        self.update_counts(np.asarray([val]), np.asarray([count]))

    def _shrink(self) -> None:
        if len(self.counts) <= self.k:
            return
        # d = (k+1)-th largest count: subtracting it zeroes every key
        # whose count <= d, and at most k keys can strictly exceed it.
        # The k+1 largest keys each lose exactly d, so every decrement
        # retires >= (k+1)*d stream mass -> cumulative err <= n/(k+1).
        arr = np.fromiter(self.counts.values(), dtype=np.int64,
                          count=len(self.counts))
        d = int(np.partition(arr, -(self.k + 1))[-(self.k + 1)])
        self.counts = Counter(
            {v: c - d for v, c in self.counts.items() if c > d},
        )
        self.err += d

    # -- merge ---------------------------------------------------------
    def merge(self, other: "FrequentItems") -> "FrequentItems":
        if other.k != self.k:
            raise ValueError("incompatible FrequentItems k")
        self.counts.update(other.counts)
        self.n += other.n
        self.err += other.err
        self._shrink()
        return self

    # -- finalize ------------------------------------------------------
    def query(self, val) -> int:
        """Lower-bound estimate: query(v) <= true(v) <= query(v)+err."""
        return self.counts.get(val, 0)

    def candidates(self, threshold: int) -> list:
        """Superset of all values with true count >= ``threshold``,
        PROVIDED ``threshold > self.err`` (each such value must be
        present with est >= threshold - err > 0).  Raises otherwise —
        a silent subset would corrupt candidate-verify exactness."""
        if threshold <= self.err:
            raise ValueError(
                f"threshold {threshold} <= error bound {self.err}: "
                f"the no-false-negative guarantee does not hold "
                f"(raise k to >= n/threshold = "
                f"{-(-self.n // max(threshold, 1))})",
            )
        cut = threshold - self.err
        return sorted(
            (v for v, c in self.counts.items() if c >= cut), key=str,
        )

    def most_common(self, m: int | None = None):
        return self.counts.most_common(m)

    def __len__(self) -> int:
        return len(self.counts)

    @property
    def worst_case_err(self) -> float:
        """The published a-priori bound; self.err is the exact
        realized value and is always <= this."""
        return self.n / (self.k + 1)

    # -- wire ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        # canonical key order (same convention as BoundedCounter):
        # equal state -> bitwise-equal blobs regardless of history
        return pickle.dumps(
            {"k": self.k, "n": self.n, "err": self.err,
             "counts": dict(sorted(self.counts.items(),
                                   key=lambda kv: str(kv[0])))},
            protocol=4)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "FrequentItems":
        state = safe_pickle.loads(blob)
        out = cls(k=state["k"])
        out.n = state["n"]
        out.err = state["err"]
        out.counts = Counter(state["counts"])
        return out


class WeightedFrequentItems:
    """Misra-Gries over NONNEGATIVE REAL weights — the decayed /
    importance-weighted heavy-hitter summary.

    Same algorithm and PODS'12 merge as :class:`FrequentItems`
    (integer counts), with float64 mass: the deterministic guarantee

        est(v)  <=  true(v)  <=  est(v) + err,    err <= W / (k + 1)

    holds for any nonnegative reals (the decrement bookkeeping never
    uses integrality), where ``W`` is the total absorbed weight.  The
    one float-specific caveat: est/err are reordered float64 sums, so
    they carry relative rounding noise ~1e-15 per merge depth;
    ``candidates`` therefore widens its cut by a documented epsilon
    (``_FLOAT_SLACK`` x W) so the no-false-negative superset property
    survives rounding — callers verify candidates exactly anyway
    (operators/sketch_build.decayed_heavy_hitters), so the widening
    can only add a candidate, never lose one.

    Built for forward/backward exponential decay (Cormode,
    Shkapenyuk, Srivastava, Xu, ICDE 2009: decayed weights against a
    fixed anchor keep partial sums associative): weight
    ``2^(-age/half_life)`` is in (0, 1], so W <= n and the summary is
    at its tightest exactly when the stream is long.
    """

    kind = "wmg"
    _FLOAT_SLACK = 1e-12

    def __init__(self, k: int = 256):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = k
        self.counts: dict = {}
        self.n = 0.0      # total absorbed weight W
        self.err = 0.0    # exact cumulative decrement

    # -- build ---------------------------------------------------------
    def update_weighted(self, values, weights) -> "WeightedFrequentItems":
        w = np.asarray(weights, dtype=np.float64)
        vals = np.asarray(values)
        if vals.size != w.size:
            raise ValueError(
                f"values/weights length mismatch: {vals.size} vs {w.size}")
        ok = np.isfinite(w) & (w >= 0)
        vals, w = vals[ok], w[ok]
        if vals.size == 0:
            return self
        # batch pre-sum per value (C-speed), then one combine
        s = pd.Series(w).groupby(pd.Series(vals)).sum()
        self.n += float(w.sum())
        d = self.counts
        for val, mass in zip(s.index.tolist(), s.to_numpy().tolist()):
            d[val] = d.get(val, 0.0) + mass
        self._shrink()
        return self

    def _shrink(self) -> None:
        if len(self.counts) <= self.k:
            return
        arr = np.fromiter(self.counts.values(), dtype=np.float64,
                          count=len(self.counts))
        d = float(np.partition(arr, -(self.k + 1))[-(self.k + 1)])
        self.counts = {v: c - d for v, c in self.counts.items()
                       if c > d}
        self.err += d

    # -- merge ---------------------------------------------------------
    def merge(self, other: "WeightedFrequentItems") -> "WeightedFrequentItems":
        if other.k != self.k:
            raise ValueError("incompatible WeightedFrequentItems k")
        d = self.counts
        for v, c in other.counts.items():
            d[v] = d.get(v, 0.0) + c
        self.n += other.n
        self.err += other.err
        self._shrink()
        return self

    # -- finalize ------------------------------------------------------
    def query(self, val) -> float:
        return self.counts.get(val, 0.0)

    def candidates(self, threshold: float) -> list:
        """Superset of all values with true weight >= ``threshold``,
        PROVIDED ``threshold > err`` (with the float slack widening —
        see class docstring).  Raises otherwise."""
        slack = self._FLOAT_SLACK * max(self.n, 1.0)
        if threshold <= self.err + slack:
            raise ValueError(
                f"threshold {threshold} <= error bound {self.err} "
                f"(+float slack): the no-false-negative guarantee "
                f"does not hold — raise k to >= W/threshold = "
                f"{int(np.ceil(self.n / max(threshold, 1e-300)))}",
            )
        cut = threshold - self.err - slack
        return sorted(
            (v for v, c in self.counts.items() if c >= cut), key=str,
        )

    @property
    def worst_case_err(self) -> float:
        return self.n / (self.k + 1)

    def __len__(self) -> int:
        return len(self.counts)

    # -- wire ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        return pickle.dumps(
            {"k": self.k, "n": self.n, "err": self.err,
             "counts": dict(sorted(self.counts.items(),
                                   key=lambda kv: str(kv[0])))},
            protocol=4)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "WeightedFrequentItems":
        state = safe_pickle.loads(blob)
        out = cls(k=state["k"])
        out.n = state["n"]
        out.err = state["err"]
        out.counts = dict(state["counts"])
        return out
