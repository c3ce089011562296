"""KLL quantile sketch (Karnin, Lang, Liberty, FOCS 2016), mergeable.

North-rule addition (the reference has no quantile sketch —
SURVEY.md §2.4/§2.9).  Standard compactor-stack construction: level h
stores items with implicit weight 2^h; a full compactor sorts its
buffer and promotes every other item (random even/odd offset) one level
up.  Capacity of level h with H levels total is
``max(kmin, k * (2/3)^(H-1-h))``, giving rank error eps = O(1/k) with
O(k * log^2 log(n)) space; empirically eps ~ 2/k at k=200.

Randomness: the even/odd offset is drawn from a PCG64 stream seeded per
sketch.  Estimates are deterministic for a fixed input order; merges of
differently-partitioned data agree within the published rank-error
bound (bitwise order-independence is claimed only for the max/or/add
sketches — HLL, Bloom, CMS).
"""
from __future__ import annotations

import pickle

import numpy as np

from outrank_spark.sketches import safe_pickle

__all__ = ["KLLSketch"]


class KLLSketch:
    kind = "kll"

    def __init__(self, k: int = 200, seed: int = 20141025):
        self.k = k
        self.kmin = 2
        self.seed = seed
        self._rng = np.random.Generator(np.random.PCG64(seed))
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0

    # -- capacities ----------------------------------------------------
    def _cap(self, level: int) -> int:
        height = len(self.levels) - 1 - level
        return max(self.kmin, int(np.ceil(self.k * (2.0 / 3.0) ** height)))

    def _total_cap(self) -> int:
        return sum(self._cap(h) for h in range(len(self.levels)))

    def _size(self) -> int:
        return sum(a.size for a in self.levels)

    # -- build ---------------------------------------------------------
    def update(self, values) -> "KLLSketch":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return self
        self.n += v.size
        self.levels[0] = np.concatenate([self.levels[0], v])
        self._compress()
        return self

    def _compress(self) -> None:
        while self._size() > self._total_cap():
            for h in range(len(self.levels)):
                if self.levels[h].size > self._cap(h):
                    buf = np.sort(self.levels[h])
                    offset = int(self._rng.integers(0, 2))
                    promoted = buf[offset::2]
                    self.levels[h] = np.empty(0, dtype=np.float64)
                    if h + 1 == len(self.levels):
                        self.levels.append(np.empty(0, dtype=np.float64))
                    self.levels[h + 1] = np.concatenate(
                        [self.levels[h + 1], promoted],
                    )
                    break
            else:
                break

    # -- merge ---------------------------------------------------------
    def merge(self, other: "KLLSketch") -> "KLLSketch":
        if other.k != self.k:
            raise ValueError("incompatible KLL k")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for h, arr in enumerate(other.levels):
            if arr.size:
                self.levels[h] = np.concatenate([self.levels[h], arr])
        self.n += other.n
        self._compress()
        return self

    # -- finalize ------------------------------------------------------
    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for h, arr in enumerate(self.levels):
            if arr.size:
                items.append(arr)
                weights.append(np.full(arr.size, 1 << h, dtype=np.int64))
        if not items:
            return np.empty(0), np.empty(0, dtype=np.int64)
        it = np.concatenate(items)
        w = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], w[order]

    def quantile(self, q) -> np.ndarray | float:
        """Value(s) at normalized rank(s) q in [0, 1]."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        it, w = self._weighted()
        if it.size == 0:
            res = np.full(qs.shape, np.nan)
            return res if np.ndim(q) else float(res[0])
        cum = np.cumsum(w)
        targets = np.clip(qs, 0, 1) * cum[-1]
        idx = np.searchsorted(cum, targets, side="left")
        idx = np.clip(idx, 0, it.size - 1)
        res = it[idx]
        return res if np.ndim(q) else float(res[0])

    def rank(self, value: float) -> float:
        """Approximate normalized rank of ``value``."""
        it, w = self._weighted()
        if it.size == 0:
            return float("nan")
        cum = np.cumsum(w)
        idx = np.searchsorted(it, value, side="right")
        return float(cum[idx - 1] / cum[-1]) if idx > 0 else 0.0

    @property
    def rank_error(self) -> float:
        """Empirical-constant rank error bound for this k."""
        return 2.0 / self.k

    # -- wire ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        state = {
            "k": self.k, "seed": self.seed, "n": self.n,
            "levels": [a.tobytes() for a in self.levels],
            "rng": self._rng.bit_generator.state,
        }
        return pickle.dumps(state, protocol=4)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "KLLSketch":
        state = safe_pickle.loads(blob)
        out = cls(k=state["k"], seed=state["seed"])
        out.n = state["n"]
        out.levels = [np.frombuffer(b, dtype=np.float64).copy()
                      for b in state["levels"]]
        out._rng.bit_generator.state = state["rng"]
        return out
