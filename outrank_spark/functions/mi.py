"""Approximate mutual-information estimators (vectorized numpy).

Numerically faithful re-expression of the reference's numba kernels
(``outrank/algorithms/feature_ranking/ranking_mi_numba.py:11-177``),
with the per-value Python/numba loops replaced by contingency-table
``bincount`` algebra so one call is a handful of vectorized passes.

Preserved semantics (SURVEY.md §2.5, §7.4):

* values with a pre-subsample count of exactly 1 contribute nothing
  (ranking_mi_numba.py:79-80);
* the "randomized" cardinality correction subtracts a background
  conditional entropy computed on *position-shift spoofed* labels:
  row i's spoofed label is ``Y[(i + count(X_i)) % n]``
  (ranking_mi_numba.py:87-90) — hence scores depend on row order,
  which is why the Spark layer always scores an explicitly ordered,
  deterministic sample;
* diagonal detection ``sum(X - Y) == 0`` disables the correction
  (ranking_mi_numba.py:160-161);
* stratified subsampling takes the *first* k row indices per X value
  (deliberately non-random, ranking_mi_numba.py:136) and scales the
  final score by the approximation factor;
* conditional probabilities divide by the PRE-subsample value count
  while the joint counts come from the subsample — a reference quirk
  kept for score parity;
* the result is cast to float32 like the numba signature.

One deliberate fix: the reference's subsample index buffer is
``np.empty`` and may leave uninitialized garbage indices when a value
has fewer rows than its quota (ranking_mi_numba.py:128-145); we
truncate to the actually-filled prefix instead.
"""
from __future__ import annotations

import copy

import numpy as np

__all__ = ["mutual_info_estimator", "mutual_info_from_stats", "ColumnStats",
           "stratified_subsampling", "densify"]


def densify(a: np.ndarray) -> np.ndarray:
    """Relabel arbitrary ints to dense non-negative codes, preserving
    value order (MI and the spoof correction are relabel-invariant;
    the reference relies on the same invariance via pandas
    ``cat.codes``, core_ranking.py:108-117)."""
    a = np.asarray(a)
    if a.size and (a.min() < 0 or a.max() > 4 * a.size + 1024):
        uniq = np.unique(a)
        return np.searchsorted(uniq, a).astype(np.int32)
    return a.astype(np.int32, copy=False)


def _unique_counts(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Mirror of the reference's ``numba_unique``: ascending unique
    values + counts via bincount (values must be dense non-negative)."""
    counts = np.bincount(a)
    vals = np.nonzero(counts)[0]
    return vals.astype(np.int32), counts[vals].astype(np.int64)


def stratified_subsampling(
    Y: np.ndarray, X: np.ndarray, approximation_factor: float,
    f_values: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """First-k-per-X-value subsample (ranking_mi_numba.py:118-148)."""
    n = len(X)
    final_space_size = int(approximation_factor * n)
    if len(f_values) == 0:
        return Y, X
    k = final_space_size // len(f_values)
    if k == 0:
        return Y, X
    order = np.argsort(X, kind="stable")
    xs = X[order]
    starts = np.searchsorted(xs, f_values, side="left")
    ends = np.searchsorted(xs, f_values, side="right")
    take = np.minimum(ends - starts, k)
    parts = [order[s:s + t] for s, t in zip(starts, take)]
    idx = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    return Y[idx], X[idx]


_DENSE_CELL_LIMIT = 4_000_000


def _conditional_entropy_sum(
    x_code: np.ndarray, y_code: np.ndarray, n_x: int, n_cls: int,
    pre_counts: np.ndarray, all_events: int, keep: np.ndarray,
) -> float:
    """Sum over x values (count>1) of initial_prob * H-contribution:
    -(c_x/N) * sum_y p(y|x) log p(y|x) with p(y|x) = cont/c_x where
    c_x is the PRE-subsample count (reference denominator).

    Dense bincount only while the table is no bigger than the data
    itself; otherwise sparse (unique over combined keys, nonzero cells
    only) — a dense mid-cardinality table (say 2000 x 1500 cells for a
    16k-row batch) costs ~100 MB of array traffic per pair, while the
    sparse path is one O(n log n) sort.  Identical result either way:
    zero cells contribute nothing.
    """
    if n_x * n_cls <= min(max(4 * len(x_code), 16384), _DENSE_CELL_LIMIT):
        cont = np.bincount(
            x_code.astype(np.int64) * n_cls + y_code,
            minlength=n_x * n_cls,
        ).reshape(n_x, n_cls)
        denom = pre_counts.astype(np.float64)[:, None]
        with np.errstate(divide="ignore", invalid="ignore"):
            p = cont / denom
            term = np.where(cont > 0, p * np.log(p), 0.0)
        initial_prob = (pre_counts / all_events)[:, None]
        contrib = -(initial_prob * term)
        contrib[~keep] = 0.0
        return float(contrib.sum())

    # int32 keys when the cell domain fits: the sort inside
    # np.unique is ~2x faster on half-width keys, and the cell ids /
    # counts it returns are value-identical, so every downstream
    # float term is bit-for-bit unchanged
    if n_x * n_cls <= np.iinfo(np.int32).max:
        key = x_code.astype(np.int32) * np.int32(n_cls) \
            + y_code.astype(np.int32)
    else:
        key = x_code.astype(np.int64) * n_cls + y_code
    cells, counts = np.unique(key, return_counts=True)
    cell_x = (cells // n_cls).astype(np.int64)
    denom = pre_counts[cell_x].astype(np.float64)
    p = counts / denom
    term = p * np.log(p)
    contrib = -(pre_counts[cell_x] / all_events) * term
    contrib[~keep[cell_x]] = 0.0
    return float(contrib.sum())


class ColumnStats:
    """The estimator's per-column pieces for one densified code vector:
    ascending values and their counts, LUT codes, the ``keep`` mask
    (values seen more than once) and the column sum.  The spoof
    permutation is derived on first use.

    A pair scorer builds one per column and batch and hands two to
    :func:`mutual_info_from_stats` per pair, so a column that sits in
    many pairs is counted once (``operators/pair_scoring.py``)."""

    __slots__ = ("values", "counts", "keep", "sum", "code", "_lut",
                 "_spoof")

    def __init__(self, a: np.ndarray):
        self.values, self.counts = _unique_counts(a)
        # dense-domain LUTs beat searchsorted ~5x (codes are densified)
        self._lut = np.zeros(int(self.values[-1]) + 1, dtype=np.int64)
        self._lut[self.values] = np.arange(len(self.values))
        self.code = self._lut[a]
        self.keep = self.counts > 1
        self.sum = int(np.sum(a.astype(np.int64)))
        self._spoof = None

    def subsample(self, a: np.ndarray) -> "ColumnStats":
        """Stats of the subsampled rows ``a``: their codes, with the
        value domain, counts and ``keep`` mask of the full column (the
        reference's pre-subsample denominators)."""
        sub = copy.copy(self)
        sub.code, sub._spoof = self._lut[a], None
        return sub

    @property
    def spoof(self) -> np.ndarray:
        """Row i's spoofed label index: i shifted by its value's
        pre-subsample count, modulo n (ranking_mi_numba.py:87-90)."""
        if self._spoof is None:
            n = len(self.code)
            self._spoof = (np.arange(n, dtype=np.int64)
                           + self.counts[self.code]) % n
        return self._spoof


def mutual_info_from_stats(
    sy: ColumnStats, sx: ColumnStats, all_events: int,
    approximation_factor: float, cardinality_correction: bool,
) -> np.float32:
    """Score of Y given X from their :class:`ColumnStats`.

    ``all_events`` is the pre-subsample row count.  The caller has
    already turned the correction off for diagonal pairs."""
    n_x, n_cls = len(sx.counts), len(sy.counts)
    cond = _conditional_entropy_sum(
        sx.code, sy.code, n_x, n_cls, sx.counts, all_events, sx.keep,
    )
    if not cardinality_correction:
        p = sy.counts / all_events
        full_entropy = float(-(p * np.log(p)).sum())
        return np.float32(approximation_factor * (full_entropy - cond))

    # Background (spoofed) conditional entropy: shift each row's label
    # index by its x value's pre-subsample count, modulo n.
    background = _conditional_entropy_sum(
        sx.code, sy.code[sx.spoof], n_x, n_cls, sx.counts, all_events,
        sx.keep,
    )
    return np.float32(approximation_factor * (-cond + background))


def mutual_info_estimator(
    Y: np.ndarray, X: np.ndarray,
    approximation_factor: float = 1.0,
    cardinality_correction: bool = False,
) -> np.float32:
    """MI-numba / MI-numba-randomized score of label Y given feature X.

    Argument order matches the reference call convention
    (``numba_mi``, importance_estimator.py:55-71): first array is the
    candidate feature vector, second the conditioning vector.
    """
    if len(X) == 0 or len(Y) != len(X):
        raise ValueError("inputs must be equal-length and non-empty")
    X = densify(X)
    Y = densify(Y)
    all_events = len(X)
    sx, sy = ColumnStats(X), ColumnStats(Y)

    # Diagonal entries disable the correction (ranking_mi_numba.py:160-161).
    correction = cardinality_correction and sx.sum != sy.sum

    if approximation_factor < 1.0:
        Y, X = stratified_subsampling(Y, X, approximation_factor,
                                      sx.values)
        sx, sy = sx.subsample(X), ColumnStats(Y)

    return mutual_info_from_stats(sy, sx, all_events, approximation_factor,
                                  correction)
