"""HyperLogLog cardinality sketches (mergeable, vectorized).

Two modes, per SURVEY.md §7.4:

* :class:`HyperLogLog` — standard HLL (Flajolet, Fusy, Gandouet,
  Meunier 2007) over a 64-bit hash with linear-counting small-range
  correction.  Carries the published error bound sigma ~= 1.04/sqrt(m)
  the north rule requires.  Register merge is elementwise ``max`` —
  associative, commutative, idempotent — so any merge order yields
  bitwise-identical registers and estimates.

* :class:`ParityHyperLogLog` — reproduces the *behavioral* semantics of
  the reference's ``HyperLogLogWCache``
  (``counting_ultiloglog.py:10-59``): exact set ("warmup") until m/2 =
  262,144 distinct values, then a 2^19-bucket array queried with the
  linear-counting estimator ``ceil(m * ln(m / V)) - 1`` (V = empty
  buckets), capped at 2^p.  Because the reference estimator only ever
  looks at *which buckets are occupied* (never register values), the
  parity sketch keeps a bucket-occupancy bitmap.  The reference hashes
  with xxh32 (unavailable here); we hash with the package hash family —
  reference tests assert warmup exactness and ~1% error at 10k
  distinct, both of which are hash-agnostic.  Unlike the reference
  (whose global-dict state cannot merge), warmup sets merge by union
  and bitmaps by OR, making the parity sketch a true mergeable UDAF.
"""
from __future__ import annotations

import struct

import numpy as np

from outrank_spark.hashing import hash_values

__all__ = ["HyperLogLog", "ParityHyperLogLog", "hll_union",
           "hll_intersection_estimate", "hll_jaccard_estimate",
           "hll_overlap_matrix"]

_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))


class HyperLogLog:
    """Standard HLL with 2^p uint8 registers (p in [4, 18], default 14).

    m = 2^14 registers -> sigma ~= 1.04/sqrt(16384) = 0.81% relative
    standard error; 16 KiB per column, cheap to shuffle even for
    hundreds of derived features.

    ``sparse=True`` opts into a SPARSE representation for the grouped/
    per-key path (build_grouped_sketches): registers are kept as
    {index: rho} pairs until the nonzero count crosses m/5 (the wire
    break-even: 5 bytes/entry vs 1 byte/register), then densified.
    The logical register array — and therefore the estimate — is
    IDENTICAL to the dense mode at every point (pinned in
    tests/test_sketches.py::TestSparseHLL); only memory and blob size
    change.  Why it matters at 10^12 rows: per-host HLLs over tens of
    millions of Zipf-tailed hosts are almost all near-empty — dense
    blobs shuffle 16 KiB per host (160 GB for 10M hosts at p=14),
    sparse blobs shuffle ~5 bytes per distinct value.  The wire format
    is canonical for the family (sparse iff count <= m/5, entries in
    sorted index order), so bitwise merge order-independence is
    preserved.  The flag is part of the family contract (like p) and
    survives serialization; merging a sparse and a dense sketch
    promotes the result to the dense family.
    """

    kind = "hll"

    def __init__(self, p: int = 14, registers: np.ndarray | None = None,
                 sparse: bool = False):
        if not 4 <= p <= 18:
            raise ValueError(f"p must be in [4,18], got {p}")
        self.p = p
        self.m = 1 << p
        self.sparse = bool(sparse)
        self._entries: dict[int, int] | None = {} if sparse else None
        if sparse:
            self.registers = None
            if registers is not None:
                raise ValueError("sparse HLL starts empty")
        else:
            self.registers = (
                registers if registers is not None
                else np.zeros(self.m, dtype=np.uint8)
            )

    @property
    def _wire_threshold(self) -> int:
        return self.m // 5

    def _densify(self) -> None:
        """Promote the sparse dict to the dense register array (one
        way; the wire stays canonical-by-count either way)."""
        if self._entries is None:
            return
        regs = np.zeros(self.m, dtype=np.uint8)
        if self._entries:
            idx = np.fromiter(self._entries.keys(), dtype=np.int64)
            rho = np.fromiter(self._entries.values(), dtype=np.uint8)
            regs[idx] = rho
        self.registers = regs
        self._entries = None

    # -- build ---------------------------------------------------------
    def update(self, values) -> "HyperLogLog":
        return self.update_hashes(hash_values(values))

    @staticmethod
    def _j_rho(h: np.ndarray, p: int) -> tuple[np.ndarray, np.ndarray]:
        """(register index, rho) for pre-hashed uint64 values."""
        j = (h >> np.uint64(64 - p)).astype(np.int64)
        # Remaining 64-p bits; sentinel bit bounds rho at 64-p+1 so a
        # zero remainder is well-defined.
        w = (h << np.uint64(p)) | np.uint64(1 << (p - 1) if p >= 1 else 1)
        # rho = 1 + count of leading zeros of w. The lowest set bit of
        # bit-reversed w would work too; we use exact float log2 on the
        # isolated *highest* set bit (powers of two are exact in f64).
        # Isolate highest set bit via bit-smearing (6 shifts).
        v = w.copy()
        for s in (1, 2, 4, 8, 16, 32):
            v |= v >> np.uint64(s)
        v = (v >> np.uint64(1)) + np.uint64(1)  # highest power of two <= w
        msb = np.log2(v.astype(np.float64)).astype(np.int64)  # exact
        rho = (64 - msb).astype(np.uint8)  # leading zeros + 1
        return j, rho

    def update_hashes(self, h: np.ndarray) -> "HyperLogLog":
        """Vectorized register update from pre-hashed uint64 values."""
        if h.size == 0:
            return self
        j, rho = self._j_rho(h, self.p)
        if self._entries is not None:
            # max-per-index: sort by (j, rho), keep last rho per j
            order = np.lexsort((rho, j))
            js, rs = j[order], rho[order]
            last = np.r_[js[1:] != js[:-1], True]
            d = self._entries
            for ji, ri in zip(js[last].tolist(), rs[last].tolist()):
                if ri > d.get(ji, 0):
                    d[ji] = ri
            if len(d) > self._wire_threshold:
                self._densify()
            return self
        np.maximum.at(self.registers, j, rho)
        return self

    # -- merge ---------------------------------------------------------
    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if other.p != self.p:
            raise ValueError("cannot merge HLLs with different precision")
        if other.sparse != self.sparse:   # promote to the dense family
            self._densify()
            self.sparse = False
        if self._entries is not None and other._entries is not None:
            d = self._entries
            for ji, ri in other._entries.items():
                if ri > d.get(ji, 0):
                    d[ji] = ri
            if len(d) > self._wire_threshold:
                self._densify()
            return self
        self._densify()
        if other._entries is not None:
            if other._entries:
                idx = np.fromiter(other._entries.keys(), dtype=np.int64)
                rho = np.fromiter(other._entries.values(), dtype=np.uint8)
                np.maximum.at(self.registers, idx, rho)
        else:
            np.maximum(self.registers, other.registers,
                       out=self.registers)
        return self

    # -- finalize ------------------------------------------------------
    def estimate(self) -> int:
        m = self.m
        if self._entries is not None:
            rho = np.fromiter(self._entries.values(), dtype=np.int64) \
                if self._entries else np.empty(0, dtype=np.int64)
            zeros = m - rho.size
            inv_sum = np.ldexp(1.0, -rho).sum() + zeros
        else:
            inv_sum = np.ldexp(1.0, -self.registers.astype(np.int64)).sum()
            zeros = int(np.count_nonzero(self.registers == 0))
        raw = _alpha(m) * m * m / inv_sum
        if raw <= 2.5 * m and zeros:
            return int(round(m * np.log(m / zeros)))
        return int(round(raw))

    def __len__(self) -> int:
        return self.estimate()

    @property
    def relative_error(self) -> float:
        return 1.04 / np.sqrt(self.m)

    # -- wire ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        if not self.sparse:
            return struct.pack("<BB", 1, self.p) + self.registers.tobytes()
        # canonical for the sparse family: entry format iff the count
        # is at/below the wire threshold, else dense-with-sparse-flag
        if self._entries is not None:
            nz = len(self._entries)
        else:
            nz = int(np.count_nonzero(self.registers))
        if nz <= self._wire_threshold:
            if self._entries is not None:
                idx = np.array(sorted(self._entries), dtype=np.uint32)
                rho = np.array([self._entries[i] for i in idx],
                               dtype=np.uint8)
            else:
                idx64 = np.flatnonzero(self.registers)
                idx = idx64.astype(np.uint32)
                rho = self.registers[idx64]
            return (struct.pack("<BBI", 2, self.p, idx.size)
                    + idx.tobytes() + rho.tobytes())
        self._densify()
        return struct.pack("<BB", 3, self.p) + self.registers.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "HyperLogLog":
        ver, p = struct.unpack_from("<BB", blob)
        if ver == 1:
            regs = np.frombuffer(blob, dtype=np.uint8, offset=2).copy()
            return cls(p=p, registers=regs)
        if ver == 3:
            regs = np.frombuffer(blob, dtype=np.uint8, offset=2).copy()
            out = cls(p=p, sparse=True)
            out._entries = None
            out.registers = regs
            return out
        (k,) = struct.unpack_from("<I", blob, 2)
        idx = np.frombuffer(blob, dtype=np.uint32, count=k, offset=6)
        rho = np.frombuffer(blob, dtype=np.uint8, count=k, offset=6 + 4 * k)
        out = cls(p=p, sparse=True)
        out._entries = dict(zip(idx.tolist(), rho.tolist()))
        return out


class ParityHyperLogLog:
    """Reference-semantics cardinality sketch (warmup + linear counting).

    Mirrors ``HyperLogLogWCache`` (counting_ultiloglog.py:10-59):
    p = 19 fixed, exact until m/2 distincts, then linear counting
    ``ceil(m * ln(m / V)) - 1`` over the V empty of m buckets.  Its
    largest finite estimate, at one empty bucket, is about m * ln m
    (6.9M at p=19); with no empty bucket it returns 2^p.  The
    ``error_rate`` ctor argument is accepted and ignored exactly like
    the reference.

    Mergeable upgrade: warmup stores uint64 value-hashes (set union on
    merge); bucket occupancy is a packed bitmap (OR on merge).  All
    merge orders give identical serialized state -> identical
    estimates (north-rule bitwise order-independence).
    """

    kind = "parity_hll"
    P = 19

    def __init__(self, error_rate: float = 0.005, p: int | None = None,
                 warmup_limit: int | None = None,
                 hash_mode: str = "fast"):
        # defaults reproduce the reference exactly (p=19, warmup m/2);
        # smaller p bounds the per-partition blob (bitmap m/8 bytes)
        # for wide high-cardinality column sets at scale
        self.p = self.P if p is None else p
        self.m = 1 << self.p
        self.warmup_limit = (self.m // 2 if warmup_limit is None
                             else warmup_limit)
        if hash_mode not in ("fast", "reference"):
            raise ValueError(f"unknown hash_mode {hash_mode!r}")
        # "fast": package hash family (uint64, one pass).  "reference":
        # BYTE-PARITY with the reference chain — values go through
        # ``internal_hash`` = xxh32(utf8, seed=20141025).hexdigest()
        # (core_utils.py:46-48) into the warmup set, and buckets are
        # xxh32(hex_token, seed=p) & (m-1)
        # (counting_ultiloglog.py:21-32), so BOTH the warmup distinct
        # counts and the post-warmup occupancy — hence every estimate —
        # are identical to a real OutRank run on the same value stream.
        self.hash_mode = hash_mode
        # warmup "set" is a sorted unique uint64 array — all updates
        # and merges stay vectorized numpy (no Python int churn)
        self.warmup: np.ndarray | None = np.empty(0, dtype=np.uint64)
        self.bitmap: np.ndarray | None = None  # uint8[m/8] packed

    # -- internals -----------------------------------------------------
    def _buckets_of(self, h: np.ndarray) -> np.ndarray:
        if self.hash_mode == "reference":
            from outrank_spark.hashing import _to_hex, xxh32

            hx = _to_hex(h.astype(np.uint32), 4)
            return (xxh32(hx, seed=self.p).astype(np.int64)
                    & (self.m - 1))
        return (h & np.uint64(self.m - 1)).astype(np.int64)

    def _set_buckets(self, buckets: np.ndarray) -> None:
        byte_idx = buckets >> 3
        bit = np.left_shift(1, (buckets & 7)).astype(np.uint8)
        np.bitwise_or.at(self.bitmap, byte_idx, bit)

    def _to_registers(self) -> None:
        """Exit warmup: hash every warmup value into the bitmap."""
        self.bitmap = np.zeros(self.m // 8, dtype=np.uint8)
        if self.warmup.size:
            self._set_buckets(self._buckets_of(self.warmup))
        self.warmup = None

    # -- build ---------------------------------------------------------
    def update(self, values) -> "ParityHyperLogLog":
        if self.hash_mode == "reference":
            from outrank_spark.hashing import xxh32

            # warmup stores the 32-bit internal_hash itself: distinct
            # counts then equal the reference's distinct-hex-token
            # warmup set (collision structure included)
            return self.update_hashes(
                xxh32(values, seed=20141025).astype(np.uint64))
        return self.update_hashes(hash_values(values))

    def update_hashes(self, h: np.ndarray) -> "ParityHyperLogLog":
        if h.size == 0:
            return self
        h = np.asarray(h).astype(np.uint64, copy=False)
        if self.warmup is None:
            self._set_buckets(self._buckets_of(h))
            return self
        if self.hash_mode != "reference":
            # fast mode keeps the original associative semantics
            # (flush at >= limit, nothing dropped): merge of partials
            # stays bitwise-equal to a single pass, the north-rule
            # property the distributed build relies on
            self.warmup = np.union1d(self.warmup, h)
            if self.warmup.size >= self.warmup_limit:
                self._to_registers()
            return self
        # Reference boundary semantics (counting_ultiloglog.py add():
        # `if len(warmup_set) < warmup_size and not hll_flag`): the
        # warmup set persists until the NEXT add after it is full —
        # len() reports the EXACT count at exactly warmup_limit
        # distinct values — and that triggering add's value is DROPPED
        # (the elif flushes without hashing it; a reference quirk,
        # replicated for byte parity).  Vectorized per-element
        # equivalent: find the first element processed while the set
        # already holds warmup_limit values.
        if self.warmup.size >= self.warmup_limit:
            self._to_registers()          # flush; h[0] is the trigger
            if h.size > 1:
                self._set_buckets(self._buckets_of(h[1:]))
            return self
        is_new = ~np.isin(h, self.warmup)
        first_idx = np.unique(h, return_index=True)[1]
        first_seen = np.zeros(h.size, dtype=bool)
        first_seen[first_idx] = True
        new = is_new & first_seen
        c_before = np.cumsum(new) - new   # distinct adds BEFORE elem i
        trigger = np.flatnonzero(self.warmup.size + c_before
                                 >= self.warmup_limit)
        if trigger.size == 0:
            # whole batch fits (possibly ending exactly at the limit:
            # stay in warmup — the reference still reports exact here)
            self.warmup = np.union1d(self.warmup, h)
        else:
            k = int(trigger[0])
            self.warmup = np.union1d(self.warmup, h[:k])
            self._to_registers()
            if k + 1 < h.size:            # h[k] dropped, rest hashed
                self._set_buckets(self._buckets_of(h[k + 1:]))
        return self

    # -- merge ---------------------------------------------------------
    def merge(self, other: "ParityHyperLogLog") -> "ParityHyperLogLog":
        if other.p != self.p:
            raise ValueError("cannot merge parity-HLLs with different p")
        if other.hash_mode != self.hash_mode:
            raise ValueError(
                "cannot merge parity-HLLs with different hash_mode")
        if self.warmup is not None and other.warmup is not None:
            self.warmup = np.union1d(self.warmup, other.warmup)
            # fast mode: flush at >= limit exactly like update — merge
            # of partials stays bitwise-equal to a single pass.
            # reference mode: flush only when the union EXCEEDS the
            # limit, so a combined stream of exactly warmup_limit
            # distinct values stays in warmup (exact count), matching
            # the single-pass boundary; merge is this library's
            # distributed extension (the reference has no merge) and
            # flushes without dropping a trigger value, so past the
            # boundary a merged occupancy can include the one value a
            # single-pass reference run drops — documented divergence.
            if (self.warmup.size > self.warmup_limit
                    if self.hash_mode == "reference"
                    else self.warmup.size >= self.warmup_limit):
                self._to_registers()
            return self
        if self.warmup is not None:
            self._to_registers()
        if other.warmup is not None:
            if other.warmup.size:
                self._set_buckets(self._buckets_of(other.warmup))
        else:
            np.bitwise_or(self.bitmap, other.bitmap, out=self.bitmap)
        return self

    # -- finalize ------------------------------------------------------
    def estimate(self) -> int:
        if self.warmup is not None:
            return int(self.warmup.size)
        occupied = int(np.unpackbits(self.bitmap).sum())
        empty = self.m - occupied
        if empty == 0:
            return 1 << self.p
        basis = np.ceil(self.m * np.log(self.m / empty))
        return int(basis) - 1

    def __len__(self) -> int:
        return self.estimate()

    # -- wire ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        # ver 2 = fast hash family (round-3 wire format, unchanged);
        # ver 3 = reference-parity hash chain, same layout otherwise
        ver = 3 if self.hash_mode == "reference" else 2
        head = struct.pack("<BBBI", ver, 1 if self.warmup is None else 0,
                           self.p, self.warmup_limit & 0xFFFFFFFF)
        if self.warmup is not None:
            return head + self.warmup.tobytes()  # already sorted unique
        return head + self.bitmap.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "ParityHyperLogLog":
        ver, phase, p, warmup_limit = struct.unpack_from("<BBBI", blob)
        off = struct.calcsize("<BBBI")
        out = cls(p=p, warmup_limit=warmup_limit,
                  hash_mode="reference" if ver == 3 else "fast")
        if phase == 0:
            out.warmup = np.frombuffer(blob, dtype=np.uint64, offset=off).copy()
        else:
            out.warmup = None
            out.bitmap = np.frombuffer(blob, dtype=np.uint8, offset=off).copy()
        return out


# -- set algebra --------------------------------------------------------
def hll_union(a: HyperLogLog, b: HyperLogLog) -> HyperLogLog:
    """Non-destructive union: a fresh sketch whose registers are
    max(a, b).  Lossless — bitwise identical to having built one
    sketch over A followed by B (unlike :meth:`HyperLogLog.merge`,
    neither input is mutated)."""
    if a.p != b.p:
        raise ValueError("cannot union HLLs with different precision")
    if a.sparse or b.sparse:
        # wire round-trip copies preserve the family flag and leave
        # the inputs untouched; merge() is the max combine either way
        return HyperLogLog.from_bytes(a.to_bytes()).merge(
            HyperLogLog.from_bytes(b.to_bytes()))
    return HyperLogLog(p=a.p, registers=np.maximum(a.registers, b.registers))


def hll_intersection_estimate(a: HyperLogLog, b: HyperLogLog,
                              union_est: int | None = None) -> int:
    """|A intersect B| by inclusion-exclusion:
    est(A) + est(B) - est(A union B).

    The absolute error is ~sigma * |A union B| (each term carries the
    union-scale standard error), so the RELATIVE error on the
    intersection blows up when the overlap is a small fraction of the
    union — use only when the expected overlap is non-trivial, and
    size p accordingly.  Clamped at 0 (the subtraction can go
    negative within noise on near-disjoint sets).  Pass ``union_est``
    when the union estimate is already in hand to skip rebuilding it."""
    if union_est is None:
        union_est = hll_union(a, b).estimate()
    est = a.estimate() + b.estimate() - union_est
    return max(0, int(est))


def hll_jaccard_estimate(a: HyperLogLog, b: HyperLogLog,
                         union_est: int | None = None) -> float:
    """Jaccard similarity |A∩B| / |A∪B| from two HLLs; inherits the
    inclusion-exclusion caveat of :func:`hll_intersection_estimate`."""
    if union_est is None:
        union_est = hll_union(a, b).estimate()
    if union_est == 0:
        return 0.0
    return hll_intersection_estimate(a, b, union_est) / union_est


def hll_overlap_matrix(per_key: dict) -> list[tuple]:
    """Pairwise set-overlap estimates over ANY key set.

    ``per_key`` maps key -> HyperLogLog.  Returns sorted
    ``(key_a, key_b, union_est, intersection_est, jaccard_est)``
    tuples for every unordered pair — the driver-side finale of a
    grouped sketch build (operators/sketch_build.
    build_grouped_sketches): k blobs of ~2^p bytes each, so the
    driver cost is O(k^2) sketch merges on kilobyte objects, never a
    data-scale operation."""
    keys = sorted(per_key)
    out = []
    for i, ka in enumerate(keys):
        for kb in keys[i + 1:]:
            a, b = per_key[ka], per_key[kb]
            union_est = int(hll_union(a, b).estimate())
            out.append((
                ka, kb, union_est,
                hll_intersection_estimate(a, b, union_est),
                round(hll_jaccard_estimate(a, b, union_est), 4),
            ))
    return out
