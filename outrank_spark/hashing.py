"""Deterministic, vectorized 64-bit hashing for sketch kernels.

The reference engine (outbrain-inc/outrank) hashes values with ``xxhash``
(``core_utils.py:46-48`` xxh32 ``internal_hash``; ``counting_cms.py:10-13``
``hash()``-based CMS rows).  ``xxhash`` is not available in this
environment, so every sketch in this package hashes through a single
deterministic family built from:

* ``pandas.util.hash_array`` — a vectorized, C-implemented 64-bit hash of
  arbitrary arrays (strings included) with a fixed key, stable across
  processes and machines (pandas documents the default ``hash_key``), and
* ``splitmix64`` — a public-domain 64-bit finalizer/mixer (Steele et al.,
  "Fast splittable pseudorandom number generators", OOPSLA 2014) used to
  derive independent seeded hash functions from the base hash.

All functions operate on whole numpy arrays (no per-row Python), per the
north-rule requirement of vectorized Arrow-side execution.
"""
from __future__ import annotations

import numpy as np
import pandas as pd

def qcol(name: str):
    """Column reference by EXACT name, backtick-quoted.

    ``F.col(name)`` parses dots as struct-field access, so derived
    feature names containing dots (e.g. the verbose vault's
    ``f1_tr_boxcox_lambda_0.5``) resolve to nothing.  Quoting makes
    the name literal; backticks inside the name are escaped.  For
    single-column references; wide projections use :func:`sql_ident`."""
    from pyspark.sql import functions as F

    return F.col("`" + name.replace("`", "``") + "`")


def sql_ident(name: str) -> str:
    """Backtick-quote an identifier for splicing into a SQL/DDL
    string (``selectExpr``, ``stack`` cells): backticks inside the
    name are doubled, everything else is literal.  Rule: build a
    projection wider than a few columns as SQL text and pass it in one
    ``selectExpr``/``filter``/``F.expr`` call — each PySpark ``Column``
    (``qcol``, ``F.*``) costs ~14 py4j round trips to build."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """Single-quote a string literal for splicing into a Spark SQL
    expression.  Backslashes and single quotes are escaped (Spark's
    default parser treats ``\\`` as an escape character)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


__all__ = [
    "qcol",
    "sql_ident",
    "sql_str",
    "splitmix64",
    "hash_values",
    "hash_with_seed",
    "derive_seeds",
    "GOLDEN_GAMMA",
    "xxh64",
    "xxh32",
    "xxh64_hexdigest",
    "xxh32_hexdigest",
]

# splitmix64 increment (odd constant, 2^64/phi)
GOLDEN_GAMMA = np.uint64(0x9E3779B97F4A7C15)

_MUL1 = np.uint64(0xBF58476D1CE4E5B9)
_MUL2 = np.uint64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray | int) -> np.ndarray:
    """Vectorized splitmix64 finalizer: uint64 -> well-mixed uint64.

    Bijective, so it never loses entropy; used to (a) derive seed
    streams and (b) re-mix the base hash with a seed for independent
    hash functions (CMS rows, Bloom probes, MinHash permutations).
    """
    z = np.asarray(x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        z = (z + GOLDEN_GAMMA).astype(np.uint64)
        z = ((z ^ (z >> np.uint64(30))) * _MUL1).astype(np.uint64)
        z = ((z ^ (z >> np.uint64(27))) * _MUL2).astype(np.uint64)
        z = z ^ (z >> np.uint64(31))
    return z


def hash_values(values) -> np.ndarray:
    """Hash an arbitrary 1-D array-like to uint64, vectorized.

    Strings, ints, floats, categoricals all accepted; NaN/None hash to a
    fixed value.  Deterministic across runs and processes (fixed pandas
    hash key), which is what makes the resulting sketches mergeable
    across Spark executors.
    """
    if isinstance(values, pd.Series):
        arr = values.to_numpy()
    else:
        arr = np.asarray(values)
    if arr.dtype.kind in ("i", "u"):
        # Fast pure-numpy path for integer keys.
        return splitmix64(arr.astype(np.uint64, copy=False))
    if arr.dtype.kind == "f":
        # Arrow->pandas converts a NULLABLE integral Spark column to
        # float64 (NaN for nulls), so the same bigint key column can
        # arrive as int64 in one batch and float64 in another.  Hash
        # int64-representable integral floats through the SAME
        # splitmix64 path as int64 so the hash of a key never depends
        # on whether its batch happened to contain a null — otherwise
        # a Bloom/HLL/CMS built from mixed batches is internally
        # inconsistent (Bloom false NEGATIVES on the probe side).
        ivals = np.zeros(arr.shape, dtype=np.int64)
        in_range = np.isfinite(arr) & (np.abs(arr) < float(2 ** 63))
        ivals[in_range] = arr[in_range].astype(np.int64)
        with np.errstate(invalid="ignore"):
            integral = in_range & (ivals == arr)
        if integral.all():
            return splitmix64(ivals.astype(np.uint64, copy=False))
        out = pd.util.hash_array(arr).astype(np.uint64, copy=False)
        if integral.any():
            out = out.copy()
            out[integral] = splitmix64(
                ivals[integral].astype(np.uint64, copy=False))
        return out
    if arr.dtype.kind in ("U", "S"):
        arr = arr.astype(object)
    return pd.util.hash_array(arr).astype(np.uint64, copy=False)


def hash_with_seed(hashes: np.ndarray, seed: int | np.uint64) -> np.ndarray:
    """Derive an independent hash function by mixing pre-hashed uint64
    values with a seed through splitmix64."""
    with np.errstate(over="ignore"):
        return splitmix64(hashes ^ np.uint64(seed))


def derive_seeds(master_seed: int, n: int) -> np.ndarray:
    """Deterministic seed stream: n independent uint64 seeds.

    The reference CMS draws its row seeds from an *unseeded*
    ``np.random.randint`` (``counting_cms.py:23``), which makes two CMS
    instances unmergeable — a bug SURVEY.md §2.4 flags.  Here every
    sketch derives seeds from a constant master seed so that sketches
    built on different executors merge exactly.
    """
    base = splitmix64(np.arange(1, n + 1, dtype=np.uint64) * GOLDEN_GAMMA
                      + np.uint64(master_seed))
    return base.astype(np.uint64)


# ---------------------------------------------------------------------------
# Pure-numpy xxHash (XXH64 / XXH32), vectorized over string batches.
#
# The reference hashes interaction values with
# ``xxhash.xxh64(concat).hexdigest()`` (core_ranking.py:219) and sketch
# inputs with ``xxhash.xxh32(s, seed=20141025).hexdigest()``
# (core_utils.py:46-48, ``internal_hash``).  The ``xxhash`` C extension
# is not available in this runtime, so byte parity with a real OutRank
# run needs a from-scratch implementation of the public XXH spec
# (Collet, github.com/Cyan4973/xxHash, BSD-2) — re-derived here from
# the published algorithm, not ported from any implementation.
#
# Vectorization strategy: encode the batch into one null-padded uint8
# matrix; the 32-byte stripe loop runs ``max(len)//32`` masked vector
# passes (each a whole-array op over the rows that still have stripes),
# and the <=31-byte tail is at most 3 masked u64 lanes + 1 u32 lane +
# 3 byte lanes at per-row offsets (gather via advanced indexing).  No
# per-row Python anywhere; cost is O(max_len/32) numpy passes, ideal
# for short interaction tokens.
#
# Caveat (documented, inherent to null-padded matrices): input strings
# containing NUL ('\x00') bytes would mis-measure their length; feature
# values here are decimal/text tokens where NUL cannot occur.
# ---------------------------------------------------------------------------

_X64_P1 = np.uint64(0x9E3779B185EBCA87)
_X64_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_X64_P3 = np.uint64(0x165667B19E3779F9)
_X64_P4 = np.uint64(0x85EBCA77C2B2AE63)
_X64_P5 = np.uint64(0x27D4EB2F165667C5)

_X32_P1 = np.uint32(0x9E3779B1)
_X32_P2 = np.uint32(0x85EBCA77)
_X32_P3 = np.uint32(0xC2B2AE3D)
_X32_P4 = np.uint32(0x27D4EB2F)
_X32_P5 = np.uint32(0x165667B1)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    rr = np.uint64(r)
    return ((x << rr) | (x >> (np.uint64(64) - rr))).astype(np.uint64)


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    rr = np.uint32(r)
    return ((x << rr) | (x >> (np.uint32(32) - rr))).astype(np.uint32)


def _encode_padded(values, pad_to: int) -> tuple[np.ndarray, np.ndarray]:
    """UTF-8 encode a 1-D array-like of strings into a null-padded
    uint8 matrix (row width rounded up to a multiple of ``pad_to`` so
    whole-word ``view`` reinterpretation is legal) plus byte lengths."""
    if isinstance(values, pd.Series):
        values = values.to_numpy()
    arr = np.asarray(values, dtype=object)
    if arr.size == 0:
        return (np.zeros((0, pad_to), dtype=np.uint8),
                np.zeros(0, dtype=np.int64))
    u = arr.astype("U")
    s = np.char.encode(u, "utf-8")
    lens = np.char.str_len(s).astype(np.int64)
    # fixed-width U/S buffers cannot represent TRAILING NULs (they are
    # indistinguishable from padding, so "a\x00" would hash as "a" —
    # silently breaking byte parity on dirty web text).  The padded
    # matrix bytes are still correct (UTF-8 NUL == the 0x00 padding),
    # so only the lengths need fixing, detected from the original
    # objects (interior NULs measure correctly already).
    trailing = pd.Series(arr).str.endswith("\x00").to_numpy(dtype=bool)
    if trailing.any():
        idx = np.flatnonzero(trailing)
        lens[idx] = [len(str(arr[i]).encode("utf-8")) for i in idx]
    width = s.dtype.itemsize
    padded = width + ((-width) % pad_to)
    mat = np.zeros((len(arr), max(padded, pad_to)), dtype=np.uint8)
    if width:
        mat[:, :width] = np.ascontiguousarray(s).view(np.uint8) \
            .reshape(len(arr), width)
    return mat, lens


def _gather_word(mat: np.ndarray, rows: np.ndarray, offs: np.ndarray,
                 nbytes: int) -> np.ndarray:
    """Little-endian word read at a per-row byte offset."""
    sub = mat[rows[:, None], offs[:, None] + np.arange(nbytes)]
    shifts = (np.uint64(8) * np.arange(nbytes, dtype=np.uint64))
    return (sub.astype(np.uint64) << shifts).sum(
        axis=1, dtype=np.uint64)


def xxh64(values, seed: int = 0) -> np.ndarray:
    """Vectorized XXH64 of a batch of strings -> uint64 array.

    Bit-exact with ``xxhash.xxh64(s, seed).intdigest()`` (pinned to the
    published test vectors in tests/test_hashing.py)."""
    mat, lens = _encode_padded(values, pad_to=8)
    n = len(lens)
    seed = np.uint64(seed)
    h = np.empty(n, dtype=np.uint64)
    rows = np.arange(n)
    with np.errstate(over="ignore"):
        is_long = lens >= 32
        if is_long.any():
            idx = np.nonzero(is_long)[0]
            m = len(idx)
            lanes = np.ascontiguousarray(mat[idx]).view("<u8")
            nb = lens[idx] // 32
            v1 = np.full(m, seed + _X64_P1 + _X64_P2, np.uint64)
            v2 = np.full(m, seed + _X64_P2, np.uint64)
            v3 = np.full(m, seed, np.uint64)
            v4 = np.full(m, seed - _X64_P1, np.uint64)
            accs = (v1, v2, v3, v4)
            for b in range(int(nb.max())):
                msk = nb > b
                for j, v in enumerate(accs):
                    lane = lanes[:, 4 * b + j]
                    upd = _rotl64((v + lane * _X64_P2).astype(np.uint64),
                                  31) * _X64_P1
                    v[msk] = upd.astype(np.uint64)[msk]
            acc = (_rotl64(v1, 1) + _rotl64(v2, 7)
                   + _rotl64(v3, 12) + _rotl64(v4, 18)).astype(np.uint64)
            for v in accs:
                rnd = _rotl64((v * _X64_P2).astype(np.uint64), 31) * _X64_P1
                acc = ((acc ^ rnd.astype(np.uint64)) * _X64_P1
                       + _X64_P4).astype(np.uint64)
            h[idx] = acc
        h[~is_long] = seed + _X64_P5
        h = (h + lens.astype(np.uint64)).astype(np.uint64)
        off = (lens // 32) * 32
        rem = lens - off
        for t in range(3):                      # up to 3 u64 tail lanes
            need = rem >= (t + 1) * 8
            if not need.any():
                break
            lane = _gather_word(mat, rows[need], off[need] + 8 * t, 8)
            rnd = _rotl64((lane * _X64_P2).astype(np.uint64), 31) * _X64_P1
            h[need] = (_rotl64(h[need] ^ rnd.astype(np.uint64), 27)
                       * _X64_P1 + _X64_P4).astype(np.uint64)
        off = off + (rem // 8) * 8
        rem = rem % 8
        need = rem >= 4                          # one u32 tail lane
        if need.any():
            lane = _gather_word(mat, rows[need], off[need], 4)
            h[need] = (_rotl64(h[need] ^ (lane * _X64_P1).astype(np.uint64),
                               23) * _X64_P2 + _X64_P3).astype(np.uint64)
        off = off + (rem // 4) * 4
        rem = rem % 4
        for t in range(3):                       # up to 3 tail bytes
            need = rem > t
            if not need.any():
                break
            byte = mat[rows[need], off[need] + t].astype(np.uint64)
            h[need] = (_rotl64(h[need] ^ (byte * _X64_P5).astype(np.uint64),
                               11) * _X64_P1).astype(np.uint64)
        h ^= h >> np.uint64(33)
        h = (h * _X64_P2).astype(np.uint64)
        h ^= h >> np.uint64(29)
        h = (h * _X64_P3).astype(np.uint64)
        h ^= h >> np.uint64(32)
    return h


def xxh32(values, seed: int = 20141025) -> np.ndarray:
    """Vectorized XXH32 of a batch of strings -> uint32 array.

    Default seed 20141025 matches the reference's ``internal_hash``
    (core_utils.py:46-48); bit-exact with
    ``xxhash.xxh32(s, seed).intdigest()``."""
    mat, lens = _encode_padded(values, pad_to=4)
    n = len(lens)
    seed = np.uint32(seed)
    h = np.empty(n, dtype=np.uint32)
    rows = np.arange(n)
    with np.errstate(over="ignore"):
        is_long = lens >= 16
        if is_long.any():
            idx = np.nonzero(is_long)[0]
            m = len(idx)
            lanes = np.ascontiguousarray(mat[idx]).view("<u4")
            nb = lens[idx] // 16
            v1 = np.full(m, seed + _X32_P1 + _X32_P2, np.uint32)
            v2 = np.full(m, seed + _X32_P2, np.uint32)
            v3 = np.full(m, seed, np.uint32)
            v4 = np.full(m, seed - _X32_P1, np.uint32)
            accs = (v1, v2, v3, v4)
            for b in range(int(nb.max())):
                msk = nb > b
                for j, v in enumerate(accs):
                    lane = lanes[:, 4 * b + j]
                    upd = _rotl32((v + lane * _X32_P2).astype(np.uint32),
                                  13) * _X32_P1
                    v[msk] = upd.astype(np.uint32)[msk]
            h[idx] = (_rotl32(v1, 1) + _rotl32(v2, 7)
                      + _rotl32(v3, 12) + _rotl32(v4, 18)).astype(np.uint32)
        h[~is_long] = seed + _X32_P5
        h = (h + lens.astype(np.uint32)).astype(np.uint32)
        off = (lens // 16) * 16
        rem = lens - off
        for t in range(3):                       # up to 3 u32 tail lanes
            need = rem >= (t + 1) * 4
            if not need.any():
                break
            lane = _gather_word(mat, rows[need], off[need] + 4 * t, 4) \
                .astype(np.uint32)
            h[need] = (_rotl32((h[need] + lane * _X32_P3).astype(np.uint32),
                               17) * _X32_P4).astype(np.uint32)
        off = off + (rem // 4) * 4
        rem = rem % 4
        for t in range(3):                       # up to 3 tail bytes
            need = rem > t
            if not need.any():
                break
            byte = mat[rows[need], off[need] + t].astype(np.uint32)
            h[need] = (_rotl32((h[need] + byte * _X32_P5).astype(np.uint32),
                               11) * _X32_P1).astype(np.uint32)
        h ^= h >> np.uint32(15)
        h = (h * _X32_P2).astype(np.uint32)
        h ^= h >> np.uint32(13)
        h = (h * _X32_P3).astype(np.uint32)
        h ^= h >> np.uint32(16)
    return h


_HEX_CHARS = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def _to_hex(words: np.ndarray, nbytes: int) -> np.ndarray:
    """Vectorized lowercase hexdigest of an integer array (big-endian
    digit order, like ``hexdigest()``) -> object array of str."""
    be = np.ascontiguousarray(words.astype(f">u{nbytes}")) \
        .view(np.uint8).reshape(len(words), nbytes)
    nib = np.empty((len(words), 2 * nbytes), dtype=np.uint8)
    nib[:, 0::2] = be >> 4
    nib[:, 1::2] = be & 0x0F
    packed = np.ascontiguousarray(_HEX_CHARS[nib]).view(f"S{2 * nbytes}")
    return np.char.decode(packed.reshape(len(words)), "ascii") \
        .astype(object)


def xxh64_hexdigest(values, seed: int = 0) -> np.ndarray:
    """Byte-parity twin of the reference's interaction-value hash:
    ``xxhash.xxh64(s).hexdigest()`` (core_ranking.py:219) -> 16
    lowercase hex chars per input, fully vectorized."""
    return _to_hex(xxh64(values, seed), 8)


def xxh32_hexdigest(values, seed: int = 20141025) -> np.ndarray:
    """Byte-parity twin of the reference's ``internal_hash``:
    ``xxhash.xxh32(s, seed=20141025).hexdigest()``
    (core_utils.py:46-48) -> 8 lowercase hex chars per input."""
    return _to_hex(xxh32(values, seed), 4)
