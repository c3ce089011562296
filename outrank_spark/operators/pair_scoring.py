"""Distributed pairwise feature scoring.

The reference scores each minibatch's column pairs on a process pool
over the pair list (core_ranking.py:139-151).  Spark-first
re-expression: minibatches become *groups* of a deterministic batch
key, and one ``applyInArrow`` call scores planned pairs inside the
group's Arrow batch — batch semantics (batch-local category codes,
row-order-dependent spoof correction) are preserved because each group
is sorted by a stable row key before encoding.  The scoring values
travel packed, one ``array(...)`` column per element type
(``operators.pack_channels``), and each feature's slot is unpacked to
the pandas Series a column of its own would give.

Scale shape: with at least as many minibatches as cores (at 10^12
rows, millions of them), a group is one minibatch and scores all its
pairs — ~|pairs| vectorized numpy kernels over <= 2^14-row vectors,
with only the subsampled scoring columns shuffled.  With fewer
minibatches than cores (a micro-batch of one minibatch), the pool's
shape returns: each minibatch's pair list splits into ``k`` chunks,
every row is copied to its minibatch's ``k`` groups ``(batch_id,
chunk)``, and each group scores one chunk's pairs on the same rows in
the same order, so the scores do not depend on ``k``.  The split only
happens where a chunk's pair work repays a task of its own
(``_pair_chunks``).
"""
from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from outrank_spark.hashing import splitmix64, sql_ident
from outrank_spark.functions.heuristics import score_pair
from outrank_spark.operators import (
    Layout,
    column_types,
    evict_zip_finders,
    pack_channels,
    unpack_channels,
)

__all__ = ["deterministic_subsample", "assign_batches", "score_batches",
           "symmetrize"]

_TRIPLET_SCHEMA = "batch_id long, feature_a string, feature_b string, score double"
_TRIPLET_ARROW = pa.schema([
    ("batch_id", pa.int64()), ("feature_a", pa.string()),
    ("feature_b", pa.string()), ("score", pa.float64()),
])


def deterministic_subsample(df: DataFrame, every_nth: int,
                            key_cols: Sequence[str] | None = None) -> DataFrame:
    """Keep ~1/n of rows, reproducibly and order-free.

    The reference keeps every n-th *line* (core_ranking.py:641-642) —
    an order-dependent notion that does not survive distribution;
    SURVEY.md §2.2 maps it to a hash-mod filter on a stable key
    (xxhash64 of the key columns), which is reproducible across any
    partitioning and pushes down to the scan.
    """
    if every_nth <= 1:
        return df
    key = _xxhash64_sql(key_cols or df.columns)
    return df.filter(f"pmod({key}, {int(every_nth)}) = 0")


def _xxhash64_sql(columns: Sequence[str]) -> str:
    return "xxhash64(" + ", ".join(map(sql_ident, columns)) + ")"


def _batch_id_sql(keys: Sequence[str], n_batches: int) -> str:
    """The minibatch of a row, from the SQL key expressions ``keys``.
    The hash is salted: ``deterministic_subsample`` keeps only rows
    whose unsalted hash of the same columns is 0 mod the subsampling,
    so that hash mod ``n_batches`` would leave minibatches empty."""
    return (f"pmod(xxhash64('minibatch', {', '.join(keys)}), "
            f"{int(n_batches)})")


def assign_batches(df: DataFrame, n_batches: int,
                   key_cols: Sequence[str] | None = None) -> DataFrame:
    """Add ``batch_id`` + stable intra-batch order key ``_rk`` (the
    keys ``score_batches`` gives its minibatches)."""
    keys = [sql_ident(c) for c in key_cols or df.columns]
    return df.selectExpr("*", f"xxhash64({', '.join(keys)}) AS _rk",
                         f"{_batch_id_sql(keys, n_batches)} AS batch_id")


def _encode_codes(pdf: pd.DataFrame, columns: Sequence[str]) -> dict[str, np.ndarray]:
    """Batch-local dense codes — the reference's scoring value domain
    (core_ranking.py:108-117).  String columns go through pandas
    category codes (reference-identical, sorted-unique order); integer
    columns (the pre-hashed fast path) skip the object conversion and
    are densified inside the estimator (relabel-invariant)."""
    out = {}
    for c in columns:
        s = pdf[c]
        if s.dtype.kind in ("i", "u"):
            out[c] = s.to_numpy()
        else:
            out[c] = s.astype("category").cat.codes.to_numpy(np.int32)
    return out


# Heuristics whose scores are invariant under injective relabeling of
# the value domain — safe to pre-hash strings to longs JVM-side.
_RELABEL_INVARIANT = {
    "MI", "MI-numba", "MI-numba-randomized", "MI-numba-3mr", "AMI",
    "Constant", "max-value-coverage",
    # one-hot encoding only permutes columns under relabeling, and the
    # logistic objective/fold split are permutation-invariant
    "surrogate-SGD", "surrogate-SVM", "surrogate-SGD-RP",
    "surrogate-SGD-SVD",
}


# Heuristics whose first step is densify() on both inputs — for these
# the per-column code vector can be densified ONCE per batch instead
# of once per pair membership (a column appears in ~|columns| pairs,
# and densify is idempotent: unique+searchsorted of an already-dense
# vector short-circuits), with bitwise-identical scores.
_DENSIFY_FIRST = {"MI", "MI-numba", "MI-numba-randomized",
                  "MI-numba-3mr", "AMI"}

# MI-numba family: the estimator's per-column pieces (value counts,
# LUT codes, spoof permutation, column sum) depend on ONE column each,
# so a batch scoring ~|columns|^2 pairs builds each column's
# ColumnStats once and scores every pair from them with the
# estimator's own arithmetic (functions/mi.py) — bit-identical to
# score_pair (pinned by the differential test in tests/test_mi.py).
_MI_NUMBA = {"MI-numba", "MI-numba-randomized", "MI-numba-3mr"}


def _score_block_mi_cached(codes: dict[str, np.ndarray],
                           pairs: Sequence[tuple[str, str]],
                           heuristic: str, label_column: str,
                           ratio: float) -> list[tuple[str, str, float]]:
    """MI-numba family fast path: identical scores to score_pair ->
    mutual_info_estimator, with the per-column stats computed once.

    First argument is Y (the candidate), second is X (the
    conditioning); approximation_factor is 1.0 / float32(ratio>=1) so
    the subsample branch never fires; the diagonal check disables the
    correction.
    """
    from outrank_spark.functions.mi import ColumnStats, mutual_info_from_stats

    stats = {c: ColumnStats(v) for c, v in codes.items()}
    n = len(next(iter(codes.values())))
    randomized = heuristic == "MI-numba-randomized"
    # factor as the estimator receives it: np.float32(ratio) for the
    # randomized heuristic, plain 1.0 otherwise (score_pair)
    factor = np.float32(ratio) if randomized else 1.0
    out = []
    for a, b in pairs:
        f1, f2 = (b, label_column) if a == label_column else (a, b)
        sy, sx = stats[f1], stats[f2]   # estimator: Y=first, X=second
        score = mutual_info_from_stats(
            sy, sx, n, factor, randomized and sx.sum != sy.sum)
        out.append((a, b, float(score)))
    return out


def _score_block(codes: dict[str, np.ndarray],
                 pairs: Sequence[tuple[str, str]], heuristic: str,
                 label_column: str, ratio: float,
                 model_features: Sequence[str] = ()) -> list[tuple[str, str, float]]:
    if heuristic in _DENSIFY_FIRST and not model_features:
        from outrank_spark.functions.mi import densify

        codes = {
            c: densify(v) if v.dtype.kind in ("i", "u") else v
            for c, v in codes.items()
        }
        if (heuristic in _MI_NUMBA
                and (heuristic != "MI-numba-randomized"
                     or np.float32(ratio) >= 1.0)
                and codes and len(next(iter(codes.values())))):
            return _score_block_mi_cached(codes, pairs, heuristic,
                                          label_column, ratio)
    model_matrix = None
    if model_features:
        model_matrix = np.column_stack(
            [codes[m] for m in model_features if m in codes],
        )
    out = []
    for a, b in pairs:
        f1, f2 = (b, label_column) if a == label_column else (a, b)
        first = codes[f1]
        if model_matrix is not None and model_matrix.size:
            if heuristic.startswith("surrogate-"):
                # surrogates consume the RAW [model features..| cand]
                # code matrix (importance_estimator.py:80-91 one-hots
                # the whole 2-D block — no |max-sum| reduction)
                first = np.column_stack([model_matrix, first])
            else:
                # prior conditioning: score the candidate GIVEN the
                # model features (importance_estimator.py:55-71)
                from outrank_spark.plans.reference_model import (
                    conditioned_vector,
                )

                first = conditioned_vector(model_matrix, first)
        score = score_pair(first, codes[f2], heuristic, ratio)
        out.append((a, b, float(score)))
    return out


def _score_minibatch(values, rk: np.ndarray, columns: Sequence[str],
                     pairs: Sequence[tuple[str, str]], heuristic: str,
                     label_column: str, ratio: float,
                     model_features: Sequence[str]) -> list:
    """Score one minibatch's pairs: ``values`` maps each feature to its
    pandas Series, ``rk`` is the rows' order key."""
    # The hash sort gives a deterministic, partition-independent
    # order — but it CLUSTERS identical rows into runs, which
    # makes the MI spoof correction's position shift land on
    # look-alike neighbors (background == signal -> score ~ 0).
    # A fixed pseudo-random permutation of positions scatters the
    # runs while staying fully deterministic.
    order = np.argsort(rk, kind="stable")
    perm = np.argsort(splitmix64(np.arange(len(order), dtype=np.uint64)),
                      kind="stable")
    rows = order[perm]
    codes = _encode_codes({c: values[c].iloc[rows] for c in columns},
                          columns)
    return _score_block(codes, pairs, heuristic, label_column, ratio,
                        model_features)


def _score_group(layout: Layout, columns: Sequence[str],
                 pairs: Sequence[tuple[str, str]], heuristic: str,
                 label_column: str, ratio: float,
                 model_features: Sequence[str], k: int = 1):
    """``score_batches``' group function (``applyInArrow``): score one
    minibatch's pairs, or with ``k > 1`` the chunk ``pairs[j::k]`` that
    the group's ``chunk`` column names (``j = chunk % k``), then evict
    the worker's zip finders (``evict_zip_finders``).  ``layout`` says
    which packed array column and slot carries each feature; only the
    slots of the columns a chunk's pairs (and ``model_features``) use
    are unpacked, each to the pandas Series its own column would have
    been."""
    chunks = []
    for j in range(k):
        part = pairs[j::k]
        used = {c for p in part for c in p} | set(model_features)
        cols = [c for c in columns if c in used]
        chunks.append((part, cols, Layout(
            layout.exprs, {c: layout.slots[c] for c in cols},
            layout.timezone)))

    def fn(table):
        part, cols, used = chunks[
            table.column("chunk")[0].as_py() % k if k > 1 else 0]
        triplets = _score_minibatch(
            unpack_channels(table.columns, used),
            table.column("_rk").to_numpy(), cols, part, heuristic,
            label_column, ratio, model_features)
        bid = table.column("batch_id")[0].as_py()
        out = pa.table(
            [[bid] * len(triplets), [t[0] for t in triplets],
             [t[1] for t in triplets], [t[2] for t in triplets]],
            schema=_TRIPLET_ARROW)
        evict_zip_finders()
        return out

    return fn


# Pair work (a minibatch's rows x the pairs of one chunk) a pair chunk
# must carry to repay its task: a Python task, a shuffled copy of its
# minibatch's rows, and the unpacking, encoding and densifying of the
# columns its pairs use.  On 4 vCPUs, with the 29 columns and 463 pairs
# of the stream-microbatch benchmark, a micro-batch split 4 ways broke
# even at ~2^18 pair-rows a chunk (2,048 rows) and saved ~0.15 s of
# ~0.77 s at 2^21 (16,384 rows); 2^19 keeps a margin.
_CHUNK_PAIR_ROWS = 2 ** 19


def _pair_chunks(n_pairs: int, n_batches: int, n_rows: int,
                 cores: int) -> int:
    """How many chunks each minibatch's pairs split into: as many as
    leave no core idle (``n_batches * k <= cores``) while every chunk
    keeps at least ``_CHUNK_PAIR_ROWS`` of pair work, and at least 1,
    so with as many minibatches as cores, or an unknown row count
    (``n_rows`` 0), minibatches are not split."""
    work = n_rows * n_pairs // n_batches
    return max(1, min(cores // n_batches, n_pairs,
                      work // _CHUNK_PAIR_ROWS))


def score_batches(df: DataFrame, columns: Sequence[str],
                  pairs: Sequence[tuple[str, str]], heuristic: str,
                  label_column: str, n_batches: int,
                  mi_stratified_sampling_ratio: float = 1.0,
                  key_cols: Sequence[str] | None = None,
                  precode: bool | None = None,
                  model_features: Sequence[str] = (),
                  n_rows: int = 0) -> DataFrame:
    """Score all planned pairs per minibatch; returns the triplet
    relation ``(batch_id, feature_a, feature_b, score)``.

    ``precode`` (default: auto per heuristic) hashes every scoring
    column to a long JVM-side before the shuffle: Arrow then lands as
    zero-copy int64 instead of millions of Python string objects, and
    shuffle bytes shrink ~5x.  Only enabled for relabel-invariant
    heuristics; exact-parity runs (and order-sensitive stratified
    subsampling, which follows value order) can force ``precode=False``.

    ``n_rows``, the row count of ``df`` when the caller knows it, lets
    a minibatch's pairs split over cores the minibatches leave idle
    (``_pair_chunks``); the scores are the same either way, the order
    of the triplets is not.
    """
    pairs = [tuple(p) for p in pairs]
    if precode is None:
        # reference-model conditioning reduces the model matrix with
        # |max - sum| ARITHMETIC on the code values — not relabel-
        # invariant, so pre-hashed int64 codes would change the
        # conditioning vector's collision structure vs the reference's
        # category codes.  Keep strings when model_features are set.
        precode = (
            heuristic in _RELABEL_INVARIANT
            and mi_stratified_sampling_ratio >= 1.0
            and not model_features
        )
    # one projection: the scoring values, packed into a few array
    # columns (``operators.pack_channels``), the rows' intra-batch order
    # key and their minibatch
    value = "xxhash64({})" if precode else "{}"
    values = {c: value.format(sql_ident(c)) for c in columns}
    type_of = column_types(df)
    layout = pack_channels(
        [(c, "value", values[c], LongType() if precode else type_of(c))
         for c in columns], df.sparkSession)
    keys = [values.get(c, sql_ident(c)) for c in key_cols or columns]
    batched = df.selectExpr(
        *layout.exprs, f"xxhash64({', '.join(keys)}) AS _rk",
        f"{_batch_id_sql(keys, n_batches)} AS batch_id")
    sc = df.sparkSession.sparkContext
    k = _pair_chunks(len(pairs), n_batches, n_rows, sc.defaultParallelism)
    fn = _score_group(layout, columns, pairs, heuristic, label_column,
                      mi_stratified_sampling_ratio, model_features, k)

    # Spread the CPU-heavy groups over tasks.  With fewer minibatches
    # than cores, each row is copied to its minibatch's k groups:
    # chunk c of minibatch b is group b * k + c and, through
    # repartitionById, partition b * k + c too, so each group is a task
    # of its own and no task is empty (hashing 4 chunk keys into 16
    # partitions puts two of them in one task about a third of the
    # time).  The groupBy reuses that partitioning: no second Exchange.
    if k > 1:
        bid = "CAST(batch_id AS INT)"
        return (
            batched.selectExpr(
                "*", f"explode(sequence({bid} * {k}, {bid} * {k} + {k - 1}))"
                     " AS chunk")
            .repartitionById(n_batches * k, "chunk")
            .groupBy("batch_id", "chunk")
            .applyInArrow(fn, schema=_TRIPLET_SCHEMA))
    # Otherwise one group is one minibatch.  groupBy's default shuffle
    # hashes n_batches keys into spark.sql.shuffle.partitions buckets;
    # when the two are of similar magnitude (64 batches, 32 partitions)
    # balls-into-bins leaves ~1/3 of partitions empty and the worst
    # task carrying 5-6 batches (measured 4.4 s -> 2.8 s at 300k pages x
    # 463 pairs once spread).  An explicit repartition to ~4*n_batches
    # gives ~1 batch per task and, being a user-specified count, is not
    # AQE-coalesced; the groupBy reuses that HashPartitioning, so no
    # second Exchange appears.  From 32 batches per shuffle partition
    # on, many batches per task average out on their own (below, at
    # 123 batches over 8 partitions, the max-loaded one walled the
    # stage: 40.2 -> 37.8 s at 2M pages on 8 cores once spread), and
    # the count caps at 64*shuf so a corpus-scale job never schedules
    # more than ~64 tasks per shuffle slot.
    try:
        shuf = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuf = sc.defaultParallelism
    if n_batches < 32 * shuf:
        batched = batched.repartition(
            min(4 * n_batches, 64 * shuf), "batch_id")
    return batched.groupBy("batch_id").applyInArrow(fn, schema=_TRIPLET_SCHEMA)


def symmetrize(triplets: DataFrame) -> DataFrame:
    """Emit both (a,b,s) and (b,a,s) — core_ranking.py:156-165.

    Single-pass explode, NOT a self-union: a union's two branches
    would each re-evaluate the (expensive, uncached) scoring stage.
    """
    both = F.array(
        F.struct(
            F.col("feature_a").alias("fa"), F.col("feature_b").alias("fb"),
        ),
        F.struct(
            F.col("feature_b").alias("fa"), F.col("feature_a").alias("fb"),
        ),
    )
    return (
        triplets.select("batch_id", "score", F.explode(both).alias("p"))
        .select(
            "batch_id",
            F.col("p.fa").alias("feature_a"),
            F.col("p.fb").alias("feature_b"),
            "score",
        )
    )
