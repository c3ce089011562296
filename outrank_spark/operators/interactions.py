"""Higher-order derived features: interactions, multivalue explosion,
subfeatures, noise controls.

Spark-first re-expressions of the reference operators
(core_ranking.py:184-359, ranking_transformers.py:18-72).  All value
construction is built-in column expressions (WholeStageCodegen); the
only driver work is collecting the *distinct-value vocabularies* that
define the generated column set (bounded by ``max_distinct``).

Interaction hashing: the reference hashes the concatenated string
values with ``xxhash.xxh64(...).hexdigest()`` (core_ranking.py:219).
MI-style scores are invariant to the hash function, so the engine
defaults to Spark's built-in ``xxhash64`` over the same concatenation
— same collision structure, JVM-side, no Python in the loop.  For
byte-level parity with a real OutRank run, ``parity_hashes=True``
swaps in a vectorized pure-numpy XXH64 hexdigest
(``outrank_spark.hashing.xxh64``, pinned to the published xxHash test
vectors) that reproduces the reference's hex tokens exactly.
"""
from __future__ import annotations

import itertools
from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from outrank_spark.hashing import sql_ident

__all__ = [
    "with_interaction_features",
    "explode_multivalue_features",
    "with_subfeatures",
    "with_noise_features",
]


def with_interaction_features(
    df: DataFrame,
    label_column: str,
    interaction_order: int = 2,
    is_3mr: bool = False,
    planner=None,
    upper_bound: int | None = None,
    columns: Sequence[str] | None = None,
    as_hex: bool = True,
    parity_hashes: bool = False,
) -> tuple[DataFrame, list[str]]:
    """Append hashed interaction columns ``A AND B [AND C ...]``
    (``A AND_REL B`` for 3MR) — core_ranking.py:184-234.

    ``as_hex=True`` renders the reference-shaped hex token (F.hex —
    cheap, unlike java String.format).  ``as_hex=False`` keeps the raw
    xxhash64 long: the scoring heuristics are relabel-invariant, the
    column is ~8x cheaper to produce and ship, and counters skip
    derived columns anyway — the scale-path default for ranking jobs.

    ``parity_hashes=True`` switches the value hash from Spark's
    built-in ``xxhash64`` (JVM-side, different bits) to a vectorized
    pure-numpy XXH64 (``outrank_spark.hashing.xxh64_hexdigest``) that
    is BYTE-IDENTICAL to the reference's
    ``xxhash.xxh64(concat).hexdigest()`` (core_ranking.py:219): 16
    lowercase hex chars over the separator-less concatenation of the
    string-cast member values.  One Arrow batch pass per row set —
    still no per-row Python — but ~3-5x the JVM path's cost, so it is
    opt-in for byte-diffing pairwise_ranks.tsv against a real OutRank
    run, not the ranking default.  (Null member values: the reference
    operates on pandas ``astype(str)`` frames where missing values
    already surface as literal tokens; here nulls cast to SQL NULL and
    make the whole concat NULL -> hash of the empty string is NOT
    emitted, the value stays NULL.  Feed the same pre-filled frame the
    reference sees for exact diffs.)
    """
    all_columns = [
        c for c in (columns or df.columns) if c != label_column
    ]
    join_string = " AND_REL " if is_3mr else " AND "
    order = 2 if is_3mr else interaction_order
    if order <= 1:
        return df, []
    combos = list(itertools.combinations(all_columns, order))
    if parity_hashes and not as_hex:
        # parity tokens ARE hex strings (the reference's hexdigest);
        # honoring as_hex=False would silently change the column type
        # from the documented long to string
        raise ValueError(
            "parity_hashes=True emits reference hexdigest string "
            "tokens and is incompatible with as_hex=False (the "
            "long-typed scale path); drop one of the two flags")
    if planner is not None and upper_bound:
        combos = planner.sample(combos, upper_bound)
    new_names = []
    exprs = []
    if parity_hashes:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def _xxh64_hex(s):
            import pandas as pd

            from outrank_spark.hashing import xxh64_hexdigest

            mask = s.notna()
            out = pd.Series([None] * len(s), index=s.index, dtype=object)
            if mask.any():
                out[mask] = xxh64_hexdigest(s[mask].to_numpy())
            return out

    # ONE select for all combos: chained withColumn would nest the
    # logical plan |combos| deep and analyzer time grows superlinearly
    # (hundreds of order-3 combos dominate small-batch jobs)
    token = "lower(hex(xxhash64({})))" if as_hex else "xxhash64({})"
    for combo in combos:
        name = join_string.join(combo)
        cat = "concat(" + ", ".join(
            f"CAST({sql_ident(c)} AS STRING)" for c in combo) + ")"
        if parity_hashes:
            exprs.append(_xxh64_hex(F.expr(cat)).alias(name))
        else:
            exprs.append(token.format(cat) + f" AS {sql_ident(name)}")
        new_names.append(name)
    if exprs:
        df = (df.select("*", *exprs) if parity_hashes
              else df.selectExpr("*", *exprs))
    return df, new_names


def explode_multivalue_features(
    df: DataFrame,
    multivalue_features: Sequence[str],
    missing_value_symbols: Sequence[str] = ("", "{}"),
    max_distinct: int = 1000,
) -> tuple[DataFrame, list[str]]:
    """One-hot presence columns ``MULTIEX-{f}-{v}`` for every distinct
    member value of each multivalue column (core_ranking.py:237-278;
    reference splits on ',' normalized to '-')."""
    new_names = []
    exprs = []  # one flat select — see with_interaction_features
    for feat in multivalue_features:
        arr = F.split(F.regexp_replace(F.col(feat), ",", "-"), "-")
        values = [
            r["v"]
            for r in df.select(F.explode(arr).alias("v")).distinct()
            .limit(max_distinct).collect()
            if r["v"] not in set(missing_value_symbols)
        ]
        for v in sorted(values):
            name = f"MULTIEX-{feat}-{v}"
            exprs.append(
                F.when(F.array_contains(arr, v), F.lit("1"))
                .otherwise(F.lit("")).alias(name),
            )
            new_names.append(name)
    out = df.select("*", *exprs) if exprs else df
    return out, new_names


def with_subfeatures(
    df: DataFrame,
    subfeature_mapping: str,
    max_distinct: int = 256,
) -> tuple[DataFrame, list[str]]:
    """Value-conditional subfeatures (core_ranking.py:281-359).

    ``a->b``  : per distinct v of b, emit ``a_val AND b_val`` where
                b == v else '' — named ``SUBFEATURE-a&v``.
    ``a<->b`` : |A| x |B| one-hot mask columns named
                ``SUBFEATURE|a|b-va&vb``.
    """
    new_names = []
    exprs = []  # one flat select — see with_interaction_features
    for seed_pair in subfeature_mapping.split(";"):
        if "<->" in seed_pair:
            first, second = seed_pair.split("<->")
            vals_first = sorted(
                r[first]
                for r in df.select(first).distinct().limit(max_distinct).collect()
            )
            vals_second = sorted(
                r[second]
                for r in df.select(second).distinct().limit(max_distinct).collect()
            )
            for vb in vals_second:
                for va in vals_first:
                    name = f"SUBFEATURE|{first}|{second}-{va}&{vb}"
                    exprs.append(
                        F.when(
                            (F.col(first) == va) & (F.col(second) == vb),
                            F.lit("1"),
                        ).otherwise(F.lit("0")).alias(name),
                    )
                    new_names.append(name)
        elif "->" in seed_pair:
            first, second = seed_pair.split("->")
            vals_second = sorted(
                r[second]
                for r in df.select(second).distinct().limit(max_distinct).collect()
            )
            for vb in vals_second:
                name = f"SUBFEATURE-{first}&{vb}"
                exprs.append(
                    F.when(
                        F.col(second) == vb,
                        F.concat(
                            F.col(first).cast("string"), F.lit("AND"),
                            F.col(second).cast("string"),
                        ),
                    ).otherwise(F.lit("")).alias(name),
                )
                new_names.append(name)
        else:
            raise NotImplementedError(
                "Please specify a valid subfeature operator (<-> or ->)",
            )
    out = df.select("*", *exprs) if exprs else df
    return out, new_names


def with_noise_features(
    df: DataFrame, label_column: str | None = None, seed: int = 123,
) -> tuple[DataFrame, list[str]]:
    """Noise/control columns (ranking_transformers.py:18-72):
    calibration features any sane ranking must place at the bottom.
    Seeded Spark generators replace the reference's unseeded numpy
    draws (reproducibility upgrade); the int-sequence control uses
    ``monotonically_increasing_id`` (a stable per-row ordinal, not a
    contiguous range — order is undefined for distributed data)."""
    volume = ", ".join(f"CAST({sql_ident(c)} AS STRING)" for c in df.columns)
    exprs = {
        "CONTROL-constant0": "CAST(0 AS STRING)",
        "CONTROL-gaussian": f"CAST(randn({seed}) AS STRING)",
        "CONTROL-uniform": f"CAST(rand({seed + 1}) AS STRING)",
        "CONTROL-random-binary": _rand_int(seed + 2, 2),
        "CONTROL-random-card100": _rand_int(seed + 3, 101),
        "CONTROL-random-card2k": _rand_int(seed + 4, 2001),
        "CONTROL-random-card10k": _rand_int(seed + 5, 10001),
        "CONTROL-random-card50k": _rand_int(seed + 6, 50001),
        "CONTROL-int-sequence":
            "CAST(monotonically_increasing_id() AS STRING)",
        "CONTROL-volume": f"lower(hex(xxhash64({volume})))",
    }
    if label_column and label_column in df.columns:
        exprs["CONTROL-target"] = f"CAST({sql_ident(label_column)} AS STRING)"
    return (df.selectExpr("*", *[f"{e} AS {sql_ident(n)}"
                                 for n, e in exprs.items()]),
            list(exprs))


def _rand_int(seed: int, n: int) -> str:
    """A uniform integer in [0, n) as a string, from ``rand(seed)``."""
    return f"CAST(CAST(rand({seed}) * {n} AS INT) AS STRING)"
