"""Derived-feature transformer operator — vault application with
degeneracy gates, in both execution modes.

* :class:`BatchTransformer` — numpy backend inside an Arrow batch,
  reproducing the reference ``FeatureTransformerGeneric`` semantics
  exactly (ranking_transformers.py:139-204): string coercion
  (''->0.0, quote-strip), per-batch gates (cardinality > 1, majority
  share < 0.80, nan share < 0.75 — computed on the *stringified*
  output like the reference), names ``{col}{_tr_name}``.

* :func:`enrich_with_transformations` — Spark Column backend for the
  scalable path: expressions stay in WholeStageCodegen; batch-stat
  slots (np.max(X), np.mean(X), ...) are computed once as global
  aggregates (documented upgrade, SURVEY.md §2.3); the same three
  gates run as two wide aggregate passes over all candidates
  (approx_count_distinct / nan share / exact majority share via
  ``mode``) before any column is kept.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from outrank_spark.functions.expr_vault import (
    ExprError, ParsedExpr, _SparkTranslator, parse_expr,
)
from outrank_spark.functions.vault import resolve_preset
from outrank_spark.hashing import qcol, sql_ident, sql_str

__all__ = ["BatchTransformer", "enrich_with_transformations",
           "with_baseline_features"]

MAX_MAJORITY_SUPPORT = 0.80
NAN_PROP_SUPPORT = 0.75
_GATE_CHUNK = 48  # candidates per gate aggregate pass (codegen bound)


def _coerce_numeric_batch(series: pd.Series) -> np.ndarray:
    """Reference get_vals (ranking_transformers.py:139-145):
    stringify, strip double quotes, '' -> 0.0, else float."""
    s = series.astype(str).str.replace('"', "", regex=False)
    s = s.replace("", "0.0")
    return pd.to_numeric(s, errors="coerce").to_numpy(dtype=np.float64)


class BatchTransformer:
    """Numpy-mode vault application with batch-local gates."""

    def __init__(self, numeric_column_names, preset: str = "default"):
        self.collection = resolve_preset(preset)
        self.parsed: dict[str, ParsedExpr] = {
            k: parse_expr(v) for k, v in self.collection.items()
        }
        self.fns = {k: p.to_numpy() for k, p in self.parsed.items()}
        self.numeric_column_names = set(numeric_column_names)
        self.constructed_feature_names: set[str] = set()

    def construct_new_features(self, pdf: pd.DataFrame) -> pd.DataFrame:
        new_columns = {}
        constructed = set()
        for col in self.numeric_column_names:
            if col not in pdf.columns:
                continue
            X = _coerce_numeric_batch(pdf[col])
            if len(X) == 0:
                continue
            for name, fn in self.fns.items():
                feature_name = f"{col}{name}"
                try:
                    transformed = np.asarray(fn(X)).astype(str)
                except Exception:
                    continue
                u, c = np.unique(transformed, return_counts=True)
                nan_prop = np.count_nonzero(transformed == "nan") / len(transformed)
                cfreq = np.max(c) / np.sum(c)
                if (
                    len(u) > 1
                    and cfreq < MAX_MAJORITY_SUPPORT
                    and nan_prop < NAN_PROP_SUPPORT
                ):
                    new_columns[feature_name] = transformed
                    constructed.add(feature_name)
        self.constructed_feature_names = constructed
        if new_columns:
            pdf = pd.concat([pdf, pd.DataFrame(new_columns, index=pdf.index)], axis=1)
        return pdf


def _numeric_col(col: str):
    """Spark equivalent of the reference's string->float coercion.

    ``try_cast`` (not ``cast``): under ANSI mode a stray non-numeric
    value must coerce to null like pandas ``to_numeric(errors=
    'coerce')``, not abort the job."""
    cleaned = F.regexp_replace(qcol(col).cast("string"), '"', "")
    return (
        F.when(F.length(cleaned) == 0, F.lit(0.0))
        .otherwise(cleaned.try_cast("double"))
    )


def enrich_with_transformations(
    df: DataFrame,
    numeric_columns,
    preset: str = "default",
    gate: bool = True,
) -> tuple[DataFrame, list[str]]:
    """Append gated transformer columns; returns (df, new_names)."""
    collection = resolve_preset(preset)
    parsed: dict[str, ParsedExpr] = {}
    for name, src in collection.items():
        try:
            p = parse_expr(src)
            if p.order_dependent:
                continue  # no distributed column semantics
            parsed[name] = p
        except ExprError:
            continue

    numeric_columns = [c for c in numeric_columns if c in df.columns]
    if not numeric_columns or not parsed:
        return df, []

    # ---- stage 0: global stat slots (one aggregate pass) ------------
    # A stat call's argument may itself be an expression
    # (np.median(np.square(X)) in the verbose vault), so each slot
    # aggregates over the TRANSLATED inner expression, not raw X.
    # nan-variants null-mask NaN first: Spark's avg already skips
    # nulls, but NaN would poison avg and sort above every value in
    # max — masking reproduces numpy's nan-ignoring semantics.
    stat_map = {"mean": F.avg, "min": F.min, "max": F.max,
                "std": F.stddev_pop, "var": F.var_pop,
                "nanmean": F.avg, "nanmin": F.min, "nanmax": F.max,
                "nanstd": F.stddev_pop, "nanvar": F.var_pop}
    slot_exprs = {}
    for col in numeric_columns:
        x = _numeric_col(col)
        for p in parsed.values():
            for (kind, key), node in zip(p.stat_slots, p.stat_nodes):
                slot_key = f"{col}\x1f{key}"
                if slot_key in slot_exprs:
                    continue
                try:
                    inner = _SparkTranslator(x, {}).visit(node.args[0])
                except ExprError:
                    continue  # nested stats — candidate dropped later
                if kind.startswith("nan"):
                    inner = F.when(F.isnan(inner), F.lit(None)) \
                        .otherwise(inner)
                if kind in ("median", "nanmedian"):
                    slot_exprs[slot_key] = F.median(inner)
                elif kind == "percentile":
                    # np.percentile(X, q) — q must be a numeric
                    # literal; anything else (user JSON vaults can
                    # pass arbitrary expressions) drops this ONE
                    # candidate instead of aborting the enrichment
                    import ast as _ast

                    if not (len(node.args) > 1
                            and isinstance(node.args[1], _ast.Constant)
                            and isinstance(node.args[1].value,
                                           (int, float))):
                        continue
                    q = float(node.args[1].value)
                    slot_exprs[slot_key] = F.percentile(
                        inner, F.lit(q / 100.0),
                    )
                else:
                    slot_exprs[slot_key] = stat_map[kind](inner)
    # chunked like the gates below: one giant agg over every slot
    # (n_cols x n_stat_exprs) overwhelms codegen at vault scale
    stats_by_slot: dict[str, float] = {}
    slot_items = list(slot_exprs.items())
    for lo in range(0, len(slot_items), 4 * _GATE_CHUNK):
        part = slot_items[lo:lo + 4 * _GATE_CHUNK]
        row = df.agg(*[e.alias(f"s{i}") for i, (_, e) in enumerate(part)]) \
            .first()
        for i, (k, _) in enumerate(part):
            stats_by_slot[k] = row[f"s{i}"]

    # ---- candidate expressions --------------------------------------
    candidates = {}
    for col in numeric_columns:
        x = _numeric_col(col)
        for name, p in parsed.items():
            if any(f"{col}\x1f{key}" not in stats_by_slot
                   for _, key in p.stat_slots):
                continue  # slot was untranslatable (e.g. nested stats)
            stats = {
                key: stats_by_slot[f"{col}\x1f{key}"]
                for _, key in p.stat_slots
            }
            if any(v is None for v in stats.values()):
                continue
            try:
                candidates[f"{col}{name}"] = p.to_spark(x, stats)
            except ExprError:
                continue

    if not gate:
        out = df.select(
            "*", *[expr.alias(n) for n, expr in candidates.items()],
        )
        return out, list(candidates)

    # ---- gates: two aggregate passes, chunked -----------------------
    # Each chunk probes <= _GATE_CHUNK candidates (3 aggregates each in
    # pass 1, 1 in pass 2).  One monolithic agg over a verbose-sized
    # candidate set (2 cols x ~215 exprs -> ~1300 aggregate
    # expressions) makes janino's generated-code compile blow the
    # driver heap; chunking bounds codegen size at a small constant,
    # at the price of ceil(n/chunk) scans of the (column-pruned)
    # input — an explicit wide-vault tradeoff.
    names = list(candidates)

    def _default(v, dflt):
        return dflt if v is None else v

    kept = []
    for lo in range(0, len(names), _GATE_CHUNK):
        chunk = names[lo:lo + _GATE_CHUNK]
        probe = df.select(
            *[candidates[n].alias(f"c{i}") for i, n in enumerate(chunk)],
        )
        agg1 = probe.agg(
            *[F.approx_count_distinct(f"c{i}").alias(f"d{i}")
              for i in range(len(chunk))],
            *[
                F.avg(
                    F.when(
                        F.col(f"c{i}").isNull() | F.isnan(F.col(f"c{i}")),
                        1.0,
                    ).otherwise(0.0),
                ).alias(f"n{i}")
                for i in range(len(chunk))
            ],
            *[F.mode(f"c{i}").alias(f"m{i}") for i in range(len(chunk))],
        ).first()
        share_exprs = []
        for i in range(len(chunk)):
            m = agg1[f"m{i}"]
            if m is None or (isinstance(m, float) and np.isnan(m)):
                share_exprs.append(
                    F.avg(
                        F.when(
                            F.col(f"c{i}").isNull()
                            | F.isnan(F.col(f"c{i}")),
                            1.0,
                        ).otherwise(0.0),
                    ).alias(f"f{i}"),
                )
            else:
                share_exprs.append(
                    F.avg(
                        F.when(F.col(f"c{i}") == F.lit(m), 1.0)
                        .otherwise(0.0),
                    ).alias(f"f{i}"),
                )
        agg2 = probe.agg(*share_exprs).first()
        for i, n in enumerate(chunk):
            distinct_ok = _default(agg1[f"d{i}"], 0) > 1
            nan_ok = _default(agg1[f"n{i}"], 1.0) < NAN_PROP_SUPPORT
            maj_ok = _default(agg2[f"f{i}"], 1.0) < MAX_MAJORITY_SUPPORT
            if distinct_ok and nan_ok and maj_ok:
                kept.append(n)
    # single flat projection (a withColumn-per-feature loop builds n
    # nested Projects -> quadratic analysis time at vault scale)
    out = df.select("*", *[candidates[n].alias(n) for n in kept])
    return out, kept


def with_baseline_features(
    df: DataFrame,
    missing_value_symbols=("",),
    columns=None,
) -> tuple[DataFrame, list[str]]:
    """Baseline calibration features — reference
    ``construct_baseline_features`` (ranking_transformers.py:146-157):

    * ``BASELINE-MISSING-PROPORTION`` — share of the row's columns
      holding a missing symbol, rounded to 1 decimal (the reference
      counts exactly ``''`` per row; nulls count as missing here too —
      Spark frames carry real nulls where pandas frames held '');
    * ``BASELINE-DUMMY`` — constant 0.

    One flat ``selectExpr`` of SQL text; both land as strings like every
    other derived feature column.
    """
    cols = [c for c in (columns or df.columns)]
    symbols = ", ".join(map(sql_str, missing_value_symbols))
    flags = []
    for c in cols:
        cond = f"{sql_ident(c)} IS NULL"
        if symbols:
            cond += f" OR CAST({sql_ident(c)} AS STRING) IN ({symbols})"
        flags.append(f"CASE WHEN {cond} THEN 1 ELSE 0 END")
    prop = f"round(({' + '.join(flags)}) / {float(len(cols))!r}D, 1)"
    out = df.selectExpr(
        "*",
        f"CAST({prop} AS STRING) AS `BASELINE-MISSING-PROPORTION`",
        "CAST(0 AS STRING) AS `BASELINE-DUMMY`",
    )
    return out, ["BASELINE-MISSING-PROPORTION", "BASELINE-DUMMY"]
