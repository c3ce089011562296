"""Distributed EXACT grouped quantiles — the scale path for q08's shape.

The reference reports numeric feature bounds from driver-side numpy
percentiles (task_summary.py / default transformer grid percentiles);
Spark's built-in ``percentile()`` is exact but buffers each group's
full value list inside one aggregation task, and a per-group window
sort has the same single-task bottleneck — both are fine as ORACLE
shapes and both break on a 100 TB group.

This operator computes bit-exact interpolated quantiles (the
``quantile_cont`` / Spark ``percentile`` formula: position
``p * (n-1)``, linear interpolation between the two neighbouring order
statistics) with **no group ever materialized in one task**, via
classic two-pass distributed selection:

1. range-repartition by ``(group, value)`` and sort within partitions
   — every partition holds a contiguous slice of each group's sorted
   order, sized by the range partitioner, never by group size;
2. pass 1 (metadata): per-partition, per-group row counts
   (``partitions x groups`` rows to the driver — metadata, not data);
3. the driver turns each requested quantile into at most two global
   order-statistic indices per group and maps them onto
   ``(partition, offset-within-partition)`` via the cumulative counts;
4. pass 2: each partition emits only its requested order statistics
   (``<= groups x probs x 2`` rows total); the driver interpolates.

Scale notes: both collects are metadata-sized (the operator is meant
for grouping columns with bounded cardinality — feature names, status
codes, shards; for million-group cases use the KLL rollup in
``operators.sketch_build.grouped_quantiles`` instead).  The heavy data
moves exactly once (the range shuffle), each task sorts only its own
slice, and skewed groups spread over as many partitions as their row
share requires.
"""
from __future__ import annotations

import math
import re
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = ["exact_grouped_quantiles", "winsorize",
           "robust_outlier_stats",
           "weighted_grouped_quantiles"]


def _partition_group_counts(df: DataFrame, group_col: str) -> pd.DataFrame:
    """Pass 1: (pid, group, cnt) rows, one per partition x group.

    Pure JVM aggregate keyed on ``spark_partition_id()`` — the
    metadata pass needs only counts, so shipping every row through
    Arrow to a Python counter (the previous shape) paid a full
    serialization pass for nothing; ``spark_partition_id()`` matches
    the ``TaskContext.partitionId()`` pass 2 reads (guide §4: keep
    work that built-ins can do out of Python)."""
    out = (
        df.groupBy(
            F.spark_partition_id().alias("pid"), F.col(group_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .toPandas()
    )
    out["pid"] = out["pid"].astype("int32")
    out["cnt"] = out["cnt"].astype("int64")
    return out


def exact_grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: Sequence[float],
    num_partitions: int | None = None,
) -> pd.DataFrame:
    """Exact interpolated quantiles of ``value_col`` per ``group_col``.

    Returns a pandas frame ``group_col, q_<p>...`` (metadata-sized:
    one row per group).  Nulls in ``value_col`` are ignored, matching
    ``percentile()`` / ``quantile_cont``.
    """
    probs = [float(p) for p in probs]
    if not probs or any(not (0.0 <= p <= 1.0) for p in probs):
        raise ValueError("probs must be within [0, 1]")
    names = [_q_name(p) for p in probs]
    if len(set(names)) != len(names):
        raise ValueError(f"probs produce colliding column names: {names}")
    spark = df.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions"))

    # user columns are renamed to fixed internal names immediately, so
    # arbitrary group/value column names (spaces, reserved words, or
    # collisions with the operator's own pid/cnt/local/val columns)
    # never reach a DDL string or an internal frame
    data = (
        df.select(F.col(group_col).cast("string").alias("__g"),
                  F.col(value_col).cast("double").alias("__v"))
        # null groups are excluded (coalesce beforehand to keep them);
        # null values ignored like percentile()/quantile_cont
        .where(F.col("__v").isNotNull() & F.col("__g").isNotNull())
        .repartitionByRange(n_part, "__g", "__v")
        .sortWithinPartitions("__g", "__v")
    )
    # cache: passes 1 and 2 must see identical partition contents (a
    # re-shuffle between passes could legally re-sample range bounds)
    data = data.persist()
    try:
        counts = _partition_group_counts(data, "__g")
        if counts.empty:
            return pd.DataFrame(
                columns=[group_col] + names)

        # cumulative start offset of each (group, pid) slice in the
        # group's global sorted order; range partitioning guarantees
        # ascending pid == ascending value slice within a group
        counts = counts.sort_values(["__g", "pid"], kind="stable")
        counts["start"] = (
            counts.groupby("__g", sort=False)["cnt"].cumsum()
            - counts["cnt"]
        )
        totals = counts.groupby("__g", sort=False)["cnt"].sum()
        start_of = {(r[0], int(r[1])): int(r[2]) for r in
                    counts[["__g", "pid", "start"]].itertuples(
                        index=False)}

        # requested global order-statistic indices per group -> the
        # (partition, local-offset) that holds each
        need: set[tuple[str, int]] = set()
        for g, n in totals.items():
            for p in probs:
                pos = p * (n - 1)
                need.add((g, int(math.floor(pos))))
                need.add((g, int(math.ceil(pos))))
        gslices = {g: pdf for g, pdf in counts.groupby("__g",
                                                       sort=False)}
        wanted: dict[int, list[tuple[str, int]]] = {}  # pid -> [(g, local)]
        for g, gi in need:
            s = gslices[g]
            row = s[s["start"] <= gi].iloc[-1]  # last slice starting <= gi
            wanted.setdefault(int(row["pid"]), []).append(
                (g, gi - int(row["start"])))

        # partition-local start offset of each group's run within its
        # partition (groups are sorted ascending within the sorted
        # partition): enables the JVM pick path below
        counts = counts.sort_values(["pid", "__g"], kind="stable")
        counts["pstart"] = (
            counts.groupby("pid", sort=False)["cnt"].cumsum()
            - counts["cnt"]
        )
        pstart_of = {(int(r[0]), r[1]): int(r[2]) for r in
                     counts[["pid", "__g", "pstart"]].itertuples(
                         index=False)}
        max_rows_per_pid = int(
            counts.groupby("pid")["cnt"].sum().max())

        if max_rows_per_pid < (1 << 33):
            # JVM fast path: on the sorted, cached partitions
            # monotonically_increasing_id() is exactly
            # pid * 2^33 + row-offset, so every requested order
            # statistic is ONE id in a small isin() filter — a pure
            # codegen scan of the cache, no Arrow, no Python workers
            # (guide §4: keep built-in-expressible work in the JVM).
            # The id->(group, global index) mapping is driver-side
            # metadata; >= 2^33-row partitions (never at sane
            # partition sizing) fall back to the Arrow walk.
            id_meta: dict[int, tuple[str, int]] = {}
            for pid, picks in wanted.items():
                for g, local in picks:
                    rid = (pid << 33) + pstart_of[(pid, g)] + local
                    id_meta[rid] = (g, start_of[(g, pid)] + local)
            picked_rows = (
                data.withColumn("__mid", F.monotonically_increasing_id())
                .where(F.col("__mid").isin(*id_meta.keys()))
                .select("__g", "__mid", "__v").collect()
            )
            idx_of = {}
            for r in picked_rows:
                g, gi = id_meta[int(r["__mid"])]
                # an id that lands on another group's row means the
                # counts no longer describe the partitions
                if r["__g"] != g:
                    raise RuntimeError(
                        f"order-statistic pick mismatch: row "
                        f"{int(r['__mid'])} wanted for group {g!r} "
                        f"holds group {r['__g']!r} — partition "
                        "contents changed between passes")
                idx_of[(g, gi)] = float(r["__v"])
        else:
            picked = _pick_order_statistics(data, "__g", "__v", wanted)
            idx_of = {
                (r[0], start_of[(r[0], int(r[3]))] + int(r[1])): float(r[2])
                for r in picked.itertuples(index=False)
            }
        if len(idx_of) != len(need):
            raise RuntimeError(
                f"order-statistic pick mismatch: wanted {len(need)}, "
                f"got {len(idx_of)} — partition contents changed "
                "between passes")

        rows = []
        for g, n in totals.items():
            out = {"__g": g}
            for p in probs:
                pos = p * (n - 1)
                lo, hi = int(math.floor(pos)), int(math.ceil(pos))
                vlo = idx_of[(g, lo)]
                vhi = idx_of[(g, hi)]
                # Spark Percentile.scala's exact weighted form (NOT
                # lo + (hi-lo)*frac) so results are bitwise-equal to
                # the built-in percentile()
                out[_q_name(p)] = (vlo * (hi - pos) + vhi * (pos - lo)
                                   if hi != lo else vlo)
            rows.append(out)
        return (pd.DataFrame(rows)
                .rename(columns={"__g": group_col})
                .sort_values(group_col, kind="stable")
                .reset_index(drop=True))
    finally:
        data.unpersist()


def _q_name(p: float) -> str:
    """Column name for prob p: q25 for 0.25, q5 for 0.5, q01 for
    0.01; endpoints q0 / q100 (so 0.1 -> q1 and 1.0 -> q100 never
    collide)."""
    if p == 1.0:
        return "q100"
    body = f"{p:g}".replace("0.", "", 1)
    return "q" + re.sub(r"[^0-9A-Za-z]", "_", body)


def _pick_order_statistics(
    data: DataFrame, group_col: str, value_col: str,
    wanted: dict[int, list[tuple[str, int]]],
) -> pd.DataFrame:
    """Pass 2: emit (group, GLOBAL idx, value) for each requested
    (group, local-offset) pick, tracking per-group positions across
    the partition's Arrow batches."""
    spark = data.sparkSession
    bc = spark.sparkContext.broadcast(wanted)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        picks = bc.value.get(pid)
        if not picks:
            # returning without consuming is allowed by mapInPandas;
            # draining would deserialize every Arrow batch for nothing
            return
        remaining: dict[str, list[int]] = {}
        for g, local in picks:
            remaining.setdefault(g, []).append(local)
        seen: dict[str, int] = {}
        out_g, out_i, out_v = [], [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            groups = pdf[group_col].to_numpy()
            vals = pdf[value_col].to_numpy()
            # contiguous runs per group (partition is sorted by group)
            change = np.flatnonzero(groups[1:] != groups[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(groups)]))
            for s, e in zip(starts, ends):
                g = groups[s]
                if g not in remaining:
                    seen[g] = seen.get(g, 0) + (e - s)
                    continue
                base = seen.get(g, 0)
                for local in remaining[g]:
                    if base <= local < base + (e - s):
                        out_g.append(g)
                        out_i.append(local)
                        out_v.append(float(vals[s + local - base]))
                seen[g] = base + (e - s)
        if out_g:
            yield pd.DataFrame({
                group_col: out_g, "local": out_i, "val": out_v,
                "pid": pid,
            })

    schema = f"{group_col} string, local long, val double, pid int"
    picked = data.mapInPandas(fn, schema=schema).toPandas()
    bc.unpersist()
    return picked


def winsorize(df: DataFrame, value_col: str, by: str,
              p_lo: float = 0.01, p_hi: float = 0.99,
              out_col: str | None = None) -> DataFrame:
    """Append ``out_col`` (default ``<value_col>_wins``): the value
    clamped to its group's ``[p_lo, p_hi]`` interpolated quantiles —
    the standard heavy-tail guard before means/regressions (trimming
    deletes outliers; winsorizing retains them at the boundary, so
    counts and joins are undisturbed).  Nulls pass through null; a
    group absent from the bounds table (all-null values) passes
    through unclamped.

    Scale shape (100 TB): bounds come from
    :func:`exact_grouped_quantiles` — the two-pass distributed
    order-statistic selection that never buffers a group in one task
    — as a metadata-sized pandas frame (2 doubles per group),
    re-entered as a BROADCAST join; the clamp itself is one JVM
    ``when`` projection.  The fact table is never shuffled.
    """
    if not (0.0 <= p_lo < p_hi <= 1.0):
        raise ValueError(
            f"need 0 <= p_lo < p_hi <= 1, got ({p_lo}, {p_hi})")
    clash = {"__g", "__lo", "__hi"} & set(df.columns)
    if clash:
        raise ValueError(
            f"winsorize internal column(s) {sorted(clash)} already "
            "exist in the input — rename them first")
    out_col = out_col or f"{value_col}_wins"
    bounds = exact_grouped_quantiles(df, by, value_col, [p_lo, p_hi])
    lo_name, hi_name = _q_name(p_lo), _q_name(p_hi)
    spark = df.sparkSession
    bdf = spark.createDataFrame(
        bounds.rename(columns={by: "__g", lo_name: "__lo",
                               hi_name: "__hi"}),
        schema="__g string, __lo double, __hi double",
    )
    v = F.col(value_col)
    joined = df.join(
        F.broadcast(bdf),
        F.col(by).cast("string") == F.col("__g"), "left")
    return joined.withColumn(
        out_col,
        F.when(v.isNull() | F.col("__lo").isNull(), v)
        .when(v < F.col("__lo"), F.col("__lo"))
        .when(v > F.col("__hi"), F.col("__hi"))
        .otherwise(v),
    ).drop("__g", "__lo", "__hi")


def robust_outlier_stats(df: DataFrame, value_col: str, by: str,
                         z_thresh: float = 3.5) -> DataFrame:
    """Per-group robust outlier audit via the modified z-score
    (Iglewicz & Hoaglin 1993): ``z = 0.6745 (x - median) / MAD`` with
    MAD the median absolute deviation from the group median; a row is
    an outlier when ``|z| > z_thresh`` (their recommended 3.5).
    Returns per group: ``n``, ``median``, ``mad``, ``n_outliers``.
    Median/MAD resist the very outliers that wreck a mean/stddev
    z-score (50% breakdown point vs 0).  A zero/degenerate MAD
    (>= half the group at one value) makes z undefined — those groups
    report ``n_outliers`` null rather than a fake 0.

    Scale shape: three bounded passes, each safe at 100 TB —
    (1) group medians via :func:`exact_grouped_quantiles` (two-pass
    distributed selection, no group buffered in one task), broadcast
    back as metadata; (2) the SAME selection over the absolute
    deviations for MAD; (3) one map-side-combinable groupBy counting
    threshold breaches.  This is the audit-grade EXACT path; for a
    one-pass approximation at unbounded group counts use the KLL
    route (sketch_build.grouped_quantiles) for both medians.
    """
    if z_thresh <= 0:
        raise ValueError(f"z_thresh must be > 0, got {z_thresh}")
    clash = {"__g", "__g2", "__med", "__mad", "__absdev"} \
        & set(df.columns)
    if clash:
        raise ValueError(
            f"robust_outlier_stats internal column(s) "
            f"{sorted(clash)} already exist in the input — rename "
            "them first")
    spark = df.sparkSession
    med = exact_grouped_quantiles(df, by, value_col, [0.5])
    med_df = spark.createDataFrame(
        med.rename(columns={by: "__g", _q_name(0.5): "__med"}),
        schema="__g string, __med double",
    )
    with_med = df.join(
        F.broadcast(med_df),
        F.col(by).cast("string") == F.col("__g"), "inner",
    ).withColumn(
        "__absdev", F.abs(F.col(value_col) - F.col("__med")),
    )
    mad = exact_grouped_quantiles(with_med, by, "__absdev", [0.5])
    mad_df = spark.createDataFrame(
        mad.rename(columns={by: "__g2", _q_name(0.5): "__mad"}),
        schema="__g2 string, __mad double",
    )
    # row-level zero guard is mandatory under Spark 4 ANSI mode: a
    # zero-MAD group would raise DIVIDE_BY_ZERO inside the sum even
    # though the post-agg when() discards that group's count
    z = F.when(
        F.col("__mad") > 0,
        F.lit(0.6745) * F.col("__absdev") / F.col("__mad"))
    return (
        with_med.join(
            F.broadcast(mad_df),
            F.col(by).cast("string") == F.col("__g2"), "inner")
        .groupBy(by)
        .agg(
            F.count(value_col).alias("n"),
            F.first("__med").alias("median"),
            F.first("__mad").alias("mad"),
            F.when(
                F.first("__mad") > 0,
                F.coalesce(
                    F.sum(F.when(z > z_thresh, 1).otherwise(0)),
                    F.lit(0)),
            ).alias("n_outliers"),
        )
    )


def weighted_grouped_quantiles(df: DataFrame, group_col: str,
                               value_col: str, weight_col: str,
                               probs: Sequence[float]) -> DataFrame:
    """Exact WEIGHTED quantiles per group — the percentile that
    matters after importance weighting (DSIR log-ratios, temperature
    rebalance factors, dedup survivor weights): quantile p is the
    smallest value whose cumulative weight reaches ``p * W`` (the
    lower-edge / inverse-CDF convention — a real data value, no
    interpolation, so cross-engine comparison is exact by
    construction, not by rounding).

    Returns long-form ``(group, prob, value)``.  Null values, null
    groups, and null/non-positive weights are excluded (a weight of
    zero must not shift a boundary).

    Scale shape (the distinct-value discipline of q117/q120): rows
    collapse to a per-(group, value) weight HISTOGRAM in one
    map-side-combinable aggregate; the only window runs over that
    histogram (vocabulary-sized per group), and each prob is one
    conditional-min aggregate over it — a 10^12-row group with 10^5
    distinct values costs a 10^5-row window.
    """
    probs = [float(p) for p in probs]
    if not probs or any(not (0.0 < p <= 1.0) for p in probs):
        raise ValueError("probs must be within (0, 1]")
    for c in (group_col, value_col, weight_col):
        if c not in df.columns:
            raise ValueError(f"unknown column {c!r}")
    from pyspark.sql import Window

    hist = (
        df.select(F.col(group_col).alias("g"),
                  F.col(value_col).cast("double").alias("v"),
                  F.col(weight_col).cast("double").alias("w"))
        .where(F.col("v").isNotNull() & F.col("g").isNotNull()
               & F.col("w").isNotNull() & (F.col("w") > 0))
        .groupBy("g", "v").agg(F.sum("w").alias("w"))
    )
    cum = Window.partitionBy("g").orderBy("v") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy("g")
    marked = hist.select(
        "g", "v",
        F.sum("w").over(cum).alias("cw"),
        F.sum("w").over(tot).alias("tw"),
    )
    aggs = []
    for i, p in enumerate(probs):
        aggs.append(
            F.min(F.when(F.col("cw") >= F.lit(p) * F.col("tw"),
                         F.col("v"))).alias(f"q{i}"))
    wide = marked.groupBy("g").agg(*aggs)
    cells = ", ".join(
        f"CAST({p} AS DOUBLE), q{i}" for i, p in enumerate(probs))
    return (
        wide.selectExpr(
            "g", f"stack({len(probs)}, {cells}) AS (prob, value)")
        .select(F.col("g").alias(group_col), "prob", "value")
        .orderBy(group_col, "prob")
    )
