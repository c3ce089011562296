"""Ranking report sinks — the reference's output-file surface.

Writes the same files ``outrank --task ranking`` +
``ranking_summary`` produce (task_ranking.py:244-297,
task_summary.py:51-89), from a :class:`RankingResult`:

  pairwise_ranks.tsv                    triplets, Score ascending
  feature_singles.tsv                   per-feature medians (normalized)
  feature_singles_aggregated.tsv        interaction re-aggregation
  feature_singles_transformers_only_imp.tsv
  memory.tsv                            per-feature avg encoded bytes
  value_repetitions.json                counter histogram profile
  combination_estimation_counts.json    planner prior counts
  timings.json / arguments.json         run metadata
  3mr_ranks.tsv                         (when 3MR ran)

Large relations would go to parquet at scale; these report files are
deliberately small driver-side artifacts, exactly like the reference.
"""
from __future__ import annotations

import dataclasses
import json
import os

import numpy as np
from pyspark.sql import DataFrame

from outrank_spark.hashing import sql_ident
from outrank_spark.plans.ranking_job import (
    RankingConfig,
    RankingResult,
    aggregate_interactions,
)

__all__ = ["write_reports", "feature_memory_estimate",
           "numeric_feature_statistics", "write_rare_value_reports"]



def _round_half_away(x, nd: int = 2):
    """Round half AWAY from zero — what SQL engines (DuckDB ROUND) do;
    Python's round() is banker's (half-to-even), which diverges from
    the q33/q34 oracles exactly on .xx5-representable values."""
    if x is None:
        return None
    import math

    scale = 10 ** nd
    return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale


def feature_memory_estimate(sketches, columns: list[str]) -> dict[str, float]:
    """Average encoded bytes per value per column, read from the
    ranking scan's ``bytes`` sketches (the reference's
    ``compute_feature_memory_consumption``, core_ranking.py:394-406).
    As in the reference, the average is taken over the subsampled rows
    the ranking scored, not over the whole input; nulls are skipped,
    as SQL ``avg`` skips them."""
    return {c: sketches[(c, "bytes")].mean() for c in columns}


def numeric_feature_statistics(df: DataFrame,
                               numeric_columns: list[str],
                               exact_unique: bool = False):
    """One-agg numeric bounds summary — ``numeric_feature_statistics.tsv``
    (task_ranking.py:139-151 via core_utils.py:427-478, fed by
    core_ranking.py:465-488 ``compute_bounds_increment``).

    Reference quirk preserved: the column is NAMED ``Median`` but holds
    the MEAN — ``NumericFeatureSummary.median`` is filled with
    ``np.mean`` (core_ranking.py:476) and the summarizer takes the
    median of those per-batch means; with Spark's single global pass
    that is exactly the global mean.

    ``exact_unique=False`` uses ``approx_count_distinct`` (HLL++, one
    pass, no shuffle-per-column) — the 100 TB default; the reference's
    number is itself a *mean of per-batch* uniques, so neither is the
    global exact distinct count.
    """
    import pandas as pd

    if not numeric_columns:
        return None
    uniq = ("count(DISTINCT {})" if exact_unique
            else "approx_count_distinct({})")
    aggs = []
    for i, c in enumerate(numeric_columns):
        v = f"CAST({sql_ident(c)} AS DOUBLE)"
        aggs += [f"min({v}) AS mn{i}", f"max({v}) AS mx{i}",
                 f"avg({v}) AS me{i}", uniq.format(v) + f" AS nu{i}"]
    # aggregate-only selectExpr: one global aggregate, like df.agg
    row = df.selectExpr(*aggs).first()
    out = [
        {
            "Feature": c,
            "Minimum": _round_half_away(row[f"mn{i}"], 2),
            "Maximum": _round_half_away(row[f"mx{i}"], 2),
            "Median": _round_half_away(row[f"me{i}"], 2),
            "Num avg. unique (batch)": int(row[f"nu{i}"]),
        }
        for i, c in enumerate(numeric_columns)
    ]
    return pd.DataFrame(
        out, columns=["Feature", "Minimum", "Maximum", "Median",
                      "Num avg. unique (batch)"],
    )


def write_rare_value_reports(result: RankingResult, output_folder: str,
                             numeric_columns: set[str] | None = None,
                             ) -> list[str]:
    """``rare_values.tsv`` + ``feature_sparsity_summary.tsv`` —
    core_utils.py:600-653 ``summarize_rare_counts``, fed by the
    mergeable :class:`RareValueCounter` sketches instead of the
    reference's global mutable dict."""
    import pandas as pd

    os.makedirs(output_folder, exist_ok=True)
    numeric_columns = numeric_columns or set()
    rows = []
    per_col_rare: dict[str, int] = {}
    for (col, kind), sk in sorted(result.sketches.items()):
        if kind != "rare":
            continue
        rare = sk.rare_values()
        per_col_rare[col] = len(rare)
        for val, cnt in sorted(rare.items(), key=lambda kv: str(kv[0])):
            rows.append([col, val, cnt])
    out_df = pd.DataFrame(rows, columns=["Namespace", "value", "Count"])
    out_df.to_csv(os.path.join(output_folder, "rare_values.tsv"),
                  sep="\t", index=False)

    final_rows = []
    for col, n_rare in sorted(per_col_rare.items(),
                              key=lambda kv: -kv[1]):
        card = max(1, int(result.cardinalities.get(col, 1)))
        final_rows.append({
            "rare_proportion": _round_half_away(100.0 * n_rare / card, 2),
            "feature_type": "numeric" if col in numeric_columns
            else "nominal",
            "feature_name": col,
        })
    final_df = pd.DataFrame(
        final_rows,
        columns=["rare_proportion", "feature_type", "feature_name"],
    ).sort_values(by=["rare_proportion"])
    final_df.to_csv(
        os.path.join(output_folder, "feature_sparsity_summary.tsv"),
        sep="\t", index=False,
    )
    return ["rare_values.tsv", "feature_sparsity_summary.tsv"]


def write_reports(result: RankingResult, cfg: RankingConfig,
                  output_folder: str,
                  memory: dict[str, float] | None = None,
                  timings: list[dict] | None = None,
                  three_mr=None,
                  numeric_stats=None,
                  numeric_columns: set[str] | None = None) -> list[str]:
    os.makedirs(output_folder, exist_ok=True)
    written = []
    if numeric_stats is not None and len(numeric_stats):
        numeric_stats.to_csv(
            os.path.join(output_folder, "numeric_feature_statistics.tsv"),
            sep="\t", index=False,
        )
        written.append("numeric_feature_statistics.tsv")
    if any(kind == "rare" for (_, kind) in result.sketches):
        written += write_rare_value_reports(
            result, output_folder, numeric_columns=numeric_columns,
        )

    def _path(name: str) -> str:
        written.append(name)
        return os.path.join(output_folder, name)

    result.pairwise.to_csv(_path("pairwise_ranks.tsv"), sep="\t", index=False)
    result.singles.to_csv(_path("feature_singles.tsv"), sep="\t", index=False)

    if cfg.interaction_order > 1:
        agg = aggregate_interactions(result.singles, cfg.heuristic,
                                     cfg.interaction_order)
        agg.to_csv(_path("feature_singles_aggregated.tsv"), sep="\t",
                   index=False)

    transformers_only = result.singles[
        result.singles["Feature"].str.contains("_tr_")
    ]
    transformers_only.to_csv(
        _path("feature_singles_transformers_only_imp.tsv"), sep="\t",
        index=False,
    )

    if memory:
        import pandas as pd

        pd.Series(memory, name="NormalizedSize").to_csv(
            _path("memory.tsv"), sep="\t",
        )

    # value_repetitions.json — the reference's repetition profile
    # (task_ranking.py:282-288): per column, how many distinct values
    # repeat more than {0, 1, 10, 100, ...} times
    out_dict = {}
    for (col, kind), sk in sorted(result.sketches.items()):
        if kind != "counter":
            continue
        hist = np.array(list(sk.counts.values())) if len(sk) else np.array([0])
        out_dict[col] = {
            str(t): int((hist > t).sum())
            for t in [0] + [10 ** x for x in range(6)]
        }
    with open(_path("value_repetitions.json"), "w") as f:
        json.dump(out_dict, f)

    if result.planner is not None:
        with open(_path("combination_estimation_counts.json"), "w") as f:
            json.dump(
                {k.replace("\x1f", ","): v
                 for k, v in result.planner.state().items()}, f,
            )

    with open(_path("timings.json"), "w") as f:
        json.dump(timings or [], f)
    with open(_path("arguments.json"), "w") as f:
        json.dump(dataclasses.asdict(cfg), f, default=str)

    if three_mr is not None:
        three_mr.to_csv(_path("3mr_ranks.tsv"), sep="\t", index=False)
    return written
