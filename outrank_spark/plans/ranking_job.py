"""End-to-end feature-ranking pipeline (the flagship job).

Spark lifecycle equivalent of the reference's ``--task ranking`` +
``--task ranking_summary`` (task_ranking.py:37-303, task_summary.py;
SURVEY.md §3.1).  ``run_ranking`` folds its input as one batch of the
one ranking fold, ``StreamingRankingAccumulator.process_batch``
(``streaming/ranking_stream.py``), which the stream and the
checkpointed CLI run use too:

  1. deterministic subsample of the input (hash-mod, order-free);
  2. ONE vectorized scan building all per-column sketches
     (parity-HLL cardinality, bounded counter, coverage, encoded
     bytes) via the mergeable sketch operator, its partials folded on
     the driver (a ``treeAggregate`` past 5 partitions), concurrent
     with
  3. minibatch pair scoring: a row count sizes the reference's
     minibatches of ``minibatch_size`` rows, then batch assignment ->
     ``applyInArrow`` scoring of the pairs ``plan_pairs`` plans, one
     group per minibatch, or per chunk of its pairs while fewer
     minibatches than cores would leave cores idle -> raw triplets,
     collected to the driver in minibatch and plan order;
  4. ``finalize`` on the driver: symmetrised pandas median of each
     pair's minibatch scores (core_ranking.py:572-580),
     ``name-(card; cov)`` feature renaming (task_ranking.py:247-268),
     singles summary with min-max normalization for MI heuristics
     (task_summary.py:33-48).  Interaction re-aggregation and 3MR
     post-processing follow in the CLI.

Stages 2 and 3 are the only passes over the data besides the count.
Stage 3 shuffles the subsampled scoring columns (a minibatch split
into k pair chunks ships k copies of its rows); stage 2 merges one
small blob per partition and (column, kind), on the executors once
there are more than ~5 partitions.
"""
from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from outrank_spark.operators.pair_scoring import (
    deterministic_subsample,  # noqa: F401 -- perfbench's tracer wraps it here
    score_batches,  # noqa: F401 -- perfbench's tracer wraps it here
    symmetrize,  # noqa: F401 -- perfbench's tracer wraps it here
)
from outrank_spark.operators.sketch_build import (
    SketchPlan,
    build_sketches,  # noqa: F401 -- perfbench's tracer wraps it here
)
from outrank_spark.plans.combinations import CombinationPlanner

__all__ = ["RankingConfig", "RankingResult", "run_ranking", "plan_pairs",
           "finalize", "feature_singles_summary", "aggregate_interactions"]


@dataclass
class RankingConfig:
    """Mirrors the reference CLI defaults (__main__.py:38-253)."""

    label_column: str = "label"
    heuristic: str = "MI-numba-randomized"
    target_ranking_only: bool = True
    combination_number_upper_bound: int = 2 ** 15
    # a batch of n (subsampled) rows scores max(1, ceil(n /
    # minibatch_size)) minibatches, the reference's rule
    # (core_ranking.py:625-681); each pair's score is the median over
    # all minibatches of all batches.  ``MI-table-exact`` scores each
    # batch whole instead.
    minibatch_size: int = 2 ** 14
    subsampling: int = 1
    mi_stratified_sampling_ratio: float = 1.0
    include_cardinality_in_feature_names: bool = True
    missing_value_symbols: tuple[str, ...] = ("", "{}")
    feature_columns: list[str] | None = None
    interaction_order: int = 1
    max_unique_hist_constraint: int = 30_000
    seed: int = 123
    # parity-HLL precision: p=19 reproduces the reference bitwise;
    # smaller p bounds the per-partition blob collected (or
    # tree-merged) for very wide feature sets (name cardinalities cap
    # at 2^p, like the reference's 2^19)
    hll_p: int | None = None
    # optional reference-model JSON: candidates are scored conditioned
    # on the model's features, and pairs touching model features are
    # dropped (core_ranking.py:205-215; importance_estimator.py:55-71)
    reference_model_json: str = ""
    # when set, ride a RareValueCounter (bound = this value) along the
    # sketch scan — reference --rare_value_count_upper_bound
    # (__main__.py:156-161, default 1 there; None = off, the rare pass
    # is only needed for the identify_rare_values report)
    rare_value_count_upper_bound: int | None = None


@dataclass
class RankingResult:
    pairwise: pd.DataFrame          # FeatureA, FeatureB, Score (asc)
    singles: pd.DataFrame           # Feature, Score <heuristic>
    sketches: dict                  # SketchCollection
    coverage: dict[str, float]      # column -> mean non-missing %
    cardinalities: dict[str, int]   # column -> HLL estimate
    planner: CombinationPlanner = field(default=None)
    triplets_raw: pd.DataFrame = field(default=None)  # pre-rename medians


def sketch_plan_for(cfg: RankingConfig, columns: list[str]) -> SketchPlan:
    """The ranking job's per-column sketch plan: cardinality (parity
    HLL), bounded value counts, coverage, mean encoded bytes (for
    ``memory.tsv``), optional rare-value counter, with exact-count
    kinds guarded off derived (near-unique) columns."""
    sketch_kinds = {
        "parity_hll": ({} if cfg.hll_p is None else {"p": cfg.hll_p}),
        "counter": {"bound": cfg.max_unique_hist_constraint},
        "coverage": {"missing_symbols": cfg.missing_value_symbols},
        "bytes": {},
    }
    if cfg.rare_value_count_upper_bound is not None:
        sketch_kinds["rare"] = {"bound": cfg.rare_value_count_upper_bound}
    # derived values (interaction hashes, transformer outputs) are
    # near-unique — exact value state on them blows up the partials
    # collected to the driver; same guard for both exact-count kinds
    base_cols = [
        c for c in columns
        if " AND" not in c and "_tr_" not in c
        and not c.startswith(("CONTROL-", "SUBFEATURE", "MULTIEX-"))
    ]
    return SketchPlan(columns=columns, sketches=sketch_kinds,
                      kind_columns={"counter": base_cols, "rare": base_cols})


def run_ranking(spark, df: DataFrame, cfg: RankingConfig) -> RankingResult:
    """Rank ``df`` as one batch of the one ranking fold
    (``StreamingRankingAccumulator.process_batch``, in memory)."""
    from outrank_spark.streaming.ranking_stream import (
        StreamingRankingAccumulator,
    )

    acc = StreamingRankingAccumulator(cfg)
    acc.process_batch(df, batch_id=0)
    return acc.result()


def plan_pairs(planner: CombinationPlanner, cfg: RankingConfig,
               columns: list[str]) -> tuple[list, list[str]]:
    """One batch's pairs to score (``planner.plan`` updates the
    planner's prior counts), minus pairs touching the reference
    model's features, and those features (core_ranking.py:205-215)."""
    pairs = planner.plan(columns, cfg.label_column, cfg.heuristic,
                         cfg.target_ranking_only,
                         cfg.combination_number_upper_bound)
    if not cfg.reference_model_json:
        return pairs, []
    from outrank_spark.plans.reference_model import (
        filter_pairs,
        model_feature_names,
    )

    model_features = [m for m in model_feature_names(cfg.reference_model_json)
                      if m in columns]
    return filter_pairs(pairs, model_features), model_features


def finalize(sym: pd.DataFrame, sketches, cfg: RankingConfig,
             planner: CombinationPlanner) -> RankingResult:
    """The ranking from symmetrised per-minibatch triplets ``sym``
    (``feature_a, feature_b, score``, both orders of every pair), as the
    reference finalises it (core_ranking.py:572-580): the median score
    per ``(feature_a, feature_b)`` over the minibatches, NaN scores
    skipped; features renamed ``name-(card; cov)`` from the merged
    sketches (task_ranking.py:247-268); rows sorted by score; the
    singles summary.

    Driver memory: ``sym`` holds 2 x pairs x minibatches rows, the
    same rows the stream accumulates and the reference keeps.
    """
    grouped = (
        sym.groupby(["feature_a", "feature_b"], as_index=False)["score"]
        .median()
    )
    grouped.columns = ["FeatureA", "FeatureB", "Score"]
    raw = grouped.copy()
    columns = [c for (c, k) in sketches if k == "parity_hll"]
    cards = {c: sketches[(c, "parity_hll")].estimate() for c in columns}
    coverage = {c: sketches[(c, "coverage")].coverage() for c in columns}
    if cfg.include_cardinality_in_feature_names:
        def rename(name: str) -> str:
            cov = int(round(coverage[name], 1))
            return f"{name}-({cards[name]}; {cov})"

        grouped["FeatureA"] = grouped["FeatureA"].map(rename)
        grouped["FeatureB"] = grouped["FeatureB"].map(rename)
    pairwise = grouped.sort_values(by=["Score"]).reset_index(drop=True)

    singles = feature_singles_summary(pairwise, cfg.label_column,
                                      cfg.heuristic)
    return RankingResult(
        pairwise=pairwise, singles=singles, sketches=sketches,
        coverage=coverage, cardinalities=cards, planner=planner,
        triplets_raw=raw,
    )


def feature_singles_summary(pairwise: pd.DataFrame, label_column: str,
                            heuristic: str) -> pd.DataFrame:
    """Port of task_summary.py:20-48 — label-touching rows, partner
    feature extracted, per-feature median, min-max normalized for MI
    heuristics."""
    triplets = pairwise.sort_values(by="Score", ascending=False)
    ranking = []
    for _, row in triplets.iterrows():
        fa, fb, score = row["FeatureA"], row["FeatureB"], row["Score"]
        if label_column == fa.split("-")[0]:
            ranking.append([fb, score])
        elif label_column == fb.split("-")[0]:
            ranking.append([fa, score])
    col = f"Score {heuristic}"
    final_df = pd.DataFrame(ranking, columns=["Feature", col])
    final_df = (
        final_df.groupby("Feature").median().reset_index()
        .sort_values(by=col, ascending=False)
    )
    if "MI" in heuristic:
        lo, hi = final_df[col].min(), final_df[col].max()
        final_df[col] = (final_df[col] - lo) / (hi - lo)
    return final_df.reset_index(drop=True)


def aggregate_interactions(singles: pd.DataFrame, heuristic: str,
                           interaction_order: int) -> pd.DataFrame:
    """Port of task_summary.py:63-84 — median of member scores for
    ``A AND B`` interaction names."""
    score_col = f"Score {heuristic}"
    store: dict[str, list[float]] = {}
    for _, row in singles.iterrows():
        fname = row["Feature"]
        if "AND" in fname:
            for el in fname.split("-")[0].split(" AND "):
                store.setdefault(el, []).append(row[score_col])
    out_col = f"Combined score (order: {interaction_order}, {heuristic})"
    return pd.DataFrame(
        [{"Feature": k, out_col: float(np.median(v))} for k, v in store.items()],
    )
