"""The three ranking workloads.

Each workload generates its inputs from the seed in ``setup``, runs
one operation per ``op`` call (a ranking call, a CLI run, or one
micro-batch), and checks every output.  Layers are called through
their modules' attributes (``ranking_job.run_ranking``, ...) so the
traced run can wrap them from outside.
"""
from __future__ import annotations

import os
import shutil
from functools import reduce

from perfbench import checks

LABEL = "label"
HLL_P = 16
PAGE_TOKENS = 16   # words per generated page; features bucket the length


def page_features(pages):
    """The 8 web-derived base features of a pages table; ``lang`` is
    the label."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.derived import with_web_features

    return with_web_features(pages).select(
        "host", "tld",
        F.col("lang").alias(LABEL),
        (F.col("text_len") / 100).cast("long").cast("string")
        .alias("len_bucket"),
        (F.col("n_token") / 10).cast("long").cast("string")
        .alias("tok_bucket"),
        F.date_format("ts_day", "yyyy-MM-dd").alias("day"),
        F.date_format("ts_hour", "HH").alias("hour"),
        F.substring(F.split(F.col("url"), "/").getItem(3), 1, 2)
        .alias("path_prefix"),
    )


def with_interactions(base):
    """Base features plus their order-2 interactions (29 columns)."""
    from outrank_spark.operators import interactions

    feats, _ = interactions.with_interaction_features(
        base, label_column=LABEL, interaction_order=2, as_hex=False)
    return feats


def exact_distinct(df) -> dict[str, int]:
    """Exact distinct count per column, NULL counted as a value (the
    sketches hash it like one)."""
    return {c: int(n) for c, n in
            df.toPandas().nunique(dropna=False).items()}


def ranking_config(**kw):
    from outrank_spark.plans.ranking_job import RankingConfig

    return RankingConfig(hll_p=HLL_P, **kw)


def planned_pairs(cfg, columns):
    from outrank_spark.plans.combinations import CombinationPlanner

    return CombinationPlanner(seed=cfg.seed).plan(
        columns, cfg.label_column, cfg.heuristic, cfg.target_ranking_only,
        cfg.combination_number_upper_bound)


class Workload:
    """One workload: inputs from the seed, one operation per ``op``
    call, a check of every output."""

    name = ""
    why = ""
    rows_per_op = 0
    warmup_ops = 1
    min_ops = 1               # operations per run, however long they take
    card_err = float("nan")   # set by the checks

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None

    def setup(self, spark) -> None:
        """Generate and materialise the inputs on ``spark``."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed reference values for the checks."""

    def warmup(self) -> None:
        for _ in range(self.warmup_ops):
            self.op(0)

    def op(self, i: int):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    # a last operation on the run's accumulated state, timed apart and
    # checked by check_final; None when the workload has none
    final_op = None

    def check_final(self, out) -> list[str]:
        raise NotImplementedError

    def path_metrics(self) -> dict[str, float]:
        """Layer counts the workload itself observes."""
        return {}


class PagesMixed(Workload):
    name = "pages-mixed"
    why = ("run_ranking over a cached 2^15-page table, 29 columns, full "
           "pair triangle: pair scoring is on the critical path, the "
           "sketch scan overlaps it, no reader")
    rows_per_op = 2 ** 15

    def setup(self, spark):
        from outrank_spark.sources import generate_pages

        self.spark = spark
        pages = generate_pages(spark, self.rows_per_op, seed=self.seed,
                               max_tokens=PAGE_TOKENS)
        self.base = page_features(pages).cache()
        self.base.count()

    def prepare(self):
        self.cfg = ranking_config(subsampling=1, target_ranking_only=False)
        feats = with_interactions(self.base)
        self.columns = list(feats.columns)
        self.pairs = planned_pairs(self.cfg, self.columns)
        self.exact = exact_distinct(feats)

    def op(self, i):
        from outrank_spark.plans import ranking_job

        return ranking_job.run_ranking(
            self.spark, with_interactions(self.base), self.cfg)

    def check(self, res):
        self.card_err = checks.card_rel_err_max(res.cardinalities,
                                                self.exact)
        return (checks.check_pairwise(res.triplets_raw, self.pairs)
                + checks.check_cardinality(res.cardinalities, self.exact,
                                           HLL_P))


class CsvWideTarget(Workload):
    name = "csv-wide-target"
    why = ("CLI --task ranking, csv-raw 2,000 rows x (100 features + "
           "label), --subsampling 10: reader (known defect: CSV parsed per "
           "field), subsample, 101 counters, reports; 101 pairs")
    rows = 2_000
    rows_per_op = rows
    min_ops = 2   # a call takes most of a run: the median is of two or more
    num_features = 100
    subsampling = 10
    needles = ("f30", "f31")   # bench_naive: f30 is the label, f31 = 19*f30
    # what write_reports writes for this configuration, plus the CLI's
    # arguments.json
    report_files = (
        "pairwise_ranks.tsv", "feature_singles.tsv",
        "feature_singles_transformers_only_imp.tsv", "memory.tsv",
        "value_repetitions.json", "combination_estimation_counts.json",
        "timings.json", "arguments.json",
    )

    def setup(self, spark):
        from outrank_spark.sources.ranking_matrix import ranking_matrix_pandas

        self.spark = spark
        self.data = os.path.join(self.work, "csv-data")
        os.makedirs(self.data, exist_ok=True)
        pdf = ranking_matrix_pandas(self.num_features, self.rows,
                                    "bench_naive", seed=self.seed)
        pdf.to_csv(os.path.join(self.data, "data.csv"), index=False)

    def warmup(self):
        """The warm-up call, then the exact distinct counts of the rows
        the CLI subsamples (cheaper on the warm session)."""
        from outrank_spark.operators.pair_scoring import (
            deterministic_subsample,
        )

        super().warmup()
        df = self.spark.read.option("header", True).csv(
            os.path.join(self.data, "data.csv"))
        self.exact = exact_distinct(deterministic_subsample(
            df, self.subsampling, key_cols=list(df.columns)))

    def op(self, i):
        from outrank_spark.jobs import rank_job

        out = os.path.join(self.work, f"csv-out-{i}")
        args = rank_job.build_parser().parse_args([
            "--task", "ranking", "--data_source", "csv-raw",
            "--data_path", self.data, "--output_folder", out,
            "--subsampling", str(self.subsampling), "--tldr", "False",
        ])
        rank_job.run_task(self.spark, args)
        return out

    def check(self, out):
        import pandas as pd

        # the CLI leaves hll_p unset: the reference precision
        from outrank_spark.sketches.hll import ParityHyperLogLog

        problems = checks.check_report_files(out, self.report_files)
        if problems:
            return problems
        singles = pd.read_csv(os.path.join(out, "feature_singles.tsv"),
                              sep="\t")
        pairwise = pd.read_csv(os.path.join(out, "pairwise_ranks.tsv"),
                               sep="\t")
        cards = dict(checks.split_feature_name(f)
                     for f in pd.concat([pairwise["FeatureA"],
                                         pairwise["FeatureB"]]))
        self.card_err = checks.card_rel_err_max(cards, self.exact)
        shutil.rmtree(out)
        return (checks.check_top_features(singles, LABEL, self.needles)
                + checks.check_cardinality(cards, self.exact,
                                           ParityHyperLogLog.P))


class StreamMicrobatch(Workload):
    name = "stream-microbatch"
    why = ("StreamingRankingAccumulator + state dir, one closed-loop client "
           "feeding 2^14-row pages-mixed micro-batches: many small jobs, "
           "scoring in one task, state rewritten per batch")
    rows_per_op = 2 ** 14
    distinct_batches = 2   # generated in setup, fed in turn
    warmup_ops = 2         # latencies still fall over the first batches

    def setup(self, spark):
        from pyspark.sql import functions as F

        from outrank_spark.sources import generate_pages

        self.spark = spark
        # one range partition per micro-batch (spark.range splits the
        # rows evenly), so the partition id names a row's micro-batch
        pages = generate_pages(spark, self.distinct_batches * self.rows_per_op,
                               seed=self.seed,
                               partitions=self.distinct_batches,
                               max_tokens=PAGE_TOKENS)
        table = (page_features(pages)
                 .withColumn("_batch", F.spark_partition_id()).cache())
        table.count()
        self.bases = [table.where(F.col("_batch") == k).drop("_batch")
                      for k in range(self.distinct_batches)]

    def prepare(self):
        from outrank_spark.streaming.ranking_stream import (
            StreamingRankingAccumulator,
        )

        self.cfg = ranking_config(subsampling=1, target_ranking_only=False)
        self.columns = list(with_interactions(self.bases[0]).columns)
        self.pairs = planned_pairs(self.cfg, self.columns)
        self.state_dir = os.path.join(self.work, "stream-state")
        self.acc = StreamingRankingAccumulator(self.cfg,
                                               state_dir=self.state_dir)
        self.fed: list[int] = []
        self.state_bytes: list[int] = []

    def warmup(self):
        from outrank_spark.streaming.ranking_stream import (
            StreamingRankingAccumulator,
        )

        acc = StreamingRankingAccumulator(
            self.cfg, state_dir=os.path.join(self.work, "stream-warmup"))
        for k in range(self.warmup_ops):
            acc.process_batch(
                with_interactions(self.bases[k % self.distinct_batches]),
                batch_id=k)

    def op(self, i):
        k = (i - 1) % self.distinct_batches
        self.acc.process_batch(with_interactions(self.bases[k]), batch_id=i)
        self.fed.append(k)
        self.state_bytes.append(
            os.path.getsize(os.path.join(self.state_dir,
                                         "ranking_state.bin")))
        return self.acc.batches_seen[-1]

    def check(self, rec):
        want = {"rows": self.rows_per_op, "pairs": len(self.pairs)}
        got = {k: rec.get(k) for k in want}
        return [] if got == want else [f"batch record {got} != {want}"]

    def path_metrics(self):
        """Bytes the accumulator's state rewrites cost over the run."""
        total = sum(self.state_bytes)
        return {
            "ranking_stream.bytes_written_total": total,
            "ranking_stream.write_amplification": total / self.state_bytes[-1],
        }

    def final_op(self):
        return self.acc.result()

    def check_final(self, res):
        """The accumulated ranking covers every planned pair, and the
        merged sketches equal one build over all fed micro-batches."""
        from outrank_spark.operators.sketch_build import build_sketches
        from outrank_spark.plans.ranking_job import sketch_plan_for

        def union(batches):
            return reduce(lambda a, b: a.unionAll(b),
                          [with_interactions(self.bases[k]) for k in batches])

        # a distinct count ignores repeats: count each fed batch once
        exact = exact_distinct(union(sorted(set(self.fed))))
        self.card_err = checks.card_rel_err_max(res.cardinalities, exact)
        ref = build_sketches(union(self.fed),
                             sketch_plan_for(self.cfg, self.columns))
        return (
            checks.check_pairwise(res.triplets_raw, self.pairs)
            + checks.check_cardinality(res.cardinalities, exact, HLL_P)
            + checks.check_blobs_equal(
                {k: sk.to_bytes() for k, sk in self.acc.sketches.items()},
                {k: sk.to_bytes() for k, sk in ref.items()})
        )


WORKLOADS = {w.name: w for w in (PagesMixed, CsvWideTarget,
                                 StreamMicrobatch)}
