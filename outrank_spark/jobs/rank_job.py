"""spark-submit CLI entry — the reference's ``outrank`` command
surface (``__main__.py:38-293``) over the Spark engine.

Run it any of three ways::

    spark-submit --py-files outrank_spark.zip jobs/rank_job.py \
        --task ranking --data_path ./data --data_source csv-raw \
        --heuristic MI-numba-randomized --output_folder ./out

    python -m outrank_spark.jobs.rank_job --task selftest

    python jobs/rank_job.py --task data_generator --num_synthetic_rows 100000

Flag names and defaults mirror the reference parser 1:1 (string
booleans included, e.g. ``--target_ranking_only True``), so existing
invocations port unchanged.  Spark-only knobs are additive:
``--spark_master`` (default: whatever spark-submit set, else
``local[*]``) and ``--shuffle_partitions``.

Task dispatch (reference ``__main__.py:255-293``):

    ranking / feature_summary_transformers / identify_rare_values
        -> the ranking pipeline (run_ranking + write_reports)
    ranking_summary      -> re-derive singles files from pairwise TSV
    instance_ranking     -> per-label instance-metric histograms
    data_generator       -> synthetic csv-raw dataset folder
    selftest             -> generate 100k x 100, rank, assert the
                            201-row / label-(2; 100) golden
                            (task_selftest.py:19-42)
    visualization        -> artifact exports: data TSVs + standalone
                            SVG renderings (raster images additionally
                            when matplotlib is importable)
"""
from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import time

from outrank_spark.hashing import sql_ident

logging.basicConfig(format="%(asctime)s - %(message)s",
                    datefmt="%d-%b-%y %H:%M:%S")
logger = logging.getLogger("outrank-spark")
logger.setLevel(logging.INFO)


def _flag(v) -> bool:
    return str(v).strip().lower() in ("true", "1", "yes")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        description="Fast feature screening for sparse data sets "
                    "(PySpark engine).",
    )
    # --- reference flags (__main__.py:38-253), same names/defaults ---
    p.add_argument("--task", type=str, default="all")
    p.add_argument("--minibatch_size", type=int, default=2 ** 14)
    p.add_argument("--output_folder", type=str, default="ranking_outputs")
    p.add_argument("--data_source", type=str, default="ob-vw")
    p.add_argument("--data_path", type=str, default=None)
    p.add_argument("--subsampling", type=int, default=10)
    p.add_argument("--combination_number_upper_bound", type=int,
                   default=2 ** 15)
    p.add_argument("--missing_value_symbols", type=str, default=",{}")
    p.add_argument("--heuristic", type=str, default="MI-numba-randomized")
    p.add_argument("--include_noise_baseline_features", type=str,
                   default="False")
    p.add_argument("--include_cardinality_in_feature_names", type=str,
                   default="True")
    p.add_argument("--image_format", type=str, default="pdf")
    p.add_argument("--num_threads", type=int, default=8)
    p.add_argument("--label_column", type=str, default="label")
    p.add_argument("--max_unique_hist_constraint", type=int, default=30_000)
    p.add_argument("--transformers", type=str, default="none")
    p.add_argument("--rare_value_count_upper_bound", type=int, default=1)
    p.add_argument("--feature_set_focus", type=str, default=None)
    p.add_argument("--interaction_order", type=int, default=1)
    p.add_argument("--reference_model_JSON", type=str, default="")
    p.add_argument("--target_ranking_only", type=str, default="True")
    p.add_argument("--explode_multivalue_features", type=str,
                   default="False")
    p.add_argument("--subfeature_mapping", type=str, default="False")
    p.add_argument("--num_synthetic_features", type=int, default=100)
    p.add_argument("--tldr", type=str, default="True")
    p.add_argument("--num_synthetic_rows", type=int, default=1000000)
    p.add_argument("--generator_type", type=str, default="naive")
    p.add_argument("--output_synthetic_df_name", type=str,
                   default="test_data_synthetic")
    p.add_argument("--disable_tqdm", default="False",
                   choices=["False", "True"])
    p.add_argument("--mi_stratified_sampling_ratio", type=float,
                   default=1.0)
    # --- Spark-only knobs --------------------------------------------
    p.add_argument("--spark_master", type=str, default=None)
    p.add_argument("--shuffle_partitions", type=int, default=None)
    # resumable ranking (north rule): deterministic hash slices, each
    # checkpointed atomically; rerunning after a crash skips done slices
    p.add_argument("--checkpoint_dir", type=str, default="")
    p.add_argument("--checkpoint_slices", type=int, default=8)
    return p


def _get_spark(args):
    # local-mode python workers inherit PYTHONPATH from the gateway
    # env — make the package importable on executors when invoked as
    # plain `python jobs/rank_job.py` (spark-submit users pass
    # --py-files instead, which also works)
    pkg_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    os.environ["PYTHONPATH"] = (
        pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    )

    from pyspark.sql import SparkSession


    b = SparkSession.builder.appName("outrank-spark")
    if args.spark_master:
        b = b.master(args.spark_master)
    elif "SPARK_MASTER" not in os.environ and not os.environ.get(
            "SPARK_ENV_LOADED"):
        # plain `python jobs/rank_job.py` without spark-submit
        b = b.master(os.environ.get("SPARK_GRAFT_MASTER", "local[*]"))
    if not os.environ.get("SPARK_ENV_LOADED"):
        # local-mode driver IS the executor: Spark's 1g default heap is
        # too tight for wide (100+ column) csv scans + sketch
        # state; spark-submit users size their own cluster instead
        b = b.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        )
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions",
                     str(args.shuffle_partitions))
    b = b.config("spark.sql.adaptive.enabled", "true")
    # results reach pandas (the triplets' toPandas) through Arrow
    b = b.config("spark.sql.execution.arrow.pyspark.enabled", "true")
    return b.getOrCreate()


def _config_from_args(args, feature_columns=None):
    from outrank_spark.plans import RankingConfig

    missing = tuple(args.missing_value_symbols.split(","))
    rare = (args.rare_value_count_upper_bound
            if args.task == "identify_rare_values" else None)
    return RankingConfig(
        label_column=args.label_column,
        heuristic=args.heuristic,
        target_ranking_only=_flag(args.target_ranking_only),
        combination_number_upper_bound=args.combination_number_upper_bound,
        minibatch_size=args.minibatch_size,
        subsampling=max(1, args.subsampling),
        mi_stratified_sampling_ratio=args.mi_stratified_sampling_ratio,
        include_cardinality_in_feature_names=_flag(
            args.include_cardinality_in_feature_names),
        missing_value_symbols=missing,
        feature_columns=feature_columns,
        interaction_order=args.interaction_order,
        max_unique_hist_constraint=args.max_unique_hist_constraint,
        reference_model_json=args.reference_model_JSON,
        rare_value_count_upper_bound=rare,
    )


def _enrich(df, info, args):
    """The reference's per-batch enrichment chain, applied once to the
    lazy relation (core_ranking.py:184-359 + ranking_transformers):
    multivalue explode -> subfeatures -> transformers -> interactions
    -> noise/baseline controls."""
    from outrank_spark.operators.interactions import (
        explode_multivalue_features,
        with_interaction_features,
        with_noise_features,
    )
    from outrank_spark.operators.transformers import (
        enrich_with_transformations,
        with_baseline_features,
    )

    new_cols: list[str] = []
    if args.explode_multivalue_features not in ("False", "", None):
        feats = args.explode_multivalue_features.split(";")
        df, names = explode_multivalue_features(df, feats)
        new_cols += names
    if args.subfeature_mapping not in ("False", "", None):
        from outrank_spark.operators.interactions import with_subfeatures

        df, names = with_subfeatures(df, args.subfeature_mapping)
        new_cols += names
    if args.transformers not in ("none", "", None):
        df, names = enrich_with_transformations(
            df, sorted(info.numeric_columns), args.transformers,
        )
        new_cols += names
    if args.interaction_order > 1 or args.heuristic.endswith("-3mr"):
        df, names = with_interaction_features(
            df, args.label_column,
            interaction_order=args.interaction_order,
            is_3mr=args.heuristic.endswith("-3mr"),
        )
        new_cols += names
    if _flag(args.include_noise_baseline_features):
        df, names = with_noise_features(df, args.label_column)
        new_cols += names
        df, names = with_baseline_features(df)
        new_cols += names
    if len(new_cols) > 128:
        # Wide vaults (verbose: ~200 exprs/column) produce a relation
        # whose every downstream stage would fuse hundreds of deep
        # expression trees into one whole-stage-codegen method —
        # janino's compile alone blows the driver heap.  Materialize
        # the enriched projection once; downstream plans (sketch scan,
        # scoring) then codegen over plain columns, and the expression
        # forest is computed once instead of once per pass.
        df = df.localCheckpoint(eager=False)
    return df, new_cols


def _checkpoint_slicing(columns, n: int) -> tuple[str, str]:
    """(accumulator context, SQL slice key) of ``n`` checkpoint slices.
    The key is a salted hash: the subsample keeps only rows whose
    unsalted hash of the same columns is 0 mod ``--subsampling``, so
    that hash mod ``n`` would leave slices empty.  The context names
    the salted key, so state cut by the former key is refused."""
    idents = ", ".join(map(sql_ident, columns))
    return (f"cli-slices={n},salted",
            f"pmod(xxhash64('checkpoint-slice', {idents}), {n})")


def _run_ranking_checkpointed(spark, df, cfg, args):
    """Resumable ranking (north rule: resume mid-scan with lineage +
    metrics): the (subsampled) input is split into ``checkpoint_slices``
    deterministic hash slices; each slice is one accumulator batch —
    sketches folded, pairs scored, triplets appended, ALL persisted in
    one atomic file (streaming/state.py).  Rerunning the same
    command after a crash restores state and skips completed slices.
    Per-slice metrics (rows, pairs, wall seconds) land in
    ``checkpoint_metrics.json``; the state file is removed on success,
    mirroring the reference's checkpoint cleanup (task_ranking.py:303).

    Median semantics: the batch grouping is the slice grouping, exactly
    like the reference's median-across-minibatches (a different batch
    partition than a non-checkpointed run, same estimator).

    Cost note: each slice filters a fresh scan, so the input is read
    ``checkpoint_slices`` times (the filter pushes to the scan but
    parquet decode repeats) — the price of slice-granular resume;
    size slices to the failure domain, not the core count."""
    from outrank_spark.streaming.ranking_stream import (
        StreamingRankingAccumulator,
    )

    columns = cfg.feature_columns or list(df.columns)
    # subsampling happens inside process_batch (the accumulator owns
    # it), so slices are cut from the full relation
    sub = df.selectExpr(*map(sql_ident, columns))
    n = max(1, args.checkpoint_slices)
    context, slice_key = _checkpoint_slicing(columns, n)
    acc = StreamingRankingAccumulator(
        cfg, state_dir=args.checkpoint_dir, context=context)
    done = {b["batch_id"] for b in acc.batches_seen}
    if done:
        logger.info("checkpoint resume: slices %s already done",
                    sorted(done))
    for i in range(n):
        acc.process_batch(sub.where(f"{slice_key} = {i}"), batch_id=i)
    result = acc.result()
    os.makedirs(args.output_folder, exist_ok=True)
    with open(os.path.join(args.output_folder,
                           "checkpoint_metrics.json"), "w") as f:
        json.dump(acc.batches_seen, f)
    acc.store.clear()
    return result


def _task_ranking(spark, args) -> None:
    from outrank_spark.plans.ranking_job import run_ranking
    from outrank_spark.plans.reports import (
        feature_memory_estimate,
        numeric_feature_statistics,
        write_reports,
    )
    from outrank_spark.sources.readers import (
        invalid_line_summary,
        read_dataset,
    )

    t0 = time.time()
    timings = []
    info = read_dataset(spark, args.data_path, args.data_source)
    df, derived = _enrich(info.df, info, args)

    columns = list(df.columns)
    if args.feature_set_focus:
        focus = set(args.feature_set_focus.split(",")) | {args.label_column}
        columns = [c for c in columns if c in focus]
    cfg = _config_from_args(args, feature_columns=columns)

    if args.checkpoint_dir:
        result = _run_ranking_checkpointed(spark, df, cfg, args)
    else:
        result = run_ranking(spark, df, cfg)
    # after the fold, whose count and sketch scan are full passes: the
    # reader's observed count is read without a job.  The actions
    # before the fold (transformer and interaction aggregates) are
    # full single passes too; a partial action or a sort there would
    # leave a partial or a multiple count.
    n_bad, samples = invalid_line_summary(info, observed=True)
    if n_bad:
        logger.info("%d invalid lines (first %d kept for "
                    "inspection)", n_bad, len(samples))
    timings.append({"phase": "ranking",
                    "wall_sec": round(time.time() - t0, 3)})

    three_mr = None
    if args.heuristic.endswith("-3mr"):
        from outrank_spark.plans.three_mr import three_mr_from_triplets

        three_mr = three_mr_from_triplets(
            result.triplets_raw, args.label_column,
        )

    numeric_stats = numeric_feature_statistics(
        df, sorted(info.numeric_columns),
    ) if info.numeric_columns else None
    memory = feature_memory_estimate(result.sketches, columns)
    write_reports(
        result, cfg, args.output_folder, memory=memory, timings=timings,
        three_mr=three_mr, numeric_stats=numeric_stats,
        numeric_columns=set(info.numeric_columns),
    )
    with open(os.path.join(args.output_folder, "arguments.json"), "w") as f:
        json.dump(vars(args), f, default=str)
    if _flag(args.tldr):
        print(result.singles.head(20).to_string())


def _task_ranking_summary(spark, args) -> None:
    """task_summary.py: singles files re-derived from pairwise TSV."""
    import pandas as pd

    from outrank_spark.plans.ranking_job import (
        aggregate_interactions,
        feature_singles_summary,
    )

    pairwise = pd.read_csv(
        os.path.join(args.output_folder, "pairwise_ranks.tsv"), sep="\t",
    )
    singles = feature_singles_summary(
        pairwise, args.label_column, args.heuristic,
    )
    singles.to_csv(os.path.join(args.output_folder, "feature_singles.tsv"),
                   sep="\t", index=False)
    if args.interaction_order > 1:
        agg = aggregate_interactions(singles, args.heuristic,
                                     args.interaction_order)
        agg.to_csv(
            os.path.join(args.output_folder,
                         "feature_singles_aggregated.tsv"),
            sep="\t", index=False,
        )
    if _flag(args.tldr):
        print(singles.head(20).to_string())


def _task_data_generator(spark, args) -> None:
    """csv-raw synthetic dataset folder (task_generators.py).

    ``--generator_type cc`` routes through the distributed
    CategoricalClassification companion (sources/categorical_generator
    — the reference exposes cc_generator.py as a library only; here
    it is also a CLI path, generated as a Spark plan so the row count
    can exceed driver memory)."""
    out_dir = args.output_synthetic_df_name
    os.makedirs(out_dir, exist_ok=True)
    if args.generator_type == "cc":
        import glob
        import tempfile

        from outrank_spark.sources.categorical_generator import (
            generate_cc_dataframe,
        )

        df = generate_cc_dataframe(
            spark, n_features=args.num_synthetic_features,
            n_samples=args.num_synthetic_rows, seed=123,
        ).drop("row_id")
        # csv-raw layout is one data.csv: write executor-side (a
        # coalesce(1) task STREAMS rows — the driver never holds the
        # dataset, unlike toPandas()) then move the part file in place
        with tempfile.TemporaryDirectory(dir=out_dir) as tmp:
            target = os.path.join(tmp, "csv")
            df.coalesce(1).write.option("header", True).csv(target)
            part = glob.glob(os.path.join(target, "part-*.csv"))[0]
            os.replace(part, os.path.join(out_dir, "data.csv"))
        logger.info("Wrote %d x %d cc dataset to %s/data.csv",
                    args.num_synthetic_rows,
                    args.num_synthetic_features + 1, out_dir)
        return
    else:
        from outrank_spark.sources.ranking_matrix import (
            ranking_matrix_pandas,
        )

        pdf = ranking_matrix_pandas(
            args.num_synthetic_features, args.num_synthetic_rows,
            args.generator_type, seed=123,
        )
    pdf.to_csv(os.path.join(out_dir, "data.csv"), index=False)
    logger.info("Wrote %d x %d synthetic matrix to %s/data.csv",
                pdf.shape[0], pdf.shape[1], out_dir)


def _task_instance_ranking(spark, args) -> None:
    from outrank_spark.operators.instance_ranking import instance_histograms
    from outrank_spark.sources.readers import read_dataset

    info = read_dataset(spark, args.data_path, args.data_source)
    hist = instance_histograms(info.df, args.label_column).toPandas()
    os.makedirs(args.output_folder, exist_ok=True)
    out = os.path.join(args.output_folder, "instance_histograms.tsv")
    hist.to_csv(out, sep="\t", index=False)
    logger.info("Wrote instance histograms to %s", out)


def _task_selftest(spark, args) -> None:
    """task_selftest.py:19-42 through the CLI codepaths."""
    import pandas as pd

    gen = argparse.Namespace(**vars(args))
    gen.num_synthetic_rows = 100000
    gen.output_synthetic_df_name = "test_data_synthetic"
    _task_data_generator(spark, gen)

    rank = argparse.Namespace(**vars(args))
    rank.task = "ranking"
    rank.data_path = "test_data_synthetic"
    rank.data_source = "csv-raw"
    rank.output_folder = "ranking_outputs"
    _task_ranking(spark, rank)

    dfx = pd.read_csv("ranking_outputs/pairwise_ranks.tsv", sep="\t")
    assert dfx.shape[0] == 201, dfx.shape
    assert dfx.shape[1] == 3, dfx.shape
    top = dfx.iloc[-1]
    assert (top["FeatureA"] == "label-(2; 100)"
            or top["FeatureB"] == "label-(2; 100)"), top.tolist()
    for path in ("ranking_outputs", "test_data_synthetic"):
        if os.path.isdir(path):
            shutil.rmtree(path)
    logger.info("All tests passed for heuristic: %s", args.heuristic)
    print("SELFTEST OK")


def _task_visualization(args) -> None:
    """Visualization artifacts from pairwise_ranks.tsv (reference
    task_visualization.py:13-26): data TSVs plus dependency-free SVG
    renderings (plans/svg_render.py); raster images additionally when
    matplotlib is importable."""
    import pandas as pd

    from outrank_spark.plans.visualization import visualize_all

    triplets = pd.read_csv(
        os.path.join(args.output_folder, "pairwise_ranks.tsv"), sep="\t",
    )
    written = visualize_all(
        triplets,
        args.output_folder,
        label=args.label_column,
        reference_json=args.reference_model_JSON,
        image_format=args.image_format,
        heuristic=args.heuristic,
    )
    logger.info("visualization artifacts: %s", ", ".join(written))


def run_task(spark, args) -> None:
    # reference __main__.py:268: all = ranking, summary, visualization
    tasks = ([args.task] if args.task != "all"
             else ["ranking", "ranking_summary", "visualization"])
    for task in tasks:
        logger.info("Proceeding with task: %s ..", task)
        if task in ("ranking", "feature_summary_transformers",
                    "identify_rare_values"):
            _task_ranking(spark, args)
        elif task == "ranking_summary":
            _task_ranking_summary(spark, args)
        elif task == "data_generator":
            _task_data_generator(spark, args)
        elif task == "instance_ranking":
            _task_instance_ranking(spark, args)
        elif task == "selftest":
            _task_selftest(spark, args)
        elif task == "visualization":
            _task_visualization(args)
        else:
            logger.info("Warning, the selected task: %s does not exist.",
                        task)


def main(argv=None) -> None:
    args = build_parser().parse_args(argv)
    if args.data_path is None and args.task not in (
            "data_generator", "selftest"):
        logger.error("Please specify data set name (--data_path).")
        raise SystemExit(1)
    spark = _get_spark(args)
    try:
        run_task(spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
