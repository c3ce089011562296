"""spark-submit CLI entry — the reference's own acceptance gate run
through a real subprocess (task_selftest.py:19-42: 100k x 100 naive
matrix, default config -> 201 pairwise rows topped by label-(2; 100)).
"""
from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WRAPPER = os.path.join(REPO, "jobs", "rank_job.py")


def _run(args, cwd):
    return subprocess.run(
        [sys.executable, WRAPPER, *args,
         "--spark_master", "local[8]", "--shuffle_partitions", "16"],
        cwd=cwd, capture_output=True, text=True, timeout=560,
    )


class TestCliParser:
    def test_reference_flags_accepted(self):
        from outrank_spark.jobs import build_parser

        args = build_parser().parse_args([
            "--task", "ranking", "--data_path", "x",
            "--data_source", "csv-raw",
            "--heuristic", "MI-numba-randomized",
            "--target_ranking_only", "True",
            "--combination_number_upper_bound", "2048",
            "--num_threads", "8", "--interaction_order", "1",
            "--transformers", "fw-transformers",
            "--output_folder", "./ranking_outputs",
            "--subsampling", "100",
        ])
        assert args.subsampling == 100
        assert args.transformers == "fw-transformers"

    def test_session_collects_through_arrow(self, monkeypatch):
        """The CLI's session has the Arrow conversion on, as the
        benchmark's session has: its triplets reach pandas through
        Arrow."""
        from pyspark.sql import SparkSession

        from outrank_spark.jobs import rank_job

        # _get_spark prepends the package to PYTHONPATH; undone after
        monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
        monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                            lambda builder: builder._options)
        options = rank_job._get_spark(
            rank_job.build_parser().parse_args(["--task", "ranking"]))
        assert options["spark.sql.execution.arrow.pyspark.enabled"] == "true"

    def test_missing_data_path_exits(self):
        from outrank_spark.jobs.rank_job import main

        with pytest.raises(SystemExit):
            main(["--task", "ranking"])


_BAD_LINES = ["1,2,3", "0,1,2,3,4,5,6,7", "x"]


def _write_csv(folder, bad=()):
    """400-row csv-raw file of a label and six features, with the
    ``bad`` wrong-width lines spread through it."""
    folder.mkdir()
    rows = [",".join(["label", *[f"f{k}" for k in range(6)]])]
    rows += [",".join([str(i % 2), *[str((i * (k + 3)) % (k + 5))
                                     for k in range(6)]])
             for i in range(400)]
    for j, line in enumerate(bad):
        rows.insert(50 + 100 * j, line)
    (folder / "data.csv").write_text("\n".join(rows) + "\n")
    return str(folder)


def _ranking_args(data, out, *extra):
    from outrank_spark.jobs import rank_job

    return rank_job.build_parser().parse_args([
        "--task", "ranking", "--data_source", "csv-raw",
        "--data_path", data, "--subsampling", "2",
        "--output_folder", out, "--tldr", "False", *extra,
    ])


def _reports(folder):
    """{name: bytes} of a call's report files, without the ones that
    record the call itself (wall times, arguments, slice metrics)."""
    skip = {"timings.json", "arguments.json", "checkpoint_metrics.json"}
    return {name: open(os.path.join(folder, name), "rb").read()
            for name in sorted(os.listdir(folder)) if name not in skip}


class TestCliJobBudget:
    def test_csv_raw_ranking_call_job_budget(self, spark, tmp_path,
                                             count_jobs):
        """One in-process ``--task ranking --data_source csv-raw`` call
        on a small clean file runs at most 5 Spark jobs: the fold's row
        count (2 jobs under AQE), the sketch scan, whose partials are
        folded on the driver and which also yields memory.tsv, and the
        scoring with its shuffle.  The median over minibatches is taken
        on the driver, and the invalid-line count is observed by the
        fold's passes, not counted again."""
        from outrank_spark.jobs import rank_job

        data = _write_csv(tmp_path / "data")
        with count_jobs() as n:
            rank_job.run_task(spark, _ranking_args(data,
                                                   str(tmp_path / "out")))
        assert os.path.exists(tmp_path / "out" / "memory.tsv")
        assert n["jobs"] <= 5, n

    def test_dirty_file_job_budget(self, spark, tmp_path, count_jobs):
        """A file with wrong-width lines adds one job to the clean
        file's budget: the collect of the sampled invalid lines."""
        from outrank_spark.jobs import rank_job

        data = _write_csv(tmp_path / "data", _BAD_LINES)
        with count_jobs() as n:
            rank_job.run_task(spark, _ranking_args(data,
                                                   str(tmp_path / "out")))
        assert n["jobs"] <= 6, n


class TestCliInvalidLines:
    """The CLI reports wrong-width lines after the fold, from the
    count the reader observes during the fold's passes."""

    @pytest.fixture
    def summaries(self, monkeypatch, caplog):
        """(log lines about invalid lines, summaries the CLI took)."""
        import logging

        from outrank_spark.sources import readers

        seen = []
        summary = readers.invalid_line_summary

        def recording(*args, **kwargs):
            seen.append(summary(*args, **kwargs))
            return seen[-1]

        monkeypatch.setattr(readers, "invalid_line_summary", recording)
        caplog.set_level(logging.INFO, logger="outrank-spark")

        def logged():
            return [r.getMessage() for r in caplog.records
                    if "invalid lines" in r.getMessage()]

        return logged, seen

    def test_dirty_file_logs_count_and_samples(self, spark, tmp_path,
                                               summaries):
        from outrank_spark.jobs import rank_job

        logged, seen = summaries
        data = _write_csv(tmp_path / "data", _BAD_LINES)
        rank_job.run_task(spark, _ranking_args(data, str(tmp_path / "out")))
        assert seen == [(3, _BAD_LINES)]
        assert logged() == ["3 invalid lines (first 3 kept for inspection)"]

    def test_resume_with_every_slice_done_finishes(self, spark, tmp_path,
                                                   monkeypatch, summaries):
        """A resume that finds every slice done runs no pass over the
        lines, so the summary counts them instead of waiting for an
        observed pass.  The call runs on a thread, so a hang fails the
        test instead of stalling the suite."""
        import threading

        from outrank_spark.jobs import rank_job
        from outrank_spark.streaming.ranking_stream import (
            StreamingRankingAccumulator,
        )

        logged, seen = summaries
        data = _write_csv(tmp_path / "data", _BAD_LINES)
        ckpt = ["--checkpoint_dir", str(tmp_path / "ckpt"),
                "--checkpoint_slices", "3"]
        rank_job.run_task(spark, _ranking_args(
            data, str(tmp_path / "whole"),
            "--checkpoint_dir", str(tmp_path / "ckpt-whole"),
            "--checkpoint_slices", "3"))

        def crash(self):  # every slice persisted, state file not removed
            raise RuntimeError("crash before the state file is removed")

        with monkeypatch.context() as m:
            m.setattr(StreamingRankingAccumulator, "result", crash)
            with pytest.raises(RuntimeError, match="crash"):
                rank_job.run_task(spark, _ranking_args(
                    data, str(tmp_path / "out"), *ckpt))
        assert os.path.exists(tmp_path / "ckpt" / "ranking_state.bin")

        failed = []

        def resume():
            try:
                rank_job.run_task(spark, _ranking_args(
                    data, str(tmp_path / "out"), *ckpt))
            except BaseException as e:  # noqa: BLE001 -- reported below
                failed.append(e)

        thread = threading.Thread(target=resume, daemon=True)
        thread.start()
        thread.join(timeout=300)
        assert not thread.is_alive(), "resumed call did not finish"
        assert not failed, failed
        assert not os.path.exists(tmp_path / "ckpt" / "ranking_state.bin")
        assert _reports(tmp_path / "out") == _reports(tmp_path / "whole")
        assert seen == [(3, _BAD_LINES)] * 2
        assert logged() == ["3 invalid lines (first 3 kept for "
                            "inspection)"] * 2

    def test_transformers_before_fold_keep_count(self, spark, tmp_path,
                                                 summaries):
        """``--transformers`` aggregates the numeric columns before the
        fold; those passes complete the observed count first, and it is
        still the number of wrong-width lines."""
        import json

        from outrank_spark.jobs import rank_job

        logged, seen = summaries
        data = _write_csv(tmp_path / "data", _BAD_LINES)
        (tmp_path / "data" / "dataset_desc.json").write_text(json.dumps({
            "data_features": [
                {"name": "label", "type": "categorical"},
                *[{"name": f"f{k}", "type": "float" if k < 2 else "cat"}
                  for k in range(6)]],
        }))
        args = _ranking_args(data, str(tmp_path / "out"),
                             "--transformers", "default")
        args.data_source = "ob-csv"
        rank_job.run_task(spark, args)
        singles = open(tmp_path / "out" / "feature_singles.tsv").read()
        assert "f0_tr_" in singles, "no transformer feature was ranked"
        assert seen == [(3, _BAD_LINES)]
        assert logged() == ["3 invalid lines (first 3 kept for "
                            "inspection)"]


@pytest.mark.slow
class TestCliSelftestGolden:
    def test_selftest_through_subprocess(self, tmp_path):
        res = _run(["--task", "selftest"], cwd=str(tmp_path))
        assert res.returncode == 0, res.stderr[-4000:]
        assert "SELFTEST OK" in res.stdout


@pytest.mark.slow
class TestSparkSubmitPyFiles:
    def test_selftest_runs_from_zip_only(self, tmp_path):
        """North-rule deployment shape: `spark-submit --py-files
        outrank_spark.zip jobs/rank_job.py --task ranking`.  The
        wrapper is copied OUTSIDE the repo so the package can resolve
        ONLY from the zip (driver imports + executor closures both),
        proving the job ships as a self-contained artifact."""
        import shutil
        import zipfile

        zpath = tmp_path / "outrank_spark.zip"
        pkg = os.path.join(REPO, "outrank_spark")
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _, files in os.walk(pkg):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, REPO))
        wrapper = tmp_path / "rank_job.py"
        shutil.copy(WRAPPER, str(wrapper))

        spark_submit = shutil.which("spark-submit")
        assert spark_submit, "spark-submit not on PATH"
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["PYSPARK_PYTHON"] = sys.executable
        env["PYSPARK_DRIVER_PYTHON"] = sys.executable
        res = subprocess.run(
            [spark_submit, "--master", "local[8]",
             "--driver-memory", "4g",   # local-mode driver IS the executor
             "--py-files", str(zpath), str(wrapper),
             "--task", "selftest", "--shuffle_partitions", "16"],
            cwd=str(tmp_path), capture_output=True, text=True,
            timeout=560, env=env,
        )
        assert res.returncode == 0, res.stderr[-4000:]
        assert "SELFTEST OK" in res.stdout


@pytest.mark.slow
class TestCliRankingRoundTrip:
    def test_generate_rank_summarize(self, tmp_path):
        cwd = str(tmp_path)
        res = _run(["--task", "data_generator",
                    "--num_synthetic_rows", "4000",
                    "--num_synthetic_features", "40"], cwd)
        assert res.returncode == 0, res.stderr[-4000:]
        assert (tmp_path / "test_data_synthetic" / "data.csv").exists()

        res = _run(["--task", "ranking",
                    "--data_path", "test_data_synthetic",
                    "--data_source", "csv-raw",
                    "--subsampling", "2",
                    "--output_folder", "out"], cwd)
        assert res.returncode == 0, res.stderr[-4000:]
        pairwise = pd.read_csv(tmp_path / "out" / "pairwise_ranks.tsv",
                               sep="\t")
        assert list(pairwise.columns) == ["FeatureA", "FeatureB", "Score"]
        assert len(pairwise) > 0
        singles = pd.read_csv(tmp_path / "out" / "feature_singles.tsv",
                              sep="\t")
        assert len(singles) > 0

        res = _run(["--task", "ranking_summary",
                    "--data_path", "test_data_synthetic",
                    "--output_folder", "out"], cwd)
        assert res.returncode == 0, res.stderr[-4000:]

        res = _run(["--task", "visualization",
                    "--data_path", "test_data_synthetic",
                    "--output_folder", "out"], cwd)
        assert res.returncode == 0, res.stderr[-4000:]
        for artifact in ("heatmap.tsv", "TopClustering.tsv",
                         "SilhouetteProfile.tsv",
                         "dendrogram_complete.tsv",
                         "heatmap.svg", "clustermap.svg",
                         "SilhouetteProfile.svg"):
            assert (tmp_path / "out" / artifact).exists(), artifact
        top = pd.read_csv(tmp_path / "out" / "TopClustering.tsv", sep="\t")
        assert list(top.columns) == ["ClusterID", "Feature"]
        assert len(top) == len(pairwise["FeatureA"].unique())

    def test_identify_rare_values_reports(self, tmp_path):
        cwd = str(tmp_path)
        _run(["--task", "data_generator",
              "--num_synthetic_rows", "2000",
              "--num_synthetic_features", "35"], cwd)
        res = _run(["--task", "identify_rare_values",
                    "--data_path", "test_data_synthetic",
                    "--data_source", "csv-raw",
                    "--heuristic", "Constant",
                    "--subsampling", "1",
                    "--rare_value_count_upper_bound", "2",
                    "--output_folder", "out"], cwd)
        assert res.returncode == 0, res.stderr[-4000:]
        rare = pd.read_csv(tmp_path / "out" / "rare_values.tsv", sep="\t")
        assert list(rare.columns) == ["Namespace", "value", "Count"]
        sparsity = pd.read_csv(
            tmp_path / "out" / "feature_sparsity_summary.tsv", sep="\t",
        )
        assert len(sparsity) > 0


def test_data_generator_cc(tmp_path):
    """--task data_generator --generator_type cc writes a ranked-able
    csv-raw folder from the distributed CC generator."""
    import subprocess
    import sys

    out = tmp_path / "cc_data"
    r = subprocess.run(
        [sys.executable, "jobs/rank_job.py", "--task", "data_generator",
         "--generator_type", "cc", "--num_synthetic_features", "4",
         "--num_synthetic_rows", "500",
         "--output_synthetic_df_name", str(out)],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import pandas as pd

    pdf = pd.read_csv(out / "data.csv")
    assert len(pdf) == 500
    assert list(pdf.columns) == ["f0", "f1", "f2", "f3", "label"]
    assert set(pdf["label"].unique()) <= {0, 1}


@pytest.mark.slow
class TestTaskAllParity:
    def test_task_all_full_artifact_directory(self, tmp_path):
        """One `--task all` run (ranking -> summary -> visualization,
        reference __main__.py:268) over the selftest fixture, asserting
        the COMPLETE artifact directory against the selftest goldens —
        the end-to-end surface the piecewise tests cover in parts."""
        cwd = str(tmp_path)
        # selftest SHAPE (100 features -> the 201-row golden and the
        # f30 needle) at 40% of the selftest row count so the whole
        # three-task chain fits one CI subprocess budget; the goldens
        # asserted below are row-count-invariant
        res = _run(["--task", "data_generator",
                    "--num_synthetic_rows", "40000"], cwd)
        assert res.returncode == 0, res.stderr[-4000:]

        res = _run(["--task", "all",
                    "--data_path", "test_data_synthetic",
                    "--data_source", "csv-raw",
                    "--subsampling", "4",
                    "--output_folder", "out"], cwd)
        assert res.returncode == 0, res.stderr[-4000:]

        out = tmp_path / "out"
        # ranking sinks
        pairwise = pd.read_csv(out / "pairwise_ranks.tsv", sep="\t")
        assert pairwise.shape == (201, 3)  # selftest golden
        top = pairwise.iloc[-1]
        assert (top["FeatureA"] == "label-(2; 100)"
                or top["FeatureB"] == "label-(2; 100)")
        singles = pd.read_csv(out / "feature_singles.tsv", sep="\t")
        assert len(singles) == 101  # 100 features + label
        assert singles.iloc[0]["Feature"] == "label-(2; 100)"
        # f30 needle: best real feature (naive generator binarizes it)
        non_label = singles[~singles["Feature"].str.startswith("label")]
        assert non_label.iloc[0]["Feature"].startswith("f30")
        # JSON / TSV sinks
        for artifact in ("arguments.json", "timings.json",
                         "combination_estimation_counts.json",
                         "value_repetitions.json", "memory.tsv"):
            assert (out / artifact).exists(), artifact
        import json as _json

        args_sink = _json.loads((out / "arguments.json").read_text())
        assert args_sink["heuristic"] == "MI-numba-randomized"
        # visualization artifacts
        for artifact in ("heatmap.tsv", "TopClustering.tsv",
                         "SilhouetteProfile.tsv",
                         "dendrogram_complete.tsv",
                         "heatmap.svg", "clustermap.svg",
                         "SilhouetteProfile.svg"):
            assert (out / artifact).exists(), artifact
        clusters = pd.read_csv(out / "TopClustering.tsv", sep="\t")
        assert len(clusters) == len(pairwise["FeatureA"].unique())
