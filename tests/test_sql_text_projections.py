"""The ranking path's wide projections are SQL text.

Column names (CSV header) and missing symbols (``--missing_value_symbols``)
are outside input spliced into that text, so the escaping is checked
against pandas on names and symbols holding dots, spaces, backticks,
quotes and backslashes.  The py4j budget test pins the reason for the
text form: a PySpark ``Column`` per expression costs ~14 round trips to
the JVM, which dominates small ranking calls.
"""
from __future__ import annotations

import csv
import threading
import warnings
from collections import Counter
from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import functions as F

from outrank_spark.hashing import qcol
from outrank_spark.operators.interactions import with_noise_features
from outrank_spark.operators.pair_scoring import (
    deterministic_subsample,
    score_batches,
)
from outrank_spark.operators.sketch_build import (
    SketchPlan,
    _scan_inputs,
    build_sketches,
)
from outrank_spark.operators.transformers import with_baseline_features
from outrank_spark.plans.ranking_job import (
    RankingConfig,
    run_ranking,
    sketch_plan_for,
)
from outrank_spark.plans.reports import feature_memory_estimate
from outrank_spark.sources.readers import read_dataset

ODD_NAMES = ["a.b", "c d", "e`f", "g'h", "i\\j"]
MISSING = ("", "n'a", "x\\y")


@pytest.fixture(scope="module")
def odd_csv(tmp_path_factory):
    """csv-raw folder whose header and values need escaping."""
    folder = tmp_path_factory.mktemp("odd_csv")
    values = ["v1", "v2", "n'a", "x\\y", "", "it's", "back\\slash",
              "ü", "{}"]
    rows = []
    for i in range(240):
        row = [values[(i * (k + 2) + k) % len(values)] + str(i % (k + 3))
               if (i + k) % 5 else values[(i + k) % len(values)]
               for k in range(len(ODD_NAMES))]
        rows.append(row + [str(i % 2)])
    with open(folder / "data.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(ODD_NAMES + ["label"])
        w.writerows(rows)
    pdf = pd.read_csv(folder / "data.csv", dtype=str,
                      keep_default_na=False)
    return str(folder), pdf


class TestOutsideInputEscaping:
    def test_sketches_match_pandas(self, spark, odd_csv):
        folder, pdf = odd_csv
        df = read_dataset(spark, folder, "csv-raw").df
        assert df.columns == list(pdf.columns)
        plan = SketchPlan(
            columns=list(pdf.columns),
            sketches={"parity_hll": {},
                      "coverage": {"missing_symbols": MISSING}})
        sk = build_sketches(df, plan)
        for c in pdf.columns:
            missing = pdf[c].isin(MISSING).sum()
            assert sk[(c, "coverage")].coverage() == pytest.approx(
                100.0 * (1 - missing / len(pdf))), c
            # the reader turns an empty field into NULL, which hashes
            # as one value just like pandas' ""
            assert sk[(c, "parity_hll")].estimate() == pdf[c].nunique(), c

    def test_subsample_matches_column_built_filter(self, spark, odd_csv):
        folder, pdf = odd_csv
        df = read_dataset(spark, folder, "csv-raw").df
        cols = list(pdf.columns)
        got = deterministic_subsample(df, 3, key_cols=cols)
        want = df.filter(
            F.pmod(F.xxhash64(*[qcol(c) for c in cols]), F.lit(3)) == 0)
        got_rows = Counter(tuple(r) for r in got.collect())
        assert got_rows == Counter(tuple(r) for r in want.collect())
        assert 0 < sum(got_rows.values()) < len(pdf)

    def test_memory_estimate_matches_encoded_lengths(self, spark, odd_csv):
        folder, pdf = odd_csv
        df = read_dataset(spark, folder, "csv-raw").df
        plan = SketchPlan(columns=list(pdf.columns), sketches={"bytes": {}})
        got = feature_memory_estimate(build_sketches(df, plan),
                                      list(pdf.columns))
        for c in pdf.columns:
            # NULL (empty field) is skipped by avg, as in SQL
            vals = pdf[c][pdf[c] != ""]
            want = vals.map(lambda v: len(v.encode("utf-8"))).mean()
            assert got[c] == pytest.approx(want), c


@contextmanager
def count_round_trips():
    """Per-thread count of py4j commands sent to the JVM."""
    import py4j.clientserver as cs

    counts: Counter = Counter()
    orig = cs.ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        counts[threading.get_ident()] += 1
        return orig(self, command, *args, **kwargs)

    cs.ClientServerConnection.send_command = counted
    try:
        yield lambda: counts[threading.get_ident()]
    finally:
        cs.ClientServerConnection.send_command = orig


def test_plan_building_round_trip_budget(spark):
    """Building (not executing) the sketch scan, the subsample filter,
    the scoring plan and the noise and baseline controls over a
    100-column frame costs fewer than two py4j round trips per
    expression they project (a ``Column`` each would cost ~36)."""
    cols = [f"f{i}" for i in range(100)] + ["label"]
    df = spark.range(4).selectExpr(
        *[f"CAST(id AS STRING) AS {c}" for c in cols])
    df.schema  # noqa: B018 - fetched once, outside the count
    plan = sketch_plan_for(RankingConfig(), cols)
    builds = {
        "_scan_inputs": (lambda: _scan_inputs(df, plan, jvm_prehash=True),
                         len(plan.keys())),    # raw, hash, flag channels
        "deterministic_subsample": (
            lambda: deterministic_subsample(df, 10, key_cols=cols),
            len(cols)),                         # hash key columns
        "score_batches": (
            lambda: score_batches(df, cols, [("label", c) for c in cols],
                                  "MI-numba-randomized", "label",
                                  n_batches=2),
            len(cols)),                         # scoring channels
        "with_baseline_features": (lambda: with_baseline_features(df),
                                   len(cols)),  # missing flags
        "with_noise_features": (lambda: with_noise_features(df, "label"),
                                len(cols)),     # CONTROL-volume inputs
    }
    trips = {}
    for name, (build, _) in builds.items():
        with count_round_trips() as n:
            build()
        trips[name] = n()
    n_exprs = sum(k for _, k in builds.values())
    assert sum(trips.values()) < 2 * n_exprs, (trips, n_exprs)


def test_run_ranking_warns_nothing(spark):
    """The sketch thread inherits the session's tags and local
    properties without PySpark's missing-session warning."""
    pdf = pd.DataFrame({"label": [str(i % 2) for i in range(64)],
                        "f1": [str(i % 3) for i in range(64)]})
    df = spark.createDataFrame(pdf)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        res = run_ranking(spark, df, RankingConfig(minibatch_size=16))
    assert len(res.pairwise)
