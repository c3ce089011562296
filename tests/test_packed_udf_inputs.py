"""The sketch scan and the scoring hand their Arrow UDFs a few packed
array columns (``operators.pack_channels``), not one Spark column per
feature channel.

Each slot must reach pandas as its own column reaches a pandas UDF, so
blobs and triplets are checked bitwise against a per-column reference:
the same channel expressions, one Spark column each, through
``mapInPandas``/``applyInPandas`` and Spark's own pandas conversion.
The frame mixes names with dots, backticks and spaces, string, long,
int, double and boolean columns with and without nulls (a long slot
with nulls beside one without), and the types that keep a column of
their own: date, timestamp, decimal and nested.
"""
from __future__ import annotations

import datetime
import decimal

import numpy as np
import pandas as pd
import pytest

from outrank_spark.hashing import sql_ident
from outrank_spark.operators import pack_channels
from outrank_spark.operators.pair_scoring import (
    _TRIPLET_SCHEMA,
    _batch_id_sql,
    _score_minibatch,
    score_batches,
)
from outrank_spark.operators.sketch_build import (
    _BLOB_SCHEMA,
    SketchPlan,
    _add_partial,
    _scan_channels,
    _update_sketches,
    build_sketches,
)
from outrank_spark.plans.ranking_job import RankingConfig, sketch_plan_for

N = 1500
FLAT = ["label", "s.dot", "s`tick", "s space", "l_full", "l_null", "i_null",
        "d_full", "d_null", "b_full", "b_null", "dt", "ts", "dec"]
NUMERIC = ["l_full", "l_null", "i_null", "d_full", "d_null"]
OWN = ["dt", "ts", "dec", "arr", "st"]


@pytest.fixture(scope="module")
def mixed(spark):
    rng = np.random.default_rng(7)

    def nulls(values, p):
        return [None if rng.random() < p else v for v in values]

    longs = rng.integers(-2 ** 62, 2 ** 62, N).tolist()
    cols = {
        "label": [str(v) for v in rng.integers(0, 2, N)],
        "s.dot": nulls([f"v{v}" for v in rng.integers(0, 20, N)], 0.1),
        "s`tick": [f"w{v}" for v in rng.integers(0, 7, N)],
        "s space": nulls(["", "{}", "a", "b"] * (N // 4), 0.05),
        "l_full": longs,
        "l_null": nulls(longs, 0.2),
        "i_null": nulls(rng.integers(0, 5, N).tolist(), 0.3),
        "d_full": rng.normal(size=N).round(2).tolist(),
        "d_null": nulls(rng.normal(size=N).round(1).tolist(), 0.2),
        "b_full": (rng.random(N) < 0.5).tolist(),
        "b_null": nulls((rng.random(N) < 0.5).tolist(), 0.3),
        "dt": nulls([datetime.date(2020, 1, 1 + int(v))
                     for v in rng.integers(0, 20, N)], 0.1),
        "ts": nulls([datetime.datetime(2020, 1, 1, int(v))
                     for v in rng.integers(0, 20, N)], 0.1),
        "dec": nulls([decimal.Decimal(int(v)) / 10
                      for v in rng.integers(0, 30, N)], 0.1),
        "arr": [[int(v), 1] for v in rng.integers(0, 4, N)],
        "st": [(int(v), "x") for v in rng.integers(0, 3, N)],
    }
    schema = (
        "label string, `s.dot` string, `s``tick` string, `s space` string, "
        "l_full bigint, l_null bigint, i_null int, d_full double, "
        "d_null double, b_full boolean, b_null boolean, dt date, "
        "ts timestamp, dec decimal(6,1), arr array<int>, "
        "st struct<a:int,b:string>")
    df = spark.createDataFrame(list(zip(*cols.values())), schema)
    df = df.repartition(3).cache()
    df.count()
    yield df
    df.unpersist()


def _reference_sketches(df, plan, jvm_prehash):
    """The build with one Spark column per channel, through
    ``mapInPandas``."""
    channels = _scan_channels(df, plan, jvm_prehash)
    chans = [key for key, *_ in channels]
    proj = df.selectExpr(*[f"{expr} AS r{j}"
                           for j, (_, _, expr, _) in enumerate(channels)])

    def fn(batches):
        local = {key: plan.make(key[1]) for key in plan.keys()}
        saw = False
        for pdf in batches:
            saw = True
            _update_sketches(local, {key: pdf[f"r{j}"]
                                     for j, key in enumerate(chans)})
        if saw:
            yield pd.DataFrame({
                "column": [c for c, _ in local],
                "kind": [k for _, k in local],
                "blob": [sk.to_bytes() for sk in local.values()],
            })

    merged: dict = {}
    for row in proj.mapInPandas(fn, schema=_BLOB_SCHEMA).collect():
        _add_partial(merged, row)
    return merged


def _reference_scores(df, columns, pairs, heuristic, n_batches, precode):
    """The scoring with one Spark column per feature, through
    ``applyInPandas``."""
    value = "xxhash64({})" if precode else "{}"
    vals = [value.format(sql_ident(c)) for c in columns]
    proj = df.selectExpr(
        *[f"{v} AS r{j}" for j, v in enumerate(vals)],
        f"xxhash64({', '.join(vals)}) AS _rk",
        f"{_batch_id_sql(vals, n_batches)} AS batch_id")

    def fn(pdf):
        triplets = _score_minibatch(
            {c: pdf[f"r{j}"] for j, c in enumerate(columns)},
            pdf["_rk"].to_numpy(), columns, pairs, heuristic, "label", 1.0,
            ())
        return pd.DataFrame({
            "batch_id": int(pdf["batch_id"].iloc[0]),
            "feature_a": [t[0] for t in triplets],
            "feature_b": [t[1] for t in triplets],
            "score": [t[2] for t in triplets],
        })

    return proj.groupBy("batch_id").applyInPandas(fn, _TRIPLET_SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_layout_packs_by_kind_and_type():
    """One array column per (kind, element type); date, timestamp,
    decimal and nested channels keep a column each."""
    from pyspark.sql.types import (
        ArrayType,
        DateType,
        DecimalType,
        IntegerType,
        LongType,
        StringType,
        StructType,
        TimestampType,
    )

    types = {"a": StringType(), "b": StringType(), "c": LongType(),
             "d": LongType(), "dt": DateType(), "ts": TimestampType(),
             "dec": DecimalType(6, 1), "arr": ArrayType(IntegerType()),
             "st": StructType()}
    channels = [(("c", name), "c", sql_ident(name), t)
                for name, t in types.items()]
    channels += [(("h", name), "h", f"xxhash64({sql_ident(name)})",
                  LongType()) for name in "ab"]
    layout = pack_channels(channels)
    packed = {key: slot for key, (_, slot, _) in layout.slots.items()}
    assert [packed["c", n] for n in ("a", "b", "c", "d")] == [0, 1, 0, 1]
    assert [packed["h", n] for n in "ab"] == [0, 1]
    assert all(packed["c", n] is None for n in OWN)
    # raw strings, raw longs, hashes, then one column per unpacked type
    assert len(layout.exprs) == 3 + len(OWN)
    assert layout.exprs[0] == "array(`a`, `b`) AS __p0"


@pytest.mark.parametrize("jvm_prehash", [True, False])
def test_sketches_bitwise_equal_to_per_column_build(mixed, jvm_prehash):
    plan = SketchPlan(
        columns=FLAT, numeric_columns=NUMERIC,
        sketches={"parity_hll": {"p": 10}, "counter": {}, "coverage": {},
                  "bytes": {}, "kll": {"k": 64},
                  "cms": {"depth": 3, "width": 256}})
    got = build_sketches(mixed, plan, jvm_prehash=jvm_prehash)
    want = _reference_sketches(mixed, plan, jvm_prehash)
    assert set(got) == set(want) == set(plan.keys())
    for key in want:
        assert got[key].to_bytes() == want[key].to_bytes(), key


def test_nested_columns_sketch_bitwise_as_per_column(mixed):
    """Nested columns reach the scan only through JVM-side channels
    (hash, missing flag, string length)."""
    plan = SketchPlan(columns=["arr", "st"],
                      sketches={"hll": {"p": 10}, "coverage": {},
                                "bytes": {}})
    got = build_sketches(mixed, plan)
    want = _reference_sketches(mixed, plan, True)
    assert set(got) == set(want) == set(plan.keys())
    for key in want:
        assert got[key].to_bytes() == want[key].to_bytes(), key


@pytest.mark.parametrize("heuristic,precode", [
    ("MI", True), ("MI", False), ("MI-numba-randomized", True),
    ("Constant", False),
])
@pytest.mark.parametrize("n_batches", [1, 3])
def test_triplets_equal_to_per_column_scoring(mixed, heuristic, precode,
                                              n_batches):
    pairs = ([("label", c) for c in FLAT[1:]]
             + [("s.dot", "l_null"), ("b_null", "dt")])
    got = score_batches(mixed, FLAT, pairs, heuristic, "label", n_batches,
                        precode=precode)
    want = _reference_scores(mixed, FLAT, pairs, heuristic, n_batches,
                             precode)
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) == n_batches * len(pairs)


def test_wide_frame_runs_the_sketch_scan(spark):
    """2,000 features: each packed ``array(...)`` has 2,000 slots."""
    cols = [f"f{i}" for i in range(2000)]
    df = spark.range(6).selectExpr(
        *[f"CAST(id % {i % 3 + 2} AS STRING) AS {c}"
          for i, c in enumerate(cols)])
    plan = sketch_plan_for(RankingConfig(), cols)
    skc = build_sketches(df, plan)
    assert set(skc) == set(plan.keys())
    assert [skc.cardinality(c) for c in cols[:3]] == [2, 3, 4]
