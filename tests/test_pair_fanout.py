"""The pair fan-out of ``score_batches``: with fewer minibatches than
cores, a minibatch's pairs split into ``k`` chunks, each scored in a
task of its own on the same rows, and every score stays bitwise equal
to scoring all pairs in one call."""
from __future__ import annotations

import itertools
import re

import numpy as np
import pandas as pd
import pytest

from outrank_spark.hashing import sql_ident
from outrank_spark.operators import pair_scoring
from outrank_spark.operators.pair_scoring import (
    _pair_chunks,
    _score_minibatch,
    score_batches,
)
from outrank_spark.streaming.ranking_stream import _plan_order

ROWS = 4096
FEATURES = [f"f{i}" for i in range(31)]
COLUMNS = FEATURES + ["label"]
# every pair of the 32 columns, diagonal included: 528 pairs, and
# 4096 x 528 pair-rows give 4 chunks on 4 cores
PAIRS = list(itertools.combinations_with_replacement(COLUMNS, 2))


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.default_rng(11)
    label = rng.integers(0, 2, ROWS)
    data = {f: [f"v{v}" for v in rng.integers(0, 3 + i % 7, ROWS) + label]
            for i, f in enumerate(FEATURES)}
    data["label"] = [str(v) for v in label]
    return spark.createDataFrame(pd.DataFrame(data)).repartition(3).cache()


def _expected(frame, pairs, heuristic, precode):
    """One ``_score_minibatch`` call over all ``pairs`` on the collected
    minibatch, with the values and row key ``score_batches`` gives it."""
    value = "xxhash64({})" if precode else "{}"
    vals = [value.format(sql_ident(c)) for c in COLUMNS]
    pdf = frame.selectExpr(*[f"{v} AS r{j}" for j, v in enumerate(vals)],
                           f"xxhash64({', '.join(vals)}) AS _rk").toPandas()
    triplets = _score_minibatch(
        {c: pdf[f"r{j}"] for j, c in enumerate(COLUMNS)},
        pdf["_rk"].to_numpy(), COLUMNS, pairs, heuristic, "label", 1.0, ())
    return [(0, a, b, s) for a, b, s in triplets]


@pytest.mark.parametrize("precode", [True, False], ids=["precode", "raw"])
@pytest.mark.parametrize("heuristic", ["MI-numba-randomized", "surrogate-SGD"])
def test_chunks_score_bitwise_like_one_call(spark, frame, monkeypatch,
                                            heuristic, precode):
    """Each of the k chunks lands in a task of its own, and the
    triplets, put in plan order, equal one call over all pairs."""
    pairs = PAIRS
    if heuristic.startswith("surrogate-"):
        # ~0.1 s a pair at 4096 rows: a few pairs, and a gate low
        # enough to split them
        pairs = PAIRS[:7]
        monkeypatch.setattr(pair_scoring, "_CHUNK_PAIR_ROWS", 1)
    k = spark.sparkContext.defaultParallelism
    assert _pair_chunks(len(pairs), 1, ROWS, k) == k
    out = score_batches(frame, COLUMNS, pairs, heuristic, "label", 1,
                        precode=precode, n_rows=ROWS)
    assert "shufflepartitionidpassthrough" in \
        out._jdf.queryExecution().executedPlan().toString()
    rows = out.selectExpr("*", "spark_partition_id() AS task").toPandas()
    # chunk j holds the pairs at plan indices j, j + k, ...
    got = _plan_order(rows, pairs)
    assert list(got.drop(columns="task").itertuples(index=False,
                                                    name=None)) == \
        _expected(frame, pairs, heuristic, precode)
    index = {p: i for i, p in enumerate(pairs)}
    chunks = (rows.assign(chunk=[index[(a, b)] % k for a, b in zip(
        rows["feature_a"], rows["feature_b"])])
        .groupby("task")["chunk"].unique())
    assert len(chunks) == k
    assert sorted(c for cs in chunks for c in cs) == list(range(k))


def test_small_batch_keeps_one_group_per_minibatch(spark):
    """200 rows of pair work repay no task: the plan is the one without
    a row count, with no chunk ``Generate``."""
    df = spark.createDataFrame(
        [(str(i % 7), str(i % 3), str(i % 2)) for i in range(200)],
        "a string, b string, label string",
    )
    pairs = [("a", "label"), ("b", "label"), ("a", "b")]

    def plan(n_rows):
        out = score_batches(df, ["a", "b", "label"], pairs, "MI",
                            "label", 1, n_rows=n_rows)
        text = out._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"#\d+|plan_id=\d+", "", text)

    assert "Generate" not in plan(200)
    assert plan(200) == plan(0)


def test_chunk_count_gate():
    # csv-wide-target: 200 subsampled rows, 101 pairs
    assert _pair_chunks(101, 1, 200, 4) == 1
    # stream-microbatch: one minibatch of 16,384 rows, 463 pairs
    assert _pair_chunks(463, 1, 2 ** 14, 4) == 4
    assert _pair_chunks(463, 2, 2 ** 15, 4) == 2
    assert _pair_chunks(463, 4, 2 ** 16, 4) == 1
    assert _pair_chunks(463, 8, 2 ** 17, 4) == 1
    assert _pair_chunks(3, 1, 2 ** 20, 4) == 3      # no empty chunk
    assert _pair_chunks(463, 1, 0, 4) == 1          # row count unknown


def test_fold_triplets_do_not_depend_on_the_split(spark, frame, monkeypatch,
                                                  tmp_path):
    """The fold's triplets, and so its state record, are the same, in
    the same order, whether its minibatch was split or not."""
    from outrank_spark.plans.ranking_job import RankingConfig
    from outrank_spark.streaming.ranking_stream import (
        StreamingRankingAccumulator,
    )

    cfg = RankingConfig(hll_p=12, target_ranking_only=False)
    runs = []
    for gate in (pair_scoring._CHUNK_PAIR_ROWS, 2 ** 62):
        monkeypatch.setattr(pair_scoring, "_CHUNK_PAIR_ROWS", gate)
        acc = StreamingRankingAccumulator(
            cfg, state_dir=str(tmp_path / str(gate)))
        acc.process_batch(frame, batch_id=0)
        runs.append(acc.triplets)
        with open(tmp_path / str(gate) / "ranking_state.bin", "rb") as f:
            runs.append(f.read())
    pd.testing.assert_frame_equal(runs[0], runs[2])
    assert re.sub(rb'"wall_sec": [0-9.]+', b"", runs[1]) == \
        re.sub(rb'"wall_sec": [0-9.]+', b"", runs[3])
