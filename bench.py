"""Benchmark harness (driver contract).

Runs the headline query suite at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and the
north-rule feature-ranking throughput job over a deterministic
synthetic pages table, then prints ONE JSON line:

  {"metric": "headline suite wall time", "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
   "pages_per_sec": <ranking throughput>, ...}

Scaling evidence mode (north rule: efficiency >= 0.8 from N to 4N):
``python bench.py --scaling`` reruns the ranking job in two fresh
subprocesses at local[N] and local[4N] on identical input (default
N=2 — the pair where a pure-CPU calibration shows the VM can sustain
a true 4x; see BENCH.md) and reports efficiency = (T_N / T_4N) / 4.
``--scaling-ops [names_csv]`` does the same for the operator
probes in ``SCALING_OP_PROBES`` (optionally a named subset); ``--skew``
measures the salted hot-key merge.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time


HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_topk",
    "q04_brand_revenue",
    "q08_grouped_quantiles",
    "q11_exact_dedup",
    "q14_ngram_jaccard_pairs",
    "q15_embedding_topk",
    "q18_user_sessions",
    "q21_sketch_cardinalities",
    "q23_ranking_flagship",
    # r5: q08's documented scale path — two-pass exact selection with
    # no group-in-one-task — carries a measured number next to the
    # oracle-shape percentile() (r4 verdict #7).  Suite totals before
    # r5 exclude it; see suite_r4_comparable_sec.
    "q68_exact_quantiles_distributed",
]

# the r1-r4 suite composition, for round-over-round comparability
HEADLINE_R4 = HEADLINE[:10]

N_PAGES = int(os.environ.get("BENCH_PAGES", "300000"))


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("outrank-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def ranking_throughput(spark, n_pages: int, warmup: bool = False) -> tuple[float, float]:
    """North-rule job: derived features + order-2 interaction features
    + sketches + MI ranking over the pages table (~28 ranked features,
    the reference's default-workload shape).  Returns (seconds,
    pages/sec); generation cost is excluded by materializing the input
    first, and an untimed small warmup (worker spawn + codegen) runs
    when ``warmup`` so the metric reflects steady state."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.derived import with_web_features
    from outrank_spark.operators.interactions import with_interaction_features
    from outrank_spark.plans.ranking_job import RankingConfig, run_ranking
    from outrank_spark.sources import generate_pages

    if warmup:
        # large enough that the JVM's C2 compiler finishes with the
        # generated code before the measured run (steady state)
        ranking_throughput(spark, max(200_000, n_pages // 5), warmup=False)

    # Input materialization (excluded from the metric, like the
    # reference's prepared data.csv): generate pages and derive the
    # 8-column base feature table once.  What's measured is the
    # *ranking job* over that feature table — sketches, interaction
    # construction, pair scoring, median aggregation.
    pages = generate_pages(spark, n_pages, seed=42, max_tokens=48)
    base = with_web_features(pages).select(
        "host", "tld",
        F.col("lang").alias("label"),
        (F.col("text_len") / 100).cast("long").cast("string").alias("len_bucket"),
        (F.col("n_token") / 10).cast("long").cast("string").alias("tok_bucket"),
        F.date_format("ts_day", "yyyy-MM-dd").alias("day"),
        F.date_format("ts_hour", "HH").alias("hour"),
        F.substring(F.split(F.col("url"), "/").getItem(3), 1, 2).alias("path_prefix"),
    ).cache()
    base.count()

    feats, _ = with_interaction_features(base, label_column="label",
                                         interaction_order=2, as_hex=False)
    t0 = time.time()
    # full feature-feature triangle (--target_ranking_only False, the
    # reference's mixed-rank-graph mode): ~460 scored pairs per batch.
    # hll_p=16: 8 KiB bitmap blobs for the 28 near-unique interaction
    # columns (cardinality names cap at 2^16 — fine for reports)
    res = run_ranking(
        spark, feats,
        RankingConfig(subsampling=1, hll_p=16, target_ranking_only=False),
    )
    assert len(res.pairwise) > 0
    dt = time.time() - t0
    base.unpersist()
    return dt, n_pages / dt


def sketch_error_probe(spark, sf_dir: str) -> dict:
    """Measured sketch-estimate error vs each algorithm's PUBLISHED
    bound, on the benchmark tables themselves.  BASELINE.json's metric
    is "feature-ranking throughput + sketch-estimate error vs published
    bounds", so the per-round bench JSON carries both.  All four
    families build in ONE distributed pass over lineitem (600k rows at
    sf0.1) via the same mapInPandas + grouped-merge path the ranking
    job uses; the exact references come from plain Spark aggregates.
    """
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from outrank_spark.operators.sketch_build import SketchPlan, build_sketches

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = SketchPlan(
        columns=["l_extendedprice", "l_suppkey", "l_orderkey"],
        numeric_columns=["l_extendedprice"],
        sketches={
            "hll": {"p": 14},
            "cms": {},                      # depth 6 x width 2^15
            "kll": {"k": 200},
            "ddsketch": {"alpha": 0.01},
            "bloom": {"capacity": 2_000_000, "fpr": 0.01},
        },
        kind_columns={
            "hll": ["l_extendedprice"],     # 583k distinct at sf0.1
            "cms": ["l_suppkey"],           # heavy-hitter counts
            "kll": ["l_extendedprice"],
            "ddsketch": ["l_extendedprice"],
            "bloom": ["l_orderkey"],
        },
    )
    skc = build_sketches(li, plan)
    exact = li.agg(
        F.countDistinct("l_extendedprice").alias("nd"),
        F.count(F.lit(1)).alias("n"),
        F.max("l_orderkey").alias("max_ok"),
    ).first()
    n = int(exact["n"])
    out = {}

    # HLL: relative error vs the published standard error 1.04/sqrt(m)
    # (Flajolet et al. 2007); pytest bound-checks at 4 sigma, here we
    # report the measured point.
    est = int(skc[("l_extendedprice", "hll")].estimate())
    sigma = 1.04 / math.sqrt(2 ** 14)
    rel = abs(est - exact["nd"]) / exact["nd"]
    out["hll_p14"] = {
        "estimate": est, "exact": int(exact["nd"]),
        "rel_err": round(rel, 6), "published_sigma": round(sigma, 6),
        "within_3sigma": bool(rel <= 3 * sigma),
    }

    # CMS: one-sided overestimate on the 10 heaviest keys vs the
    # eps*N guarantee (Cormode & Muthukrishnan 2005, prob 1-delta).
    cms = skc[("l_suppkey", "cms")]
    top = (li.groupBy("l_suppkey").count()
           .orderBy(F.desc("count"), "l_suppkey").limit(10).collect())
    errs = [int(cms.query(int(r["l_suppkey"]))) - int(r["count"]) for r in top]
    out["cms_d6_w32768"] = {
        "max_overestimate": max(errs), "eps_n_bound": round(cms.epsilon * n, 1),
        "never_underestimates": bool(min(errs) >= 0),
        "within_bound": bool(max(errs) <= cms.epsilon * n),
    }

    # KLL: normalized rank error of the estimated median vs the 2/k
    # rank-error constant (Karnin-Lang-Liberty 2016) the sketch
    # publishes; the true rank comes from an exact Spark count.
    kll = skc[("l_extendedprice", "kll")]
    med = float(kll.quantile(0.5))
    rank = li.filter(F.col("l_extendedprice") <= med).count() / n
    out["kll_k200"] = {
        "median_estimate": med, "rank_of_estimate": round(rank, 5),
        "rank_err": round(abs(rank - 0.5), 5),
        "published_bound": kll.rank_error,
        "within_bound": bool(abs(rank - 0.5) <= kll.rank_error),
    }

    # DDSketch: RELATIVE error of tail-quantile VALUES vs the alpha
    # guarantee (Masson, Rim, Lee VLDB 2019) — the exact quantile
    # values come from one Spark percentile() aggregate.
    dd = skc[("l_extendedprice", "ddsketch")]
    qs = (0.5, 0.99)
    exact_q = li.agg(*[
        F.expr(f"percentile(l_extendedprice, {q})").alias(f"q{i}")
        for i, q in enumerate(qs)
    ]).first()
    dd_rows = {}
    for i, q in enumerate(qs):
        est_q = float(dd.quantile(q))
        truth = float(exact_q[f"q{i}"])
        # percentile() interpolates between neighbors; alpha binds on
        # the item value, so allow the interpolation epsilon on top
        rel_q = abs(est_q - truth) / abs(truth)
        dd_rows[f"q{q}"] = {
            "estimate": round(est_q, 3), "exact": round(truth, 3),
            "rel_err": round(rel_q, 6),
        }
    out["ddsketch_a01"] = {
        **dd_rows, "published_alpha": dd.alpha,
        "within_bound": bool(all(
            v["rel_err"] <= dd.alpha * 1.05 for v in dd_rows.values())),
    }

    # Bloom: measured FPR over 20k guaranteed-absent keys vs the
    # configured target (no false negatives by construction;
    # tests/test_sketches.py checks that side).
    bloom = skc[("l_orderkey", "bloom")]
    absent = np.arange(int(exact["max_ok"]) + 1,
                       int(exact["max_ok"]) + 20_001, dtype=np.int64)
    fpr = float(bloom.contains(absent).mean())
    out["bloom_fpr01"] = {
        "measured_fpr": round(fpr, 5), "target_fpr": bloom.fpr_target,
        "within_bound": bool(fpr <= bloom.fpr_target),
    }

    # Sliding-window HLL: per-window relative error vs the SAME
    # published 1.04/sqrt(m) bound — the skyline reconstruction is
    # registers-exact per window, so plain HLL's bound applies to
    # every trailing window of one build (sketches/slidinghll.py).
    from outrank_spark.operators.sketch_build import (
        sliding_distinct_counts,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sec = F.col("ts").cast("timestamp").cast("double")
    mn, mx = ev.agg(F.min(sec), F.max(sec)).first()
    wins = {"full": float(mn),
            "last_half": float(mn + 0.5 * (mx - mn)),
            "last_decile": float(mn + 0.9 * (mx - mn))}
    est_rows = {r["window"]: int(r["est_distinct"]) for r in
                sliding_distinct_counts(ev, "user_id", "ts", wins,
                                        p=12).collect()}
    sigma12 = 1.04 / math.sqrt(2 ** 12)
    shll_rows, ok = {}, True
    for label, t0 in wins.items():
        exact_w = int(ev.filter(sec >= t0)
                      .agg(F.countDistinct("user_id")).first()[0])
        rel_w = abs(est_rows[label] - exact_w) / max(exact_w, 1)
        ok = ok and rel_w <= 3 * sigma12
        shll_rows[label] = {"estimate": est_rows[label],
                            "exact": exact_w,
                            "rel_err": round(rel_w, 6)}
    out["sliding_hll_p12"] = {
        **shll_rows, "published_sigma": round(sigma12, 6),
        "within_3sigma": bool(ok),
    }
    return out


def pair_fanout_throughput(spark, n_rows: int = 200_000,
                           n_features: int = 64) -> float:
    """Compute-bound scaling probe: one cached minibatch, its full pair
    triangle split over every core by ``score_batches``' pair fan-out
    (the reference's process-pool shape).  No scan, one shuffle that
    copies the rows to the chunk tasks — isolates how the scoring
    fan-out itself scales with cores, separating operator scalability
    from the single-box memory-bus ceiling that caps the end-to-end
    job on a single host."""
    import numpy as np
    import pandas as pd

    from outrank_spark.operators.pair_scoring import score_batches
    from outrank_spark.plans.combinations import CombinationPlanner

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        f"f{i}": rng.integers(0, 1000, n_rows).astype("int32")
        for i in range(n_features)
    })
    pdf["label"] = rng.integers(0, 2, n_rows).astype("int32")
    cols = list(pdf.columns)
    df = spark.createDataFrame(pdf).cache()
    df.count()
    planner = CombinationPlanner()
    pairs = planner.plan(cols, "label", "MI-numba-randomized", False, 10 ** 6)
    try:
        t0 = time.time()
        out = score_batches(df, cols, pairs, "MI-numba-randomized", "label",
                            1, n_rows=n_rows).collect()
        assert len(out) == len(pairs)
        return time.time() - t0
    finally:
        df.unpersist()


def skew_probe(spark, n_pages: int = 2_000_000) -> dict:
    """Salted vs unsalted per-key sketch build under a hot key.

    The pages table's natural Zipf head (~7% of rows) spreads fine over
    32 tasks (measured: ~1.07x), so this probe stresses the case
    salting exists for: ONE key holding 50% of all rows (a mega-domain
    / null-key pathologies).  Salting splits that key's update work
    into `salt` partial groups before the associative merge — exactness
    unchanged, straggler gone."""
    import time as _t

    from pyspark.sql import functions as F

    from outrank_spark.operators.sketch_build import build_grouped_sketches
    from outrank_spark.sources import generate_pages

    pages = generate_pages(spark, n_pages, seed=42, max_tokens=16) \
        .select(
            "url",
            F.when(F.pmod(F.xxhash64("url"), F.lit(2)) == 0, F.lit("mega"))
            .otherwise(F.parse_url("url", F.lit("HOST"))).alias("host"),
        ).cache()
    pages.count()
    out = {}
    for salt in (1, 16):
        best = float("inf")
        for _ in range(2):
            t0 = _t.time()
            res = build_grouped_sketches(
                pages, "host", "url", kind="hll",
                params={"p": 12}, salt=salt,
            )
            n = res.count()
            best = min(best, _t.time() - t0)
        out[f"salt{salt}_sec"] = round(best, 2)
        out["n_hosts"] = n
        # the primary benefit: the largest single task-group shrinks by
        # the salt factor (memory/straggler bound), wall time follows
        # only once per-group work dominates the shuffle
        grp = [F.col("host")] + ([F.pmod(F.xxhash64("url"), F.lit(salt))]
                                 if salt > 1 else [])
        out[f"salt{salt}_max_group_rows"] = (
            pages.groupBy(*grp).count().agg(F.max("count")).first()[0]
        )
    out["speedup"] = round(out["salt1_sec"] / out["salt16_sec"], 2)
    pages.unpersist()
    return out



def asof_probe(spark, n_left: int = 16_000_000,
               n_right: int = 4_000_000) -> float:
    """Temporal-operator scale probe: as-of join of n_left events onto
    n_right quotes over 10k keys — all generated JVM-side from
    spark.range (no driver data).  Returns wall seconds for the full
    join + count."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.temporal import asof_join

    keys = 10_000
    left = spark.range(n_left).select(
        (F.col("id") % keys).alias("k"),
        (F.xxhash64("id") % 1_000_000_000).alias("ts"),
        F.col("id").alias("v"),
    )
    right = spark.range(n_right).select(
        (F.col("id") % keys).alias("k"),
        (F.xxhash64("id", F.lit(1)) % 1_000_000_000).alias("qts"),
        (F.col("id") * 2).alias("q"),
    )
    t0 = time.time()
    out = asof_join(left, right, by="k", left_time="ts",
                    right_time="qts")
    # aggregate over the matched column: a bare count() lets Catalyst
    # prune the (non-filtering) window away and measures nothing
    row = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(F.col("q_asof"), F.lit(0))).alias("s"),
    ).first()
    dt = time.time() - t0
    assert row["n"] == n_left and row["s"] is not None
    return dt


def components_probe(spark, n_edges: int | None = None) -> float:
    """Graph-operator scale probe: large-star/small-star connected
    components over n_edges edges forming ~n_edges/8 chained clusters
    (chains stress the iteration count more than stars).  Returns
    wall seconds to converge + count."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.components import connected_components

    if n_edges is None:
        # size-trend override (same fixed-vs-parallel decomposition
        # as the shll probe: per-iteration driver barrier +
        # localCheckpoint costs are fixed, the star steps scale)
        n_edges = int(os.environ.get("BENCH_COMPONENTS_EDGES",
                                     "4000000"))

    chain = 8  # nodes per cluster, wired as a path
    edges = spark.range(n_edges).select(
        F.col("id").alias("src"),
        F.when(F.col("id") % chain == chain - 1, F.col("id"))
        .otherwise(F.col("id") + 1).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    t0 = time.time()
    comp = connected_components(edges)
    n_clusters = comp.select("cluster_id").distinct().count()
    dt = time.time() - t0
    assert n_clusters == n_edges // chain
    return dt



def minhash_probe(spark, n_docs: int | None = None) -> float:
    """Dedup-family scale probe: MinHash signatures -> banded LSH ->
    exact-Jaccard verify over n_docs synthetic 20-token documents
    (5k-word vocab, hash-derived — no driver data).  Every 50th doc is
    a near-copy of its predecessor (one token changed) so the verify
    join does real work.  Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.dedup import minhash_lsh_candidates

    if n_docs is None:
        # size-trend override (fixed-vs-parallel decomposition)
        n_docs = int(os.environ.get("BENCH_MINHASH_DOCS", "200000"))

    # token i of doc d: near-copies derive all but one token from the
    # predecessor id
    base_id = F.when(F.col("id") % 50 == 1, F.col("id") - 1) \
        .otherwise(F.col("id"))
    toks = [
        F.concat(
            F.lit("w"),
            F.pmod(
                F.xxhash64(
                    F.when((F.col("id") % 50 == 1) & (F.lit(i) == 0),
                           F.col("id")).otherwise(base_id),
                    F.lit(i),
                ), F.lit(5000),
            ).cast("string"),
        )
        for i in range(20)
    ]
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *toks).alias("text"),
    )
    t0 = time.time()
    n_cand = minhash_lsh_candidates(
        docs, k=64, bands=16, verify_threshold=0.7,
    ).count()
    dt = time.time() - t0
    assert n_cand > 0
    return dt


def warc_probe(spark, n_archives: int = 64,
               recs_per: int = 3000) -> float:
    """Source-connector scale probe: parse n_archives member-gzip
    .warc.gz archives (the Common-Crawl on-disk layout) through
    read_warc and aggregate payload sizes.  Archives are generated
    deterministically ONCE per process into a temp dir (generation
    excluded from the metric); parallelism == archive count, the
    connector's documented scale contract.  Returns wall seconds."""
    import os as _os
    import tempfile

    from pyspark.sql import functions as F

    from outrank_spark.sources.warc import read_warc, write_warc_bytes

    root = _os.path.join(tempfile.gettempdir(),
                         f"warc_bench_{n_archives}_{recs_per}")
    if not _os.path.isdir(root):
        _os.makedirs(root, exist_ok=True)
        body = b"<html><body>" + b"token " * 1000 + b"</body></html>"
        for a in range(n_archives):
            recs = [
                {"headers": {
                    "WARC-Type": "response",
                    "WARC-Target-URI":
                        f"http://d{a}.example/p{i}",
                    "WARC-Date": "2024-03-01T00:00:00Z"},
                 "payload":
                     b"HTTP/1.1 200 OK\r\nContent-Type: text/html"
                     b"\r\n\r\n" + body + str(i).encode()}
                for i in range(recs_per)
            ]
            with open(_os.path.join(root, f"{a:03d}.warc.gz"),
                      "wb") as f:
                f.write(write_warc_bytes(recs, member_gzip=True))
    t0 = time.time()
    row = read_warc(spark, root).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("payload")).alias("bytes"),
    ).first()
    dt = time.time() - t0
    assert row["n"] == n_archives * recs_per and row["bytes"] > 0
    return dt


def quality_model_probe(spark, n_docs: int = 150_000) -> float:
    """LLM-family scale probe: train the hashed-bag logistic quality
    classifier (3 full-corpus gradient epochs, 64k-dim weights) and
    score the whole corpus.  Docs are generated JVM-side from
    spark.range — positives draw tokens from a 'clean' vocab,
    negatives from a disjoint noisy vocab, so the probe's work is the
    real mapInPandas gradient/score passes, not data motion from the
    driver.  Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.quality_model import (
        score_quality,
        train_quality_classifier,
    )

    def corpus(prefix: str, vocab: int):
        toks = [
            F.concat(
                F.lit(prefix),
                F.pmod(F.xxhash64("id", F.lit(i)),
                       F.lit(vocab)).cast("string"),
            )
            for i in range(24)
        ]
        return spark.range(n_docs // 2).select(
            F.concat_ws(" ", *toks).alias("text"),
        )

    pos = corpus("c", 3000)
    neg = corpus("n", 3000)
    t0 = time.time()
    w = train_quality_classifier(pos, neg, dim=2 ** 16, epochs=3)
    scored = score_quality(pos.unionAll(neg), w)
    row = scored.agg({"quality_score": "avg"}).first()
    dt = time.time() - t0
    assert row[0] is not None
    return dt


def discretize_probe(spark, n_rows: int = 60_000_000) -> float:
    """Quantile-binning scale probe: discretize_features (approx —
    the wide-table path) over 4 numeric columns x n_rows generated
    JVM-side, then a count over the binned output.  Measures the two
    scans the operator is made of — one approx_percentile aggregate
    for ALL columns and one zero-shuffle assignment pass — with no
    Python in either.  Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.discretize import discretize_features

    df = spark.range(n_rows).select(
        "id",
        (F.col("id") * 2654435761 % 999983).cast("double").alias("a"),
        (F.col("id") * 40503 % 999979).cast("double").alias("b"),
        F.log1p((F.col("id") % 100003).cast("double")).alias("c"),
        ((F.col("id") % 7) * 1000 + F.col("id") % 997)
        .cast("double").alias("d"),
    )
    t0 = time.time()
    out = discretize_features(df, ["a", "b", "c", "d"], n_bins=16)
    n = out.where(
        F.col("a_bin").isNotNull() & F.col("d_bin").isNotNull()).count()
    dt = time.time() - t0
    assert n == n_rows
    return dt


def semdedup_probe(spark, n_rows: int = 600_000) -> float:
    """SemDeDup scale probe: k-means (auto-scaled k -> ~147 cells) +
    per-cell blocked cosine prune over n_rows 32-dim embeddings with
    2% planted near-duplicates, generated executor-side.  600k rows:
    at 150k the probe measured the ~10 sequential iteration barriers
    (scheduling + Arrow + worker spin-up, ~flat in cores), not the
    operator's per-pass compute — too small to show scaling that the
    100 TB regime is actually made of.  Returns wall seconds."""
    import numpy as np
    import pandas as pd

    from outrank_spark.operators.similarity import semantic_dedup

    anchors = np.random.Generator(np.random.PCG64(5)) \
        .standard_normal((32, 32))

    def gen(batches):
        from outrank_spark.hashing import splitmix64

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            base = np.where(ids % 50 == 1, ids - 1, ids)
            vecs = anchors[base % 32].copy()
            # avalanche-hashed noise (a plain multiplicative counter
            # correlates rows -> everything looks like a duplicate)
            ctr = (base[:, None] * 32 + np.arange(32)[None, :]) \
                .astype(np.uint64)
            u = splitmix64(ctr).astype(np.float64) * (2.0 ** -64)
            vecs += (u - 0.5) * 4.8
            yield pd.DataFrame({
                "vec_id": ids, "embedding": [v.tolist() for v in vecs],
            })

    df = spark.range(n_rows).mapInPandas(
        gen, schema="vec_id long, embedding array<double>")
    t0 = time.time()
    kept = semantic_dedup(df, cos_threshold=0.95,
                          kmeans_max_iter=8).count()
    dt = time.time() - t0
    # ~2% planted dups pruned, the rest kept: a collapse to near-zero
    # keeps would mean the probe stopped measuring real prune work
    assert n_rows * 0.9 < kept < n_rows
    return dt


def bpe_probe(spark, n_docs: int = 1_200_000) -> float:
    """BPE tokenizer scale probe: train_bpe (one word-histogram
    shuffle + capped collect + driver merge learning) then bpe_encode
    (broadcast ranks, per-distinct-word memoized Arrow pass) over
    n_docs x 40-word synthetic Zipf-ish text generated JVM-side
    (bounded ~100k-type vocab, like real web text).  The measured
    work is the histogram aggregate and the encode scan; driver
    learning is O(vocab), corpus-size-independent — a FIXED serial
    cost (~2-3 s), which is why the probe is sized at 1.2M docs: at
    400k the Amdahl share of that constant read as 0.70 efficiency
    when the distributed stages themselves scale cleanly.  Returns
    wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.bpe import bpe_encode, train_bpe

    df = spark.range(n_docs).select(
        "id",
        F.expr(
            "concat_ws(' ', transform(sequence(1, 40), i -> "
            "conv(cast((id * 2654435761 + i * 40503) % 99991 "
            "as string), 10, 36)))",
        ).alias("text"),
    )
    t0 = time.time()
    merges = train_bpe(df, num_merges=100, vocab_cap=100_000)
    total = bpe_encode(df, merges).agg(
        F.sum("n_bpe_tokens")).first()[0]
    dt = time.time() - t0
    assert total > n_docs * 40  # subwords >= words
    return dt


def bm25_probe(spark, n_docs: int = 1_500_000) -> float:
    """BM25 retrieval scale probe (r4 verdict #8): bm25_topk over
    n_docs x 30-token synthetic Zipf-ish corpus generated JVM-side —
    quadratic head skew over a 50k-type vocab (P(t) ~ 1/sqrt(t)), so
    the head query term matches ~12% of all docs: the stopword-ish
    worst case for the pre-shuffle query-term collapse.  Measures the
    tokenize+explode scan, the query-term semi-collapse, the
    doc-length join, and the top-k.  Query terms span head / mid /
    tail frequency.  Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.text import bm25_topk

    df = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(1, 30), i -> "
            "conv(cast(cast(pow(((id * 2654435761 + i * 40503) "
            "% 1000003) / 1000003.0, 2) * 50000 as long) as string), "
            "10, 36)))",
        ).alias("text"),
    )
    import numpy as np

    terms = [np.base_repr(t, 36).lower() for t in (0, 1000, 49000)]
    t0 = time.time()
    rows = bm25_topk(df, terms, k=10).collect()
    dt = time.time() - t0
    assert len(rows) == 10 and rows[0]["score"] > 0
    return dt


def funnel_probe(spark, n_events: int = 40_000_000,
                 n_users: int = 2_000_000) -> float:
    """Funnel scale probe: funnel_counts over n_events synthetic
    events (n_users users, 4 event types, scrambled timestamps) built
    JVM-side — measures the scan-side isin filter, the one user-keyed
    shuffle, and the per-user JVM fold.  Sizing: at 20M events /
    500k users the 8-core wall was ~3 s (stage scheduling, not fold
    work — read as 0.60 efficiency); at 80M / 500k the 120-event
    per-user arrays tipped the aggregation into spill (69 s at 8
    cores).  40M events over 2M users keeps per-user state at ~15
    events while the probe measures real shuffle + fold throughput.
    Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.temporal import funnel_counts

    df = spark.range(n_events).select(
        (F.col("id") % n_users).alias("user_id"),
        F.timestamp_micros(
            (F.col("id") * 2654435761 % 2_592_000_000_000).cast("long"),
        ).alias("ts"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"),
                    F.lit("purchase"), F.lit("error")),
            # xxhash64 mix: a plain (id * k) % 4 shares its period
            # with user_id = id % 500_000, giving every user ONE type
            (F.pmod(F.xxhash64("id"), F.lit(4)) + 1).cast("int"),
        ).alias("event_type"),
    )
    t0 = time.time()
    rows = funnel_counts(df, ["view", "click", "purchase"]).collect()
    dt = time.time() - t0
    # ~20 events/user: P(no view) = (3/4)^20 ~ 0.3%, so step 1 covers
    # ~99.7% of users and the funnel must be monotone
    assert rows[0]["n_users"] > 0.98 * n_users
    assert rows[0]["n_users"] >= rows[1]["n_users"] >= rows[2]["n_users"] > 0
    return dt


def pagerank_probe(spark, n_edges: int = 8_000_000,
                   n_nodes: int = 200_000) -> float:
    """PageRank scale probe: 5 damped power iterations over n_edges
    synthetic edges (hub-skewed dst — a Zipf-ish web graph) built
    JVM-side.  Measures the per-iteration contribution join +
    groupBy(dst) re-aggregation; like components, the per-iteration
    localCheckpoint barrier is a fixed serial share, so single-box
    efficiency reads below the per-pass compute scaling (documented
    ceiling, same class as the components probe).  Returns wall
    seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.graph import pagerank

    edges = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("src"),
        # dst ~ power-law: squash a uniform into the low ids
        F.pow(
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_000))
            / F.lit(1_000_000.0), F.lit(3.0),
        ).cast("double").alias("u"),
    ).select(
        "src", (F.col("u") * n_nodes).cast("long").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    t0 = time.time()
    ranks = pagerank(edges, iterations=5)
    total, nn = ranks.agg(F.sum("rank"), F.count(F.lit(1))).first()
    dt = time.time() - t0
    assert abs(total - 1.0) < 1e-6 and nn > 0.9 * n_nodes
    return dt


def dsir_probe(spark, n_docs: int = 1_500_000) -> float:
    """DSIR scale probe: hashed-bucket importance weights over n_docs
    x 30-token synthetic docs (bounded vocab, deterministic half
    marked target).  Measures the bigram explode, the single grouped
    two-distribution agg, the broadcast join-back, and the per-doc
    re-aggregation.  Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.sampling import dsir_logratio

    df = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2 == 0).alias("is_t"),
        F.expr(
            "concat_ws(' ', transform(sequence(1, 30), i -> "
            "conv(cast((id * 2654435761 + i * 97 + "
            "case when id % 2 = 0 then 0 else 40000 end) % 80000 "
            "as string), 10, 36)))",
        ).alias("text"),
    )
    t0 = time.time()
    scored = dsir_logratio(df, F.col("is_t"), id_col="doc_id",
                           num_buckets=1 << 18)
    t_mean, o_mean = scored.agg(
        F.avg(F.when(F.col("is_t"), F.col("logratio"))),
        F.avg(F.when(~F.col("is_t"), F.col("logratio"))),
    ).first()
    dt = time.time() - t0
    assert t_mean > o_mean  # target docs must score higher
    return dt


def sessionize_probe(spark, n_events: int = 20_000_000) -> float:
    """Batch sessionization scale probe: 20M events over 200k users x
    30 days, GA 30-min gap.  Measures the operator's single
    shuffle+sort per key (lag + running sum share it) plus the
    per-session re-aggregation.  Event times are a deterministic
    hash spread so the two parallelism levels see byte-identical
    work.  Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.temporal import sessionize

    df = spark.range(n_events).select(
        F.col("id"),
        (F.col("id") % 200_000).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000)
            + (F.col("id") * 2654435761) % (86_400 * 30),
        ).alias("ts"),
    )
    t0 = time.time()
    s = sessionize(df, "ts", "user_id", gap_secs=1800, tiebreak="id")
    n, mx = s.agg(
        F.count(F.lit(1)), F.max("session_idx"),
    ).first()
    dt = time.time() - t0
    assert n == n_events and mx >= 1
    return dt


def containment_probe(spark, n_docs: int = 800_000) -> float:
    """Containment-join scale probe: 800k 40-token docs where doc
    pairs (2i, 2i+1) share a 30-token prefix (shingle df == 2) and
    the tail tokens are doc-salted (df == 1, dead after the
    collect_list singleton filter).  Measures the operator — the
    shingle explode, the grouped pair streaming, the pair count and
    the containment cut — NOT the synthetic text generator: the
    input is persisted and materialized before the clock starts
    (same methodology as ranking_throughput).  The probe size is
    chosen so the parallel work term dominates the ~6 s fixed
    per-job cost (planning + stage scheduling + AQE re-optimization)
    — at 400k docs that fixed cost alone caps measurable 2->8-core
    efficiency at ~0.78 even for a perfectly parallel plan.  Shuffle
    partitions are sized 4x cores for the probe (the standard
    cluster-sizing rule; make_spark pins 8 for both levels, which
    single-waves the heavy reduce stage at 8 cores).  Returns wall
    seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.dedup import containment_join

    df = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(sequence(1, 30), i -> "
                "conv(cast(cast(id / 2 as long) * 48271 + i * 131 "
                "as string), 10, 36))",
            ),
            F.expr(
                "transform(sequence(1, 10), i -> "
                "concat('u', id, 'x', i))",
            ),
        ).alias("text"),
    ).persist()
    df.count()  # materialize outside the timed region
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(4 * spark.sparkContext.defaultParallelism),
    )
    try:
        t0 = time.time()
        pairs = containment_join(df, "text", "doc_id", n=3,
                                 threshold=0.5)
        n_pairs = pairs.count()
        dt = time.time() - t0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        df.unpersist()
    # each (2i, 2i+1) pair shares 28 of 38 shingles (0.737 >= 0.5),
    # emitted in both directions
    assert n_pairs == n_docs, (n_pairs, n_docs)
    return dt


def prefixjoin_probe(spark, n_docs: int = 200_000) -> float:
    """Exact Jaccard-threshold-join scale probe (jaccard_prefix_join,
    q111's operator): 200k 40-token docs where pairs (2i, 2i+1) share
    a 30-token prefix (28 of 38 trigram shingles, J = 28/48 ~ 0.583)
    and tails are doc-salted.  Measures the df groupBy, the per-doc
    rarest-first prefix window, the prefix candidate join and the
    candidate-bounded verify; the exact expected pair count
    (n_docs/2) is asserted.  Input persisted + materialized before
    the clock starts; shuffle partitions 4x cores for the probe
    (same methodology as containment_probe).  Returns wall
    seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.dedup import jaccard_prefix_join

    df = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(sequence(1, 30), i -> "
                "conv(cast(cast(id / 2 as long) * 48271 + i * 131 "
                "as string), 10, 36))",
            ),
            F.expr(
                "transform(sequence(1, 10), i -> "
                "concat('u', id, 'x', i))",
            ),
        ).alias("text"),
    ).persist()
    df.count()  # materialize outside the timed region
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(4 * spark.sparkContext.defaultParallelism),
    )
    try:
        t0 = time.time()
        pairs = jaccard_prefix_join(df, "text", "doc_id", n=3,
                                    threshold=0.5)
        n_pairs = pairs.count()
        dt = time.time() - t0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        df.unpersist()
    assert n_pairs == n_docs // 2, (n_pairs, n_docs)
    return dt


def bloomjoin_probe(spark, n_probe: int = 240_000_000,
                    n_build: int = 1_000_000) -> float:
    """Bloom runtime-filter semi-join scale probe: 240M probe longs vs
    a 1M-key build side (10% selectivity by construction: k = id % 10M,
    members = [0, 1M)).  Measures the mergeable Bloom build scan, the
    broadcast scalar-pandas-UDF prefilter (key-only Arrow transfer),
    and the verifying semi join over survivors; the exact expected
    count (24M) is asserted.  Sized 240M so the ~1 s fixed Bloom-build
    job amortizes.  NOTE on reading the ratio: a Python-stage task
    burns a JVM Arrow-feeder thread AND a Python worker, so local[2]
    really consumes ~4 host cores — the 2->8 ratio structurally
    understates multi-executor scaling for Python-heavy stages (the
    isolated membership stage, the ``bloomstage`` probe, measures
    0.811 — bench_artifacts/r5/scaling_ops_bloomstage.json).
    Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.runtime_filter import bloom_semijoin

    probe = spark.range(n_probe).select(
        (F.col("id") % 10_000_000).alias("k"))
    build = spark.range(n_build).select(F.col("id").alias("bk"))
    t0 = time.time()
    kept = bloom_semijoin(probe, build, key="k", build_key="bk",
                          how="semi", exact=True, capacity=n_build)
    n = kept.count()
    dt = time.time() - t0
    assert n == n_probe // 10_000_000 * n_build, n
    return dt


def bloomstage_probe(spark, n_probe: int = 240_000_000,
                     n_build: int = 1_000_000) -> float:
    """Isolated Bloom MEMBERSHIP stage (the Python-side part of
    ``bloomjoin``): same 240M-probe/1M-key shape, but the Bloom build
    and the verify join are excluded — only the broadcast
    scalar-pandas-UDF prefilter scan is timed.  This is the number the
    bloomjoin docstring's core-accounting note cites: a Python-stage
    task occupies a JVM Arrow-feeder thread AND a Python worker, so
    the composed probe's 2->8 ratio mixes this stage with JVM-only
    stages that contend with the extra Python workers at local[2].
    Survivor count is bound-asserted (all 24M members + <=2x the 1%
    design fpp of the 216M non-members).  Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.runtime_filter import (
        bloom_prefilter, build_key_bloom)

    probe = spark.range(n_probe).select(
        (F.col("id") % 10_000_000).alias("k"))
    build = spark.range(n_build).select(F.col("id").alias("k"))
    blob = build_key_bloom(build, "k", capacity=n_build)
    t0 = time.time()
    n = bloom_prefilter(probe, "k", blob).count()
    dt = time.time() - t0
    members = n_probe // 10_000_000 * n_build
    assert members <= n <= members + int(0.02 * (n_probe - members)), n
    return dt


def shll_probe(spark, n_rows: int | None = None) -> float:
    """Sliding-window HLL scale probe: one-scan skyline build over
    n_rows JVM-synthesized (value, ts) pairs (~4M distinct values
    spread over a 10^6-second range), two-stage salted fold, then
    three window estimates sanity-bounded at 4 sigma.  Measures the
    JVM prehash + two-numeric-column Arrow transfer and the
    per-partition skyline insert loop.  Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.sketch_build import (
        sliding_distinct_counts,
    )

    if n_rows is None:
        # size-trend override for the fixed-vs-parallel decomposition
        # (BENCH.md round-5 final addendum): efficiency at this probe
        # is input-size-dependent because ~10 s of session/plan/fold
        # cost is fixed while the scan parallelizes
        n_rows = int(os.environ.get("BENCH_SHLL_ROWS", "120000000"))
    df = spark.range(n_rows).select(
        (F.col("id") % 4_000_000).alias("v"),
        F.timestamp_seconds(
            ((F.col("id") * 2654435761) % 1_000_000)
            .cast("double")).alias("ts"),
    )
    t0 = time.time()
    got = {r["window"]: int(r["est_distinct"]) for r in
           sliding_distinct_counts(
               df, "v", "ts",
               {"full": 0.0, "late": 900_000.0}, p=12).collect()}
    dt = time.time() - t0
    sigma = 1.04 / (2 ** 6)
    assert abs(got["full"] - 4_000_000) / 4_000_000 < 4 * sigma, got
    assert 0 < got["late"] < 4_000_000
    return dt


def ddsketch_probe(spark, n_rows: int = 60_000_000,
                   keys: int = 16) -> float:
    """DDSketch scale probe: per-key relative-error quantiles
    (grouped_quantiles kind='ddsketch', alpha=0.01) over n_rows
    JVM-synthesized (key, value) rows — 16 keys, values a Weyl-style
    residue sequence uniform over [1, 1e6] (per key: 62.5k residues
    spaced 16 apart, so the analytic quantile of q is ~q*1e6).
    Measures the two-numeric-column Arrow transfer and the vectorized
    log-bucket fold (np.unique per batch), then the salted grouped
    merge.  p50/p99 estimates are bound-asserted at 3x the published
    alpha (alpha=1% + discrete grain).  Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.sketch_build import grouped_quantiles

    df = spark.range(n_rows).select(
        (F.col("id") % keys).cast("string").alias("k"),
        (((F.col("id") * 2654435761) % 1_000_000) + 1)
        .cast("double").alias("v"),
    )
    t0 = time.time()
    rows = grouped_quantiles(df, "k", "v", qs=(0.5, 0.99),
                             kind="ddsketch",
                             params={"alpha": 0.01}).collect()
    dt = time.time() - t0
    assert len(rows) == keys * 2, len(rows)
    for r in rows:
        true = r["q"] * 1_000_000
        assert abs(r["value"] - true) / true < 0.03, (r.asDict(), true)
    return dt


def trailing_probe(spark, n_rows: int | None = None) -> float:
    """Exact trailing-window distinct probe (q155's operator): one
    map-side-combinable groupBy(value).max(ts) over n_rows
    JVM-synthesized (value, ts) pairs (~4M distinct values over a
    10^6-second range) + one conditional aggregate for three windows.
    The exact companion of the shll probe on the SAME input shape —
    the pair measures sketch-vs-exact wall directly.  The full-range
    window must read EXACTLY the distinct count (operator is exact).
    Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.sketch_build import (
        trailing_distinct_exact,
    )

    if n_rows is None:
        n_rows = int(os.environ.get("BENCH_TRAILING_ROWS", "120000000"))
    df = spark.range(n_rows).select(
        (F.col("id") % 4_000_000).alias("v"),
        F.timestamp_seconds(
            ((F.col("id") * 2654435761) % 1_000_000)
            .cast("double")).alias("ts"),
    )
    t0 = time.time()
    got = {r["window"]: int(r["distinct_count"]) for r in
           trailing_distinct_exact(
               df, "v", "ts",
               {"full": 0, "late": 900_000 * 1_000_000}).collect()}
    dt = time.time() - t0
    n_distinct = min(n_rows, 4_000_000)
    assert got["full"] == n_distinct, got
    assert 0 < got["late"] <= n_distinct, got
    return dt


def overlap_probe(spark, n_rows: int | None = None,
                  groups: int = 6) -> float:
    """Exact pairwise group-overlap probe (q156's operator): one
    distinct() shuffle over n_rows JVM-synthesized (group, value)
    rows, value-keyed self-join (reused exchange), broadcast pair
    grid — C(6,2)=15 result rows.  Values are drawn so consecutive
    groups overlap: v = id % 5M, g = (id * 7) % 6 gives every group
    every residue class over time; sanity-asserts set-algebra
    invariants (intersection <= min, union >= max, symmetry count).
    Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.sketch_build import exact_group_overlap

    if n_rows is None:
        n_rows = int(os.environ.get("BENCH_OVERLAP_ROWS", "60000000"))
    df = spark.range(n_rows).select(
        F.concat(F.lit("g"), (F.col("id") % groups)).alias("g"),
        # group g sees values g, g+stride, g+2*stride, ... — adjacent
        # groups share nothing, but every group overlaps the shared
        # low range [0, 1M) injected for ids below 6M
        F.when(F.col("id") < 6_000_000,
               (F.col("id") * 2654435761) % 1_000_000)
        .otherwise((F.col("id") * 2654435761) % 5_000_000)
        .alias("v"),
    )
    t0 = time.time()
    rows = exact_group_overlap(df, "g", "v").collect()
    dt = time.time() - t0
    assert len(rows) == groups * (groups - 1) // 2, len(rows)
    for r in rows:
        assert r["n_intersection"] <= min(r["n_a"], r["n_b"]), r
        assert r["n_union"] >= max(r["n_a"], r["n_b"]), r
        assert r["n_union"] == r["n_a"] + r["n_b"] - r["n_intersection"]
    return dt


def fd_probe(spark, n_rows: int = 6_000_000, d: int = 32) -> float:
    """Frequent Directions scale probe: one-scan FD (ell=32) over n_rows
    JVM-synthesized d-dim vectors, log-depth treeAggregate merge.
    Measures the Arrow array transfer, the per-partition buffered-SVD
    fold, and the blob merge; exact row/Frobenius bookkeeping is
    asserted.  Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.matrix_sketch import frequent_directions

    df = spark.range(n_rows).select(
        F.expr(
            f"transform(sequence(1, {d}), i -> "
            "cast((id * 2654435761 + i * 97) % 1000 as double) / 500.0 "
            "- 1.0)",
        ).alias("embedding"),
    )
    t0 = time.time()
    sk = frequent_directions(df, vec_col="embedding", ell=32,
                             merge="tree")
    dt = time.time() - t0
    assert sk.n_rows == n_rows, sk.n_rows
    assert sk.squared_frobenius > 0
    return dt


def bootstrap_probe(spark, n_rows: int = 8_000_000,
                    B: int = 32) -> float:
    """Poisson-bootstrap scale probe: B=32 replicate means over
    n_rows JVM-generated values in ONE scan — 2B mergeable aggregates
    whose inputs are B md5 projections per row, the heaviest pure-CPU
    JVM-expression stage in the engine (no shuffle beyond the 1-row
    final agg, no Python), so it reads the codegen-scan scaling
    ceiling directly.  Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.sampling import bootstrap_replicate_stats

    df = spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 1013).cast("double").alias("v"),
    )
    t0 = time.time()
    reps = bootstrap_replicate_stats(df, "v", "doc_id", B=B).collect()
    dt = time.time() - t0
    assert len(reps) == B and all(r["n_eff"] > 0 for r in reps)
    return dt


def editdist_probe(spark, n_keys: int = 40_000,
                   domain: int = 1_000_000) -> float:
    """Edit-distance self-join scale probe in the SHARED-PREFIX key
    regime that used to wedge q86 (every key is `Customer#%09d`, so
    all corpus-hot grams are identical): n_keys names drawn
    hash-uniformly from a `domain`-sized id space, joined at
    max_distance=1.  Exercises the ED-Join rarest-gram prefix path:
    occurrence-numbered gram explode, two windows, frequency join,
    prefix join, thresholded levenshtein verify.  Sanity: the result
    must contain at least every exact-duplicate pair (birthday
    collisions of the draw), counted independently with one groupBy.
    Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.similarity import edit_distance_join

    df = spark.range(n_keys).select(
        F.col("id"),
        F.format_string(
            "Customer#%09d",
            F.pmod(F.xxhash64("id"), F.lit(domain)),
        ).alias("name"),
    )
    dup_pairs = int(
        df.groupBy("name").agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2)).first()[0]
        or 0)
    t0 = time.time()
    n = edit_distance_join(df, "name", id_col="id",
                           max_distance=1).count()
    dt = time.time() - t0
    assert n >= dup_pairs > 0, (n, dup_pairs)
    return dt


def hits_probe(spark, n_edges: int = 8_000_000,
               n_nodes: int = 200_000) -> float:
    """HITS scale probe: 5 L2-normalized power-iteration rounds over
    the pagerank probe's hub-skewed synthetic graph.  Two joins + two
    groupBys per round with the same per-round localCheckpoint
    barrier as pagerank (documented serial-share ceiling applies).
    Returns wall seconds."""
    from pyspark.sql import functions as F

    from outrank_spark.operators.graph import hits

    edges = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("src"),
        F.pow(
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_000))
            / F.lit(1_000_000.0), F.lit(3.0),
        ).cast("double").alias("u"),
    ).select(
        "src", (F.col("u") * n_nodes).cast("long").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    t0 = time.time()
    out = hits(edges, iterations=5)
    row = out.agg(
        F.sum(F.col("hub") * F.col("hub")).alias("h2"),
        F.sum(F.col("authority") * F.col("authority")).alias("a2"),
    ).first()
    dt = time.time() - t0
    assert abs(row["h2"] - 1.0) < 1e-6 and abs(row["a2"] - 1.0) < 1e-6
    return dt



# name -> (probe fn, human-readable work size) for --scaling-ops;
# every probe generates its input JVM-side, so the two parallelism
# levels see byte-identical work
SCALING_OP_PROBES = {
    "asof": (asof_probe, "16M rows"),
    "components": (components_probe, "4M edges"),
    "minhash": (minhash_probe, "200k docs"),
    "quality": (quality_model_probe, "150k docs"),
    "semdedup": (semdedup_probe, "600k rows"),
    "warc": (warc_probe, "192k records"),
    "discretize": (discretize_probe, "60M rows"),
    "bpe": (bpe_probe, "1.2M docs"),
    "bm25": (bm25_probe, "1.5M docs x 30 tokens"),
    "funnel": (funnel_probe, "40M events"),
    "pagerank": (pagerank_probe, "8M edges x 5 iters"),
    "dsir": (dsir_probe, "1.5M docs"),
    "sessionize": (sessionize_probe, "20M events"),
    "containment": (containment_probe, "800k docs"),
    "prefixjoin": (prefixjoin_probe, "200k docs"),
    "bloomjoin": (bloomjoin_probe, "240M probe x 1M keys"),
    "bloomstage": (bloomstage_probe, "240M probe x 1M keys"),
    "fdsketch": (fd_probe, "6M x 32-dim vectors"),
    "bootstrap": (bootstrap_probe, "8M rows x 32 replicates"),
    "hits": (hits_probe, "8M edges x 5 iters"),
    "editdist": (editdist_probe, "40k shared-prefix keys"),
    "shll": (shll_probe, "120M (value, ts) pairs"),
    "ddsketch": (ddsketch_probe, "60M (key, value) rows x 16 keys"),
    "trailing": (trailing_probe, "120M (value, ts) pairs"),
    "overlap": (overlap_probe, "60M (group, value) rows x 6 groups"),
}


def run_suite(cpus: int, sf_dir: str) -> dict:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from outrank_spark.plans.queries import QUERIES

    spark = make_spark(cpus)
    try:
        # Untimed warmup: JVM classloading + whole-stage codegen + the
        # Python worker pool all pay first-use costs that belong to
        # session boot, not to any query.  One tiny scan+shuffle+Arrow
        # round trip amortizes them so per-query times are steady-state.
        from pyspark.sql import functions as F
        warm = spark.read.parquet(f"{sf_dir}/nation.parquet")
        warm.groupBy("n_regionkey").agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("n_name").cast("decimal(38,0)")),
        ).collect()
        warm.limit(5).toPandas()  # Arrow driver lane
        # spawn the executor-side Python worker pool (first mapInPandas
        # otherwise pays ~5 s of worker forking on 32 cores)
        spark.range(0, cpus * 4, 1, cpus).mapInPandas(
            lambda it: it, "id long",
        ).count()
        times = {}
        for name in HEADLINE:
            # min of 2 reps: single-run numbers on this shared VM swing
            # 20-40% from GC/JIT/host jitter; min is the steady state
            # (noise only ever adds time)
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                QUERIES[name](spark, sf_dir).collect()
                best = min(best, time.time() - t0)
            times[name] = round(best, 3)
        # min of 3 reps for the ranking job: r3's driver artifact
        # recorded 10.78 s from a single rep where two re-measurements
        # of the same code gave 6.13/5.83 s — single-run numbers on this
        # shared VM are not trustworthy (VERDICT r3, "What's wrong" #1),
        # and 2-rep sequences were still observed monotonically
        # decreasing under host load (11.0 -> 8.9 -> 7.0 s), so a third
        # rep is needed before min() reflects steady state
        rank_sec, pps = ranking_throughput(spark, N_PAGES, warmup=True)
        for _ in range(2):
            rank_sec2, pps2 = ranking_throughput(spark, N_PAGES, warmup=False)
            if rank_sec2 < rank_sec:
                rank_sec, pps = rank_sec2, pps2
        times["ranking_pages_job"] = round(rank_sec, 3)
        t0 = time.time()
        sketch_err = sketch_error_probe(spark, sf_dir)
        # kept OUT of `times`: the summed headline metric must stay
        # comparable with prior rounds' BENCH_r{N}.json
        probe_sec = round(time.time() - t0, 3)
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
        return {
            "metric": "headline suite wall time",
            "value": round(sum(times.values()), 3),
            "unit": "sec",
            "suite_r4_comparable_sec": round(
                sum(times[n] for n in HEADLINE_R4)
                + times["ranking_pages_job"], 3),
            "queries": times,
            "sf": sf,
            "cpus": cpus,
            "pages_per_sec": round(pps, 1),
            "ranking_pages": N_PAGES,
            "sketch_error": sketch_err,
            "sketch_error_probe_sec": probe_sec,
        }
    finally:
        spark.stop()


def _cpu_unit(_i: int) -> int:
    """One fixed pure-CPU work unit for --cpu-calibration: ~4 s of
    CACHE-RESIDENT numpy hashing on one core (module-level so the
    spawn-context Pool can pickle it).  The working set must fit in
    per-core cache — a DRAM-streaming loop measures the host's shared
    memory bandwidth, not its core scaling, and reads absurdly low
    (0.39 "efficiency" on a host whose Spark jobs scale at 0.9)."""
    import numpy as np

    x = np.arange(100_000, dtype=np.uint64)  # 800 KB: L2-resident
    acc = np.uint64(0)
    for _ in range(3200):
        x = x * np.uint64(0x9E3779B97F4A7C15) + np.uint64(1)
        x ^= x >> np.uint64(31)
        acc ^= x[-1]
    return int(acc)


# 4M pages is the representative e2e shape: at 2M the fixed JVM/
# session/Python-worker boot costs are still ~10% of the 8-core wall
# and drag measured efficiency ~0.1 below the same job at 4M
# (0.781 vs 0.899 on the same tree — bench_artifacts/r5/).  Override
# with BENCH_SCALING_PAGES=2000000 for the faster variant.
SCALING_PAGES = int(os.environ.get("BENCH_SCALING_PAGES", "4000000"))
SCALING_REPS = int(os.environ.get("BENCH_SCALING_REPS", "2"))
# N and 4N cores for the scaling pair.  Default 2 -> 8: a pure-CPU
# probe (multiprocessing busy loop) shows this VM sustains a true 4.0x
# from 2 to 8 workers, while 8 -> 32 tops out at ~3.1x (0.77) — i.e.
# the silicon itself can't evidence 0.8 efficiency on the 8/32 pair.
SCALING_N = int(os.environ.get("BENCH_SCALING_N", "2"))


def _pin_single_thread_blas() -> None:
    """Pool initializer: cap BLAS/OpenMP at one thread BEFORE the
    worker's first numpy import."""
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
              "MKL_NUM_THREADS", "VECLIB_MAXIMUM_THREADS",
              "NUMEXPR_NUM_THREADS"):
        os.environ[v] = "1"


def _semdedup_kernel(args) -> tuple[float, float]:
    """One semantic_dedup cell-prune work unit, the EXACT per-cell
    kernel shape (similarity.semantic_dedup's ``prune``): stack an
    object array of float32 rows, normalize, then blocked Gram
    products against earlier rows.  Module-level so a spawn-context
    Pool can pickle it.  Returns (wall_sec, bytes_touched) where
    bytes_touched counts the dominant streams: the stack copy
    (2 * n * d * 4), the normalize read+write, and per block the vn
    slices read + the sim slice written."""
    n, d, seed, reps = args
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(seed))
    rows = [rng.standard_normal(d).astype(np.float32)
            for _ in range(n)]
    obj = np.empty(len(rows), dtype=object)
    obj[:] = rows
    block = max(1, 4_000_000 // n)
    t0 = time.time()
    acc = 0.0
    touched = 0
    for _ in range(reps):
        vecs = np.stack(obj)
        touched += 2 * n * d * 4
        vn = vecs / np.maximum(
            np.linalg.norm(vecs, axis=1, keepdims=True),
            np.float32(1e-12))
        touched += 2 * n * d * 4
        for b0 in range(1, n, block):
            b1 = min(b0 + block, n)
            sims = vn[:b1] @ vn[b0:b1].T
            acc += float(sims[0, 0])
            touched += (b1 * d + (b1 - b0) * d + b1 * (b1 - b0)) * 4
    return time.time() - t0, float(touched)


def semdedup_roofline() -> dict:
    """Measured (not argued) evidence for the semdedup scaling
    ceiling (r4 verdict #5): run the EXACT per-cell prune kernel —
    no Spark, no Arrow, no scheduler — under multiprocessing at 1/2/8
    workers and report aggregate GB/s.  If the pure-numpy kernel's
    8-worker aggregate plateaus at the same efficiency the Spark
    probe shows, the wall is the box's memory subsystem, not the
    operator's plan."""
    import multiprocessing as mp

    n, d, reps = 4096, 32, 24  # ~4096-row cells, the autoscale target
    out = {"metric": "semdedup per-cell kernel roofline (no Spark)",
           "cell_rows": n, "dim": d, "unit": "GB/s"}
    for workers in (1, 2, 8):
        jobs = [(n, d, 1000 + w, reps) for w in range(workers)]
        # one BLAS thread per worker — otherwise the 1-worker case
        # silently uses every core and the comparison measures BLAS
        # oversubscription, not memory-subsystem scaling (executor
        # Python workers are single-threaded too, the shape we model)
        with mp.get_context("spawn").Pool(
                workers, initializer=_pin_single_thread_blas) as pool:
            res = pool.map(_semdedup_kernel, jobs)
        wall = max(r[0] for r in res)          # workers run in parallel
        gbytes = sum(r[1] for r in res) / 1e9
        out[f"wall_{workers}w_sec"] = round(wall, 3)
        out[f"agg_gb_per_s_{workers}w"] = round(gbytes / wall, 2)
    out["eff_1_to_2"] = round(
        out["agg_gb_per_s_2w"] / (2 * out["agg_gb_per_s_1w"]), 3)
    out["eff_2_to_8"] = round(
        out["agg_gb_per_s_8w"] / (4 * out["agg_gb_per_s_2w"]), 3)
    return out


def _scaling_child(cpus: int) -> tuple[float, float]:
    """Steady-state measurement: fresh JVM, JIT warmup, min of N reps
    (min, not mean — GC pauses and host jitter only ever add time).
    Returns (end-to-end ranking sec, compute-bound fan-out sec)."""
    spark = make_spark(cpus)
    try:
        ranking_throughput(spark, 200_000, warmup=False)  # JIT warmup
        best = min(
            ranking_throughput(spark, SCALING_PAGES)[0]
            for _ in range(SCALING_REPS)
        )
        pair_fanout_throughput(spark)  # warm
        best_fanout = min(
            pair_fanout_throughput(spark) for _ in range(SCALING_REPS)
        )
        return best, best_fanout
    finally:
        spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    if "--skew" in sys.argv:
        spark = make_spark(cpus)
        try:
            out = skew_probe(spark)
        finally:
            spark.stop()
        print(json.dumps({"metric": "salted vs unsalted grouped sketch "
                                    "build (50%-hot key, 2M pages)",
                          "unit": "sec", **out}))
        return

    if "--semdedup-roofline" in sys.argv:
        print(json.dumps(semdedup_roofline()))
        return

    if "--cpu-calibration" in sys.argv:
        # What does the SILICON sustain from N to 4N workers today?
        # A shared VM's upper-core headroom drifts with co-tenants, so
        # every recorded scaling-efficiency number should be read
        # against this same-day ceiling: a Spark job cannot scale
        # better than a pure-CPU busy loop on the same host.  Workers
        # run an allocation-free numpy hash loop (no shared state, no
        # GIL: separate processes), each timed over a fixed work unit.
        import multiprocessing as mp

        lo, hi = SCALING_N, 4 * SCALING_N
        out = {}
        for n in (lo, hi):
            with mp.get_context("spawn").Pool(n) as pool:
                pool.map(_cpu_unit, range(n))  # warm: imports + allocs
                t0 = time.time()
                pool.map(_cpu_unit, range(n))
                wall = time.time() - t0
            out[n] = n / wall  # units/sec
        print(json.dumps({
            "metric": f"pure-CPU scaling ceiling {lo}->{hi} workers",
            "value": round((out[hi] / out[lo]) / 4.0, 3),
            "unit": "efficiency",
            f"units_per_sec_{lo}": round(out[lo], 3),
            f"units_per_sec_{hi}": round(out[hi], 3),
        }))
        return

    if "--scaling" in sys.argv:
        # two fresh subprocesses so each gets an untouched JVM
        lo, hi = SCALING_N, 4 * SCALING_N
        out = {}
        for n in (lo, hi):
            r = subprocess.run(
                [sys.executable, __file__, "--scaling-child", str(n)],
                capture_output=True, text=True, check=True,
            )
            e2e, fanout = r.stdout.strip().splitlines()[-1].split()
            out[n] = (float(e2e), float(fanout))
        eff = (out[lo][0] / out[hi][0]) / 4.0
        eff_fanout = (out[lo][1] / out[hi][1]) / 4.0
        print(json.dumps({
            "metric": f"ranking scaling efficiency local[{lo}]->local[{hi}]",
            "value": round(eff, 3), "unit": "efficiency",
            f"t{lo}_sec": round(out[lo][0], 2),
            f"t{hi}_sec": round(out[hi][0], 2),
            "pages": SCALING_PAGES,
            f"pages_per_sec_{lo}": round(SCALING_PAGES / out[lo][0], 1),
            f"pages_per_sec_{hi}": round(SCALING_PAGES / out[hi][0], 1),
            "fanout_efficiency": round(eff_fanout, 3),
            f"fanout_t{lo}_sec": round(out[lo][1], 2),
            f"fanout_t{hi}_sec": round(out[hi][1], 2),
        }))
        return

    if "--scaling-ops" in sys.argv:
        # item 9: measured (not argued) scale evidence for the
        # temporal + graph operators at two parallelism levels.
        # Optional csv after the flag restricts to named probes
        # (e.g. `--scaling-ops pagerank,dsir`) so a new operator's
        # numbers don't cost an eleven-probe re-run.
        i = sys.argv.index("--scaling-ops")
        sel = (sys.argv[i + 1].split(",")
               if len(sys.argv) > i + 1
               and not sys.argv[i + 1].startswith("--")
               else list(SCALING_OP_PROBES))
        bad = [s for s in sel if s not in SCALING_OP_PROBES]
        if bad:
            raise SystemExit(f"unknown probe(s) {bad}; "
                             f"known: {list(SCALING_OP_PROBES)}")
        lo, hi = SCALING_N, 4 * SCALING_N
        # INTERLEAVE the two parallelism levels round by round
        # (lo, hi, lo, hi, ...) so a slow host hour biases both sides
        # equally instead of whichever level ran second — r3/r4 read
        # 0.86 vs 0.71 on identical code because the levels ran in
        # separate blocks.  Min-of-rounds per level, spread reported.
        rounds: dict[int, list[list[float]]] = {lo: [], hi: []}
        for _ in range(max(SCALING_REPS, 3)):
            for n in (lo, hi):
                r = subprocess.run(
                    [sys.executable, __file__, "--scaling-ops-child",
                     str(n), ",".join(sel), "1"],
                    capture_output=True, text=True, check=True,
                )
                rounds[n].append(
                    [float(v)
                     for v in r.stdout.strip().splitlines()[-1].split()])
        out = {n: [min(col) for col in zip(*rounds[n])]
               for n in (lo, hi)}
        res = {
            "metric": (f"{'/'.join(sel)} scaling "
                       f"local[{lo}]->local[{hi}]"),
            "unit": "efficiency",
            "interleaved_rounds": max(SCALING_REPS, 3),
        }
        for name in sel:
            res[f"{name}_size"] = SCALING_OP_PROBES[name][1]
        overrides = {k: v for k, v in os.environ.items()
                     if k.startswith("BENCH_")}
        if overrides:
            # size-trend runs override probe inputs via env; record
            # the actual sizes so the artifact is self-describing
            res["size_env"] = overrides
        for i, name in enumerate(sel):
            res[f"{name}_t{lo}_sec"] = round(out[lo][i], 2)
            res[f"{name}_t{hi}_sec"] = round(out[hi][i], 2)
            res[f"{name}_t{lo}_all"] = [round(r[i], 2)
                                        for r in rounds[lo]]
            res[f"{name}_t{hi}_all"] = [round(r[i], 2)
                                        for r in rounds[hi]]
            res[f"{name}_efficiency"] = round(
                (out[lo][i] / out[hi][i]) / 4.0, 3)
        print(json.dumps(res))
        return

    if "--scaling-ops-child" in sys.argv:
        i = sys.argv.index("--scaling-ops-child")
        n = int(sys.argv[i + 1])
        sel = (sys.argv[i + 2].split(",") if len(sys.argv) > i + 2
               else list(SCALING_OP_PROBES))
        n_reps = (int(sys.argv[i + 3]) if len(sys.argv) > i + 3
                  else SCALING_REPS)
        probes = tuple(SCALING_OP_PROBES[s][0] for s in sel)
        spark = make_spark(n)
        try:
            # warm at FULL size: a small-shape warmup leaves the large
            # probe's first run paying shuffle-file + JIT costs, which
            # min-of-reps then misreads as steady state
            best = []
            for probe in probes:
                probe(spark)
                best.append(min(probe(spark)
                                for _ in range(n_reps)))
        finally:
            spark.stop()
        print(*best)
        return

    if "--scaling-child" in sys.argv:
        n = int(sys.argv[sys.argv.index("--scaling-child") + 1])
        e2e, fanout = _scaling_child(n)
        print(e2e, fanout)
        return

    print(json.dumps(run_suite(cpus, sf_dir)))


if __name__ == "__main__":
    main()
