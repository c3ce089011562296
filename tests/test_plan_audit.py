"""Physical-plan audits: the optimizations the 100 TB story depends on
must be visible in the executed plan, not assumed.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPushdownAndPruning:
    def test_filter_pushed_to_parquet(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_quantity")
        plan = plan_of(q)
        assert "PushedFilters: [" in plan
        assert "l_shipdate" in plan.split("PushedFilters")[1][:200]

    def test_column_pruning_reaches_scan(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        q = li.select("l_returnflag").groupBy("l_returnflag").count()
        read_schema = plan_of(q).split("ReadSchema:")[-1]
        assert "l_returnflag" in read_schema
        assert "l_extendedprice" not in read_schema

    def test_sketch_scan_prunes_unused_columns(self, spark):
        from outrank_spark.operators.sketch_build import SketchPlan, _scan_plan

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = SketchPlan(columns=["lang"], sketches={"hll": {"p": 12}})
        scan = _scan_plan(docs, plan, True)
        read_schema = plan_of(scan).split("ReadSchema:")[-1]
        assert "lang" in read_schema
        assert "text" not in read_schema  # the heavy column stays cold


class TestJoinStrategies:
    def test_dimension_join_broadcasts(self, spark):
        from outrank_spark.plans.queries import q02_revenue_topk

        plan = plan_of(q02_revenue_topk(spark, SF))
        assert "BroadcastHashJoin" in plan

    def test_brand_revenue_double_broadcast(self, spark):
        from outrank_spark.plans.queries import q04_brand_revenue

        plan = plan_of(q04_brand_revenue(spark, SF))
        assert plan.count("BroadcastHashJoin") >= 2


class TestCodegen:
    def test_pricing_summary_wholestage(self, spark):
        from outrank_spark.plans.queries import q01_pricing_summary

        df = q01_pricing_summary(spark, SF)
        df.collect()  # AQE: codegen spans appear in the *final* plan
        plan = plan_of(df)
        # AQE final plans mark WholeStageCodegen stages as "*(n)"
        assert "WholeStageCodegen" in plan or "*(" in plan

    def test_transformer_exprs_no_python(self, spark):
        import pandas as pd

        from outrank_spark.operators.transformers import (
            enrich_with_transformations,
        )

        sdf = spark.createDataFrame(
            pd.DataFrame({"a": [float(i) for i in range(100)]}),
        )
        out, _ = enrich_with_transformations(sdf, ["a"], "minimal",
                                             gate=False)
        plan = plan_of(out)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestShuffleShape:
    def test_scoring_ships_longs_not_strings(self, spark):
        """Precoded scoring input must be all-bigint (zero-copy Arrow)."""
        from outrank_spark.operators.pair_scoring import assign_batches

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        cols = ["lang", "source"]
        base = docs.select(*[F.xxhash64(F.col(c)).alias(c) for c in cols])
        batched = assign_batches(base, 4, key_cols=cols)
        types = {f.dataType.simpleString() for f in batched.schema.fields}
        assert types == {"bigint"}

    def test_lsh_verify_is_candidate_bounded(self, spark):
        """With candidate_pairs set, the exact-Jaccard verify must
        semi-join shingles to the candidate ids BEFORE any join — no
        unbounded shingle self-join may appear in the plan."""
        import pandas as pd

        from outrank_spark.operators.dedup import ngram_jaccard_pairs

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": list(range(8)),
            "text": [f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}" for i in range(8)],
        }))
        cand = spark.createDataFrame(
            pd.DataFrame({"id_a": [0, 1], "id_b": [1, 2]}),
        )
        plan = plan_of(ngram_jaccard_pairs(docs, candidate_pairs=cand))
        assert "LeftSemi" in plan  # shingles pruned to candidate ids

    def test_simhash_is_pure_jvm(self, spark):
        import pandas as pd

        from outrank_spark.operators.dedup import simhash_signatures

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2], "text": ["a b c", "d e f"]}),
        )
        plan = plan_of(simhash_signatures(docs))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "FlatMapsInPandas" not in plan and "MapInPandas" not in plan

    def test_interaction_analyzer_time_bounded(self, spark):
        """Order-3 interactions over 15 cols = 455 derived columns;
        built as ONE select, the plan must analyze in seconds (chained
        withColumn used to nest the plan 455 deep)."""
        import time

        import pandas as pd

        from outrank_spark.operators.interactions import (
            with_interaction_features,
        )

        cols = {f"c{i}": ["x", "y"] for i in range(15)}
        sdf = spark.createDataFrame(pd.DataFrame({"label": ["0", "1"], **cols}))
        t0 = time.time()
        out, names = with_interaction_features(
            sdf, "label", interaction_order=3,
        )
        out.schema  # force analysis
        assert len(names) == 455
        # chained withColumn took minutes here; generous bound for a
        # busy shared JVM still catches the superlinear regression
        assert time.time() - t0 < 60.0

    def test_langid_fit_prefilters_before_window(self, spark):
        """The per-language sample must hash-filter BEFORE the window
        sort — never shuffle+sort the full corpus to keep a few
        hundred docs."""
        from outrank_spark.operators.text import _langid_sample_plan

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(_langid_sample_plan(docs, "text", "lang", 10, 4096))
        sort_pos = plan.find("Sort ")
        filt_pos = plan.rfind("Filter ")
        assert sort_pos != -1 and filt_pos != -1
        # executedPlan prints parents above children: the prefilter
        # Filter must sit BELOW (after) the window Sort in the tree
        assert filt_pos > sort_pos
        assert "xxhash64" in plan[filt_pos:filt_pos + 400]

    def test_blob_rows_are_tiny(self, spark):
        """Per-partition sketch blobs stay small even for
        high-cardinality columns (bounded warmup -> bitmap)."""
        from outrank_spark.operators.sketch_build import SketchPlan, build_sketches
        from outrank_spark.sources import generate_pages

        pages = generate_pages(spark, 20000, seed=1, partitions=2)
        plan = SketchPlan(
            columns=["url"],
            sketches={"parity_hll": {"p": 12, "warmup_limit": 2048}},
        )
        skc = build_sketches(pages, plan)
        blob = skc[("url", "parity_hll")].to_bytes()
        assert len(blob) <= (1 << 12) // 8 + 16  # bitmap + header


class TestPartitionedTables:
    """Hive-style partitioned parquet is the sandbox stand-in for the
    north rule's Iceberg pages table: partition pruning must eliminate
    non-matching partitions at PLAN time (at 10^12 rows, a lang= or
    day= predicate should never touch the other partitions' files)."""

    def test_partition_pruning_on_pages_table(self, spark, tmp_path):
        from outrank_spark.sources import generate_pages

        path = str(tmp_path / "pages_part")
        generate_pages(spark, 4000, seed=3, partitions=4).write \
            .partitionBy("lang").parquet(path)

        df = spark.read.parquet(path).where(F.col("lang") == "de") \
            .select("url", "text")
        plan = plan_of(df)
        assert "PartitionFilters" in plan
        assert "lang" in plan.split("PartitionFilters", 1)[1][:200]
        # the scan must actually read fewer files than the full table
        scanned = df.select(F.input_file_name()).distinct().count()
        total = spark.read.parquet(path) \
            .select(F.input_file_name()).distinct().count()
        assert scanned < total
        # and every surviving row is from the de partition
        assert df.count() > 0

    def test_partitioned_write_round_trips(self, spark, tmp_path):
        from outrank_spark.sources import generate_pages

        path = str(tmp_path / "pages_rt")
        pages = generate_pages(spark, 2000, seed=4, partitions=2)
        pages.write.partitionBy("lang").parquet(path)
        back = spark.read.parquet(path)
        assert back.count() == 2000
        a = {tuple(r) for r in pages.select("url", "lang").collect()}
        b = {tuple(r) for r in back.select("url", "lang").collect()}
        assert a == b


class TestPipelineQueryPlans:
    def test_corpus_cleaning_is_pure_jvm_semi_join(self, spark):
        """q40: dedup keeper must reach the plan as a semi join (or
        aggregate+join equivalent) with zero Python operators."""
        from outrank_spark.plans.queries import q40_corpus_cleaning_pipeline

        plan = plan_of(q40_corpus_cleaning_pipeline(spark, SF))
        assert "LeftSemi" in plan
        for marker in ("BatchEvalPython", "ArrowEvalPython",
                       "MapInPandas", "FlatMapGroupsInPandas"):
            assert marker not in plan

    def test_duplicate_cluster_edges_share_one_scan_per_key(self, spark):
        """q39's two blocking-key edge sets scan documents a bounded
        number of times (2 keys x (keyed + mins) = 4 scans max) and
        nothing quadratic appears (no CartesianProduct/BNL-inner)."""
        from outrank_spark.plans.queries import q39_duplicate_clusters

        plan = plan_of(q39_duplicate_clusters(spark, SF))
        assert plan.count("Scan parquet") <= 6
        assert "CartesianProduct" not in plan


class TestDistributedProbesAndLaziness:
    def test_bloom_probe_is_distributed(self, spark):
        """probe_bloom evaluates membership inside mapInPandas — the
        probed population never collects to the driver (the q42 shape
        VERDICT r2 flagged as a driver OOM at scale)."""
        from outrank_spark.operators.sketch_build import probe_bloom
        from outrank_spark.sketches.bloom import BloomFilter

        bloom = BloomFilter(capacity=1000, fpr=0.01)
        bloom.update([str(i) for i in range(100)])
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        probe = probe_bloom(
            orders.select("o_custkey").distinct(), "o_custkey",
            bloom.to_bytes(),
        )
        plan = plan_of(probe)
        assert "MapInPandas" in plan
        row = probe.first()
        assert row["n_probed"] > 0
        # q42's source no longer collects the member population
        import inspect

        from outrank_spark.plans import queries

        src = inspect.getsource(queries.q42_bloom_membership)
        assert ".collect()" not in src

    def test_tfidf_is_lazy_and_caches_tf(self, spark):
        """Constructing tfidf_top_terms must trigger NO Spark job; the
        tf relation is persisted so the text scan materializes once
        for both consumers (doc-frequency branch + final join); N
        comes from a pruned id-only aggregate."""
        from outrank_spark.operators.text import tfidf_top_terms

        docs = spark.read.parquet(f"{SF}/documents.parquet")

        # laziness: build over a relation that explodes on any action
        def boom(batches):
            raise RuntimeError("action ran")
            yield  # pragma: no cover

        poisoned = docs.mapInPandas(boom, schema=docs.schema)
        tfidf_top_terms(poisoned, cache_tf=False)  # must not raise

        out = tfidf_top_terms(docs, k=2)
        assert out.count() > 0
        plan = plan_of(out)
        # both tf consumers read the cache, not the parquet text scan
        assert "InMemoryTableScan" in plan
        spark.catalog.clearCache()


class TestSamplingAndLmPlans:
    def test_weighted_sample_is_scan_plus_broadcast(self, spark):
        """weighted_sample must not shuffle the data relation: one
        1-row aggregate, broadcast-joined, then a filter at the scan."""
        from outrank_spark.operators.sampling import weighted_sample

        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .withColumn("w", F.length("text").cast("double"))
        plan = plan_of(weighted_sample(docs, "w", 0.5))
        assert "BroadcastNestedLoopJoin" in plan or \
            "BroadcastExchange" in plan
        # the big side never exchanges by a key (only the broadcast)
        data_side = plan.split("Broadcast")[0]
        assert "Exchange hashpartitioning" not in data_side

    def test_temperature_rebalance_broadcasts_fractions(self, spark):
        from outrank_spark.operators.sampling import (
            temperature_rebalance,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = temperature_rebalance(docs, "lang", tau=0.5)
        plan = plan_of(out)
        assert "BroadcastHashJoin" in plan
        assert out.count() > 0

    def test_bigram_lm_partial_aggregates(self, spark):
        """Both count aggregates must partial-aggregate (map-side
        combine is what absorbs Zipf head tokens)."""
        from outrank_spark.operators.text import ngram_logprob_scores

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(ngram_logprob_scores(docs))
        # partial_count before the exchange for both groupBys
        assert plan.count("partial_count") >= 2


class TestRound4LateAdditions:
    def test_funnel_shuffle_ships_packed_longs(self, spark):
        """funnel_counts' only shuffle must carry events as one packed
        bigint array element (t << kbits | s), not a struct — half the
        shuffle bytes; the byte-thinning must stay visible in the
        pre-shuffle schema."""
        from outrank_spark.operators.temporal import funnel_counts

        ev = spark.read.parquet(f"{SF}/events.parquet")
        out = funnel_counts(ev, ["view", "click", "purchase"])
        plan = plan_of(out)
        # the aggregate's input event array is array<bigint>; no
        # struct-typed event field survives anywhere in the plan
        assert "shiftleft" in plan
        assert "struct(t" not in plan

    def test_dsir_hashed_mode_broadcasts_weight_table(self, spark):
        """dsir_logratio with bounded buckets must join the per-feature
        log-ratio table back via broadcast — the corpus-side explode is
        never re-shuffled by feature for the join."""
        from outrank_spark.operators.sampling import dsir_logratio

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(dsir_logratio(docs, F.col("lang") == "en",
                                     num_buckets=1 << 12))
        assert "BroadcastHashJoin" in plan

    def test_editdist_join_has_no_cartesian(self, spark):
        """edit_distance_join candidates come from the gram equi-join;
        nothing quadratic (CartesianProduct / inner BNL) may appear."""
        from outrank_spark.operators.similarity import edit_distance_join

        cust = spark.read.parquet(f"{SF}/customer.parquet")
        plan = plan_of(edit_distance_join(cust, "c_name",
                                          id_col="c_custkey"))
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
            or "BroadcastHashJoin" in plan
        # the ED-Join prefix filter must gate BOTH gram-join inputs:
        # each side joins on at most q*d+1 = 3 rarest gram keys per
        # string (this bound is what keeps shared-prefix key spaces
        # like Customer#0000… off the quadratic cliff)
        assert plan.count("_rk#") >= 2 or plan.count("_rk <= 3") >= 2 \
            or plan.count("(_rk") >= 2

    def test_duplicated_spans_no_cartesian_single_split(self, spark):
        """q85's gram stage must carry exactly one split() per doc (the
        two-projection fix — an inlined split inside the transform
        lambda re-splits per gram position) and no quadratic join."""
        from outrank_spark.operators.dedup import duplicated_spans_exact

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(duplicated_spans_exact(docs, min_length=8))
        assert "CartesianProduct" not in plan
        gram_stage = [ln for ln in plan.splitlines()
                      if "transform" in ln and "xxhash64" in ln]
        assert gram_stage, "gram construction stage missing from plan"
        assert all(ln.count("split(") <= 1 for ln in gram_stage)

    def test_containment_join_single_pair_pipeline(self, spark):
        """containment_join's corpus shingle explode must run ONCE:
        the collect_list pair streaming replaced the two-sided
        self-join (no exchange reuse fired there), and both output
        directions must come from one array explode over the
        aggregated pair table, not a union that duplicates the whole
        pair-generation lineage (regression: 3 parquet scans)."""
        from outrank_spark.operators.dedup import containment_join

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(containment_join(docs, "text", "doc_id", n=3,
                                        threshold=0.5))
        assert plan.count("Scan parquet") <= 2  # lists path + sizes path
        assert "Union" not in plan
        assert "CartesianProduct" not in plan


class TestRound4ClosingAdditions:
    def test_pq_encode_is_zero_shuffle(self, spark):
        """pq_encode is one mapInPandas over the scan — no Exchange may
        appear (the 32x byte reduction must not cost a shuffle)."""
        from outrank_spark.operators.pq import pq_encode, pq_fit

        emb = spark.read.parquet(f"{SF}/embeddings.parquet").selectExpr(
            "vec_id", "cast(embedding as array<double>) embedding")
        cb = pq_fit(emb, m=8, nbits=4, sample_size=256)
        plan = plan_of(pq_encode(emb, cb))
        assert "Exchange" not in plan
        assert "CartesianProduct" not in plan

    def test_pq_topk_broadcasts_queries_no_cartesian(self, spark):
        """pq_topk's rerank joins the tiny query table broadcast; the
        candidate pipeline must contain no quadratic operator, and the
        only Python stages are the two mapInPandas passes (encode +
        ADC scan) — the rerank itself stays JVM-side."""
        from outrank_spark.operators.pq import pq_topk

        emb = spark.read.parquet(f"{SF}/embeddings.parquet").selectExpr(
            "vec_id", "cast(embedding as array<double>) embedding")
        queries = emb.limit(2).selectExpr(
            "vec_id as query_id", "embedding as qv")
        plan = plan_of(pq_topk(emb, queries, k=3, m=8, nbits=4,
                               rerank_factor=4))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        assert plan.count("MapInPandas") == 2
        assert "BatchEvalPython" not in plan  # no row-at-a-time UDF
        # the exact rerank must broadcast the BOUNDED side (candidates,
        # <= queries x pool rows by row_number) — never sort-merge: an
        # SMJ here means the raw-vector corpus is being shuffled, which
        # is exactly what PQ exists to avoid
        assert "SortMergeJoin" not in plan

    def test_bloom_prefilter_is_single_stage_key_only(self, spark):
        """The scalar-pandas-UDF Bloom prefilter must plan as a FILTER
        (no Exchange — rows never move), with the key as the only
        Arrow traffic (ArrowEvalPython, not a whole-row MapInPandas:
        the r5 rewrite this pins got ~4x on the 240M-row probe)."""
        from outrank_spark.operators.runtime_filter import (
            bloom_prefilter, build_key_bloom)

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        build = li.select(F.col("l_suppkey").alias("k")).limit(100)
        blob = build_key_bloom(build, "k", capacity=200)
        plan = plan_of(bloom_prefilter(li, "l_suppkey", blob))
        assert "Exchange" not in plan
        assert "ArrowEvalPython" in plan
        assert "MapInPandas" not in plan


class TestScoringBatchSpread:
    def test_sparse_batches_spread_one_exchange(self, spark):
        """In the sparse-batch regime (n_batches within 8x of the
        shuffle width) score_batches must pre-repartition to
        4*n_batches — one user-specified Exchange the groupBy reuses
        (no second shuffle), so each CPU-heavy batch lands in its own
        task instead of 5-6 walling one task (measured 4.4 -> 2.8 s
        at 300k pages x 463 pairs)."""
        from outrank_spark.operators.pair_scoring import score_batches

        df = spark.createDataFrame(
            [(str(i % 7), str(i % 3), str(i % 2)) for i in range(200)],
            "a string, b string, label string",
        )
        out = score_batches(df, ["a", "b", "label"], [("a", "label")],
                            "MI", "label", n_batches=16)
        plan = plan_of(out)
        assert plan.count("Exchange") == 1
        assert "REPARTITION_BY_NUM" in plan
        # the explicit count survives into the shuffle (4 * 16)
        assert "64" in plan[plan.index("Exchange"):]

    def test_dense_batches_keep_default_shuffle(self, spark):
        """At corpus scale (>= 32 batches per shuffle partition) many
        batches per task average out on their own — the spread must
        NOT fire, or a 10^7-batch job would schedule 4x10^7 tasks."""
        from outrank_spark.operators.pair_scoring import score_batches

        df = spark.createDataFrame(
            [(str(i % 7), str(i % 3), str(i % 2)) for i in range(300)],
            "a string, b string, label string",
        )
        shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
        out = score_batches(df, ["a", "b", "label"], [("a", "label")],
                            "MI", "label", n_batches=32 * shuf)
        plan = plan_of(out)
        assert "REPARTITION_BY_NUM" not in plan

    def test_spread_partition_count_capped(self, spark):
        """Inside the spread regime the explicit count is bounded by
        64x the shuffle width — never an unbounded 4*n_batches."""
        from outrank_spark.operators.pair_scoring import score_batches

        df = spark.createDataFrame(
            [(str(i % 7), str(i % 3), str(i % 2)) for i in range(300)],
            "a string, b string, label string",
        )
        shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
        out = score_batches(df, ["a", "b", "label"], [("a", "label")],
                            "MI", "label", n_batches=31 * shuf)
        plan = plan_of(out)
        assert "REPARTITION_BY_NUM" in plan
        assert str(64 * shuf) in plan[plan.index("Exchange"):]


class TestSessionThreeOps:
    def test_benford_single_scan_shape(self, spark):
        from outrank_spark.operators.validation import benford_audit

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        plan = plan_of(benford_audit(orders, ["o_totalprice",
                                              "o_custkey"]))
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_key_skew_windows_are_histogram_sized(self, spark):
        """key_skew_audit's two windows must run AFTER the
        count-of-counts aggregation — the window input is the
        distinct-count histogram, never per-key (let alone per-row)
        data.  Both HashAggregates appear below the Window nodes in
        the plan tree."""
        from outrank_spark.operators.validation import key_skew_audit

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        plan = plan_of(key_skew_audit(li, "l_suppkey"))
        first_window = plan.index("Window")
        # both the per-key count and the histogram groupBy hash-
        # aggregate below (later in the string = deeper in the tree)
        assert plan.count("HashAggregate", first_window) >= 4

    def test_bh_fdr_windows_over_tests_table_only(self, spark):
        """bh_fdr's global windows are the documented metric-count-
        sized exception; the m denominator must arrive as a broadcast
        1-row aggregate, not a shuffle."""
        from pyspark.sql import functions as F

        from outrank_spark.operators.evaluation import bh_fdr

        tests = spark.range(200).select(
            F.col("id").cast("string").alias("t"),
            (F.pmod(F.xxhash64("id"), 1000) / 1000.0).alias("p"),
        )
        plan = plan_of(bh_fdr(tests, "p", "t"))
        assert "BroadcastNestedLoopJoin" in plan or \
            "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan

    def test_retrieval_metrics_windows_partition_by_query(self, spark):
        """retrieval_metrics must never fall into the single-
        partition-window trap: every Window node carries the query
        column in its partition spec."""
        from outrank_spark.operators.evaluation import retrieval_metrics

        df = spark.createDataFrame(
            [(q, d, float(d), d % 2) for q in range(4)
             for d in range(20)],
            "q int, d int, s double, rel int")
        plan = plan_of(retrieval_metrics(df, "q", "d", "s", "rel"))
        for chunk in plan.split("Window")[1:]:
            head = chunk[:200]
            if "partition" in head.lower() or "q#" in head:
                assert "q#" in head  # partitioned by the query col

    def test_fellegi_sunter_ships_only_pattern_table(self, spark):
        """The EM's distributed stage is ONE groupBy to <=2^k rows:
        the plan of the pattern aggregation has no join, no window,
        no Python."""
        from pyspark.sql import functions as F

        from outrank_spark.operators.dedup import fellegi_sunter_em

        pairs = spark.range(5000).select(
            (F.col("id") % 2 == 0).alias("a"),
            (F.col("id") % 3 == 0).alias("b"),
        )
        # the operator collects internally; audit the same shape it
        # aggregates (select + groupBy + count)
        shaped = pairs.select(
            F.coalesce(F.col("a").cast("int"), F.lit(0)).alias("g0"),
            F.coalesce(F.col("b").cast("int"), F.lit(0)).alias("g1"),
        ).groupBy("g0", "g1").agg(F.count(F.lit(1)).alias("c"))
        plan = plan_of(shaped)
        assert "Join" not in plan and "Window" not in plan
        assert "HashAggregate" in plan
        # and the real operator returns the fitted table
        out = fellegi_sunter_em(pairs, ["a", "b"], iters=1)
        assert out.count() == 3  # 2 fields + prior row
