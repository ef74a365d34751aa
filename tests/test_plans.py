"""EXPLAIN-shape assertions — the engine's analogue of the reference's
planner golden tests (fe/src/test/.../planner/PlannerTest.java,
testdata/workloads/functional-planner/queries/PlannerTest/*.test).

Instead of full plan goldens (brittle across Spark versions) we assert the
load-bearing physical properties: filters/columns reach the parquet scan,
small dims broadcast, ORDER BY+LIMIT becomes top-k, aggregation is
partial+final, and whole-stage codegen covers the hot path. These are the
properties that decide 100 TB behavior.
"""

from __future__ import annotations

import re

import pytest

from minimised_impala_spark.queries import load_all
from minimised_impala_spark.queries.registry import fresh

pytestmark = pytest.mark.usefixtures("in_query_scope")

load_all()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark, sf_dir):
    """tpch_q6's shipdate/discount/quantity filters must reach the scan
    (the reference pushes conjuncts into HdfsScanNode —
    be/src/exec/hdfs-scan-node.h:96)."""
    plan = _physical(fresh("tpch_q6")(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:400]


def test_column_pruning_to_parquet(spark, sf_dir):
    """q6 reads 4 of lineitem's 11 columns; ReadSchema must not contain
    the unused ones (reference: materialize-only-referenced-slots,
    fe/.../planner/SingleNodePlanner.java:136)."""
    plan = _physical(fresh("tpch_q6")(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema
    assert "l_returnflag" not in read_schema


def test_small_dims_broadcast(spark, sf_dir):
    """nation/region joins must broadcast, not shuffle (reference
    cost-based choice: fe/.../planner/DistributedPlanner.java:303)."""
    plan = _physical(fresh("tpch_q5")(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT compiles to TakeOrderedAndProject — Spark's
    TopNNode (be/src/exec/topn-node.h:33)."""
    plan = _physical(fresh("tpch_q18")(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_partial_final_aggregation(spark, sf_dir):
    """Aggregates run map-side partial then final after the shuffle —
    the reference's two-phase agg (fe/.../analysis/AggregateInfo.java:33)."""
    plan = _physical(fresh("tpch_q1")(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in plan


def test_whole_stage_codegen(spark, sf_dir):
    """The scan→filter→project→partial-agg pipeline must be inside
    WholeStageCodegen (supersedes the reference's LLVM codegen,
    be/src/codegen/llvm-codegen.h)."""
    df = fresh("tpch_q6")(spark, sf_dir)
    df.collect()  # AQE finalizes the plan (and codegen ids) on execution
    plan = _physical(df)
    # codegen'd operators carry a "*(stageId)" prefix in the plan string
    assert "*(1) HashAggregate" in plan or "WholeStageCodegen" in plan
    assert "*(1) Filter" in plan  # scan-side pipeline is fused


def test_aqe_enabled(spark, sf_dir):
    plan = _physical(fresh("tpch_q3")(spark, sf_dir))
    assert "AdaptiveSparkPlan" in plan


def test_semi_anti_join_operators(spark, sf_dir):
    """EXISTS/NOT EXISTS decorrelate to semi/anti joins, not subquery
    re-execution (StmtRewriter.java:196 ↔ Catalyst
    RewritePredicateSubquery)."""
    semi = _optimized(fresh("subq_exists_correlated")(spark, sf_dir))
    anti = _optimized(fresh("subq_not_exists_correlated")(spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_empty_relation_propagation(spark, sf_dir):
    """WHERE FALSE short-circuits to an empty plan (reference
    EmptySetNode — be/src/exec/empty-set-node.h:25)."""
    from minimised_impala_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter("1 = 0").join(li.alias("b"), "l_orderkey").groupBy().count()
    assert "LocalRelation" in _optimized(df)


def test_constant_folding(spark):
    df = spark.sql("SELECT 1 + 2 * 3 AS v WHERE 'a' = 'a'")
    assert "7" in _optimized(df)


def test_partition_filter_prunes_input(spark, tmp_path):
    """Partition pruning: a filter on the partition key must cut the scan's
    input files (reference: fe/.../planner/HdfsPartitionPruner.java)."""
    path = str(tmp_path / "part_probe")
    spark.range(100).selectExpr("id", "id % 4 AS pk").write.partitionBy("pk").parquet(path)
    df = spark.read.parquet(path).filter("pk = 2").select("id")
    plan = _physical(df)
    # Spark reports the pruned partition count in the scan node
    assert "PartitionFilters: [" in plan
    assert df.count() == 25


def test_bucketed_join_eliminates_shuffle(spark, sf_dir):
    """Bucketed tables joined on the bucket key need no exchange — the
    100 TB co-located join strategy (supersedes the reference's
    hash-partitioned DataStreamSender, be/src/runtime/data-stream-sender.h:35;
    partitioning is persisted instead of re-done per query)."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    try:
        orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
        customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
        # disable broadcast so the join must pick a partitioned strategy
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = spark.table("b_orders").join(
            spark.table("b_customer"),
            spark.table("b_orders")["o_custkey"] == spark.table("b_customer")["c_custkey"],
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_tpcds_star_broadcasts_dims(spark, sf_dir):
    """tpcds_q3_star: both dim sides broadcast; exactly one shuffle (the
    groupBy) — the star-join shape that holds at 100 TB with runtime
    filters on the fact scan."""
    plan = _physical(fresh("tpcds_q3_star")(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_tpcds_scalar_counts_single_partition(spark, sf_dir):
    """tpcds_q88_band_counts: since the r12 shared-scan rewrite, ALL
    eight banded counts come out of ONE conditional aggregation over ONE
    fact scan (one single-partition exchange) — no per-band scans and no
    joins of any kind."""
    plan = _physical(fresh("tpcds_q88_band_counts")(spark, sf_dir))
    assert plan.count("Exchange SinglePartition") == 1, plan[:2000]
    assert plan.count("FileScan parquet") == 1, plan[:2000]
    assert "Join" not in plan


def test_ext_kv_pushdown_partition_planning(spark, tmp_path):
    """source_ext_kv: pushed range conjuncts narrow partition planning
    driver-side (the ext-data-source accepted_conjuncts contract)."""
    import json

    from pyspark.sql import functions as F

    from minimised_impala_spark.sources import ext_kv

    ext_kv.register(spark)
    trace = tmp_path / "t.json"
    df = (
        spark.read.format("ext_kv")
        .option("rows", "1000")
        .option("partitions", "10")
        .option("pushdown_trace", str(trace))
        .load()
        .filter(F.col("id") >= 900)
    )
    assert df.count() == 100
    assert json.loads(trace.read_text())["lo"] == 900


def test_runtime_bloom_filter_engages(spark, sf_dir):
    """session.py enables spark.sql.optimizer.runtime.bloomFilter.enabled
    (the reference's RuntimeFilterGenerator,
    fe/.../planner/RuntimeFilterGenerator.java:27-45) — pin that the rule
    actually injects a filter so the flag cannot silently regress.  The
    size thresholds are lowered for test-scale data only; the predicate
    shape (selective dim filter → fact-side bloom probe on the join key)
    is exactly the 100 TB case the flag exists for."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        building = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        j = (
            orders.join(building, orders.o_custkey == building.c_custkey)
            .groupBy("c_nationkey")
            .count()
        )
        plan = _optimized(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dedup_embedding_no_broadcast_nested_loop(spark, sf_dir):
    """dedup_embedding must stay the blocked tile computation — the r3
    all-pairs form planned a BroadcastNestedLoopJoin over the corpus,
    which never finishes at 100 TB.  Candidate pairs must not exist as
    plan-level join output at all: the only join-free shuffle is the
    tile groupBy feeding applyInPandas."""
    plan = _physical(fresh("dedup_embedding")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_rollup_hierarchy_reuses_minute_exchange(spark, sf_dir):
    """The rollup cascade must compute the minute aggregate ONCE and feed
    the hour/day grains from it, not rescan raw events per grain — the
    materialized-rollup property the query's docstring claims. Since r12
    the lower grains are persist()ed (stronger than the previous AQE
    ReusedExchange pin, which only shared the minute shuffle), so the
    executed plan reads caches and scans events exactly once: every
    FileScan print carries the same output attributes (cached subtrees
    print once per consumer; distinct attribute ids would mean real
    re-scans)."""
    df = fresh("events_rollup_hierarchy")(spark, sf_dir)
    df.collect()  # cache/reuse finalizes only at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]
    sigs = set(re.findall(r"FileScan parquet (\[[^\]]*\])", plan))
    assert len(sigs) == 1, sigs


def test_heavy_hitters_broadcasts_candidates(spark, sf_dir):
    """The exact recount joins the token stream against the BROADCAST
    candidate set (threshold-pruned) — never a shuffle of the full token
    stream against itself."""
    df = fresh("text_heavy_hitters")(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_decontamination_no_cartesian(spark, sf_dir):
    """Bloom prefilter + rescore stays on broadcast equi-joins (positions,
    then candidate strings) — no all-pairs operator anywhere."""
    df = fresh("pipeline_decontaminate_bloom")(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_chunk_overlap_no_shuffle(spark, sf_dir):
    """Context-window chunking is split→sequence→explode→slice — pure
    narrow ops. Any Exchange in this plan would mean an accidental
    repartition of the full token stream (catastrophic at 100 TB for a
    map-only transform). The final orderBy exists only for the oracle's
    deterministic comparison, so assert on the plan BEFORE the sort."""
    df = fresh("text_chunk_overlap")(spark, sf_dir)
    # strip the presentation-only global sort: everything under it must be
    # exchange-free
    plan = _physical(df)
    pre_sort = plan.split("Sort ")[-1]
    assert "Exchange hashpartitioning" not in pre_sort
    assert "Generate explode" in plan


def test_temperature_resample_broadcasts_thresholds(spark, sf_dir):
    """The per-language census/threshold side is 5 rows — it must reach
    the corpus via BroadcastHashJoin, never a shuffled join of the full
    documents table against a 5-row dim."""
    plan = _physical(fresh("text_temperature_resample")(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_pq_ann_broadcasts_queries(spark, sf_dir):
    """PQ ADC scan: the bounded query set must broadcast over the coded
    corpus (a shuffle of the corpus keyed by query would be quadratic
    traffic at scale)."""
    plan = _physical(fresh("sim_pq_ann")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ivfpq_probe_is_equijoin(spark, sf_dir):
    """IVF-PQ candidate generation must be a hash EQUI-join on list_id
    (broadcast of the bounded query set) — the list pruning is the whole
    point; a nested-loop over the full coded corpus would defeat it.
    (The BroadcastNestedLoopJoin that also appears belongs to the
    ground-truth/verification side of the query, not the probe path.)"""
    plan = _physical(fresh("sim_ivfpq_ann")(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_dedup_embedding_lsh_no_allpairs_join(spark, sf_dir):
    """dedup_embedding_lsh's candidates must come from the (band, bucket)
    EQUI-join — no BroadcastNestedLoopJoin/CartesianProduct anywhere: the
    whole point of the banded default is that all-pairs never appears in
    the plan, only collision candidates."""
    plan = _physical(fresh("dedup_embedding_lsh")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # rescore joins back to the normalized vectors by id — hash equi-joins
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or (
        "ShuffledHashJoin" in plan
    ), plan


def test_insert_partitions_prunes_on_partition_key(spark, sf_dir):
    """Reading one partition of the landed INSERT table must prune to that
    partition's files (PartitionFilters), not scan the whole table —
    the partitioned-sink layout exists precisely for this."""
    fresh("ddl_insert_partitions")(spark, sf_dir).collect()  # lands table
    import hashlib

    tbl = f"mis_insparts_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    df = spark.table(tbl).filter("status = 'O'")
    plan = _physical(df)
    assert "PartitionFilters" in plan, plan
    assert "status" in plan.split("PartitionFilters")[1][:200], plan


def test_bm25_broadcasts_query_terms_and_takeordered(spark, sf_dir):
    """BM25 scoring must touch only postings of queried terms (broadcast
    of the bounded query-term set → BroadcastHashJoin on term) and the
    top-k must be TakeOrderedAndProject, never a global sort of the
    scored corpus."""
    plan = _physical(fresh("text_bm25_topk")(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_semdedup_pairs_are_cluster_equijoin(spark, sf_dir):
    """dedup_semdedup's pairwise stage must be an EQUI-join on the
    cluster id (pairs ∝ Σ|cluster|², the SemDeDup bound) — an all-pairs
    BroadcastNestedLoopJoin/CartesianProduct would defeat the clustering
    entirely."""
    plan = _physical(fresh("dedup_semdedup")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan


def test_kmeans_assignment_is_narrow_map(spark, sf_dir):
    """sim_kmeans_cluster's final assignment must be a narrow map over
    the embeddings scan (centroids closure-captured) — no join and no
    aggregate in the returned plan; the Lloyd's reduce runs at
    plan-build time, and the assignment's only shuffles are the ones
    under the presentation sort."""
    plan = _physical(fresh("sim_kmeans_cluster")(spark, sf_dir))
    for op in ("Join", "CartesianProduct", "HashAggregate"):
        assert op not in plan, (op, plan)


def test_quality_classifier_is_codegen_map(spark, sf_dir):
    """text_quality_classifier must be pure Column arithmetic — no
    Python UDF in the plan (the 'model' is constants in codegen'd
    expressions) and no aggregate/join: a narrow map over the scan."""
    plan = _physical(fresh("text_quality_classifier")(spark, sf_dir))
    for op in ("BatchEvalPython", "ArrowEvalPython", "Join", "HashAggregate"):
        assert op not in plan, (op, plan)


def test_qualify_single_window_with_group_limit(spark, sf_dir):
    """The QUALIFY rewrite inlines the rn alias into the predicate, so the
    plan must carry exactly ONE Window operator (Catalyst de-duplicates
    the identical window spec) and — because the predicate is rn <= k —
    Spark's rank-limit pushdown should insert WindowGroupLimit, the
    optimal top-k-per-group shape (partial limit before the exchange)."""
    plan = _physical(fresh("dialect_qualify")(spark, sf_dir))
    window_ops = [
        ln for ln in plan.splitlines() if "- Window [" in ln or ln.lstrip().startswith("Window [")
    ]
    assert len(window_ops) == 1, plan
    assert "WindowGroupLimit" in plan


def test_bpe_merge_is_takeordered_partial_agg(spark, sf_dir):
    """text_bpe_merge: top-20 must be TakeOrderedAndProject (never a global
    sort) over a partial/final hash aggregation of pair counts."""
    plan = _physical(fresh("text_bpe_merge")(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_wordpiece_dictionary_encode_broadcasts(spark, sf_dir):
    """text_wordpiece_encode must encode DISTINCT words in the Arrow UDF
    (MapInPandas over the deduped word set) and broadcast the tiny
    encoding table back to occurrences — never a shuffle join on the
    occurrence stream."""
    plan = _physical(fresh("text_wordpiece_encode")(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_span_corruption_is_shuffle_free_map(spark, sf_dir):
    """text_span_corruption is embarrassingly parallel per-row prep: the
    only exchange allowed is the final presentation sort's range
    partitioning — no aggregate, no join."""
    plan = _physical(fresh("text_span_corruption")(spark, sf_dir))
    assert "HashAggregate" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """ddl_bucketed_join: with both sides bucketed by the join key (8
    buckets each) the SortMergeJoin must consume the bucketed scans
    directly — zero hash-partitioning Exchanges below the join. The
    broadcast threshold is disabled for the pin so AQE can't hide the
    bucket path behind a broadcast."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = fresh("ddl_bucketed_join")(spark, sf_dir)
        plan = _physical(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange hashpartitioning" not in join_part, plan
    assert "SelectedBucketsCount" in plan


def test_filtered_ann_pushes_label_predicate(spark, sf_dir):
    """sim_filtered_ann is the PRE-filter regime: the label predicate
    must reach the parquet scan (PushedFilters In(label, ...)) so
    non-matching vectors are pruned before any vector math, and the
    bounded query panel must broadcast."""
    plan = _physical(fresh("sim_filtered_ann")(spark, sf_dir))
    pushed = plan.split("PushedFilters:")
    assert any("label" in p[:400] for p in pushed[1:]), plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_domain_cap_uses_window_group_limit(spark, sf_dir):
    """text_domain_cap's rank <= CAP predicate must be recognized as a
    WindowGroupLimit (map-side partial top-CAP per source before the
    shuffle) — the plan property that makes capping a hot domain cheap
    instead of shipping the whole skewed partition."""
    plan = _physical(fresh("text_domain_cap")(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_diverse_sample_broadcasts_centroids(spark, sf_dir):
    """sim_diverse_sample's centroid and centroid-norm relations are
    |labels|-bounded — both joins back to the component/member tables
    must broadcast, never shuffle the corpus against a 640-row dim."""
    plan = _physical(fresh("sim_diverse_sample")(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "WindowGroupLimit" in plan  # per-label top-3 partial limit


def test_tfidf_keywords_group_limit_and_broadcast_df(spark, sf_dir):
    """text_tfidf_keywords: the |vocab|-bounded document-frequency table
    must broadcast against the postings, and the per-doc top-3 must be a
    WindowGroupLimit (map-side partial top-k per doc)."""
    plan = _physical(fresh("text_tfidf_keywords")(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_triangle_count_cell_cap_is_group_limit(spark, sf_dir):
    """The shared co-occurrence edge build (events_triangle_count /
    events_link_prediction) must cap cells via WindowGroupLimit — the
    density control that keeps edge-building out of the Σ occupancy²
    regime. Pinned on the pre-checkpoint helper because the final
    queries materialize the edge list (localCheckpoint truncates the
    visible lineage)."""
    from minimised_impala_spark.queries.events import (
        _cooccurrence_edges,
        _orient_edges,
    )
    from minimised_impala_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    edges = _cooccurrence_edges(ev)
    plan = _physical(edges)
    assert "WindowGroupLimit" in plan
    # the |nodes|-bounded degree table must broadcast to BOTH endpoint
    # joins of the orientation stage (pinned pre-checkpoint — the final
    # query materializes the edge list, truncating visible lineage)
    _, oriented = _orient_edges(edges)
    oplan = _physical(oriented)
    assert oplan.count("BroadcastHashJoin") >= 2, oplan[:2000]


def test_range_search_is_shuffle_free_before_sort(spark, sf_dir):
    """sim_range_search: queries broadcast (BroadcastNestedLoopJoin on
    the not-equal condition) and the tau predicate applies map-side —
    no Window operator and no aggregate before the final presentation
    sort. The one hash exchange is the rebalance that keeps the kernel
    stage from being re-run by the sort's range sampling."""
    plan = _physical(fresh("sim_range_search")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan.replace("WindowGroupLimit", "")
    assert "Aggregate" not in plan, plan[:1500]
    hash_exchanges = re.findall(r"Exchange hashpartitioning[^\n]*", plan)
    assert len(hash_exchanges) == 1, plan[:1500]
    assert "REBALANCE_PARTITIONS_BY_COL" in hash_exchanges[0], plan[:1500]


def test_stopword_profile_single_shuffle(spark, sf_dir):
    """text_stopword_profile: the token/stopword HOF counts are per-row
    expressions, so the only exchange in the plan is the final
    (lang, source) aggregate's — one shuffle total (plus the sort)."""
    plan = _physical(fresh("text_stopword_profile")(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_markov_top3_is_window_group_limit(spark, sf_dir):
    """events_markov_next_event: the per-state top-3 rank must be a
    WindowGroupLimit over the |types|²-bounded transition counts."""
    plan = _physical(fresh("events_markov_next_event")(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_cohort_ltv_broadcasts_cohort_dim(spark, sf_dir):
    """events_cohort_ltv: at fixture scale both joins broadcast (the
    cohort join via stats/AQE — its explicit hint was removed in r11
    because the per-user table is data-proportional; cohort_size keeps
    its hint, being calendar-week-bounded)."""
    plan = _physical(fresh("events_cohort_ltv")(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    # the only broadcast HINT left is on the calendar-bounded side
    opt = _optimized(fresh("events_cohort_ltv")(spark, sf_dir))
    assert opt.count("strategy=broadcast") <= 1


def test_kll_report_two_stage_bottom_k(spark, sf_dir):
    """agg_kll_accuracy_report: the bottom-k sample must run as TWO
    window stages (per-(group, salt) then global) so no task sorts a
    whole group, and the 12-row estimate frame must broadcast back for
    the true-rank pass."""
    plan = _physical(fresh("agg_kll_accuracy_report")(spark, sf_dir))
    # stage 1: rank within (group, salt) — a WindowGroupLimit keyed on
    # BOTH columns above an exchange hash-partitioned on both
    # (the salt is a named column since the r12 one-exchange rework —
    # previously it was an inline window expression `_w0`)
    assert re.search(r"WindowGroupLimit \[g#\d+, salt#\d+L?\]", plan), plan[:2000]
    assert re.search(r"hashpartitioning\(g#\d+, salt#\d+L?", plan), plan[:2000]
    # stage 2: global rank within the group alone
    assert re.search(r"WindowGroupLimit \[g#\d+\]", plan), plan[:2000]
    assert re.search(r"hashpartitioning\(g#\d+, \d+\)", plan), plan[:2000]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_plan_build_time_bounded(spark, sf_dir):
    """Driver-side plan construction (Python DataFrame building + py4j
    expression traffic) is a real bottleneck on a 100-executor cluster:
    the driver builds plans serially while executors idle. Guard every
    registered query's fresh() build under a budget so an accidental
    Python-side expression blow-up (quadratic column loops, per-row
    literal trees) fails HERE, not as a mystery regression in BENCH.
    Excluded: families whose BUILDER executes bounded Spark jobs by
    spec (streaming one-batch runs, DDL round-trips, k-means/PQ
    codebook training collects) — their cost is execution, not
    expression construction."""
    import time as _time

    from minimised_impala_spark.extensions.pipeline_audit import _SCORECARD_COMPONENTS
    from minimised_impala_spark.queries.registry import QUERIES, fresh

    budget_s = 1.0
    skip_prefixes = ("streaming_", "ddl_", "source_", "udf_", "uda_", "udtf_")
    skip = {
        # builders that run bounded driver-side training/sampling jobs
        "sim_kmeans_cluster", "sim_pq_ann", "sim_ivfpq_ann", "sim_ivf_ann",
        "sim_diverse_sample", "sim_centroid_classify", "sim_knn_classify",
        "sim_mmr_rerank",
        # by-spec physical state round trip in the builder: the standing
        # aggregate is WRITTEN to parquet and merged back (that IS the
        # operator — incremental stats maintenance); the build cost is
        # those bounded jobs, not expression construction (r12)
        "pipeline_incremental_stats",
        # engine/shell entry points that execute during construction
        "dialect_qualify", "dialect_broadcast_hint",
        # iterative algorithms: pagerank unrolls K=5 plan rounds
        # (construction cost is the documented price of unrolling);
        # the connected-components loop (near-dedup, cluster-cc) runs
        # convergence checks (execution) inside the builder
        "events_pagerank_transitions", "pipeline_near_dedup",
        "dedup_cluster_cc",
    }
    # composites build other builders fresh inside themselves (some of
    # them skipped above): they get the budget on top of those builds
    inner = {
        "dedup_cluster_size_histogram": ["dedup_cluster_cc"],
        "pipeline_quality_scorecard": [src for _, src, _ in _SCORECARD_COMPONENTS],
    }

    def build_s(name: str) -> float:
        t0 = _time.perf_counter()
        fresh(name)(spark, sf_dir)
        return _time.perf_counter() - t0

    def over_s(name: str) -> float:
        base = sum(build_s(i) for i in inner.get(name, ()))
        return build_s(name) - base

    slow: dict[str, float] = {}
    for name in QUERIES:
        if name.startswith(skip_prefixes) or name in skip:
            continue
        dt = over_s(name)
        if dt > budget_s:
            slow[name] = round(dt, 2)
    # ambient-load tolerance: re-measure offenders once, keep the min
    for name in list(slow):
        dt = over_s(name)
        if dt <= budget_s:
            del slow[name]
        else:
            slow[name] = min(slow[name], round(dt, 2))
    assert not slow, f"plan_build over {budget_s}s: {slow}"


def test_rolling_active_broadcast_range_join_single_expand(spark, sf_dir):
    """events_rolling_active: the |days|-bounded anchor list must
    broadcast into the range join (BroadcastNestedLoopJoin on the
    BETWEEN condition — never a shuffled/sort-merge join of user-days),
    and all three horizons (DAU/WAU/MAU) must compile into ONE Expand
    (a single multi-distinct aggregate pass), not three separate
    aggregations of the expanded table."""
    plan = _physical(fresh("events_rolling_active")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Expand") == 1, plan[:2000]


def test_readability_single_shuffle(spark, sf_dir):
    """text_readability_scores: the three regexp counts are per-row
    expressions; the only hash exchange in the plan is the final
    (lang, band) rollup's — one shuffle total (plus the sort)."""
    plan = _physical(fresh("text_readability_scores")(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_padding_efficiency_single_hash_shuffle(spark, sf_dir):
    """text_padding_efficiency: both strategy arms are map-side-combined
    aggregates over the same narrow scan — exactly one hash exchange
    (the bucket groupBy; the single_max arm's global agg uses a
    single-partition exchange, not a hash one)."""
    plan = _physical(fresh("text_padding_efficiency")(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Join" not in plan


def test_quality_calibration_uses_prefix_scan(spark, sf_dir):
    """text_quality_calibration: the global score rank must be the
    two-phase prefix scan (one range exchange), never a partition-less
    sort window over the corpus; the corpus-count join is a one-row
    broadcast."""
    plan = _physical(fresh("text_quality_calibration")(spark, sf_dir))
    # two distinct range exchanges: the prefix scan's (cached by the
    # operator's persist, printed per consumer branch but computed once)
    # and the final output sort — see test_shard_assignment_uses_prefix_scan
    ids = re.findall(r"Exchange rangepartitioning[^\n]*plan_id=(\d+)", plan)
    assert len(set(ids)) == 2, plan[:2000]
    assert plan.count("InMemoryTableScan") == 2, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_kneser_ney_model_tables_broadcast(spark, sf_dir):
    """text_kneser_ney_lm: every model table broadcasts into the scoring
    joins — the corpus-sized bigram stream is never the build side of a
    shuffle join. Three hash joins since the r12 rework (the per-type
    NLL is precomputed on the vocab-sized bigram-type table, so scoring
    is ONE broadcast join instead of two) plus the 1-row discount cross
    join."""
    plan = _physical(fresh("text_kneser_ney_lm")(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_source_overlap_joins_distinct_grams(spark, sf_dir):
    """pipeline_source_overlap_matrix: the self-join runs on DISTINCT
    (source, gram) rows (HashAggregate with both keys BEFORE the join)
    and the |sources|-row totals join by broadcast; no cartesian
    product anywhere."""
    plan = _physical(fresh("pipeline_source_overlap_matrix")(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    # the distinct must appear below the join: keys (source, sh)
    assert "source" in plan and "sh" in plan


def test_embedding_drift_single_component_agg(spark, sf_dir):
    """pipeline_embedding_drift: one (label, dim) component aggregate
    feeds the cosine; the per-label counts join is a broadcast of
    |labels| rows; nothing sorts or shuffles the exploded components
    more than once."""
    plan = _physical(fresh("pipeline_embedding_drift")(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 1, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_vocab_coverage_take_ordered_bounds_frame(spark, sf_dir):
    """text_vocab_coverage_curve: the top-max(K) frame must come from
    TakeOrderedAndProject (per-partition heaps), so the rank window and
    the K join run on a K-bounded frame, never the full census."""
    plan = _physical(fresh("text_vocab_coverage_curve")(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_heaps_fit_windows_partition_by_source(spark, sf_dir):
    """text_heaps_fit: the running sums are per-source windows — the
    only range exchange in the plan is the presentation sort, never a
    partition-less corpus-wide window sort."""
    plan = _physical(fresh("text_heaps_fit")(spark, sf_dir))
    assert plan.count("Exchange rangepartitioning") == 1, plan[:2000]


def test_dedup_impact_shuffles_digests_only(spark, sf_dir):
    """pipeline_dedup_impact_report: the keeper aggregate and join key
    on the 16-byte md5 fingerprint — raw text must never appear in an
    exchange (the dedup_normalized_exact shuffle lesson)."""
    df = fresh("pipeline_dedup_impact_report")(spark, sf_dir)
    plan = _physical(df)
    # the canon checkpoint truncates lineage; what remains must key
    # every hash exchange on fp/source, not text — extract the FULL
    # balanced hashpartitioning(...) argument list per exchange (a
    # fixed-width prefix would miss a text# column late in a long
    # partitioning expression list)
    for frag in plan.split("Exchange hashpartitioning")[1:]:
        depth, args = 0, []
        for ch in frag:
            if ch == "(":
                depth += 1
                if depth == 1:
                    continue
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            args.append(ch)
        arglist = "".join(args)
        assert arglist, frag[:80]  # the split token is always followed by (
        assert "text#" not in arglist, arglist


def test_lifecycle_states_user_keyed_windows(spark, sf_dir):
    """events_lifecycle_states: lag/lead run over user-keyed windows on
    the DISTINCT user-week relation — no partition-less window, and the
    horizon cap is a one-row broadcast (BroadcastNestedLoopJoin)."""
    plan = _physical(fresh("events_lifecycle_states")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert plan.count("Exchange rangepartitioning") == 1  # presentation sort


def test_engagement_histogram_bounded_window(spark, sf_dir):
    """events_engagement_histogram: the cumulative at-least share's
    global window is legal ONLY because it runs on the calendar-bounded
    histogram (<= 31 rows) — the corpus-sized stages are the two
    aggregates before it."""
    plan = _physical(fresh("events_engagement_histogram")(spark, sf_dir))
    # two-level distinct (user, day) + per-user count + histogram rollup
    assert plan.count("Exchange hashpartitioning") <= 4, plan[:2000]
    assert "Join" not in plan.replace("BroadcastNestedLoopJoin", "")


def test_shard_assignment_uses_prefix_scan(spark, sf_dir):
    """pipeline_shard_assignment: the running token total is the
    two-phase prefix scan (one range exchange), and the totals/width
    table is a one-row broadcast."""
    plan = _physical(fresh("pipeline_shard_assignment")(spark, sf_dir))
    # TWO distinct range exchanges: the prefix scan's (cached by the
    # operator's persist — printed once per consumer branch, computed
    # once) and the final output sort. The persist replaced an eager
    # localCheckpoint in r12, so the cached subtree is visible now.
    ids = re.findall(r"Exchange rangepartitioning[^\n]*plan_id=(\d+)", plan)
    assert len(set(ids)) == 2, plan[:2000]
    assert plan.count("InMemoryTableScan") == 2, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_time_decay_attribution_band_join_and_bounded_window(spark, sf_dir):
    """events_attribution_time_decay: same time-band join shape as the
    linear model; the share-denominator window is keyed by purchase
    event_id (never partition-less)."""
    plan = _physical(fresh("events_attribution_time_decay")(spark, sf_dir))
    assert "Window" in plan
    # the band join degenerates to a broadcast at fixture scale; pin
    # only that nothing cartesian slipped in
    assert "CartesianProduct" not in plan


def test_entropy_rate_count_tables_broadcast(spark, sf_dir):
    """text_entropy_rate: the per-source unigram total and bigram head
    tables broadcast into the entropy sums (they are vocab-bounded);
    the corpus-sized token/bigram streams only ever feed aggregates."""
    plan = _physical(fresh("text_entropy_rate")(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_benford_audit_single_shuffle_family(spark, sf_dir):
    """pipeline_benford_audit: a narrow digit map + one 9-row group —
    no joins except the one-row total broadcast."""
    plan = _physical(fresh("pipeline_benford_audit")(spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_k_anonymity_single_shuffle(spark, sf_dir):
    """pipeline_k_anonymity_audit: one QI-keyed count, one band rollup
    — two hash exchanges, no joins."""
    plan = _physical(fresh("pipeline_k_anonymity_audit")(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2, plan[:2000]
    assert "Join" not in plan


def test_jsd_joins_posting_lists_with_broadcast_totals(spark, sf_dir):
    """text_jsd_source_divergence: source totals broadcast into both
    probability sides; the pair join runs on the (source, tok) census
    (posting lists bounded by |sources|); no cartesian product."""
    plan = _physical(fresh("text_jsd_source_divergence")(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_phash_neardup_band_join_shape(spark, sf_dir):
    """multimodal_phash_neardup: candidates come from the (chunk_idx,
    chunk_val) self-equi-join over the Arrow-kernel hash table — never
    a cartesian pairing of payloads; the Hamming rescore is a bounded
    fold on collision pairs."""
    plan = _physical(fresh("multimodal_phash_neardup")(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan or "ExistingRDD" in plan  # kernel stage


def test_simhash_columnar_bit_sums(spark, sf_dir):
    """dedup_simhash: the 64 bit sums are columnar aggregates in ONE
    doc-keyed groupBy — the plan must not contain the 64x-row bit
    explosion (a join against a 64-row range before the signature
    aggregate; the exploded form measured ~3x slower)."""
    plan = _physical(fresh("dedup_simhash")(spark, sf_dir))
    assert "posexplode" in plan or "Generate" in plan  # 4-chunk fan-out only
    # signature stage: one aggregate keyed on doc_id with 64 sum exprs —
    # no range join feeding it
    assert "Range (0, 64" not in plan, plan[:2000]


def test_tpch_q2_single_shuffle_window_min(spark, sf_dir):
    """tpch_q2: the decorrelated min-cost-per-part must come from a
    ps_partkey window sharing ONE exchange with the filter — never a
    groupBy + self-join (which re-shuffles the derived partsupp and
    sort-merges it against itself). Dims broadcast; TopN is top-k."""
    plan = _physical(fresh("tpch_q2")(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q11_broadcast_total(spark, sf_dir):
    """tpch_q11: the global total must reach the per-part HAVING as a
    one-row broadcast (BroadcastNestedLoopJoin), never a shuffled join;
    supplier/nation dims broadcast."""
    plan = _physical(fresh("tpch_q11")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_nested_topn_no_partitionless_window(spark, sf_dir):
    """nested_tpch_order_topn: the per-customer top-k comes from
    sort_array/slice kernels on the nested collection — the plan must
    not contain a window at all (the oracle's row_number is DuckDB's
    replay, not the engine's plan), and the only range exchange is the
    presentation sort."""
    plan = _physical(fresh("nested_tpch_order_topn")(spark, sf_dir))
    assert "Window" not in plan, plan[:2000]
    assert plan.count("Exchange rangepartitioning") == 1


def test_nested_q20_demand_joined_not_recomputed(spark, sf_dir):
    """nested_tpch_q20: part dim broadcasts; the element-vs-demand
    comparison is an equi-join on partkey (candidate-bounded), with no
    cartesian stage."""
    plan = _physical(fresh("nested_tpch_q20")(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_nested_q21_existence_fused_to_hofs(spark, sf_dir):
    """nested_tpch_q21: both correlated existence predicates must fuse
    into higher-order exists() expressions over the row's collection —
    never decorrelate into semi/anti joins (the flat tpch_q21 path) or
    re-execute a subplan per row."""
    plan = _optimized(fresh("nested_tpch_q21")(spark, sf_dir))
    assert "exists(" in plan, plan[:2000]
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# Round-10 TPC-DS registrations: pin the 100 TB-deciding properties of the
# promoted rows (broadcast dims, pushdown into the part scan, single
# aggregate pass for the pivot, window over the aggregated frame only).

def test_tpcds_star_twins_push_dim_filter_and_broadcast(spark, sf_dir):
    """q42/q52/q55 (q3's twins): the p_size dim filter must reach the part
    parquet scan (PushedFilters), and the filtered part dim must broadcast
    — at 100 TB the fact side never shuffles for a dim join."""
    for name in ("tpcds_q42", "tpcds_q52", "tpcds_q55"):
        plan = _physical(fresh(name)(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        m = re.search(r"PushedFilters: \[[^\]]*p_size[^\]]*\]", plan)
        assert m, f"{name}: p_size not pushed to part scan\n{plan[:1500]}"


def test_tpcds_q43_pivot_is_single_aggregate_pass(spark, sf_dir):
    """q43's 7 day-of-week columns are conditional sums in ONE aggregate —
    the plan must contain exactly one hash-partitioned exchange (the
    groupBy), not one scan/agg per pivot column."""
    plan = _physical(fresh("tpcds_q43")(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_tpcds_deviation_twins_window_over_agg_frame(spark, sf_dir):
    """q63/q89 (q53's twins): one lineitem scan, the Window runs over the
    |brand x month| AGGREGATED frame (never over the base fact), so its
    exchange moves group rows, not fact rows."""
    for name in ("tpcds_q63", "tpcds_q89"):
        plan = _physical(fresh(name)(spark, sf_dir))
        # single fact scan (no self-join): exactly one lineitem file scan
        assert len(re.findall(r"Scan parquet[^\n]*lineitem", plan)) == 1, name
        assert "Window" in plan, name
        # the plan tree prints top-down (consumers first): the Window
        # node sits ABOVE the HashAggregate whose output it consumes —
        # i.e. the window runs over group rows, never over the base fact
        assert plan.index("Window") < plan.index("HashAggregate"), name


def test_tpcds_q96_dims_broadcast(spark, sf_dir):
    """q96's count chain: supplier and the filtered nation broadcast; the
    acctbal band reaches the customer scan as a pushed filter."""
    plan = _physical(fresh("tpcds_q96")(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert re.search(r"PushedFilters: \[[^\]]*c_acctbal[^\]]*\]", plan), plan[:2000]


def test_tpcds_q34_band_filter_after_single_agg(spark, sf_dir):
    """q34: the 8-12 lines-per-ticket band applies to the count AGGREGATE
    (one (orderkey, custkey) agg pass), and the day-of-month disjunction
    is pushed down to the orders side, not evaluated post-join."""
    plan = _physical(fresh("tpcds_q34")(spark, sf_dir))
    assert len(re.findall(r"Scan parquet[^\n]*lineitem", plan)) == 1
    # count band appears as a Filter on an aggregate output column (cnt)
    assert re.search(r"Filter [^\n]*cnt", plan) or re.search(
        r"\(count\(1\)[^\n]*>=\s*8", plan
    ), plan[:2000]


def test_graph_degree_joins_carry_no_broadcast_hint(spark, sf_dir):
    """The degree table in the graph queries is data-proportional
    (|nodes| = distinct users, grows with the corpus) — an explicit
    F.broadcast() on it is a driver/executor OOM at 100 TB even though
    AQE happily broadcasts it at fixture scale.  Guard (r11, VERDICT r10
    "What's wrong #1"): the only broadcast HINTS allowed in the
    optimized logical plan of the graph queries are on Join Cross
    sides (1-row global aggregates); no equi-join may carry one.
    Strategy choice for the degree joins is left to AQE — the
    invariance sweep proves results are strategy-independent."""
    for name in ("events_triangle_count", "events_link_prediction",
                 "events_degree_distribution"):
        opt = _optimized(fresh(name)(spark, sf_dir))
        for line in opt.splitlines():
            if "strategy=broadcast" in line:
                assert "Join Cross" in line, f"{name}: hinted non-cross join: {line.strip()[:160]}"
    # events_ab_test_report: the per-user arm-assignment join is
    # un-hinted (r11); the one remaining hint is the 2-row arm_n table
    opt = _optimized(fresh("events_ab_test_report")(spark, sf_dir))
    assert opt.count("strategy=broadcast") <= 1, opt[:2000]


# The 26 TPC rows whose star-dim joins carried F.broadcast hints through
# r11.  part/supplier/customer grow linearly with SF (supplier ≈ SF×10k —
# ~10⁹ rows at the 100 TB point), so a forced broadcast is an executor
# OOM at scale even though AQE happily broadcasts the same dim at fixture
# scale.  De-hinted in r12 (VERDICT r11 "What's wrong #1" / directive #1).
_TPC_DEHINTED = (
    "tpch_q2", "tpch_q11",
    "tpcds_q3_star", "tpcds_q47_monthly_lag", "tpcds_q53_deviation",
    "tpcds_q59_dow_ratio", "tpcds_q61_promo_ratio", "tpcds_q65_brand_share",
    "tpcds_q98_class_share", "tpcds_q27_rollup_star", "tpcds_q68_order_detail",
    "tpcds_q23_frequent_best", "tpcds_q19", "tpcds_q7", "tpcds_q42",
    "tpcds_q43", "tpcds_q46", "tpcds_q52", "tpcds_q55", "tpcds_q63",
    "tpcds_q89", "tpcds_q79", "tpcds_q96",
    "nested_tpch_q18", "nested_tpch_q20", "nested_tpch_q21",
)

# A broadcast hint surviving in these queries is legitimate ONLY on a
# bounded operand: a 1-row/global aggregate (Join Cross), the 25-row
# nation / 5-row region dims (join keys n_nationkey / n_regionkey /
# r_regionkey, incl. q46's renamed h_key and q61-shape's n1/n2 aliases),
# or an enum-bounded aggregate (p_type ≈ 150 values, brand ≈ 25).
_BOUNDED_HINT_RE = re.compile(
    r"Join Cross|n_nationkey|n_regionkey|r_regionkey|h_key|n1_key|n2_key"
    r"|p_type|brand#|\bnk#"
)


def test_tpc_dim_joins_carry_no_sf_hint(spark, sf_dir):
    """No SF-proportional TPC dim (part/supplier/customer, q23's
    freq/best) may carry an explicit broadcast hint — strategy is left
    to stats/AQE (tests/test_stats_cbo.py pins that COMPUTE STATS flips
    it).  Mirrors test_graph_degree_joins_carry_no_broadcast_hint."""
    for name in _TPC_DEHINTED:
        opt = _optimized(fresh(name)(spark, sf_dir))
        for line in opt.splitlines():
            if "strategy=broadcast" in line:
                assert _BOUNDED_HINT_RE.search(line), (
                    f"{name}: SF-proportional hinted join: "
                    f"{line.strip()[:200]}"
                )
