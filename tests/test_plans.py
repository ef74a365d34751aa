"""Plan shapes: the engine's analogue of the reference's planner golden
files (fe/src/test/.../planner/PlannerTest.java,
testdata/workloads/functional-planner/queries/PlannerTest/*.test).

``PLANSHAPES.tsv`` holds one row per registry query: the operators of its
non-adaptive physical plan, counted per family (scans per fixture table or
format, exchanges per partitioning kind, joins, aggregates, windows,
top-k/expand/generate/range, Python nodes, cache and exchange reuse) plus
the Python stages a global sort would re-run. It pins which join strategy,
how many shuffles and which top-k or window form every query plans, at the
fixture named on its first line. A deliberate plan change shows up as a
one-row diff; regenerate the table with that first line's command, run
from the repository root:

    python tools/mis.py audit --sf perfbench/fixtures/sf0.001 > PLANSHAPES.tsv

Named tests read one query's live row each and assert the counts that
decide its cost at scale (a broadcast, not a shuffle; a top-k, not a
global sort; no all-pairs join), so a regenerated table cannot lose one
unnoticed. The rest pin what a count cannot: pushdown into the scan,
runtime behaviour, logical-plan hints, exchange keys and operator order.
"""

from __future__ import annotations

import difflib
import re

import pytest

from minimised_impala_spark.queries import load_all
from minimised_impala_spark.queries.registry import QUERIES, fresh
from tools import mis

pytestmark = pytest.mark.usefixtures("in_query_scope")

load_all()


def test_plan_shapes_match_table(live_shapes):
    _, table = mis.committed_shapes()
    rows = {ln.split("\t")[0]: dict(zip(mis.COLUMNS, ln.split("\t"))) for ln in table[2:]}
    # invariants of the committed table, so regenerating it cannot hide
    # a Python stage re-run by a sort or a row-at-a-time Python UDF or
    # UDTF (BatchEvalPython, BatchEvalPythonUDTF)
    assert [q for q, r in rows.items() if r["pysort"] != "0"] == []
    assert [q for q, r in rows.items() if "BatchEvalPython" in r["python"]] == []
    # the registry's order is import order, which an earlier test module
    # can change, so the live rows are compared in the table's order
    assert sorted(set(QUERIES) - set(rows)) == [], "queries missing from PLANSHAPES.tsv"
    assert sorted(set(rows) - set(QUERIES)) == [], "PLANSHAPES.tsv rows for no registered query"
    live_rows = live_shapes(rows)
    live = [table[0], "\t".join(mis.COLUMNS), *(live_rows[q][0] for q in rows)]
    diff = "\n".join(difflib.unified_diff(table, live, "PLANSHAPES.tsv", "registry", lineterm="", n=0))
    assert not diff, f"plan shapes changed; if on purpose, regenerate the table:\n{diff}"


# --------------------------------------------------------------------------
# Named plan properties, read off each query's live row. The table pins
# every count exactly; a named test states, next to its query, the counts
# that decide its cost at scale, so regenerating the table cannot hide
# their loss. A check reads ``column labels op n``: the count of
# ``labels`` (``+`` sums labels, ``*`` is the whole column, an exchange
# kind such as ``hash`` counts its hint-made ``hash/rebalance`` too)
# compared with ``n``.

_OPS = {"==": int.__eq__, ">=": int.__ge__, "<=": int.__le__}
_EQUIJOIN = ("join BroadcastNestedLoopJoin+CartesianProduct == 0",
             "join SortMergeJoin+BroadcastHashJoin+ShuffledHashJoin >= 1")


def _row(live_shapes, name: str) -> dict[str, dict[str, int]]:
    """``name``'s live row: per operator column, the count of each label."""
    cells = dict(zip(mis.COLUMNS, live_shapes([name])[name][0].split("\t")))
    assert not cells["flags"].startswith("ERROR"), f"{name}: {cells['flags']}"
    return {
        col: {k: int(n) for k, n in (p.rsplit(":", 1) for p in cells[col].split() if p != "-")}
        for col in mis.COLUMNS[1:-2]
    }


def _check(live_shapes, name: str, *checks: str) -> None:
    row = _row(live_shapes, name)
    for check in checks:
        col, labels, op, n = check.split()
        got = sum(k for label, k in row[col].items()
                  if labels == "*" or {label, label.split("/")[0]} & set(labels.split("+")))
        assert _OPS[op](got, int(n)), f"{name}: {check}, got {got}: {dict(row[col])}"


def _pin(name: str, *checks: str):
    """A named test of ``checks`` on ``name``'s live row."""
    return lambda live_shapes: _check(live_shapes, name, *checks)


# nation/region join broadcast (the reference's cost-based choice, DistributedPlanner.java:303)
test_small_dims_broadcast = _pin("tpch_q5", "join BroadcastHashJoin >= 1")
# ORDER BY + LIMIT is a top-k, Spark's TopNNode (be/src/exec/topn-node.h:33)
test_topk_uses_take_ordered = _pin("tpch_q18", "ops TakeOrderedAndProject >= 1")
# map-side partial then final aggregate (the reference's two-phase agg, AggregateInfo.java:33)
test_partial_final_aggregation = _pin("tpch_q1", "agg HashAggregate >= 2")
# star join: dims broadcast, the one shuffle is the groupBy
test_tpcds_star_broadcasts_dims = _pin(
    "tpcds_q3_star", "join BroadcastHashJoin >= 1", "join SortMergeJoin == 0", "exchange hash == 1")
# eight banded counts from one conditional aggregate over one fact scan
test_tpcds_scalar_counts_single_partition = _pin(
    "tpcds_q88_band_counts", "exchange single == 1", "scan * == 1", "join * == 0")
# blocked tiles into applyInPandas; an all-pairs join over the corpus never finishes at 100 TB
test_dedup_embedding_no_broadcast_nested_loop = _pin(
    "dedup_embedding", "join BroadcastNestedLoopJoin+CartesianProduct == 0",
    "python FlatMapGroupsInPandas >= 1")
# coarser grains read the persisted minute aggregate; events is scanned once
test_rollup_hierarchy_reuses_minute_exchange = _pin(
    "events_rollup_hierarchy", "reuse InMemoryTableScan >= 2", "scan * == 1", "scan events == 1")
# the exact recount joins the broadcast candidate set, not the token stream with itself
test_heavy_hitters_broadcasts_candidates = _pin(
    "text_heavy_hitters", "join BroadcastHashJoin >= 1", "join BroadcastNestedLoopJoin+CartesianProduct == 0")
# bloom prefilter and rescore stay on broadcast equi-joins
test_bloom_decontamination_no_cartesian = _pin(
    "pipeline_decontaminate_bloom", "join BroadcastNestedLoopJoin+CartesianProduct == 0",
    "join BroadcastHashJoin >= 2")
# chunking is narrow; a hash exchange would reshuffle the token stream
test_chunk_overlap_no_shuffle = _pin("text_chunk_overlap", "exchange hash == 0", "ops Generate >= 1")
# the 5-row per-language threshold table reaches the corpus by broadcast
test_temperature_resample_broadcasts_thresholds = _pin(
    "text_temperature_resample", "join BroadcastHashJoin >= 1")
# the bounded query set broadcasts over the coded corpus
test_pq_ann_broadcasts_queries = _pin("sim_pq_ann", "join BroadcastNestedLoopJoin+BroadcastHashJoin >= 1")
# IVF probing is an equi-join on list_id (its nested loops are the ground-truth side)
test_ivfpq_probe_is_equijoin = _pin("sim_ivfpq_ann", "join BroadcastHashJoin >= 1")
# candidates come from the (band, bucket) equi-join, never all pairs
test_dedup_embedding_lsh_no_allpairs_join = _pin("dedup_embedding_lsh", *_EQUIJOIN)
# postings of queried terms only (broadcast), and a top-k, not a global sort
test_bm25_broadcasts_query_terms_and_takeordered = _pin(
    "text_bm25_topk", "join BroadcastHashJoin >= 1", "ops TakeOrderedAndProject >= 1")
# pairs are an equi-join on the cluster id (the SemDeDup bound)
test_semdedup_pairs_are_cluster_equijoin = _pin("dedup_semdedup", *_EQUIJOIN)
# the final assignment is a narrow map; Lloyd's reduce runs at build time
test_kmeans_assignment_is_narrow_map = _pin("sim_kmeans_cluster", "join * == 0", "agg * == 0")
# the classifier is codegen'd column arithmetic over the scan
test_quality_classifier_is_codegen_map = _pin(
    "text_quality_classifier", "python * == 0", "join * == 0", "agg * == 0")
# QUALIFY rn <= k: one window, with the rank limit pushed below the exchange
test_qualify_single_window_with_group_limit = _pin(
    "dialect_qualify", "window Window+Window[global] == 1", "window WindowGroupLimit >= 1")
# top-20 pairs: a top-k over a partial/final aggregate
test_bpe_merge_is_takeordered_partial_agg = _pin(
    "text_bpe_merge", "ops TakeOrderedAndProject >= 1", "agg HashAggregate >= 2")
# distinct words encode in the Arrow UDF; the encoding table broadcasts back
test_wordpiece_dictionary_encode_broadcasts = _pin(
    "text_wordpiece_encode", "python MapInPandas >= 1", "join BroadcastHashJoin >= 1",
    "join SortMergeJoin == 0")
# per-row prep: at most the presentation sort's exchange
test_span_corruption_is_shuffle_free_map = _pin(
    "text_span_corruption", "agg * == 0", "join * == 0", "exchange * <= 1")
# rank <= CAP is a partial top-CAP per source before the shuffle
test_domain_cap_uses_window_group_limit = _pin("text_domain_cap", "window WindowGroupLimit >= 1")
# |labels|-bounded centroid tables broadcast; per-label top-3 is a partial limit
test_diverse_sample_broadcasts_centroids = _pin(
    "sim_diverse_sample", "join BroadcastHashJoin >= 2", "window WindowGroupLimit >= 1")
# the vocab-bounded df table broadcasts; per-doc top-3 is a partial limit
test_tfidf_keywords_group_limit_and_broadcast_df = _pin(
    "text_tfidf_keywords", "join BroadcastHashJoin >= 1", "window WindowGroupLimit >= 1")
# queries broadcast, tau applies map-side; the one hash exchange is order_after_python's rebalance
test_range_search_is_shuffle_free_before_sort = _pin(
    "sim_range_search", "join BroadcastNestedLoopJoin >= 1", "window Window+Window[global] == 0",
    "agg * == 0", "exchange hash == 1", "exchange hash/rebalance == 1")
# the HOF counts are per-row; one shuffle, the final aggregate's
test_stopword_profile_single_shuffle = _pin("text_stopword_profile", "exchange hash == 1")
# per-state top-3 over the |types|^2 transition counts is a partial limit
test_markov_top3_is_window_group_limit = _pin("events_markov_next_event", "window WindowGroupLimit >= 1")
# the day anchors broadcast into the range join; DAU/WAU/MAU share one Expand
test_rolling_active_broadcast_range_join_single_expand = _pin(
    "events_rolling_active", "join BroadcastNestedLoopJoin >= 1", "join SortMergeJoin == 0",
    "ops Expand == 1")
# the regexp counts are per-row; one shuffle, the rollup's
test_readability_single_shuffle = _pin("text_readability_scores", "exchange hash == 1")
# both strategy arms aggregate the same narrow scan; one hash shuffle
test_padding_efficiency_single_hash_shuffle = _pin(
    "text_padding_efficiency", "exchange hash == 1", "join * == 0")
# the global rank is the persisted prefix scan, not a partition-less window
test_quality_calibration_uses_prefix_scan = _pin(
    "text_quality_calibration", "exchange range == 2", "reuse InMemoryTableScan == 2",
    "join SortMergeJoin == 0", "join BroadcastNestedLoopJoin == 1")
# every model table broadcasts; the bigram stream is never a shuffle-join side
test_kneser_ney_model_tables_broadcast = _pin(
    "text_kneser_ney_lm", "join BroadcastHashJoin >= 3", "join SortMergeJoin == 0")
# the self-join runs on distinct (source, gram) rows; totals broadcast
test_source_overlap_joins_distinct_grams = _pin(
    "pipeline_source_overlap_matrix", "join CartesianProduct == 0", "join BroadcastHashJoin >= 2")
# one (label, dim) component aggregate; the |labels| counts broadcast
test_embedding_drift_single_component_agg = _pin(
    "pipeline_embedding_drift", "join BroadcastHashJoin == 1", "join SortMergeJoin == 0",
    "exchange hash <= 3")
# the top-max(K) frame is a top-k, so the rank window and the K join stay K-bounded
test_vocab_coverage_take_ordered_bounds_frame = _pin(
    "text_vocab_coverage_curve", "ops TakeOrderedAndProject >= 1", "join SortMergeJoin == 0")
# running sums are per-source windows; the range exchange is the presentation sort
test_heaps_fit_windows_partition_by_source = _pin(
    "text_heaps_fit", "exchange range == 1", "window Window[global] == 0")
# lag/lead over user-keyed windows; the horizon cap is a one-row broadcast
test_lifecycle_states_user_keyed_windows = _pin(
    "events_lifecycle_states", "join BroadcastNestedLoopJoin >= 1", "exchange range == 1",
    "window Window[global] == 0")
# the global window runs on the <= 31-row histogram, after the corpus-sized stages
test_engagement_histogram_bounded_window = _pin(
    "events_engagement_histogram", "exchange hash <= 4",
    "join BroadcastHashJoin+SortMergeJoin+ShuffledHashJoin+CartesianProduct == 0")
# the running token total is the persisted prefix scan; totals are a one-row broadcast
test_shard_assignment_uses_prefix_scan = _pin(
    "pipeline_shard_assignment", "exchange range == 2", "reuse InMemoryTableScan == 2",
    "join BroadcastNestedLoopJoin >= 1", "join SortMergeJoin == 0")
# the share window is keyed by purchase, never partition-less
test_time_decay_attribution_band_join_and_bounded_window = _pin(
    "events_attribution_time_decay", "window Window >= 1", "window Window[global] == 0",
    "join CartesianProduct == 0")
# vocab-bounded count tables broadcast into the entropy sums
test_entropy_rate_count_tables_broadcast = _pin(
    "text_entropy_rate", "join BroadcastHashJoin >= 2", "join CartesianProduct == 0")
# a narrow digit map and one 9-row group; the only join is the one-row total
test_benford_audit_single_shuffle_family = _pin(
    "pipeline_benford_audit", "join * == 1", "join BroadcastNestedLoopJoin == 1")
# one QI-keyed count and one band rollup; no joins
test_k_anonymity_single_shuffle = _pin("pipeline_k_anonymity_audit", "exchange hash == 2", "join * == 0")
# source totals broadcast into both sides; the pair join runs on the census
test_jsd_joins_posting_lists_with_broadcast_totals = _pin(
    "text_jsd_source_divergence", "join BroadcastHashJoin >= 2", "join CartesianProduct == 0")
# candidates from the chunk self-equi-join over the Arrow kernel's hashes
test_phash_neardup_band_join_shape = _pin(
    "multimodal_phash_neardup", "join CartesianProduct == 0", "python ArrowEvalPython >= 1")
# 64 columnar bit sums in one groupBy, not a 64x bit explosion against a range
test_simhash_columnar_bit_sums = _pin("dedup_simhash", "ops Generate >= 1", "ops Range == 0")
# min cost per part is a window sharing one exchange, not a groupBy self-join
test_tpch_q2_single_shuffle_window_min = _pin(
    "tpch_q2", "join SortMergeJoin == 0", "exchange hash == 1", "ops TakeOrderedAndProject >= 1",
    "join BroadcastHashJoin >= 3")
# the global total reaches the HAVING as a one-row broadcast
test_tpch_q11_broadcast_total = _pin(
    "tpch_q11", "join BroadcastNestedLoopJoin >= 1", "join SortMergeJoin == 0")
# per-customer top-k from collection kernels, no window at all
test_nested_topn_no_partitionless_window = _pin(
    "nested_tpch_order_topn", "window * == 0", "exchange range == 1")
# the part dim broadcasts; demand joins on partkey, no cartesian stage
test_nested_q20_demand_joined_not_recomputed = _pin(
    "nested_tpch_q20", "join CartesianProduct == 0", "join BroadcastHashJoin >= 2")
# 7 day-of-week sums in one aggregate: one hash exchange
test_tpcds_q43_pivot_is_single_aggregate_pass = _pin("tpcds_q43", "exchange hash == 1")


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


def test_filtered_ann_pushes_label_predicate(spark, sf_dir, live_shapes):
    """sim_filtered_ann is the PRE-filter regime: the label predicate
    must reach the parquet scan (PushedFilters In(label, ...)) so
    non-matching vectors are pruned before any vector math, and the
    bounded query panel must broadcast."""
    _check(live_shapes, "sim_filtered_ann", "join BroadcastNestedLoopJoin+BroadcastHashJoin >= 1")
    plan = _physical(fresh("sim_filtered_ann")(spark, sf_dir))
    pushed = plan.split("PushedFilters:")
    assert any("label" in p[:400] for p in pushed[1:]), plan[:2000]


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


def test_cohort_ltv_broadcasts_cohort_dim(spark, sf_dir, live_shapes):
    """events_cohort_ltv: at fixture scale both joins broadcast, the
    cohort join by stats/AQE, with no hint, because the per-user table is
    data-proportional; only cohort_size keeps its hint, being
    calendar-week-bounded."""
    _check(live_shapes, "events_cohort_ltv", "join BroadcastHashJoin >= 2")
    opt = _optimized(fresh("events_cohort_ltv")(spark, sf_dir))
    assert opt.count("strategy=broadcast") <= 1


def test_kll_report_two_stage_bottom_k(spark, sf_dir, live_shapes):
    """agg_kll_accuracy_report: the bottom-k sample must run as TWO
    window stages (per-(group, salt) then global) so no task sorts a
    whole group, and the 12-row estimate frame must broadcast back for
    the true-rank pass."""
    _check(live_shapes, "agg_kll_accuracy_report", "join BroadcastHashJoin+BroadcastNestedLoopJoin >= 1")
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


def test_plan_build_time_bounded(spark, live_shapes):
    """Driver-side plan construction (Python DataFrame building + py4j
    expression traffic) is a real bottleneck on a 100-executor cluster:
    the driver builds plans serially while executors idle. Guard every
    registered query's build under a budget so an accidental
    Python-side expression blow-up (quadratic column loops, per-row
    literal trees) fails HERE, not as a mystery regression in BENCH.
    Excluded: families whose BUILDER executes bounded Spark jobs by
    spec (streaming one-batch runs, DDL round-trips, k-means/PQ
    codebook training collects) — their cost is execution, not
    expression construction. The times are the shape pass's."""
    from minimised_impala_spark.extensions.pipeline_audit import _SCORECARD_COMPONENTS

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

    def over_s(times: dict[str, float], name: str) -> float:
        return times[name] - sum(times[i] for i in inner.get(name, ()))

    sf, _ = mis.committed_shapes()
    times = {name: build_s for name, (_, build_s) in live_shapes(QUERIES).items()}
    slow = {
        name: over_s(times, name) for name in times
        if not (name.startswith(skip_prefixes) or name in skip) and over_s(times, name) > budget_s
    }
    # ambient-load tolerance: re-measure offenders once, keep the min
    for name in list(slow):
        again = {n: build_s for n, _, build_s in mis.shapes(spark, sf, [*inner.get(name, ()), name])}
        slow[name] = min(slow[name], over_s(again, name))
    slow = {name: round(dt, 2) for name, dt in slow.items() if dt > budget_s}
    assert not slow, f"plan_build over {budget_s}s: {slow}"


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
# TPC-DS rows: pushdown into the dim scans and the window's place above
# the aggregate.

def test_tpcds_star_twins_push_dim_filter_and_broadcast(spark, sf_dir, live_shapes):
    """q42/q52/q55 (q3's twins): the p_size dim filter must reach the part
    parquet scan (PushedFilters), and the filtered part dim must broadcast
    — at 100 TB the fact side never shuffles for a dim join."""
    for name in ("tpcds_q42", "tpcds_q52", "tpcds_q55"):
        _check(live_shapes, name, "join BroadcastHashJoin >= 1")
        plan = _physical(fresh(name)(spark, sf_dir))
        m = re.search(r"PushedFilters: \[[^\]]*p_size[^\]]*\]", plan)
        assert m, f"{name}: p_size not pushed to part scan\n{plan[:1500]}"


def test_tpcds_deviation_twins_window_over_agg_frame(spark, sf_dir, live_shapes):
    """q63/q89 (q53's twins): one lineitem scan, the Window runs over the
    |brand x month| AGGREGATED frame (never over the base fact), so its
    exchange moves group rows, not fact rows."""
    for name in ("tpcds_q63", "tpcds_q89"):
        _check(live_shapes, name, "scan lineitem == 1", "window Window+Window[global] >= 1")
        plan = _physical(fresh(name)(spark, sf_dir))
        # the plan tree prints top-down (consumers first): the Window
        # node sits ABOVE the HashAggregate whose output it consumes —
        # i.e. the window runs over group rows, never over the base fact
        assert plan.index("Window") < plan.index("HashAggregate"), name


def test_tpcds_q96_dims_broadcast(spark, sf_dir, live_shapes):
    """q96's count chain: supplier and the filtered nation broadcast; the
    acctbal band reaches the customer scan as a pushed filter."""
    _check(live_shapes, "tpcds_q96", "join BroadcastHashJoin >= 2")
    plan = _physical(fresh("tpcds_q96")(spark, sf_dir))
    assert re.search(r"PushedFilters: \[[^\]]*c_acctbal[^\]]*\]", plan), plan[:2000]


def test_tpcds_q34_band_filter_after_single_agg(spark, sf_dir, live_shapes):
    """q34: the 8-12 lines-per-ticket band applies to the count AGGREGATE
    (one (orderkey, custkey) agg pass over one lineitem scan), and the
    day-of-month disjunction is pushed down to the orders side, not
    evaluated post-join."""
    _check(live_shapes, "tpcds_q34", "scan lineitem == 1")
    plan = _physical(fresh("tpcds_q34")(spark, sf_dir))
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
