"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``minimised_impala_spark/queries`` and
``minimised_impala_spark/extensions`` and self-register into the
registry; this module is just the adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from minimised_impala_spark.queries import load_all
from minimised_impala_spark.queries.registry import ORACLES, QUERIES

load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1) on /root/testdata/sf0.001."""
    return QUERIES["tpch_q1"](spark, "/root/testdata/sf0.001")


# The driver verifies only the first 50 names, in this order; the rest
# follow in registration order (_ordered_names).
_PRIORITY = [
    "tpch_q2", "tpch_q11",
    "tpcds_q3_star", "tpcds_q47_monthly_lag", "tpcds_q53_deviation",
    "tpcds_q59_dow_ratio", "tpcds_q61_promo_ratio",
    "tpcds_q65_brand_share", "tpcds_q98_class_share",
    "tpcds_q27_rollup_star", "tpcds_q68_order_detail",
    "tpcds_q23_frequent_best", "tpcds_q19", "tpcds_q7", "tpcds_q42",
    "tpcds_q43", "tpcds_q46", "tpcds_q52", "tpcds_q55", "tpcds_q63",
    "tpcds_q89", "tpcds_q79", "tpcds_q96",
    "nested_tpch_q18", "nested_tpch_q20", "nested_tpch_q21",
    "pipeline_near_dedup", "dedup_embedding",
    "events_ab_test_report", "dedup_simhash",
    "agg_isum_wide_boundary",
    "agg_pivot", "agg_filter_clause",
    "ddl_ctas_roundtrip", "ddl_bucketed_join",
    "dedup_embedding_lsh", "udf_java_jar",
    "agg_boolean_suite", "agg_salted_skew", "agg_unpivot",
    "ddl_alter_truncate", "ddl_insert_partitions", "ddl_load_data",
    "ddl_sql_function", "ddl_view_cte", "dedup_containment",
    "dedup_paragraph", "dedup_semdedup", "dedup_span_ngram",
    "dialect_broadcast_hint",
    "events_mad_anomaly", "events_pagerank_transitions",
    "events_pattern_match", "events_scd2_intervals",
    "events_session_window_native", "events_time_decay", "join_lateral", "join_salted_skew",
    "multimodal_pair_clip_filter", "pipeline_corpus_diff",
    "pipeline_data_quality", "pipeline_dataset_card",
    "pipeline_incremental_stats", "scalar_decimal",
    "sim_centroid_classify", "sim_ivfpq_ann", "sim_kmeans_cluster",
    "sql_recursive_reachability", "streaming_dedup_lsh",
    "streaming_drift_kl", "streaming_upsert_sink", "text_bigram_lm",
    "text_bm25_topk", "text_dsir_importance", "text_pack_sequences",
    "text_quality_classifier", "text_token_budget_mix",
    "text_weighted_sample", "udtf_longest_streak",
    "udtf_sentence_split",
]


def _ordered_names() -> list[str]:
    seen = [n for n in _PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(seen)]
    return seen + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    names = _ordered_names()
    return {n: QUERIES[n] for n in names}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each SQL-expressible query."""
    names = _ordered_names()
    return {n: ORACLES[n] for n in names if n in ORACLES}
