"""Pipeline-operations audit suite (round 8).

Three artifacts a 100 TB training-data pipeline gates a production run
on:

- ``pipeline_quality_scorecard`` — the capstone over the sketch-audit
  wing: every approximate operator's observed error, folded into ONE
  per-component error-budget report (the "can we ship this corpus"
  table).  Each input is itself a registered, driver-green audit query;
  this op only summarizes and unions their outputs, so its cost is the
  sum of audits it would be malpractice not to run anyway.
- ``pipeline_partition_skew_report`` — partition-layout planning:
  for each candidate partition key, the partition-count / row-balance
  statistics (max/avg ratio, CV, top-1 share) that decide whether a key
  is a viable physical layout at scale.  One keyed count per candidate,
  then |partitions|-bounded statistics — nothing corpus-sized leaves
  the first aggregate.
- ``pipeline_compaction_plan`` — the small-file planner: given the
  write layout (events day x type), compute per-partition target file
  counts for a byte budget, flagging partitions that would emit
  too-small files.  The per-partition math is pure projection over the
  |partitions|-bounded count table.

Reference parity: the reference exposes table/partition metadata via
SHOW PARTITIONS / COMPUTE STATS (fe/src/main/java/org/apache/impala/
analysis/ShowPartitionsStmt.java, ComputeStatsStmt.java); these reports
are the scale-planning layer a lakehouse pipeline builds on the same
numbers.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# direct imports (not via load_all) so the scorecard's oracle can be
# composed from the component oracles regardless of import order
from minimised_impala_spark.extensions import dedup as _dedup  # noqa: F401
from minimised_impala_spark.extensions import similarity as _similarity  # noqa: F401
from minimised_impala_spark.queries import aggregates as _aggregates  # noqa: F401
from minimised_impala_spark.queries.registry import ORACLES, QUERIES, query
from minimised_impala_spark.seams import seam
from minimised_impala_spark.streaming import stateful as _stateful  # noqa: F401
from minimised_impala_spark.tables import load_table

# --------------------------------------------------------------------------
# Quality scorecard: one row per approximate component, summarizing its
# audit report into (units, observed err in permille, budget, verdict).
# Budgets are spec constants of the engine (what the pipeline tolerates),
# not fixture-derived.  The ANN budget is deliberately loose: recall on
# a brute-force-vs-IVF comparison is corpus-dependent and its own report
# (sim_ann_recall_report) carries the per-query detail.
_SCORECARD_COMPONENTS = [
    # (component, source query, budget_permille)
    ("ann_ivf_recall", "sim_ann_recall_report", 600),
    ("cm_heavy_hitters", "streaming_cm_error_report", 100),
    ("hll_union", "agg_hll_union_report", 0),
    ("kll_quantiles", "agg_kll_accuracy_report", 25),
    ("kmv_distinct", "agg_kmv_distinct_report", 50),
    ("minhash_jaccard", "dedup_minhash_accuracy_report", 60),
]


def _scorecard_oracle() -> str:
    o = {name: ORACLES[src] for name, src, _ in _SCORECARD_COMPONENTS}
    summaries = {
        "minhash_jaccard": (
            "SELECT CAST(n_pairs AS BIGINT) AS n_units,\n"
            "       CAST(round(mean_abs_err * 1000) AS BIGINT) AS err_permille"
        ),
        "kmv_distinct": (
            "SELECT CAST(count(*) AS BIGINT) AS n_units,\n"
            "       CAST(max(abs(rel_err_permille)) AS BIGINT) AS err_permille"
        ),
        "kll_quantiles": (
            "SELECT CAST(count(*) AS BIGINT) AS n_units,\n"
            "       CAST(max(abs(rank_err_permille)) AS BIGINT) AS err_permille"
        ),
        "hll_union": (
            "SELECT CAST(count(*) AS BIGINT) AS n_units,\n"
            "       CAST(round(1000.0 * sum(CASE WHEN within_5pct THEN 0 ELSE 1 END)\n"
            "                  / count(*)) AS BIGINT) AS err_permille"
        ),
        "cm_heavy_hitters": (
            "SELECT CAST(count(*) AS BIGINT) AS n_units,\n"
            "       CAST(max(round(1000.0 * overshoot / exact_n)) AS BIGINT)\n"
            "         AS err_permille"
        ),
        "ann_ivf_recall": (
            "SELECT CAST(count(*) AS BIGINT) AS n_units,\n"
            "       CAST(1000 - round(avg(recall_pct) * 10) AS BIGINT)\n"
            "         AS err_permille"
        ),
    }
    parts = []
    for name, _src, budget in _SCORECARD_COMPONENTS:
        parts.append(
            f"SELECT '{name}' AS component, n_units, err_permille,\n"
            f"       CAST({budget} AS BIGINT) AS budget_permille,\n"
            f"       err_permille <= {budget} AS within_budget\n"
            f"FROM ({summaries[name]} FROM ({o[name]}) src) s"
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY component"


def _summarize(df: DataFrame, component: str) -> DataFrame:
    if component == "minhash_jaccard":
        agg = df.select(
            F.col("n_pairs").cast("bigint").alias("n_units"),
            F.round(F.col("mean_abs_err") * 1000)
            .cast("bigint")
            .alias("err_permille"),
        )
    elif component == "kmv_distinct":
        agg = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_units"),
            F.max(F.abs(F.col("rel_err_permille")))
            .cast("bigint")
            .alias("err_permille"),
        )
    elif component == "kll_quantiles":
        agg = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_units"),
            F.max(F.abs(F.col("rank_err_permille")))
            .cast("bigint")
            .alias("err_permille"),
        )
    elif component == "hll_union":
        agg = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_units"),
            F.round(
                1000.0
                * F.sum(F.when(F.col("within_5pct"), 0).otherwise(1))
                / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("err_permille"),
        )
    elif component == "cm_heavy_hitters":
        agg = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_units"),
            F.max(F.round(1000.0 * F.col("overshoot") / F.col("exact_n")))
            .cast("bigint")
            .alias("err_permille"),
        )
    else:  # ann_ivf_recall
        agg = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_units"),
            (1000 - F.round(F.avg("recall_pct") * 10))
            .cast("bigint")
            .alias("err_permille"),
        )
    return agg


@query("pipeline_quality_scorecard", oracle=_scorecard_oracle())
def pipeline_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for component, src, budget in _SCORECARD_COMPONENTS:
        summary = _summarize(QUERIES[src](spark, sf_dir), component)
        parts.append(
            summary.select(
                F.lit(component).alias("component"),
                "n_units",
                "err_permille",
                F.lit(budget).cast("bigint").alias("budget_permille"),
                (F.col("err_permille") <= budget).alias("within_budget"),
            )
        )
    return reduce(DataFrame.unionByName, parts).orderBy("component")


# --------------------------------------------------------------------------
# Partition-skew report.  Candidate keys are evaluated on the ratio
# stats a layout decision needs: a max/avg over ~3x says hot partitions
# will straggle; a top-1 share near 1000 permille says the key doesn't
# partition at all.  Each candidate costs one keyed count (map-side
# combined); the stats run over |partitions| rows.
_SKEW_ORACLE = """
WITH cand AS (
  SELECT 'events.event_type' AS part_key, event_type AS k,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
  UNION ALL
  SELECT 'events.day', CAST(CAST(ts AS DATE) AS VARCHAR),
         CAST(count(*) AS BIGINT)
  FROM events GROUP BY CAST(ts AS DATE)
  UNION ALL
  SELECT 'lineitem.shipmonth', strftime(l_shipdate, '%Y-%m'),
         CAST(count(*) AS BIGINT)
  FROM lineitem GROUP BY strftime(l_shipdate, '%Y-%m')
  UNION ALL
  SELECT 'orders.ordermonth', strftime(o_orderdate, '%Y-%m'),
         CAST(count(*) AS BIGINT)
  FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
)
SELECT part_key,
       CAST(count(*) AS BIGINT) AS n_partitions,
       CAST(sum(n) AS BIGINT) AS total_rows,
       CAST(max(n) AS BIGINT) AS max_rows,
       CAST(round(1000.0 * max(n) * count(*) / sum(n)) AS BIGINT)
         AS max_over_avg_permille,
       CAST(round(1000.0 * stddev_pop(n) * count(*) / sum(n)) AS BIGINT)
         AS cv_permille,
       CAST(round(1000.0 * max(n) / sum(n)) AS BIGINT) AS top1_share_permille
FROM cand
GROUP BY part_key
ORDER BY part_key
"""


@query("pipeline_partition_skew_report", oracle=_SKEW_ORACLE)
def pipeline_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def counts(df: DataFrame, part_key: str, kcol) -> DataFrame:
        return (
            df.groupBy(kcol.cast("string").alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(part_key).alias("part_key"), "k", "n")
        )

    cand = (
        counts(ev, "events.event_type", F.col("event_type"))
        .unionByName(counts(ev, "events.day", F.col("ts").cast("date")))
        .unionByName(
            counts(li, "lineitem.shipmonth", F.date_format("l_shipdate", "yyyy-MM"))
        )
        .unionByName(
            counts(orders, "orders.ordermonth", F.date_format("o_orderdate", "yyyy-MM"))
        )
    )
    return (
        cand.groupBy("part_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
            F.sum("n").cast("bigint").alias("total_rows"),
            F.max("n").cast("bigint").alias("max_rows"),
            F.round(1000.0 * F.max("n") * F.count(F.lit(1)) / F.sum("n"))
            .cast("bigint")
            .alias("max_over_avg_permille"),
            F.round(1000.0 * F.stddev_pop("n") * F.count(F.lit(1)) / F.sum("n"))
            .cast("bigint")
            .alias("cv_permille"),
            F.round(1000.0 * F.max("n") / F.sum("n"))
            .cast("bigint")
            .alias("top1_share_permille"),
        )
        .orderBy("part_key")
    )


# --------------------------------------------------------------------------
# Compaction plan.  The writer layout is events partitioned by
# (day, event_type); estimated partition bytes = rows x an avg-row-width
# constant (the engine would read real file sizes from the catalog; the
# fixture has no file metadata, so the estimator is part of the spec).
# target_files = ceil(bytes / 128 MiB) — partitions whose bytes fall
# under 16 MiB are flagged for merge into sibling files.  Integer
# arithmetic end to end.
_ROW_WIDTH_BYTES = 64
_TARGET_FILE_BYTES = 128 * 1024 * 1024
_SMALL_FILE_BYTES = 16 * 1024 * 1024

_COMPACT_ORACLE = f"""
WITH parts AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) * {_ROW_WIDTH_BYTES} AS BIGINT) AS est_bytes
  FROM events GROUP BY CAST(ts AS DATE), event_type
)
SELECT day, event_type, n_rows, est_bytes,
       CAST(ceil(est_bytes * 1.0 / {_TARGET_FILE_BYTES}) AS BIGINT)
         AS target_files,
       est_bytes < {_SMALL_FILE_BYTES} AS needs_merge
FROM parts
ORDER BY day, event_type
"""


@query("pipeline_compaction_plan", oracle=_COMPACT_ORACLE)
def pipeline_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parts = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    return parts.select(
        "day",
        "event_type",
        "n_rows",
        (F.col("n_rows") * _ROW_WIDTH_BYTES).cast("bigint").alias("est_bytes"),
        F.ceil(F.col("n_rows") * _ROW_WIDTH_BYTES * 1.0 / _TARGET_FILE_BYTES)
        .cast("bigint")
        .alias("target_files"),
        (F.col("n_rows") * _ROW_WIDTH_BYTES < _SMALL_FILE_BYTES).alias(
            "needs_merge"
        ),
    ).orderBy("day", "event_type")


# --------------------------------------------------------------------------
# Cross-source shingle-overlap matrix — the corpus-composition audit run
# before mixing sources into a training set: for every source pair, the
# exact Jaccard similarity of their distinct word-trigram sets. High
# overlap means two "sources" are republications of each other (mixing
# weights double-count them); near-zero overlap validates treating them
# as independent domains. The gram-level variant of dedup_cross_source
# (which finds document pairs; this profiles whole sources).
#
# Scale: the join runs on DISTINCT (source, gram) rows, so each gram's
# posting list is bounded by |sources| — candidate pairs are at most
# |sources|² per gram and the self-equi-join never touches corpus-sized
# data. Totals are one |sources|-row aggregate; the matrix is
# |sources|²/2 rows.
_OVERLAP_ORACLE = """
WITH t AS (
  SELECT source, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
grams AS (
  SELECT DISTINCT source,
         unnest(list_transform(generate_series(1, n - 2),
                i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
           AS sh
  FROM t WHERE n >= 3
),
tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
        FROM grams GROUP BY source),
common AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS grams_common
  FROM grams a JOIN grams b ON b.sh = a.sh AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT c.source_a, c.source_b,
       ta.n_grams AS grams_a, tb.n_grams AS grams_b, c.grams_common,
       CAST(round(1000.0 * c.grams_common
                  / (ta.n_grams + tb.n_grams - c.grams_common)) AS BIGINT)
         AS jaccard_permille
FROM common c
JOIN tot ta ON ta.source = c.source_a
JOIN tot tb ON tb.source = c.source_b
ORDER BY source_a, source_b
"""


@query("pipeline_source_overlap_matrix", oracle=_OVERLAP_ORACLE)
def pipeline_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise Jaccard overlap of distinct word trigrams between
    sources. Output: (source_a, source_b, grams_a, grams_b,
    grams_common, jaccard_permille) for every pair with >= 1 shared
    gram."""
    from minimised_impala_spark.extensions.dedup import _trigrams_of

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.withColumn("toks", F.split("text", " ")).select(
        "source", F.explode(_trigrams_of(F.col("toks"))).alias("sh")
    )
    # Posting-list pair expansion (r12 optimization, guide §2.4): group
    # the gram stream by gram, expand the |sources|-bounded posting
    # list into ordered source pairs, count per pair. ONE exchange on the
    # gram key replaces the previous self-equi-join's two shuffles of the
    # gram stream + join — the same pattern the MinHash candidate
    # generator uses; per-gram work is ≤ |sources|² exactly as the
    # self-join's per-gram output was. collect_set replaces the earlier
    # separate distinct pass (set semantics dedupe (source, gram) pairs
    # map-side inside the SAME aggregate — one exchange builds the
    # posting table where distinct + groupBy paid two), and the posting
    # table is persisted so the per-source totals come from an explode
    # of the postings instead of a second corpus scan (2 scans / 5
    # exchanges → 1 scan / 3): at scale the corpus is read and shuffled
    # once.
    posting = seam(
        grams.groupBy("sh")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
    )
    tot = (
        posting.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    )
    common = (
        posting.filter(F.size("srcs") > 1)
        # two chained Generate nodes, not a flatten/transform lambda
        # tree — generators codegen, nested lambdas don't (same rewrite
        # as the dedup LSH candidate stages)
        .select("srcs", F.posexplode("srcs").alias("i", "source_a"))
        .select(
            "source_a",
            F.explode(F.expr("slice(srcs, i + 2, size(srcs) - i - 1)")).alias(
                "source_b"
            ),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("grams_common"))
    )
    ta = F.broadcast(tot.select(F.col("source").alias("source_a"),
                                F.col("n_grams").alias("grams_a")))
    tb = F.broadcast(tot.select(F.col("source").alias("source_b"),
                                F.col("n_grams").alias("grams_b")))
    return (
        common.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a", "source_b", "grams_a", "grams_b", "grams_common",
            F.round(
                1000.0
                * F.col("grams_common")
                / (F.col("grams_a") + F.col("grams_b") - F.col("grams_common"))
            )
            .cast("bigint")
            .alias("jaccard_permille"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# Embedding-drift report between corpus snapshots — the re-embedding /
# model-upgrade gate: when a corpus is re-encoded (new encoder version)
# or a snapshot evolves (deletes + edits), per-label centroid movement
# tells whether downstream ANN indexes and classifiers need rebuilding.
# Snapshot B is derived deterministically from A the way the dedup wing
# builds perturbed corpora: every 17th vector is deleted and every 5th
# has each 16th coordinate zeroed (a lossy re-encode).
#
# Per label: row-count drift and the cosine between the A and B
# centroids. Cosines are rounded to 6 decimals (the
# sim_centroid_classify convention — FP mean/dot accumulation order
# differs between engines at ~1e-15). Scale: the component aggregate
# leaves |labels|·64 rows; everything after is kilobytes.
_DRIFT_ORACLE = """
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
snap AS (
  SELECT 'a' AS snap, vec_id, label, e FROM v
  UNION ALL
  SELECT 'b', vec_id, label,
         CASE WHEN vec_id % 5 = 0
              THEN list_transform(e, (x, i) -> CASE WHEN (i - 1) % 16 = 0
                                               THEN 0.0 ELSE x END)
              ELSE e END
  FROM v WHERE vec_id % 17 <> 0
),
comps AS (
  SELECT snap, label, i.dim, e[i.dim + 1] AS x
  FROM snap, (SELECT unnest(range(64)) AS dim) i
),
cents AS (
  SELECT label, dim,
         avg(CASE WHEN snap = 'a' THEN x END) AS ax,
         avg(CASE WHEN snap = 'b' THEN x END) AS bx
  FROM comps GROUP BY label, dim
),
counts AS (
  SELECT label,
         CAST(count(*) FILTER (WHERE snap = 'a') AS BIGINT) AS n_a,
         CAST(count(*) FILTER (WHERE snap = 'b') AS BIGINT) AS n_b
  FROM snap GROUP BY label
),
cos AS (
  SELECT label,
         round(sum(ax * bx) / (sqrt(sum(ax * ax)) * sqrt(sum(bx * bx))), 6)
           AS centroid_cos
  FROM cents GROUP BY label
)
SELECT c.label AS label, n.n_a, n.n_b,
       CAST(round(1000.0 * (n.n_b - n.n_a) / n.n_a) AS BIGINT)
         AS row_delta_permille,
       c.centroid_cos
FROM cos c JOIN counts n ON n.label = c.label
ORDER BY label
"""


@query("pipeline_embedding_drift", oracle=_DRIFT_ORACLE)
def pipeline_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between a corpus snapshot and its
    deterministically perturbed successor (1/17 deleted, 1/5 lossily
    re-encoded). Output: (label, n_a, n_b, row_delta_permille,
    centroid_cos)."""
    # One (label, dim) component aggregate feeds the cosine; the per-label
    # counts broadcast (|labels| rows).
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    pert = F.transform(
        "e",
        lambda x, i: F.when(i % 16 == 0, F.lit(0.0)).otherwise(x),
    )
    b = emb.filter(F.col("vec_id") % 17 != 0).select(
        F.lit("b").alias("snap"),
        "label",
        F.when(F.col("vec_id") % 5 == 0, pert).otherwise(F.col("e")).alias("e"),
    )
    # persist: the two-snapshot union feeds the centroid components AND
    # the per-label counts — uncached both re-ran the scan + perturb
    # (4 scans in the executed plan; 1 after — r12, guide §5)
    snap = seam(emb.select(F.lit("a").alias("snap"), "label", "e").unionByName(b))
    comps = snap.select("snap", "label", F.posexplode("e").alias("dim", "x"))
    cents = comps.groupBy("label", "dim").agg(
        F.avg(F.when(F.col("snap") == "a", F.col("x"))).alias("ax"),
        F.avg(F.when(F.col("snap") == "b", F.col("x"))).alias("bx"),
    )
    counts = snap.groupBy("label").agg(
        F.count_if(F.col("snap") == "a").cast("bigint").alias("n_a"),
        F.count_if(F.col("snap") == "b").cast("bigint").alias("n_b"),
    )
    cos = cents.groupBy("label").agg(
        F.round(
            F.sum(F.col("ax") * F.col("bx"))
            / (
                F.sqrt(F.sum(F.col("ax") * F.col("ax")))
                * F.sqrt(F.sum(F.col("bx") * F.col("bx")))
            ),
            6,
        ).alias("centroid_cos")
    )
    return (
        cos.join(F.broadcast(counts), "label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(1000.0 * (F.col("n_b") - F.col("n_a")) / F.col("n_a"))
            .cast("bigint")
            .alias("row_delta_permille"),
            "centroid_cos",
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Dedup-impact report — the pre-flight run before committing a dedup
# pass to a 100 TB corpus: per source, how many documents and tokens
# would normalization-aware exact dedup remove, and what share of the
# source that is. Mixing weights are set on POST-dedup token counts, so
# this report is what keeps a republication-heavy source from silently
# dominating the mixture. The dup corpus is dedup_normalized_exact's
# (same canonical fingerprint, same derived 'mirror' republications with
# noisy casing/whitespace/punctuation), keeper = min doc_id per
# fingerprint group.
#
# Scale: only 16-byte digests and integer token counts ride the
# shuffle (the raw-text-shuffle lesson in dedup_normalized_exact); the
# keeper join is digest-keyed; the report is |sources|+1 rows.
_IMPACT_ORACLE = """
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 300000, 'mirror',
         upper(replace(text, ' ', '  ')) || ' !!!'
  FROM documents WHERE doc_id % 9 = 0
),
canon AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_toks,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS fp
  FROM corpus
),
keepers AS (SELECT fp, min(doc_id) AS keeper FROM canon GROUP BY fp)
SELECT c.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(c.n_toks) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE c.doc_id <> k.keeper) AS BIGINT)
         AS docs_removed,
       CAST(coalesce(sum(c.n_toks) FILTER (WHERE c.doc_id <> k.keeper), 0)
            AS BIGINT) AS tokens_removed,
       CAST(round(1000.0 * count(*) FILTER (WHERE c.doc_id <> k.keeper)
                  / count(*)) AS BIGINT) AS docs_removed_permille
FROM canon c JOIN keepers k ON k.fp = c.fp
GROUP BY c.source
ORDER BY c.source
"""


@query("pipeline_dedup_impact_report", oracle=_IMPACT_ORACLE)
def pipeline_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document/token removal a normalization-aware exact
    dedup pass would cause (keeper = min doc_id per canonical
    fingerprint). Output: (source, n_docs, n_tokens, docs_removed,
    tokens_removed, docs_removed_permille)."""
    docs = load_table(spark, sf_dir, "documents")
    noisy = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.lit("mirror").alias("source"),
        F.concat(
            F.upper(F.replace(F.col("text"), F.lit(" "), F.lit("  "))), F.lit(" !!!")
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "source", "text").unionByName(noisy)
    fp = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    from pyspark.sql import Window as W

    canon = corpus.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_toks"),
        fp.alias("fp"),
    )
    # keeper = min(doc_id) OVER (PARTITION BY fp): one window after one
    # fp exchange replaces the previous checkpoint + keeper aggregate +
    # fp join (r12, guide §2.4) — the corpus is canonicalized ONCE and
    # never joined back to itself, so the multi-consumer lineage seam
    # the old localCheckpoint existed for is gone entirely (and with it
    # the checkpoint-RDD plan-build cost).
    dup = F.col("doc_id") != F.min("doc_id").over(W.partitionBy("fp"))
    return (
        canon.withColumn("is_dup", dup)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.count_if(F.col("is_dup")).cast("bigint").alias("docs_removed"),
            F.coalesce(F.sum(F.when(F.col("is_dup"), F.col("n_toks"))), F.lit(0))
            .cast("bigint")
            .alias("tokens_removed"),
            F.round(1000.0 * F.count_if(F.col("is_dup")) / F.count(F.lit(1)))
            .cast("bigint")
            .alias("docs_removed_permille"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Token-balanced training-shard assignment — the data-loader planning
# step: split the corpus into N contiguous shards (stable doc_id order)
# with near-equal TOKEN budgets, so no trainer rank starves while
# another grinds a fat shard. Contiguity in a deterministic order makes
# shards reproducible and append-friendly (new docs extend the tail).
#
# Scale: the running token total is the two-phase distributed prefix
# scan (no single-task window); shard ids come from exact integer
# division of each doc's START offset by the shard width, so both
# engines compute identical BIGINT bucket ids; the report aggregates to
# N rows.
_N_SHARDS = 8

_SHARD_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
  FROM documents
),
c AS (
  SELECT doc_id, n_toks,
         sum(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
),
tot AS (
  SELECT CAST(sum(n_toks) AS BIGINT) AS total,
         CAST(ceil(sum(n_toks) / {_N_SHARDS}.0) AS BIGINT) AS width
  FROM t
)
SELECT CAST((c.cum - c.n_toks) // tot.width AS INT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(c.n_toks) AS BIGINT) AS n_tokens,
       CAST(min(c.doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(c.doc_id) AS BIGINT) AS max_doc_id,
       CAST(round(1000.0 * sum(c.n_toks) / tot.total) AS BIGINT)
         AS share_permille
FROM c, tot
GROUP BY shard_id, tot.total
ORDER BY shard_id
"""


@query("pipeline_shard_assignment", oracle=_SHARD_ORACLE)
def pipeline_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous token-balanced shard plan: docs in doc_id order split
    into N shards by exact integer division of each doc's start offset
    by the shard width. Output: (shard_id, n_docs, n_tokens,
    min_doc_id, max_doc_id, share_permille)."""
    # The running token total is the two-phase prefix scan (one range
    # exchange); the one-row totals broadcast.
    from minimised_impala_spark.operators.prefix import distributed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_toks")
    )
    c = distributed_cumsum(t, "doc_id", F.col("n_toks"), "cum")
    tot = t.agg(
        F.sum("n_toks").cast("bigint").alias("total"),
        F.ceil(F.sum("n_toks") / float(_N_SHARDS)).cast("bigint").alias("width"),
    )
    shard_id = F.expr("(cum - n_toks) div width").cast("int")
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy(shard_id.alias("shard_id"), "total")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
        .select(
            "shard_id",
            "n_docs",
            "n_tokens",
            "min_doc_id",
            "max_doc_id",
            F.round(1000.0 * F.col("n_tokens") / F.col("total"))
            .cast("bigint")
            .alias("share_permille"),
        )
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------------
# Benford first-digit audit — the classic data-quality / fabrication
# screen over financial-style amounts: naturally occurring multi-scale
# quantities follow P(d) = log10(1 + 1/d); synthetic, capped, or
# copy-pasted columns don't. Run over lineitem extended prices, it is
# the cheap first look a pipeline takes at a new numeric feed before
# trusting it. First digits are extracted from the INTEGER part's
# decimal string — never via floor(log10(x)), whose binary rounding at
# exact powers of ten flips the leading digit.
#
# Scale: one narrow map + a 9-row aggregate; expected shares are the
# same ln-ratio constants in both engines.
_BENFORD_ORACLE = """
WITH d AS (
  SELECT substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit
  FROM lineitem WHERE l_extendedprice >= 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
SELECT CAST(digit AS INT) AS digit,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(round(1000.0 * count(*) / tot.n) AS BIGINT) AS observed_permille,
       CAST(round(1000.0 * ln(1 + 1.0 / CAST(digit AS INT)) / ln(10))
            AS BIGINT) AS benford_permille,
       CAST(round(1000.0 * count(*) / tot.n)
            - round(1000.0 * ln(1 + 1.0 / CAST(digit AS INT)) / ln(10))
            AS BIGINT) AS delta_permille
FROM d, tot
GROUP BY digit, tot.n
ORDER BY digit
"""


@query("pipeline_benford_audit", oracle=_BENFORD_ORACLE)
def pipeline_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over lineitem extended prices.
    Output: (digit, n_rows, observed_permille, benford_permille,
    delta_permille)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") >= 1
    )
    digit = F.substring(
        F.floor("l_extendedprice").cast("bigint").cast("string"), 1, 1
    )
    d = li.select(digit.alias("digit"))
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    expected = F.round(
        1000.0 * F.log(1 + 1.0 / F.col("digit").cast("int")) / math.log(10)
    ).cast("bigint")
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy(F.col("digit").cast("int").alias("digit"), "n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            "digit",
            "n_rows",
            F.round(1000.0 * F.col("n_rows") / F.col("n"))
            .cast("bigint")
            .alias("observed_permille"),
            expected.alias("benford_permille"),
            (
                F.round(1000.0 * F.col("n_rows") / F.col("n"))
                - F.round(
                    1000.0 * F.log(1 + 1.0 / F.col("digit").cast("int"))
                    / math.log(10)
                )
            )
            .cast("bigint")
            .alias("delta_permille"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# k-anonymity audit — the structured-privacy counterpart of the
# PII-redaction wing (pipeline_pii_redaction scrubs free text; this
# measures re-identification risk in the METADATA): group the corpus by
# its quasi-identifier tuple (lang, source, size bucket) and report the
# equivalence-class size distribution. Classes smaller than k are
# re-identifiable; a release gate requires zero rows in the at-risk
# bands (or generalizes the QI until none remain).
#
# Scale: one QI-keyed count, then statistics over |classes| rows.
_K_ANON = 5

_K_ANON_ORACLE = f"""
WITH classes AS (
  SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS size_bucket,
         CAST(count(*) AS BIGINT) AS class_size
  FROM documents GROUP BY lang, source, size_bucket
),
banded AS (
  SELECT CASE WHEN class_size = 1 THEN '1 (unique)'
              WHEN class_size < {_K_ANON} THEN '2-4 (small)'
              WHEN class_size < 20 THEN '5-19'
              ELSE '20+' END AS class_size_band,
         class_size < {_K_ANON} AS at_risk,
         class_size
  FROM classes
)
SELECT class_size_band, at_risk,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_docs
FROM banded
GROUP BY class_size_band, at_risk
ORDER BY CASE class_size_band WHEN '1 (unique)' THEN 1
         WHEN '2-4 (small)' THEN 2 WHEN '5-19' THEN 3 ELSE 4 END
"""


@query("pipeline_k_anonymity_audit", oracle=_K_ANON_ORACLE)
def pipeline_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity screen over the (lang, source, size-bucket)
    quasi-identifier: equivalence-class size bands with at-risk flags
    (k=5). Output: (class_size_band, at_risk, n_classes, n_docs)."""
    docs = load_table(spark, sf_dir, "documents")
    classes = docs.groupBy(
        "lang",
        "source",
        # integer `div`, not floor(x/100): double division can land a
        # hair below the true quotient at large n and floor one too low
        F.expr("n_chars div 100").cast("bigint").alias("size_bucket"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("class_size"))
    band = (
        F.when(F.col("class_size") == 1, "1 (unique)")
        .when(F.col("class_size") < _K_ANON, "2-4 (small)")
        .when(F.col("class_size") < 20, "5-19")
        .otherwise("20+")
    )
    return (
        classes.groupBy(
            band.alias("class_size_band"),
            (F.col("class_size") < _K_ANON).alias("at_risk"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_docs"),
        )
        # semantic band order (by risk severity), not lexicographic —
        # '20+' would otherwise sort before '5-19'
        .orderBy(
            F.when(F.col("class_size_band") == "1 (unique)", 1)
            .when(F.col("class_size_band") == "2-4 (small)", 2)
            .when(F.col("class_size_band") == "5-19", 3)
            .otherwise(4)
        )
    )


# --------------------------------------------------------------------------
# Market-basket association mining (support / confidence / lift over
# brand pairs co-purchased in one order) — the classic frequent-itemset
# primitive (Agrawal & Srikant 1994's building block) the reference's
# retail-style TPC-H workload invites but never ships. Items are rolled
# to p_brand (25 values) so pair statistics are dense; the per-order
# pair expansion is bounded by C(lines per order, 2) ≤ C(7,2) in TPC-H
# shape — never a corpus-sized self-join.
#
# Scale: one distinct (order, brand) projection (broadcast part dim
# feeds the brand), a per-order bounded pair fan-out, |brands|²/2-row
# statistics. lift_e4 = 1e4 · N·n_ab / (n_a·n_b) — all-integer inputs,
# rounded identically in both engines.
_BASKET_MIN_PAIRS = 20

_BASKET_ORACLE = f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
n_orders AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM ob),
singles AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_b
            FROM ob GROUP BY brand),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM ob a JOIN ob b ON b.okey = a.okey AND a.brand < b.brand
  GROUP BY a.brand, b.brand
)
SELECT p.brand_a, p.brand_b, p.n_ab,
       sa.n_b AS n_a, sb.n_b AS n_b,
       CAST(round(10000.0 * p.n_ab * n_orders.n / (sa.n_b * sb.n_b))
            AS BIGINT) AS lift_e4,
       CAST(round(1000.0 * p.n_ab / sa.n_b) AS BIGINT)
         AS confidence_a_to_b_permille
FROM pairs p
JOIN singles sa ON sa.brand = p.brand_a
JOIN singles sb ON sb.brand = p.brand_b
CROSS JOIN n_orders
WHERE p.n_ab >= {_BASKET_MIN_PAIRS}
ORDER BY brand_a, brand_b
"""


@query("pipeline_market_basket", oracle=_BASKET_ORACLE)
def pipeline_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-pair association statistics over orders: co-purchase
    count, singles, lift (e4) and A→B confidence (permille), for pairs
    with support >= 20 orders. Output: (brand_a, brand_b, n_ab, n_a,
    n_b, lift_e4, confidence_a_to_b_permille)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # persist: the distinct (order, brand) table feeds FOUR consumers
    # (order count, singles, both self-join sides) — uncached each
    # re-ran the lineitem scan + broadcast join + distinct (r12, §5)
    ob = seam(
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = ob.agg(F.countDistinct("okey").cast("bigint").alias("n"))
    singles = ob.groupBy("brand").agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    a = ob.select("okey", F.col("brand").alias("brand_a"))
    b = ob.select(F.col("okey").alias("okey2"), F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, (F.col("okey2") == F.col("okey"))
               & (F.col("brand_a") < F.col("brand_b")))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= _BASKET_MIN_PAIRS)
    )
    sa = F.broadcast(singles.select(F.col("brand").alias("brand_a"),
                                    F.col("n_b").alias("n_a")))
    sb = F.broadcast(singles.select(F.col("brand").alias("brand_b"),
                                    F.col("n_b").alias("n_b")))
    return (
        pairs.join(sa, "brand_a")
        .join(sb, "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a", "brand_b", "n_ab", "n_a", "n_b",
            F.round(10000.0 * F.col("n_ab") * F.col("n") / (F.col("n_a") * F.col("n_b")))
            .cast("bigint")
            .alias("lift_e4"),
            F.round(1000.0 * F.col("n_ab") / F.col("n_a"))
            .cast("bigint")
            .alias("confidence_a_to_b_permille"),
        )
        .orderBy("brand_a", "brand_b")
    )
