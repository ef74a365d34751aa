"""Lexical retrieval over the document corpus (north-star extension):
inverted-index construction + BM25 ranking — the search primitive a
training-data pipeline uses for targeted corpus slicing, contamination
forensics, and RAG-style retrieval evaluation sets.

Design (100 TB shape): the inverted index IS a DataFrame of postings
(term, doc_id, tf) — one explode + one groupBy, shuffled on the
(doc_id, term) then term keys; corpus statistics (N, avgdl) are a
one-row aggregate and per-term document frequencies a tiny per-term
aggregate, both broadcast back; the bounded query-term set broadcasts
against the posting list so scoring touches only postings of queried
terms (cost ∝ Σ df(q), never |corpus|). Top-k is TakeOrderedAndProject.
The same posting relation persists as a real index (write once, probe
per query) — here it is rebuilt per plan because fixtures are tiny.

BM25 with the standard Robertson/Sparck-Jones smoothing:
  idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
  score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
k1 = 1.2, b = 0.75. All inputs are integers (tf, df, N, dl) so both
engines evaluate the identical double expression tree; the final score
is rounded to 6 decimals like every FP output in this repo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minimised_impala_spark.queries.registry import query
from minimised_impala_spark.seams import seam
from minimised_impala_spark.tables import load_table

K1 = 1.2
B = 0.75
QUERY_TERMS = ("join", "filter", "stream")
TOPK = 10

# The BM25 model over `toks` (doc_id, term): term frequencies
# (postings), document lengths (dl), corpus size and length (stats) and
# document frequencies (df).
_BM25_STATS_CTE = """postings AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS total_len
  FROM dl
),
df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM postings GROUP BY term
)"""

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
{_BM25_STATS_CTE},
q AS (SELECT unnest(['join', 'filter', 'stream']) AS term),
scored AS (
  SELECT p.doc_id,
         ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * p.tf * ({K1} + 1)
           / (p.tf + {K1} * (1 - {B} + {B} * d.dl
                             / (CAST(s.total_len AS DOUBLE) / s.n_docs)))
           AS term_score
  FROM postings p
  JOIN q ON q.term = p.term
  JOIN df f ON f.term = p.term
  JOIN dl d ON d.doc_id = p.doc_id
  CROSS JOIN stats s
)
SELECT doc_id, round(sum(term_score), 6) AS bm25
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {TOPK}
"""


def _bm25_scores(
    docs: DataFrame, qterms: DataFrame, exclude_doc: int | None = None
) -> DataFrame:
    """(doc_id, bm25) for every doc matching ≥1 query term — the scoring
    core shared by text_bm25_topk and sim_rrf_hybrid. ``qterms`` must be
    a bounded (term) relation; it is broadcast against the postings.

    ``exclude_doc`` drops that doc from the *scored output only* — the
    corpus statistics (n_docs, avgdl, df) always cover the full ``docs``
    relation, so a query-by-example caller that excludes its probe doc
    from the results still scores against the same BM25 function as an
    oracle that filters after scoring."""
    # ONE doc_id exchange feeds the whole index (r12 optimization, guide
    # §2.4): the raw docs repartition on doc_id BEFORE the explode
    # (Generate preserves partitioning), so the (doc_id, term) tf
    # aggregate, the per-doc dl aggregate, the matched⋈dl join and the
    # final per-doc score sum ALL reuse that partitioning with zero
    # further fact exchanges. The seam must be a persist: its
    # InMemoryTableScan PRESERVES outputPartitioning (an ExistingRDD
    # scan reports UnknownPartitioning, forcing dl to re-exchange). On a
    # persistent deployment this is exactly the doc_id-clustered posting
    # index you'd write once and probe.
    postings = seam(
        docs.repartition(F.col("doc_id"))
        .select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dl = postings.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    # df only for the ≤|qterms| terms that can score: aggregate the
    # broadcast-filtered postings instead of the full vocabulary — the
    # corpus-wide term exchange is gone and the df values are identical
    # for every term that reaches the scorer. Computed BEFORE the
    # exclude_doc filter: corpus statistics always cover the full docs
    # relation (see docstring).
    matched_all = postings.join(F.broadcast(qterms), "term")
    dfreq = matched_all.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    term_score = (
        F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * F.col("tf")
        * (K1 + 1)
        / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / avgdl))
    )
    matched = matched_all
    if exclude_doc is not None:
        matched = matched.filter(F.col("doc_id") != exclude_doc)
    scored = (
        matched
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("term_score"), 6).alias("bm25")
    )


@query("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    qterms = spark.createDataFrame(
        [(t,) for t in QUERY_TERMS], "term string"
    )
    return (
        _bm25_scores(docs, qterms)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(TOPK)
    )


# --------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009) —
# the standard way production search fuses a lexical arm (BM25) with a
# dense arm (embedding cosine) without score calibration:
#   rrf(d) = Σ_arms 1 / (k + rank_arm(d)),  k = 60, absent arm → 0.
# The query is "more like doc 0": its top-3 terms feed the lexical arm,
# its embedding the dense arm; doc 0 itself is excluded from both.
# Ranks are computed on the 6-dp-rounded scores (ties broken by doc_id)
# so both engines rank identical keys; the fusion ranks are small
# integers, so the fused score is the identical double expression.
# Scale: each arm ends in a TakeOrdered top-20; the global row_number
# windows and the full-outer fuse run on ≤20-row inputs (driver-bounded),
# never on corpus-sized relations. The dense arm broadcasts the single
# query vector; the lexical arm broadcasts the 3-term query set.
RRF_K = 60
RRF_ARM_K = 20


_RRF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
q AS (
  SELECT term FROM toks WHERE doc_id = 0
  GROUP BY term ORDER BY count(*) DESC, term LIMIT 3
),
{_BM25_STATS_CTE},
lex_scored AS (
  SELECT p.doc_id,
         round(sum(ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * p.tf * ({K1} + 1)
               / (p.tf + {K1} * (1 - {B} + {B} * d.dl
                                 / (CAST(s.total_len AS DOUBLE) / s.n_docs)))),
               6) AS bm25
  FROM postings p
  JOIN q ON q.term = p.term
  JOIN df f ON f.term = p.term
  JOIN dl d ON d.doc_id = p.doc_id
  CROSS JOIN stats s
  WHERE p.doc_id <> 0
  GROUP BY p.doc_id
),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rn
  FROM lex_scored ORDER BY bm25 DESC, doc_id LIMIT {RRF_ARM_K}
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
dense_scored AS (
  SELECT c.vec_id AS doc_id,
         round(list_dot_product(q.e, c.e)
               / (sqrt(list_dot_product(q.e, q.e))
                  * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
  FROM v q JOIN v c ON c.vec_id <> 0
  WHERE q.vec_id = 0
),
dense AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine DESC, doc_id) AS dense_rn
  FROM dense_scored ORDER BY cosine DESC, doc_id LIMIT {RRF_ARM_K}
)
SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
       CAST(lex.lex_rn AS INT) AS lex_rn,
       CAST(dense.dense_rn AS INT) AS dense_rn,
       round(coalesce(1.0 / ({RRF_K} + lex.lex_rn), 0)
             + coalesce(1.0 / ({RRF_K} + dense.dense_rn), 0), 9) AS rrf
FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
ORDER BY rrf DESC, doc_id
LIMIT {TOPK}
"""


@query("sim_rrf_hybrid", oracle=_RRF_ORACLE)
def sim_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from minimised_impala_spark.extensions import vector_kernels as VK
    from minimised_impala_spark.shipping import ship_module_by_value

    ship_module_by_value("minimised_impala_spark.extensions.vector_kernels")

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    qterms = (
        toks.filter(F.col("doc_id") == 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "term")
        .limit(3)
        .select("term")
    )
    lex = (
        _bm25_scores(docs, qterms, exclude_doc=0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RRF_ARM_K)
        .withColumn(
            "lex_rn",
            F.row_number().over(W.orderBy(F.desc("bm25"), F.asc("doc_id"))),
        )
        .select("doc_id", "lex_rn")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    dense = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(VK.cosine_pair("qe", "e"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(RRF_ARM_K)
        .withColumn(
            "dense_rn",
            F.row_number().over(W.orderBy(F.desc("cosine"), F.asc("doc_id"))),
        )
        .select("doc_id", "dense_rn")
    )
    fused = lex.join(dense, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(1.0 / (RRF_K + F.col("lex_rn")), F.lit(0.0))
        + F.coalesce(1.0 / (RRF_K + F.col("dense_rn")), F.lit(0.0)),
        9,
    )
    return (
        fused.select(
            "doc_id",
            F.col("lex_rn").cast("int").alias("lex_rn"),
            F.col("dense_rn").cast("int").alias("dense_rn"),
            rrf.alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(TOPK)
    )
