"""Text-analysis operators for training-data pipelines (north-star
extension): quality scoring, language ID, token statistics, document
fingerprinting. All pure `pyspark.sql.functions` (JVM-side, codegen'd) —
no Python UDFs in any hot path — so they scale to 100 TB as embarrassingly
parallel per-row transforms (no shuffle except final aggregations).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from minimised_impala_spark.queries.registry import query
from minimised_impala_spark.seams import seam
from minimised_impala_spark.serde import pickle_module_by_value
from minimised_impala_spark.tables import load_table, scratch_dir

# mapInPandas kernels below (_wp_encode_batches) must serialize by VALUE:
# the driver process may not have this package importable on executors'
# sys.path (the harness driver imports __spark_entry__ from an arbitrary
# cwd), so by-reference pickling would fail module resolution.
pickle_module_by_value(__name__)

# token-level stopword sets per language for the n-gram/stopword lang-id
# heuristic (deterministic, closed sets)
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in"],
    "de": ["der", "und", "die", "das", "ein"],
    "es": ["el", "la", "de", "los", "una"],
    "fr": ["le", "la", "et", "les", "une"],
}

_PUNCT_RE = "[.,!?;:]"
# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space symbols
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


# --------------------------------------------------------------------------
@query(
    "text_quality",
    oracle=f"""
SELECT doc_id,
       length(text)                                   AS n_chars_calc,
       len(string_split(text, ' '))                   AS n_tokens,
       round(length(replace(text, ' ', '')) * 1.0
             / len(string_split(text, ' ')), 6)       AS avg_token_len,
       len(regexp_extract_all(text, '{_PUNCT_RE}'))   AS n_punct,
       round(len(list_intersect(string_split(text, ' '),
                 ['the','and','of','to','a','in'])) * 1.0
             / len(list_distinct(string_split(text, ' '))), 6)
                                                      AS stopword_ratio,
       (length(text) >= 100 AND
        len(string_split(text, ' ')) >= 20)           AS passes_length_gate
FROM documents
ORDER BY doc_id
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics: length/punctuation/stopword gates — the standard
    pre-training corpus filters."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_toks = F.size(toks)
    stop = F.array([F.lit(w) for w in _LANG_STOPWORDS["en"]])
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_calc"),
        n_toks.cast("bigint").alias("n_tokens"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) * 1.0 / n_toks, 6
        ).alias("avg_token_len"),
        F.regexp_count("text", F.lit(_PUNCT_RE)).cast("bigint").alias("n_punct"),
        F.round(
            F.size(F.array_intersect(toks, stop)) * 1.0
            / F.size(F.array_distinct(toks)),
            6,
        ).alias("stopword_ratio"),
        ((F.length("text") >= 100) & (n_toks >= 20)).alias("passes_length_gate"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
def _langid_score_sql(lang: str) -> str:
    lits = ", ".join(f"'{w}'" for w in _LANG_STOPWORDS[lang])
    return f"len(list_intersect(string_split(text, ' '), [{lits}]))"


# The stopword-overlap language of `text`, as _langid_pred computes it.
_LANGID_PRED_SQL = f"""
         CASE
           WHEN {_langid_score_sql('en')} >= {_langid_score_sql('de')}
            AND {_langid_score_sql('en')} >= {_langid_score_sql('es')}
            AND {_langid_score_sql('en')} >= {_langid_score_sql('fr')}
            AND {_langid_score_sql('en')} > 0 THEN 'en'
           WHEN {_langid_score_sql('de')} >= {_langid_score_sql('es')}
            AND {_langid_score_sql('de')} >= {_langid_score_sql('fr')}
            AND {_langid_score_sql('de')} > 0 THEN 'de'
           WHEN {_langid_score_sql('es')} >= {_langid_score_sql('fr')}
            AND {_langid_score_sql('es')} > 0 THEN 'es'
           WHEN {_langid_score_sql('fr')} > 0 THEN 'fr'
           ELSE 'unknown'
         END"""


def _langid_pred() -> Column:
    """Stopword-overlap language ID (n-gram heuristic) of `text`.
    Deterministic tie-break: priority order en > de > es > fr."""
    toks = F.split("text", " ")

    def score(lang: str) -> Column:
        return F.size(
            F.array_intersect(toks, F.array([F.lit(w) for w in _LANG_STOPWORDS[lang]]))
        )

    en, de, es, fr = (score(lang) for lang in ("en", "de", "es", "fr"))
    return (
        F.when((en >= de) & (en >= es) & (en >= fr) & (en > 0), "en")
        .when((de >= es) & (de >= fr) & (de > 0), "de")
        .when((es >= fr) & (es > 0), "es")
        .when(fr > 0, "fr")
        .otherwise("unknown")
    )


@query(
    "text_langid",
    oracle=f"""
SELECT lang_pred, count(*) AS n_docs FROM (
  SELECT doc_id,{_LANGID_PRED_SQL} AS lang_pred
  FROM documents
) t GROUP BY lang_pred
ORDER BY lang_pred
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language counts of the stopword-overlap language ID."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(_langid_pred().alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


# --------------------------------------------------------------------------
@query(
    "text_tokens",
    oracle=f"""
SELECT doc_id,
       len(string_split(text, ' '))                    AS ws_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}'))      AS bpe_tokens,
       len(list_distinct(string_split(text, ' ')))     AS distinct_tokens,
       round(len(list_distinct(string_split(text, ' '))) * 1.0
             / len(string_split(text, ' ')), 6)        AS type_token_ratio
FROM documents
ORDER BY doc_id
""",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace and BPE-ish regex pre-tokenization."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("ws_tokens"),
        F.regexp_count("text", F.lit(_BPE_RE)).cast("bigint").alias("bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("distinct_tokens"),
        F.round(F.size(F.array_distinct(toks)) * 1.0 / F.size(toks), 6).alias(
            "type_token_ratio"
        ),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
@query(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
         AS content_fp,
       substr(md5(text), 1, 16) AS exact_fp_prefix
FROM documents
ORDER BY doc_id
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: order-insensitive bag-of-words fingerprint
    (md5 of the sorted distinct token list) + exact content hash prefix."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.md5(F.array_join(F.sort_array(F.array_distinct(toks)), " ")).alias(
            "content_fp"
        ),
        F.substring(F.md5("text"), 1, 16).alias("exact_fp_prefix"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# End-to-end corpus curation: the composed training-data pipeline —
# quality gate → exact dedup (canonical = min doc_id per content hash) →
# token-bucket statistics. Each stage is one of the operators above; the
# composition stays a single Catalyst plan (gate pushes into the scan,
# dedup is one shuffle on the content hash, stats a map-side-combined agg).
_PIPELINE_ORACLE = """
WITH gated AS (
  SELECT doc_id, text FROM documents
  WHERE length(text) >= 100 AND len(string_split(text, ' ')) >= 20
),
canon AS (
  SELECT min(doc_id) AS doc_id, min(text) AS text
  FROM gated GROUP BY md5(text)
),
stats AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, length(text) AS n_chars
  FROM canon
)
SELECT (n_tokens // 50) * 50 AS token_bucket,
       count(*)              AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(sum(n_chars) * 1.0 / count(*), 6) AS avg_chars
FROM stats
GROUP BY token_bucket
ORDER BY token_bucket
"""


@query("pipeline_corpus_curation", oracle=_PIPELINE_ORACLE)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    gated = docs.filter((F.length("text") >= 100) & (toks >= 20))
    canon = gated.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"), F.min("text").alias("text")
    )
    stats = canon.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    bucket = (F.col("n_tokens") - F.col("n_tokens") % 50).alias("token_bucket")
    return (
        stats.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("n_chars") * 1.0 / F.count(F.lit(1)), 6).alias("avg_chars"),
        )
        .orderBy("token_bucket")
    )


# --------------------------------------------------------------------------
# Deterministic (reproducible) sampling — pipelines must be able to re-run
# a corpus subsample bit-identically across engines and months; rand()
# cannot. Sample membership = md5(doc_id) bucket < rate, so the same doc
# is always in/out regardless of partitioning, engine, or cluster size.
_SAMPLE_ORACLE = """
WITH sampled AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS bucket
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM sampled
WHERE bucket < 20
"""


@query("text_sample_deterministic", oracle=_SAMPLE_ORACLE)
def text_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < 20)
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


# --------------------------------------------------------------------------
# Benchmark contamination check: find training documents whose trigram-
# shingle CONTAINMENT of a benchmark document exceeds a threshold —
# the standard decontamination step before LLM training (n-gram overlap
# against eval sets). Containment, not Jaccard: a benchmark item fully
# quoted inside a much longer training doc must still flag.
#
# The fixture has no benchmark set, so one is derived deterministically:
# docs with doc_id % 17 == 0 contribute their text minus the first token
# (a "leaked" variant) as benchmark items. Both engines build the same set.
#
# Scale notes: shingle both sides (narrow map), join on the shingle
# (shuffle of (shingle, id) pairs — bench side is tiny so Spark broadcasts
# it), count distinct shared shingles per (train, bench) pair. Cost is
# ∝ |bench shingles| × avg docs per shingle, NOT |train|².
_CONTAMINATED_CTE = """corpus AS (SELECT doc_id, text FROM documents),
-- Identity-preserving exact-duplicate collapse (r12, VERDICT r11
-- directive #7 — same rewrite the r11 near-dedup oracle got): identical
-- text => identical distinct-trigram shingle set => identical
-- (bench, c, containment) rows, so the O(|train shingles| x |bench
-- shingles|) join runs once per DISTINCT text and the results expand
-- back to every member doc_id.  On the replicated 10x/100x sweep
-- fixtures this takes the pair stage from (100n)^2 back to n^2; on a
-- duplicate-free corpus it degenerates to the original plan.
tmap AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS tgid FROM corpus
),
tg AS (SELECT min(doc_id) AS doc_id, text FROM corpus GROUP BY text),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS p
  FROM tg
),
shingles AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sh
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.p = a.p + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.p = a.p + 2
),
bench AS (
  SELECT doc_id AS bench_id,
         substr(text, strpos(text, ' ') + 1) AS text
  FROM documents WHERE doc_id % 17 = 0
),
bmap AS (
  SELECT bench_id, min(bench_id) OVER (PARTITION BY text) AS bgid FROM bench
),
bg AS (SELECT min(bench_id) AS bench_id, text FROM bench GROUP BY text),
btoks AS (
  SELECT bench_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS p
  FROM bg
),
bshingles AS (
  SELECT DISTINCT a.bench_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sh
  FROM btoks a
  JOIN btoks b ON b.bench_id = a.bench_id AND b.p = a.p + 1
  JOIN btoks c ON c.bench_id = a.bench_id AND c.p = a.p + 2
),
bsizes AS (SELECT bench_id, count(*) AS bsz FROM bshingles GROUP BY bench_id),
inter AS (
  SELECT s.doc_id AS train_g, b.bench_id AS bench_g, count(*) AS c
  FROM shingles s JOIN bshingles b ON s.sh = b.sh
  GROUP BY s.doc_id, b.bench_id
),
hits AS (
  SELECT i.train_g, i.bench_g, round(i.c * 1.0 / z.bsz, 6) AS containment
  FROM inter i JOIN bsizes z ON z.bench_id = i.bench_g
  WHERE i.c * 1.0 / z.bsz >= 0.5
),
contaminated AS (
  SELECT tm.doc_id AS train_id, bm.bench_id AS bench_id, h.containment
  FROM hits h
  JOIN tmap tm ON tm.tgid = h.train_g
  JOIN bmap bm ON bm.bgid = h.bench_g
)"""

_CONTAMINATION_ORACLE = f"""
WITH {_CONTAMINATED_CTE}
SELECT train_id, bench_id, containment
FROM contaminated
ORDER BY train_id, bench_id
"""


# --------------------------------------------------------------------------
# Sequence packing: concatenate-and-chunk bookkeeping for training-batch
# assembly — every doc's tokens land at a global offset (running sum of
# token counts in doc_id order), and the doc maps to the fixed-size context
# windows [first_chunk, last_chunk] it straddles. The global running sum
# uses operators/prefix.distributed_cumsum (two-phase parallel scan), NOT a
# partitionless window — the latter is a single-task stage at 100 TB.
_PACK_CAP = 512

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT)                    AS n_tokens,
       CAST((cum - n_tokens) // {_PACK_CAP} AS BIGINT) AS first_chunk,
       CAST((cum - 1) // {_PACK_CAP} AS BIGINT)        AS last_chunk,
       CAST((cum - 1) // {_PACK_CAP}
            - (cum - n_tokens) // {_PACK_CAP} + 1 AS BIGINT) AS chunks_spanned
FROM c
ORDER BY doc_id
"""


@query("text_pack_sequences", oracle=_PACK_ORACLE)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.operators.prefix import distributed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    c = distributed_cumsum(t, "doc_id", "n_tokens", "cum")
    # exact integer `div`, matching the oracle's `//`: floor of a DOUBLE
    # division can land one below/above the true quotient once the
    # corpus-wide cumsum outgrows double precision (the same trap the
    # k-anonymity bucket dodged)
    first = F.expr(f"(cum - n_tokens) div {_PACK_CAP}").cast("bigint")
    last = F.expr(f"(cum - 1) div {_PACK_CAP}").cast("bigint")
    return c.select(
        "doc_id",
        "n_tokens",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        (last - first + 1).alias("chunks_spanned"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Repetition-based quality signals (the Gopher-rules family): fraction of
# the doc's bigrams taken by its single most-frequent bigram, and fraction
# of trigram occurrences that are repeats. Grams are built per-row with
# array expressions (narrow map, JVM-side); the per-(doc, gram) count and
# per-doc rollup are both keyed by doc_id, so the shuffles partition
# cleanly at any corpus size.
_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS p
  FROM documents
),
g2 AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok AS g
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.p = a.p + 1
),
g3 AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS g
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.p = a.p + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.p = a.p + 2
),
c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
a2 AS (
  SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac
  FROM c2 GROUP BY doc_id
),
a3 AS (
  SELECT doc_id,
         round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6)
           AS dup_trigram_frac
  FROM c3 GROUP BY doc_id
)
SELECT a2.doc_id AS doc_id, top_bigram_frac, dup_trigram_frac
FROM a2 JOIN a3 ON a3.doc_id = a2.doc_id
ORDER BY doc_id
"""


def _gram_counts(docs: DataFrame, n: int) -> DataFrame:
    """Per-(doc_id, gram) occurrence counts for n-grams of the token list
    (NOT distinct — repetition metrics need multiplicities)."""
    # toks materialized as a real column: inline split() captured in the
    # transform lambda re-evaluates per element (O(tokens²) per doc — see
    # dedup._trigrams_of, measured 2.5× on the shingle stage).
    tc = F.col("toks")
    sz = F.size(tc)
    grams = F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(0), sz - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tc, i + k + 1) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.withColumn("toks", F.split("text", " "))
        .select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )


@query("text_repetition", oracle=_REPETITION_ORACLE)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a2 = _gram_counts(docs, 2).groupBy("doc_id").agg(
        F.round(F.max("c") * 1.0 / F.sum("c"), 6).alias("top_bigram_frac")
    )
    a3 = _gram_counts(docs, 3).groupBy("doc_id").agg(
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) * 1.0
            / F.sum("c"),
            6,
        ).alias("dup_trigram_frac")
    )
    return a2.join(a3, "doc_id").orderBy("doc_id")


# --------------------------------------------------------------------------
# Weighted domain mixing: re-balance the corpus toward a target source
# mixture with per-source deterministic keep rates (same md5-bucket
# membership as text_sample_deterministic, so the subsample is bit-stable
# across engines and re-runs). One narrow filter + one agg keyed by
# source — no mixture-weight machinery needs to exist at scan time.
_MIX_ORACLE = """
WITH rated AS (
  SELECT source,
         CASE CAST(substr(source, 4) AS INT) % 4
           WHEN 0 THEN 100 WHEN 1 THEN 50 WHEN 2 THEN 25 ELSE 10 END
           AS keep_pct,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100
           AS bucket,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT source,
       CAST(max(keep_pct) AS INT) AS keep_pct,
       count(*)                   AS n_docs,
       CAST(sum(CASE WHEN bucket < keep_pct THEN 1 ELSE 0 END) AS BIGINT)
                                  AS n_kept,
       CAST(sum(CASE WHEN bucket < keep_pct THEN n_tokens ELSE 0 END) AS BIGINT)
                                  AS kept_tokens
FROM rated
GROUP BY source
ORDER BY source
"""


@query("text_mix_sources", oracle=_MIX_ORACLE)
def text_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    keep_pct = (
        F.when(src_num % 4 == 0, 100)
        .when(src_num % 4 == 1, 50)
        .when(src_num % 4 == 2, 25)
        .otherwise(10)
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    kept = F.col("bucket") < F.col("keep_pct")
    return (
        docs.select(
            "source",
            keep_pct.alias("keep_pct"),
            bucket.alias("bucket"),
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.max("keep_pct").cast("int").alias("keep_pct"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("kept_tokens"),
        )
        .orderBy("source")
    )


def _contamination_shingles(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(train_id, sh) distinct trigram shingles of every document and
    (bench_id, sh) of the derived benchmark set, the latter seamed — as
    the contamination oracles build them."""
    from minimised_impala_spark.extensions.dedup import _trigrams_of

    grams = F.array_distinct(_trigrams_of(F.col("toks")))
    train_sh = docs.withColumn("toks", F.split("text", " ")).select(
        F.col("doc_id").alias("train_id"), F.explode(grams).alias("sh")
    )
    bench = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    # persist: bench_sh feeds both the per-bench sizes and the
    # intersection broadcast (and the bloom build's set bits) — uncached
    # each re-ran the bench scan + shingle explode (r12, guide §5)
    bench_sh = seam(bench.withColumn("toks", F.split("text", " ")).select(
        "bench_id", F.explode(grams).alias("sh")
    ))
    return train_sh, bench_sh


def _contaminated(train_sh: DataFrame, bench_sh: DataFrame) -> DataFrame:
    """(bench_id, train_id, c, bsz) for every train document that holds c
    of a benchmark item's bsz shingles, with c / bsz >= 0.5."""
    bsizes = bench_sh.groupBy("bench_id").agg(F.count(F.lit(1)).alias("bsz"))
    inter = (
        train_sh.join(
            F.broadcast(bench_sh.withColumnRenamed("sh", "bsh")),
            F.col("sh") == F.col("bsh"),
        )
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return inter.join(F.broadcast(bsizes), "bench_id").filter(
        F.col("c") * 1.0 / F.col("bsz") >= 0.5
    )


@query("text_contamination", oracle=_CONTAMINATION_ORACLE)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train_sh, bench_sh = _contamination_shingles(docs)
    containment = F.col("c") * 1.0 / F.col("bsz")
    return (
        _contaminated(train_sh, bench_sh)
        .select("train_id", "bench_id", F.round(containment, 6).alias("containment"))
        .orderBy("train_id", "bench_id")
    )


# --------------------------------------------------------------------------
# Bloom-prefiltered decontamination — the 100 TB scale path for
# text_contamination. The exact operator broadcasts the full benchmark
# shingle STRINGS against every corpus shingle; at web scale the bench set
# is still small but the strings are wide. Here the bench set is compressed
# to a Bloom filter (m=2^20 bits, k=3, Kirsch–Mitzenmacher double hashing
# over xxhash64) and the corpus is prefiltered to "maybe contaminated"
# shingles before the exact string join rescores the survivors, so the
# wide string-broadcast join only ever sees candidates (∝ true matches +
# the bloom false-positive rate), not the whole corpus gram stream.
#
# The bit set is expressed Catalyst-natively as a broadcast semi-join on
# bit POSITIONS (distinct longs ≤ k·|bench shingles|): a probe shingle is
# a bloom "maybe" iff all k of its probe positions are present. A
# production deployment could ship the same positions as a literal bitmap
# (m/8 bytes) inside a pandas UDF; the join form keeps it JVM-side and
# plan-visible with identical candidate semantics. False positives are
# eliminated by the exact rescore, so the final output is bit-identical to
# text_contamination (same oracle). All modular arithmetic is done
# piecewise (mod m before multiply/add) so it never overflows ANSI bigint.
_BLOOM_M = 1 << 20
_BLOOM_K = 3


def _bloom_positions(df: DataFrame) -> DataFrame:
    """Explode each row's `sh` into its k bloom probe positions (`pos`)."""
    h1 = F.pmod(F.xxhash64(F.col("sh")), F.lit(_BLOOM_M))
    h2 = F.pmod(F.xxhash64(F.concat(F.col("sh"), F.lit("#bloom"))), F.lit(_BLOOM_M))
    return (
        df.withColumn("_h1", h1)
        .withColumn("_h2", h2)
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))))
        .withColumn(
            "pos", F.pmod(F.col("_h1") + F.col("i") * F.col("_h2"), F.lit(_BLOOM_M))
        )
        .drop("_h1", "_h2")
    )


@query("pipeline_decontaminate_bloom", oracle=_CONTAMINATION_ORACLE)
def pipeline_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train_sh, bench_sh = _contamination_shingles(docs)
    # phase 1: the compressed bench representation — distinct set bits
    set_bits = (
        _bloom_positions(bench_sh.select("sh").distinct()).select("pos").distinct()
    )
    # phase 2: bloom prefilter — keep (train_id, sh) whose k probes ALL hit
    candidates = (
        _bloom_positions(train_sh)
        .join(F.broadcast(set_bits), "pos")
        .groupBy("train_id", "sh")
        .agg(F.count(F.lit(1)).alias("k_hits"))
        .filter(F.col("k_hits") == _BLOOM_K)
        .drop("k_hits")
    )
    # phase 3: exact rescore of the candidates only (drops false positives)
    containment = F.col("c") * 1.0 / F.col("bsz")
    return (
        _contaminated(candidates, bench_sh)
        .select("train_id", "bench_id", F.round(containment, 6).alias("containment"))
        .orderBy("train_id", "bench_id")
    )


# --------------------------------------------------------------------------
# Boilerplate n-gram removal (CCNet/Dolma-style): 5-grams occurring in many
# DISTINCT documents are template/boilerplate; each doc reports how much of
# it is boilerplate. Operational shape at 100 TB: the doc-frequency table
# of repeated n-grams is orders of magnitude smaller than the corpus
# (grams with df>=threshold) and is broadcast back against the per-doc
# gram stream — no second shuffle of the corpus.
_BOILERPLATE_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         t[i.n] || ' ' || t[i.n+1] || ' ' || t[i.n+2] || ' ' || t[i.n+3]
           || ' ' || t[i.n+4] AS g
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS n) i
  WHERE len(t) >= 5
),
df AS (
  SELECT g, count(*) AS docs FROM grams GROUP BY g
),
boiler AS (SELECT g FROM df WHERE docs >= 5),
per_doc AS (
  SELECT gr.doc_id,
         count(*) AS n_grams,
         CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler
  FROM grams gr LEFT JOIN boiler b ON b.g = gr.g
  GROUP BY gr.doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, n_boiler,
       round(n_boiler * 1.0 / n_grams, 6) AS boiler_frac
FROM per_doc
WHERE doc_id < 400
ORDER BY doc_id
"""


@query("text_boilerplate_ngrams", oracle=_BOILERPLATE_ORACLE)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = F.col("toks")
    sz = F.size(tc)
    g5 = F.when(
        sz >= 5,
        F.transform(
            F.sequence(F.lit(0), sz - 5),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tc, i + k + 1) for k in range(5)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = (
        docs.withColumn("toks", F.split("text", " "))
        .select("doc_id", F.explode(F.array_distinct(g5)).alias("g"))
    )
    boiler = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("docs"))
        .filter(F.col("docs") >= 5)
        .select("g")
    )
    per_doc = (
        grams.join(F.broadcast(boiler.withColumnRenamed("g", "bg")),
                   F.col("g") == F.col("bg"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("bg").isNotNull(), 1).otherwise(0)).cast("bigint").alias("n_boiler"),
        )
    )
    return (
        per_doc.filter(F.col("doc_id") < 400)
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            "n_boiler",
            F.round(F.col("n_boiler") * 1.0 / F.col("n_grams"), 6).alias("boiler_frac"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# PII redaction: the fixture corpus is synthetic lowercase prose with no
# PII, so (exactly like dedup's planted-twin corpus) deterministic PII is
# planted in-query — every 3rd doc gains an email and a phone — then the
# redactor must scrub it and account for every removal. Pure JVM-side
# regexp_replace; at 100 TB a narrow map.
_PII_ORACLE = """
WITH corpus AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com phone 555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS text
  FROM documents
),
red AS (
  SELECT doc_id, source, text,
         regexp_replace(
           regexp_replace(text, '[a-z0-9]+@[a-z0-9]+\\.[a-z]+', '<EMAIL>', 'g'),
           '555-[0-9]{4}', '<PHONE>', 'g') AS clean
  FROM corpus
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN clean <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
       CAST(sum(len(string_split(clean, '<EMAIL>')) - 1) AS BIGINT) AS n_emails,
       CAST(sum(len(string_split(clean, '<PHONE>')) - 1) AS BIGINT) AS n_phones,
       CAST(sum(length(text) - length(clean)) AS BIGINT) AS chars_removed
FROM red
GROUP BY source
ORDER BY source
"""


@query("pipeline_pii_redaction", oracle=_PII_ORACLE)
def pipeline_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com phone 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    corpus = docs.select("doc_id", "source", planted.alias("text"))
    clean = F.regexp_replace(
        F.regexp_replace("text", r"[a-z0-9]+@[a-z0-9]+\.[a-z]+", "<EMAIL>"),
        r"555-[0-9]{4}",
        "<PHONE>",
    )
    red = corpus.withColumn("clean", clean)
    return (
        red.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("clean") != F.col("text"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_redacted"),
            F.sum(F.size(F.split("clean", "<EMAIL>")) - 1).cast("bigint").alias("n_emails"),
            F.sum(F.size(F.split("clean", "<PHONE>")) - 1).cast("bigint").alias("n_phones"),
            F.sum(F.length("text") - F.length("clean")).cast("bigint").alias("chars_removed"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split assignment — the first thing a
# training pipeline does to a corpus. Hash-based (never random()): the
# assignment is a pure function of doc_id, so it is reproducible across
# runs, stable under corpus growth (existing docs never change split),
# and embarrassingly parallel — a narrow map with no shuffle until the
# final per-split audit aggregation. 90/5/5 via md5 buckets, the same
# conv(md5)-bucket idiom as text_sample_deterministic.
_SPLIT_ORACLE = """
WITH assigned AS (
  SELECT source, doc_id, length(text) AS n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 1000
           AS bucket
  FROM documents
)
SELECT source,
       CASE WHEN bucket < 900 THEN 'train'
            WHEN bucket < 950 THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_chars) AS BIGINT)  AS n_chars,
       CAST(min(doc_id) AS BIGINT)   AS first_doc
FROM assigned
GROUP BY source, split
ORDER BY source, split
"""


@query("text_split_assignment", oracle=_SPLIT_ORACLE)
def text_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 1000
    )
    split = (
        F.when(bucket < 900, "train").when(bucket < 950, "val").otherwise("test")
    )
    return (
        docs.select("source", "doc_id", F.length("text").alias("n_chars"))
        .withColumn("split", split)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source", "split")
    )


# --------------------------------------------------------------------------
# Seeded global corpus shuffle — reproducible training order. The shuffle
# key is md5(seed || doc_id), so the permutation is a deterministic
# function of (seed, corpus) and re-runs bit-identically; changing the
# seed re-permutes. At scale the ORDER BY realizes as a distributed
# range-partitioned sort (sample → range bounds → per-partition sort) —
# no single-task bottleneck; the LIMIT here makes the declared query a
# TakeOrdered so the driver fetches only the head. A full-corpus
# materialization would instead write the sorted output per partition.
_SHUFFLE_ORACLE = """
SELECT doc_id, source,
       substr(md5('42_' || CAST(doc_id AS VARCHAR)), 1, 8) AS shuffle_key
FROM documents
ORDER BY shuffle_key, doc_id
LIMIT 50
"""


@query("text_global_shuffle", oracle=_SHUFFLE_ORACLE)
def text_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    key = F.substring(
        F.md5(F.concat(F.lit("42_"), F.col("doc_id").cast("string"))), 1, 8
    )
    return (
        docs.select("doc_id", "source", key.alias("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")
        .limit(50)
    )


# --------------------------------------------------------------------------
# Stratified sampling with EXACT per-stratum quotas — "50 docs per
# source", not a Bernoulli fraction (which only hits quotas in
# expectation). Rank within each stratum by the deterministic hash order
# (so the sample is reproducible and unbiased w.r.t. doc content) and
# keep rank ≤ quota: one window shuffle on the stratum key, scale-safe
# for any stratum too big to collect. Skewed strata rank in parallel
# across their partition's sort — no stratum ever convenes on one task
# beyond the window sort, and the quota cut happens before any wide row
# leaves the stage.
_STRAT_ORACLE = """
WITH ranked AS (
  SELECT source, doc_id, length(text) AS n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT)     AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS sample_chars,
       CAST(min(doc_id) AS BIGINT)  AS min_doc,
       CAST(max(doc_id) AS BIGINT)  AS max_doc
FROM ranked
WHERE rk <= 50
GROUP BY source
ORDER BY source
"""


@query("text_sample_stratified", oracle=_STRAT_ORACLE)
def text_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id", F.length("text").alias("n_chars"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 50)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sample_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Exact heavy hitters with threshold pruning — the scale-safe formulation
# of "which tokens occur ≥ T times corpus-wide". The naive plan shuffles
# every (token, partial-count) pair; here a token can only reach global
# count ≥ T if SOME input partition holds ≥ T/P of its occurrences
# (pigeonhole), so the map-side candidate filter drops the long tail
# before the shuffle and the exact recount touches candidates only. No
# false negatives by construction; false candidates die in the recount —
# same prune-then-rescore discipline as the bloom/LSH paths. P is read
# from the scan's partitioning metadata (no job is run).
_HH_T = 60


@query(
    "text_heavy_hitters",
    oracle=f"""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
SELECT tok, count(*) AS n
FROM toks
GROUP BY tok
HAVING count(*) >= {_HH_T}
ORDER BY tok
""",
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    n_parts = max(1, toks.rdd.getNumPartitions())
    local = toks.groupBy(
        F.spark_partition_id().alias("pid"), "tok"
    ).agg(F.count(F.lit(1)).alias("c"))
    candidates = (
        local.filter(F.col("c") >= _HH_T / n_parts).select("tok").distinct()
    )
    return (
        toks.join(F.broadcast(candidates), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _HH_T)
        .orderBy("tok")
    )


# --------------------------------------------------------------------------
# Unigram LM quality scoring — the CCNet-style perplexity proxy: score
# each doc by its average negative log-likelihood under the corpus's own
# unigram distribution (high avg-NLL = rare-token-heavy = candidate junk;
# the real pipeline swaps in a KenLM model, same join shape). Shape at
# 100 TB: the vocab table (distinct tokens + counts) is orders of
# magnitude smaller than the token stream and joins keyed on tok — or
# broadcasts when it fits. Both engines sum IEEE doubles in different
# orders, so the per-doc NLL is rounded to 4 decimals (~1e-13 engine
# disagreement vs a 5e-5 rounding quantum).
@query(
    "text_lm_score",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT sum(c) AS n FROM vocab),
scored AS (
  SELECT t.doc_id, count(*) AS n_toks,
         sum(-ln(v.c * 1.0 / tot.n)) AS nll
  FROM toks t JOIN vocab v ON v.tok = t.tok, tot
  GROUP BY t.doc_id
)
SELECT doc_id,
       CAST(n_toks AS BIGINT)    AS n_toks,
       round(nll / n_toks, 4)    AS avg_nll
FROM scored
ORDER BY doc_id
""",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # persist the vocab census: it feeds the total AND the scoring
    # broadcast — uncached each re-ran the corpus census (r12, guide §5)
    vocab = seam(toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    total = vocab.agg(F.sum("c").alias("n"))
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(-F.log(F.col("c") * 1.0 / F.col("n"))).alias("nll"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_toks").cast("bigint").alias("n_toks"),
        F.round(F.col("nll") / F.col("n_toks"), 4).alias("avg_nll"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Bigram language model scoring — the order-sensitive upgrade of
# text_lm_score's unigram model (the CCNet/Gopher-style quality filter
# family scores documents by LM fit; a bigram model with Laplace
# smoothing catches scrambled/boilerplate text a unigram model scores as
# fluent). Training IS aggregation: corpus bigram counts c(w1,w2), head
# counts c(w1), vocab size V — three grouped aggregates; scoring joins
# each document's bigram stream against the (broadcast) count tables:
#   P(w2|w1) = (c12 + 1) / (c1 + V),  avg_nll = -mean ln P
# Bigrams are derived from the MATERIALIZED token array by index
# (narrow map, no positional self-join — the shingle lesson in
# dedup._trigrams_of). All count inputs are integers, so both engines
# evaluate identical ln() arguments; the per-doc sum is rounded at 4
# decimals like text_lm_score. At 100 TB the model tables are the only
# shuffles (|vocab| and |bigram-vocab| rows) and scoring is a broadcast
# join over the token stream.
# Each document's bigrams (bg), and the corpus bigram (c12) and head (c1)
# counts: the model tables of both bigram LMs.
_BIGRAM_CTE = """t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, n - 1),
                               i -> toks[i] || chr(9) || toks[i + 1])) AS bigram
  FROM t WHERE n >= 2
),
c12 AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY bigram),
c1 AS (
  SELECT split_part(bigram, chr(9), 1) AS w1, CAST(count(*) AS BIGINT) AS c1
  FROM bg GROUP BY w1
)"""

_BIGRAM_LM_ORACLE = f"""
WITH {_BIGRAM_CTE},
vocab AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
),
scored AS (
  SELECT b.doc_id, count(*) AS n_bigrams,
         sum(-ln((x.c12 + 1.0) / (h.c1 + vocab.v))) AS nll
  FROM bg b
  JOIN c12 x ON x.bigram = b.bigram
  JOIN c1 h ON h.w1 = split_part(b.bigram, chr(9), 1)
  CROSS JOIN vocab
  GROUP BY b.doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(nll / n_bigrams, 4) AS avg_nll
FROM scored
ORDER BY doc_id
"""


def _bigrams(t: DataFrame, key: str) -> DataFrame:
    """(key, bigram) for every adjacent token pair of each `toks` row of
    ``t`` (key, toks, n), the two tokens joined by a tab. Derived from the
    materialized token array by index: a narrow map, no positional
    self-join (the shingle lesson in dedup._trigrams_of)."""
    return t.filter(F.col("n") >= 2).select(
        key,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - 2),
                lambda i: F.concat_ws(
                    "\t",
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            )
        ).alias("bigram"),
    )


@query("text_bigram_lm", oracle=_BIGRAM_LM_ORACLE)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    bg = _bigrams(t, "doc_id")
    # persist the vocab-sized type table and derive the context totals
    # from IT (c1(w1) = Σ_w2 c12 exactly — every w1 occurrence is in
    # some bigram type) instead of re-grouping the corpus-sized bigram
    # stream a second time (r12, guide §2.3/§5; same rework as
    # text_kneser_ney_lm)
    c12 = seam(
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    )
    c1 = (
        c12.groupBy(
            F.split_part(F.col("bigram"), F.lit("\t"), F.lit(1)).alias("w1")
        )
        .agg(F.sum("c12").cast("bigint").alias("c1"))
    )
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .agg(F.countDistinct("tok").cast("bigint").alias("v"))
    )
    scored = (
        bg.join(F.broadcast(c12), "bigram")
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit("\t"), F.lit(1)))
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                -F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))
            ).alias("nll"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.round(F.col("nll") / F.col("n_bigrams"), 4).alias("avg_nll"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Context-window chunking with overlap: split each document's token stream
# into fixed-size windows (W=64) advancing by a stride (S=48, i.e. 16
# tokens of overlap) — the standard assembly step for LLM pretraining when
# documents exceed the context length and boundaries shouldn't lose
# context. Pure narrow ops (split → sequence → explode → slice): no
# shuffle at all, so at 100 TB this is an embarrassingly parallel map
# whose output size is input × (1 + overlap fraction). Chunks are
# identified by (doc_id, chunk_id) and fingerprinted with md5 so the
# oracle pins the exact token content of every window, not just counts.
_CHUNK_W, _CHUNK_S = 64, 48

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, n, toks,
         unnest(generate_series(0,
           CAST(CASE WHEN n <= {_CHUNK_W} THEN 0
                ELSE CEIL((n - {_CHUNK_W}) / {_CHUNK_S}.0) END AS INT)))
           AS chunk_id
  FROM t
)
SELECT doc_id,
       CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(list_slice(toks, chunk_id * {_CHUNK_S} + 1,
                           chunk_id * {_CHUNK_S} + {_CHUNK_W})) AS INT)
         AS chunk_len,
       md5(array_to_string(list_slice(toks, chunk_id * {_CHUNK_S} + 1,
                                      chunk_id * {_CHUNK_S} + {_CHUNK_W}), ' '))
         AS chunk_sig
FROM c
ORDER BY doc_id, chunk_id
"""


@query("text_chunk_overlap", oracle=_CHUNK_ORACLE)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Chunking is narrow (split, sequence, explode, slice): an exchange here
    # would repartition the whole token stream for a map-only transform.
    docs = load_table(spark, sf_dir, "documents")
    w, s = _CHUNK_W, _CHUNK_S
    toks = F.split("text", " ")
    n = F.size(toks)
    last_chunk = F.when(n <= w, F.lit(0)).otherwise(
        F.ceil((n - w) / F.lit(float(s))).cast("int")
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_id") * s + 1, F.lit(w)
    )
    return (
        docs.select(
            "doc_id",
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(0), last_chunk)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.size(chunk).cast("int").alias("chunk_len"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_sig"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# --------------------------------------------------------------------------
# Temperature-based language rebalancing (the XLM-R / mC4 recipe): sample
# language l with probability ∝ p_l^alpha (alpha=0.5), which downsamples
# head languages and keeps the tail. Realized as a per-language keep RATE
# r_l = (p_l^alpha / max_l p_l^alpha) = sqrt(n_min/n_l) — the smallest
# language keeps everything — applied via the same deterministic md5
# bucket as text_sample_deterministic, so membership is bit-stable across
# engines and re-runs. The threshold is floor()'d to an integer out of
# 10000 (floor, not round: no .5-tie ambiguity between engines) and every
# FP step (divide, sqrt, multiply) is IEEE correctly-rounded, so both
# engines compute the identical threshold. At 100 TB the language census
# is a tiny agg, thresholds broadcast, and the filter is a narrow map.
_TEMP_ORACLE = """
WITH census AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
),
thr AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt((SELECT min(n_docs) FROM census) * 1.0 / n_docs)
                    * 10000) AS BIGINT) AS threshold
  FROM census
),
kept AS (
  SELECT d.lang,
         CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::INT
                   % 10000 < t.threshold
              THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN thr t ON t.lang = d.lang
)
SELECT t.lang,
       CAST(t.n_docs AS BIGINT)   AS n_docs,
       t.threshold                AS threshold,
       CAST(sum(k.keep) AS BIGINT) AS n_kept
FROM thr t JOIN kept k ON k.lang = t.lang
GROUP BY t.lang, t.n_docs, t.threshold
ORDER BY t.lang
"""


@query("text_temperature_resample", oracle=_TEMP_ORACLE)
def text_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # persist the |langs|-row census and threshold tables: census feeds
    # the min and the thresholds, thr feeds the keep-count join AND the
    # final report — uncached, each consumer re-ran the corpus census
    # (5 scans in the executed plan; 2 after — r12, guide §5)
    census = seam(docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")))
    n_min = census.agg(F.min("n_docs").alias("n_min"))
    thr = seam(
        census.crossJoin(F.broadcast(n_min))
        .select(
            "lang",
            "n_docs",
            F.floor(
                F.sqrt(F.col("n_min") * 1.0 / F.col("n_docs")) * 10000
            ).cast("bigint").alias("threshold"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 10000
    )
    kept = (
        docs.select("lang", bucket.alias("bucket"))
        .join(F.broadcast(thr), "lang")
        .groupBy("lang")
        .agg(F.sum((F.col("bucket") < F.col("threshold")).cast("bigint")).alias("n_kept"))
    )
    return (
        thr.join(kept, "lang")
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "threshold",
            "n_kept",
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Count-Min-sketch heavy hitters: the sublinear-memory counterpart to
# text_heavy_hitters' exact two-phase recount. The sketch is built
# DISTRIBUTED (Spark's CountMinSketchAgg: per-partition sketches merged by
# cell-wise addition — order-independent, so the seeded result is
# deterministic), then the exact top-10 tokens are probed against it.
# CMS guarantees est >= true, and est <= true + eps*N with prob 1-delta
# per probe; with seed fixed the outcome is a pure function of the data,
# and the generous eps makes the bound hold at every tested sf. The
# oracle recomputes the exact top-10 and pins within_bounds=TRUE, so a
# broken sketch (wrong merge, wrong seed plumbing) fails the hash.
# At 100 TB: the sketch is O(1) memory per executor vs the exact path's
# shuffle of the full token census — this is the operator you run FIRST
# to size the candidate set.
@query(
    "text_countmin_hitters",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
c AS (SELECT tok, count(*) AS exact_count FROM toks GROUP BY tok)
SELECT tok, CAST(exact_count AS BIGINT) AS exact_count, TRUE AS within_bounds
FROM c
ORDER BY exact_count DESC, tok
LIMIT 10
""",
)
def text_countmin_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
    top = exact.orderBy(F.desc("exact_count"), F.asc("tok")).limit(10).collect()
    schema = "tok string, exact_count bigint, within_bounds boolean"
    if not top:  # empty corpus: no candidates, no sketch to probe
        return spark.createDataFrame([], schema)

    eps, confidence, seed = 0.005, 0.99, 42
    agg = toks.agg(
        F.count_min_sketch("tok", F.lit(eps), F.lit(confidence), F.lit(seed)).alias("sk"),
        F.count(F.lit(1)).alias("n_total"),
    ).collect()[0]
    # deserialize the merged sketch via the JVM sketch library and probe the
    # bounded candidate set driver-side (10 lookups — not a distributed step)
    jvm = spark._jvm
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(agg["sk"]))
    )
    slack = int(math.ceil(eps * agg["n_total"]))
    rows = []
    for r in top:
        est = sketch.estimateCount(r["tok"])
        rows.append(
            (
                r["tok"],
                int(r["exact_count"]),
                bool(r["exact_count"] <= est <= r["exact_count"] + slack),
            )
        )
    return spark.createDataFrame(rows, schema).orderBy(
        F.desc("exact_count"), F.asc("tok")
    )


# --------------------------------------------------------------------------
# Corpus snapshot diff — the dataset-versioning primitive (what changed
# between corpus v1 and v2: added / removed / changed / unchanged), the
# audit companion to pipeline_merge_upsert's apply path. Both snapshots
# derive deterministically from the fixture (v2 rewrites every 7th doc,
# drops every 13th, adds a shifted-id batch), the diff is ONE full outer
# join on doc_id comparing content hashes — never the texts themselves:
# at 100 TB the join carries (id, 16-byte digest) pairs, and bucketing
# both snapshots by doc_id removes even that shuffle. Output is the
# per-source change matrix a dataset card / release note is built from.
_CORPUS_DIFF_ORACLE = """
WITH v1 AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
),
v2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0 THEN md5(text || ' [rev2]')
              ELSE md5(text) END AS h
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, source, md5(text || ' [new]') AS h
  FROM documents WHERE doc_id % 11 = 0
),
diff AS (
  SELECT coalesce(v2.source, v1.source) AS source,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.h <> v2.h       THEN 'changed'
              ELSE 'unchanged' END AS change
  FROM v1 FULL OUTER JOIN v2 USING (doc_id)
)
SELECT source, change, CAST(count(*) AS BIGINT) AS n
FROM diff
GROUP BY source, change
ORDER BY source, change
"""


@query("pipeline_corpus_diff", oracle=_CORPUS_DIFF_ORACLE)
def pipeline_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", "source", F.md5("text").alias("h"))
    v2 = (
        docs.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            "source",
            F.when(
                F.col("doc_id") % 7 == 0, F.md5(F.concat(F.col("text"), F.lit(" [rev2]")))
            )
            .otherwise(F.md5("text"))
            .alias("h"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                "source",
                F.md5(F.concat(F.col("text"), F.lit(" [new]"))).alias("h"),
            )
        )
    )
    a = v1.select(
        F.col("doc_id"), F.col("source").alias("s1"), F.col("h").alias("h1")
    )
    b = v2.select(
        F.col("doc_id"), F.col("source").alias("s2"), F.col("h").alias("h2")
    )
    diff = a.join(b, "doc_id", "full_outer").select(
        F.coalesce("s2", "s1").alias("source"),
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )
    return (
        diff.groupBy("source", "change")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("source", "change")
    )


# --------------------------------------------------------------------------
# Incremental corpus MERGE (upsert): apply an update batch to an existing
# corpus — matched doc_ids take the new revision, unmatched batch rows
# insert, untouched corpus rows carry over — then land the merged corpus
# through a physical parquet table and aggregate from the READ-BACK data,
# so the driver hash covers the sink round trip (same discipline as
# ddl_ctas_roundtrip). The vendored reference has INSERT [OVERWRITE] only
# (no MERGE/UPSERT in its grammar — fe/src/main/cup/sql-parser.cup); this
# is the beyond-ref DML a continuously-refreshed training corpus needs.
# Scale shape: the anti join is one hash shuffle on doc_id (or a no-shuffle
# bucket join when both sides are bucketed by doc_id); the rewrite is
# bounded by dynamic partition overwrite when the corpus is partitioned —
# only touched partitions rewrite, not 100 TB.
_MERGE_ORACLE = """
WITH base AS (
  SELECT doc_id, source, text, 1 AS version FROM documents WHERE doc_id % 10 < 8
),
upd AS (
  SELECT doc_id, source, upper(text) AS text, 2 AS version
  FROM documents WHERE doc_id % 10 >= 6
),
merged AS (
  SELECT * FROM upd
  UNION ALL
  SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM upd)
)
SELECT source,
       CAST(count(*) AS BIGINT)                                  AS n_docs,
       CAST(sum(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT)
                                                                 AS n_from_batch,
       CAST(sum(CASE WHEN version = 2 AND doc_id % 10 >= 8
                     THEN 1 ELSE 0 END) AS BIGINT)               AS n_inserted,
       CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
                                                                 AS text_checksum
FROM merged
GROUP BY source
ORDER BY source
"""


@query("pipeline_merge_upsert", oracle=_MERGE_ORACLE)
def pipeline_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 < 8).select(
        "doc_id", "source", "text", F.lit(1).alias("version")
    )
    upd = docs.filter(F.col("doc_id") % 10 >= 6).select(
        "doc_id", "source", F.upper("text").alias("text"), F.lit(2).alias("version")
    )
    merged = base.join(upd, "doc_id", "left_anti").unionByName(upd)

    tbl = f"mis_merge_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{warehouse.removeprefix('file:')}/{tbl}", ignore_errors=True)
    merged.write.format("parquet").saveAsTable(tbl)

    landed = spark.table(tbl)
    checksum = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    return (
        landed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("version") == 2).cast("bigint")).alias("n_from_batch"),
            F.sum(
                ((F.col("version") == 2) & (F.col("doc_id") % 10 >= 8)).cast("bigint")
            ).alias("n_inserted"),
            F.sum(checksum).alias("text_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Data-quality constraint audit (Deequ-style): the pipeline stage that
# gates a corpus/fact refresh before it ships — uniqueness, referential
# integrity, ranges, null contracts — expressed as ONE pass of scalar
# aggregates per table plus one anti-join for the FK check. All-integer
# output (violation counts), so the oracle is exact. At 100 TB each check
# is a map-side-combined aggregate over its own scan (no wide row
# explosion), and the FK anti join shuffles on the key like any join —
# checks over the same table share a scan via the single plan.
_DQ_ORACLE = """
SELECT 'orders' AS tbl, 'unique_orderkey' AS chk,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations,
       CAST(count(*) AS BIGINT) AS total
FROM orders
UNION ALL
SELECT 'orders', 'totalprice_positive',
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders', 'orderdate_not_null',
       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem', 'quantity_in_1_50',
       CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem', 'fk_orderkey_exists',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)),
       CAST(count(*) AS BIGINT)
FROM lineitem
ORDER BY tbl, chk
"""


@query("pipeline_data_quality", oracle=_DQ_ORACLE)
def pipeline_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def row(tbl, chk, violations, total):
        return (
            F.lit(tbl).alias("tbl"),
            F.lit(chk).alias("chk"),
            violations.cast("bigint").alias("violations"),
            total.cast("bigint").alias("total"),
        )

    # persist both one-row check frames: the orders aggregate feeds
    # three report rows and the lineitem one two — uncached, every
    # report row re-ran its full table aggregation (r12, guide §5)
    o_checks = seam(orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("nd"),
        F.sum((F.col("o_totalprice") <= 0).cast("bigint")).alias("bad_price"),
        F.sum(F.col("o_orderdate").isNull().cast("bigint")).alias("null_date"),
    ))
    li_checks = seam(li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("bigint")
        ).alias("bad_qty"),
    ))
    orphans = li.join(
        orders.select("o_orderkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("orphans"))

    r1 = o_checks.select(*row("orders", "unique_orderkey", F.col("n") - F.col("nd"), F.col("n")))
    r2 = o_checks.select(*row("orders", "totalprice_positive", F.col("bad_price"), F.col("n")))
    r3 = o_checks.select(*row("orders", "orderdate_not_null", F.col("null_date"), F.col("n")))
    r4 = li_checks.select(*row("lineitem", "quantity_in_1_50", F.col("bad_qty"), F.col("n")))
    r5 = (
        li_checks.crossJoin(F.broadcast(orphans))
        .select(*row("lineitem", "fk_orderkey_exists", F.col("orphans"), F.col("n")))
    )
    return r1.unionByName(r2).unionByName(r3).unionByName(r4).unionByName(r5).orderBy(
        "tbl", "chk"
    )


# --------------------------------------------------------------------------
# Token-budget mixing (the Dolma/Pile recipe): each source contributes
# documents — in a DETERMINISTIC pseudo-random order (md5 of doc_id), so
# the mix is reproducible and refreshing the corpus extends rather than
# reshuffles it — until its token budget is exhausted; the doc that
# crosses the budget line is the last one in. All-integer arithmetic
# (token counts and running sums), so the oracle is exact. Scale: the
# running sum is a window PARTITIONED by source — an ordinary hash
# shuffle, no global scan (contrast events_concurrency_curve, which
# needs the two-phase prefix machinery precisely because its sweep is
# global).
_BUDGET_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS ord_key
  FROM documents
),
run AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY ord_key, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT source,
       CAST(count(*) AS BIGINT)                       AS n_docs,
       CAST(sum(CASE WHEN cum - n_tokens < 2000 THEN 1 ELSE 0 END) AS BIGINT)
                                                      AS n_kept,
       CAST(sum(CASE WHEN cum - n_tokens < 2000 THEN n_tokens ELSE 0 END)
            AS BIGINT)                                AS kept_tokens
FROM run
GROUP BY source
ORDER BY source
"""


@query("text_token_budget_mix", oracle=_BUDGET_ORACLE)
def text_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    BUDGET = 2000
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("ord_key", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = toks.withColumn("cum", F.sum("n_tokens").over(w))
    kept = F.col("cum") - F.col("n_tokens") < BUDGET
    return (
        run.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("kept_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Dataset card: the one-query corpus report a data team publishes with a
# training set — volume, vocabulary, composition, duplication, and
# quality-gate rates, each already defined by an operator above and
# recomputed here in ONE pass per source table. All counts are exact
# integers (rates reported as per-10000 integers to stay shim-free).
# Scale: three independent aggregation trees (docs, tokens, dup groups)
# over the same scan — Catalyst shares the scan; every agg is
# map-side-combined; nothing is driver-side.
_CARD_ORACLE = """
WITH base AS (
  SELECT doc_id, text, lang, source,
         len(string_split(text, ' ')) AS n_tokens,
         length(text) AS n_chars,
         md5(text) AS h,
         (length(text) >= 100 AND len(string_split(text, ' ')) >= 20)
           AS passes_gate
  FROM documents
),
dups AS (
  SELECT CAST(sum(c - 1) AS BIGINT) AS n_dup_docs
  FROM (SELECT h, count(*) AS c FROM base GROUP BY h) t
)
SELECT CAST(count(*) AS BIGINT)                          AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)                     AS total_tokens,
       CAST(sum(n_chars) AS BIGINT)                      AS total_chars,
       CAST(count(DISTINCT lang) AS BIGINT)              AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT)            AS n_sources,
       (SELECT n_dup_docs FROM dups)                     AS n_exact_dups,
       CAST(floor(sum(CASE WHEN passes_gate THEN 1 ELSE 0 END) * 10000.0
            / count(*)) AS BIGINT)                       AS gate_pass_per_10k,
       CAST(min(n_tokens) AS BIGINT)                     AS min_tokens,
       CAST(max(n_tokens) AS BIGINT)                     AS max_tokens
FROM base
"""


@query("pipeline_dataset_card", oracle=_CARD_ORACLE)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.md5("text").alias("h"),
        ((F.length("text") >= 100) & (F.size(toks) >= 20)).alias("passes_gate"),
    )
    dups = (
        base.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") - 1).cast("bigint").alias("n_exact_dups"))
    )
    card = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        # floor() explicitly on both sides: DuckDB's CAST(double AS BIGINT)
        # rounds while Spark's truncates — the r4 parity held only because
        # fixture counts divide 10000 exactly (ADVICE r4).
        F.floor(
            F.sum(F.col("passes_gate").cast("bigint")) * 10000.0 / F.count(F.lit(1))
        ).cast("bigint").alias("gate_pass_per_10k"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )
    return card.crossJoin(F.broadcast(dups)).select(
        "n_docs", "total_tokens", "total_chars", "n_langs", "n_sources",
        "n_exact_dups", "gate_pass_per_10k", "min_tokens", "max_tokens",
    )


# --------------------------------------------------------------------------
# Incremental statistics maintenance: the additive counterpart to
# pipeline_merge_upsert — a standing per-source aggregate (docs, tokens,
# quality passes) is refreshed by MERGING the delta batch's partial
# aggregate into the landed state (union → re-sum), never rescanning the
# base corpus. Works because count/sum are associative partial-aggregate
# states — the same property Spark exploits for map-side combine, here
# applied ACROSS refresh cycles through a physical parquet round trip.
# The oracle recomputes from scratch; equality proves the merge path.
# At 100 TB: the refresh cost is O(delta) + O(|groups|), not O(corpus).
_INCR_STATS_ORACLE = """
SELECT source,
       CAST(count(*) AS BIGINT)                                 AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT)        AS total_tokens,
       CAST(sum(CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END) AS BIGINT)
                                                                AS n_quality
FROM documents
GROUP BY source
ORDER BY source
"""


@query("pipeline_incremental_stats", oracle=_INCR_STATS_ORACLE)
def pipeline_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    docs = load_table(spark, sf_dir, "documents")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " ")).cast("bigint")).alias("total_tokens"),
            F.sum((F.length("text") >= 100).cast("bigint")).alias("n_quality"),
        )

    base = docs.filter(F.col("doc_id") % 4 != 0)   # standing corpus
    delta = docs.filter(F.col("doc_id") % 4 == 0)  # this refresh's batch

    scratch = scratch_dir("incrstats")
    state = os.path.join(scratch, "state")
    try:
        partial(base).write.parquet(state)  # the landed standing state
        merged = (
            spark.read.parquet(state)
            .unionByName(partial(delta))
            .groupBy("source")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("total_tokens").alias("total_tokens"),
                F.sum("n_quality").alias("n_quality"),
            )
        )
        staging = f"{state}.next"
        merged.write.mode("overwrite").parquet(staging)
        shutil.rmtree(state)
        os.rename(staging, state)
        # materialized now, so the scratch directory can go before returning
        return seam(spark.read.parquet(state).orderBy("source"), now=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ------------------------------------------------- quality classifier --
# Model-based quality filtering (the DCLM / FineWeb-Edu recipe: a small
# trained classifier scores every document and a threshold gates the
# corpus). The production model is a fasttext/linear head shipped to the
# executors as a constant — which is exactly what this pins: a
# fixed-weight logistic model over the text_quality feature vector,
# evaluated as built-in Column arithmetic (no UDF, whole-stage codegen).
# Both engines build identical IEEE-double feature ratios from integer
# counts and evaluate the same left-associated polynomial, so z is
# bit-identical; exp() may differ in the last ulp between libm
# implementations, so the sigmoid is rounded at 6 decimals (repo
# convention) before output and thresholding.
#
# Scale: narrow map over the documents scan — no shuffle, no UDF; the
# "model" is 5 doubles in the plan. Swapping in a real trained head
# changes the constants, not the plan shape.
_QC_BIAS, _QC_W_NT, _QC_W_ATL, _QC_W_SR, _QC_W_PPT = -1.0, 0.02, -0.2, 8.0, -2.0

# The classifier's features of `text` and its logit z = w·x + b over
# them, as _quality_logit computes it.
_QC_FEATURES_SQL = f"""
         len(string_split(text, ' ')) AS nt,
         length(replace(text, ' ', '')) * 1.0
           / len(string_split(text, ' ')) AS atl,
         len(list_intersect(string_split(text, ' '),
             ['the','and','of','to','a','in'])) * 1.0
           / len(list_distinct(string_split(text, ' '))) AS sr,
         len(regexp_extract_all(text, '{_PUNCT_RE}')) * 1.0
           / len(string_split(text, ' ')) AS ppt"""
_QC_Z_SQL = (
    f"{_QC_BIAS} + {_QC_W_NT} * nt + {_QC_W_ATL} * atl"
    f" + {_QC_W_SR} * sr + {_QC_W_PPT} * ppt"
)

_QCLS_ORACLE = f"""
WITH f AS (
  SELECT doc_id,{_QC_FEATURES_SQL}
  FROM documents
),
z AS (
  SELECT doc_id, {_QC_Z_SQL} AS z
  FROM f
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-z)), 6) AS score,
       round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS passes
FROM z
ORDER BY doc_id
"""


def _quality_logit() -> Column:
    """z = w·x + b of the fixed-weight logistic quality classifier over
    (n_tokens, avg token length, stopword ratio, punctuation per token)
    of `text`."""
    toks = F.split("text", " ")
    nt = F.size(toks)
    atl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) * 1.0 / nt
    stop = F.array([F.lit(w) for w in _LANG_STOPWORDS["en"]])
    sr = F.size(F.array_intersect(toks, stop)) * 1.0 / F.size(F.array_distinct(toks))
    ppt = F.regexp_count("text", F.lit(_PUNCT_RE)) * 1.0 / nt
    return (
        F.lit(_QC_BIAS)
        + F.lit(_QC_W_NT) * nt
        + F.lit(_QC_W_ATL) * atl
        + F.lit(_QC_W_SR) * sr
        + F.lit(_QC_W_PPT) * ppt
    )


@query("text_quality_classifier", oracle=_QCLS_ORACLE)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight logistic quality classifier (model-based corpus
    filtering): score = sigmoid(w·x + b) over (n_tokens, avg token
    length, stopword ratio, punctuation per token), thresholded at 0.5.
    Output: (doc_id, score, passes) for every document."""
    # The model is constants in codegen'd Column arithmetic: no Python UDF,
    # join or aggregate, just a narrow map over the scan.
    docs = load_table(spark, sf_dir, "documents")
    score = F.round(1.0 / (1.0 + F.exp(-_quality_logit())), 6)
    return docs.select(
        "doc_id",
        score.alias("score"),
        (score >= 0.5).alias("passes"),
    ).orderBy("doc_id")


# ------------------------------------------------------ CCNet buckets --
# CCNet-style perplexity bucketing (Wenzek et al. 2019, arXiv:1911.00359):
# rank the corpus by LM score and split into head/middle/tail thirds —
# downstream pipelines train on head+middle or reweight by bucket. The
# LM is text_lm_score's unigram model (round-4 avg NLL, driver-green);
# the global rank is computed with the two-phase distributed prefix scan
# (operators/prefix.py), NOT a partition-less window — no single-task
# sort at 100 TB. The ordering key packs (avg_nll, doc_id) into one
# BIGINT (avg_nll is round-4 so avg_nll*10000 is integer-valued;
# doc_id < 10^10 fills the low digits), giving the unique total order
# the scan requires and DuckDB's row_number replays exactly.
_CCNET_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT sum(c) AS n FROM vocab),
scored AS (
  SELECT t.doc_id, round(sum(-ln(v.c * 1.0 / tot.n)) / count(*), 4) AS avg_nll
  FROM toks t JOIN vocab v ON v.tok = t.tok, tot
  GROUP BY t.doc_id
),
ranked AS (
  SELECT doc_id, avg_nll,
         row_number() OVER (ORDER BY avg_nll, doc_id) AS rnk,
         count(*) OVER () AS n
  FROM scored
)
SELECT doc_id, avg_nll,
       CASE WHEN rnk <= CAST(ceil(n / 3.0) AS BIGINT) THEN 'head'
            WHEN rnk <= CAST(ceil(2 * n / 3.0) AS BIGINT) THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
ORDER BY doc_id
"""


@query("text_ccnet_buckets", oracle=_CCNET_ORACLE)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity buckets: unigram-LM avg NLL per
    doc (lowest = most fluent = head), global rank via the distributed
    prefix scan, thirds split at ceil(n/3) / ceil(2n/3). Output:
    (doc_id, avg_nll, bucket)."""
    from minimised_impala_spark.operators.prefix import distributed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # persist the vocab census (feeds the total and the scoring
    # broadcast) and the per-doc scores (feed the prefix-scan rank and
    # the doc count) — uncached, 6 corpus scans; 2 after (r12, guide §5)
    vocab = seam(toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    total = vocab.agg(F.sum("c").alias("n"))
    scored = seam(
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(-F.log(F.col("c") * 1.0 / F.col("n"))) / F.count(F.lit(1)), 4
            ).alias("avg_nll")
        )
    )
    # rank by the (avg_nll, doc_id) TUPLE — avg_nll is already rounded
    # to 4 decimals so both engines order identical values; no packed
    # scalar key (the banned fixed-width class — the old
    # round(nll*1e4)*1e10+doc_id form collided once doc_id reached 1e10)
    ranked = distributed_cumsum(scored, ["avg_nll", "doc_id"], F.lit(1), "rnk")
    n_docs = scored.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "avg_nll",
            F.when(
                F.col("rnk") <= F.ceil(F.col("n") / 3.0).cast("bigint"), "head"
            )
            .when(
                F.col("rnk") <= F.ceil(2 * F.col("n") / 3.0).cast("bigint"),
                "middle",
            )
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Importance-weighted sample WITHOUT replacement — the Efraimidis-Spirakis
# A-ES scheme ("Weighted random sampling with a reservoir", IPL 2006):
# draw u_i ~ U(0,1) per item, rank by u_i^(1/w_i), keep the top k. We
# rank by the monotone-equivalent ln(u_i)/w_i (avoids pow, one fewer
# libm call to agree on) and derive u_i deterministically from
# md5(doc_id), so the sample is reproducible, shard-stable, and exactly
# reproducible by the oracle. Weight = chars+1 (longer docs
# proportionally likelier — the "token-budget-aware" sampling a training
# mix uses).
#
# Scale: a narrow stateless map computes the key, then ORDER BY+LIMIT is
# Spark's TakeOrderedAndProject — per-partition top-k heaps + a k-row
# driver merge, no global sort shuffle. Only integers are emitted (rank,
# doc_id, weight): float keys stay internal, so last-ulp ln() differences
# between engines cannot touch the hash unless they actually flip the
# k-boundary (distinct md5-derived keys make that probability ~2^-30).
_WSAMPLE_ORACLE = """
WITH keyed AS (
  SELECT doc_id,
         CAST(length(text) + 1 AS BIGINT) AS weight,
         ln((('0x' || substr(md5(doc_id::VARCHAR || ':ws'), 1, 8))::BIGINT + 1)
            / 4294967297.0)
           / CAST(length(text) + 1 AS DOUBLE) AS k
  FROM documents
)
SELECT CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS BIGINT) AS rnk,
       doc_id, weight
FROM keyed
ORDER BY k DESC, doc_id
LIMIT 25
"""


@query("text_weighted_sample", oracle=_WSAMPLE_ORACLE)
def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 Efraimidis-Spirakis weighted sample of documents, weight =
    chars+1; output (rnk, doc_id, weight) — deterministic via md5-derived
    uniforms."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ws"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    ) / F.lit(4294967297.0)
    wt = (F.length("text") + 1).cast("bigint")
    keyed = docs.select(
        "doc_id",
        wt.alias("weight"),
        (F.log(u) / wt.cast("double")).alias("k"),
    )
    top = keyed.orderBy(F.desc("k"), "doc_id").limit(25)
    return top.select(
        F.row_number()
        .over(W.orderBy(F.desc("k"), F.asc("doc_id")))
        .cast("bigint")
        .alias("rnk"),
        "doc_id",
        "weight",
    )


# --------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every document by
# how much more likely its tokens are under a TARGET domain's unigram
# distribution than under the full corpus's — score(d) = Σ_occurrences
# ln( p_target(t) / p_corpus(t) ), Laplace-smoothed. The target here is
# the source='src0' slice (stand-in for "high-quality domain sample");
# the downstream resample step is the same machinery as
# text_temperature_resample, so this query emits the scores.
#
# Scale: one token explode (linear), two count aggregations (token key),
# one token-keyed join of the per-token log-ratio onto occurrences (AQE
# broadcasts the vocab side when it fits — it is |vocab| rows, not
# |corpus|), one doc_id-keyed sum. Scalars (totals, vocab size) ride as
# one-row crossJoins, never driver collects. Output is scaled-BIGINT
# (floor(x*1e4+0.5)) so cross-engine libm last-ulp noise (~1e-13 after
# ~150-term sums) stays 5 orders of magnitude below the hash granularity.
_DSIR_ORACLE = """
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
  FROM documents
),
cc AS (SELECT t, count(*) AS c_corpus FROM tok GROUP BY t),
tc AS (SELECT t, count(*) AS c_target FROM tok WHERE source = 'src0' GROUP BY t),
tot AS (
  SELECT (SELECT count(*) FROM tok) AS n_corpus,
         (SELECT count(*) FROM tok WHERE source = 'src0') AS n_target,
         (SELECT count(*) FROM cc) AS vocab
),
lr AS (
  SELECT cc.t,
         ln( ((coalesce(tc.c_target, 0) + 1.0) / (tot.n_target + tot.vocab))
           / ((cc.c_corpus + 1.0) / (tot.n_corpus + tot.vocab)) ) AS lr
  FROM cc LEFT JOIN tc ON cc.t = tc.t CROSS JOIN tot
)
SELECT tok.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(floor(sum(lr.lr) * 10000 + 0.5) AS BIGINT) AS score_e4
FROM tok JOIN lr ON tok.t = lr.t
GROUP BY tok.doc_id
ORDER BY tok.doc_id
"""


@query("text_dsir_importance", oracle=_DSIR_ORACLE)
def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance score vs the source='src0' target
    domain: (doc_id, n_tokens, score_e4) with score = Σ ln(p_tgt/p_corpus)
    over token occurrences, Laplace-smoothed."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("t")
    )
    # ONE grouped census pass (r12, guide §2.4): corpus and target
    # counts come out of the same vocab-keyed aggregate (count_if on the
    # source instead of a second filtered grouping — a target count of 0
    # is exactly what the old left join's coalesce produced), and ALL
    # three totals (token counts + vocab size) derive from the persisted
    # vocab-sized census instead of three more corpus passes. 6 corpus
    # scans / 2 census exchanges → 2 scans / 1.
    cc = seam(
        tok.groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("c_corpus"),
            F.count_if(F.col("source") == "src0").alias("c_target"),
        )
    )
    tots = cc.agg(
        F.sum("c_corpus").alias("n_corpus"),
        F.sum("c_target").alias("n_target"),
        F.count(F.lit(1)).alias("vocab"),
    )
    lr = (
        cc.crossJoin(F.broadcast(tots))
        .select(
            "t",
            F.log(
                (
                    (F.col("c_target") + 1.0)
                    / (F.col("n_target") + F.col("vocab"))
                )
                / ((F.col("c_corpus") + 1.0) / (F.col("n_corpus") + F.col("vocab")))
            ).alias("lr"),
        )
    )
    return (
        tok.join(lr, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.floor(F.sum("lr") * 10000 + 0.5).cast("bigint").alias("score_e4"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021 §A1.1): the standard rule-based
# document filter every pre-training pipeline runs before model-based
# scoring. Implemented as pure column expressions (one narrow map, no
# Python) with per-source failure tallies so the filter's bite is
# auditable per corpus slice — the operational report a data team reads
# before committing a 100 TB filter pass. Thresholds are the Gopher
# paper's, tightened to the fixture's word-count range so the rules
# discriminate (the semantics under test are the rule shapes, not the
# constants). mean word length = non-space chars / token count — exact
# and engine-identical (same trick as text_quality's avg_token_len).
#
# Scale: per-row boolean circuit + one hash aggregation on source; no
# joins, no window, no shuffle beyond the final groupBy.
_GOPHER_ORACLE = """
WITH scored AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_words,
         length(replace(text, ' ', '')) * 1.0
           / len(string_split(text, ' ')) AS mean_wl,
         len(list_filter(string_split(text, ' '),
             w -> regexp_matches(w, '[a-z]'))) * 1.0
           / len(string_split(text, ' ')) AS alpha_ratio,
         (CASE WHEN list_contains(string_split(text, ' '), 'the') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(string_split(text, ' '), 'and') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(string_split(text, ' '), 'of')  THEN 1 ELSE 0 END
        + CASE WHEN list_contains(string_split(text, ' '), 'to')  THEN 1 ELSE 0 END
        + CASE WHEN list_contains(string_split(text, ' '), 'a')   THEN 1 ELSE 0 END
        + CASE WHEN list_contains(string_split(text, ' '), 'in')  THEN 1 ELSE 0 END)
           AS n_stop,
         len(list_filter(string_split(text, chr(10)),
             l -> l LIKE '-%' OR l LIKE '*%')) * 1.0
           / len(string_split(text, chr(10))) AS bullet_ratio,
         len(list_filter(string_split(text, chr(10)),
             l -> l LIKE '%...')) * 1.0
           / len(string_split(text, chr(10))) AS ellipsis_ratio
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_words BETWEEN 15 AND 120 THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_nwords,
       CAST(sum(CASE WHEN mean_wl >= 3 AND mean_wl <= 10 THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_wordlen,
       CAST(sum(CASE WHEN alpha_ratio >= 0.8 THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_alpha,
       CAST(sum(CASE WHEN n_stop >= 2 THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_stopword,
       CAST(sum(CASE WHEN bullet_ratio <= 0.9 THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_bullet,
       CAST(sum(CASE WHEN ellipsis_ratio <= 0.3 THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_ellipsis,
       CAST(sum(CASE WHEN n_words BETWEEN 15 AND 120
                      AND mean_wl >= 3 AND mean_wl <= 10
                      AND alpha_ratio >= 0.8
                      AND n_stop >= 2
                      AND bullet_ratio <= 0.9
                      AND ellipsis_ratio <= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass
FROM scored
GROUP BY source
ORDER BY source
"""


@query("text_gopher_rules", oracle=_GOPHER_ORACLE)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter: per-source failure tallies for
    word-count / mean-word-length / alpha-ratio / stopword / bullet /
    ellipsis rules plus the all-rules pass count."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    lines = F.split("text", "\n")
    n_words = F.size(toks)
    mean_wl = F.length(F.replace("text", F.lit(" "), F.lit(""))) * 1.0 / n_words
    alpha_ratio = (
        F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))) * 1.0 / n_words
    )
    n_stop = sum(
        F.when(F.array_contains(toks, w), 1).otherwise(0)
        for w in ["the", "and", "of", "to", "a", "in"]
    )
    bullet_ratio = (
        F.size(
            F.filter(lines, lambda l: l.startswith("-") | l.startswith("*"))
        )
        * 1.0
        / F.size(lines)
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda l: l.endswith("..."))) * 1.0 / F.size(lines)
    )
    r_nwords = n_words.between(15, 120)
    r_wordlen = (mean_wl >= 3) & (mean_wl <= 10)
    r_alpha = alpha_ratio >= 0.8
    r_stop = n_stop >= 2
    r_bullet = bullet_ratio <= 0.9
    r_ellipsis = ellipsis_ratio <= 0.3

    def fails(rule) -> Column:
        return F.sum(F.when(rule, 0).otherwise(1)).cast("bigint")

    scored = docs.select(
        "source",
        r_nwords.alias("r1"),
        r_wordlen.alias("r2"),
        r_alpha.alias("r3"),
        r_stop.alias("r4"),
        r_bullet.alias("r5"),
        r_ellipsis.alias("r6"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            fails(F.col("r1")).alias("fail_nwords"),
            fails(F.col("r2")).alias("fail_wordlen"),
            fails(F.col("r3")).alias("fail_alpha"),
            fails(F.col("r4")).alias("fail_stopword"),
            fails(F.col("r5")).alias("fail_bullet"),
            fails(F.col("r6")).alias("fail_ellipsis"),
            F.sum(
                F.when(
                    F.col("r1") & F.col("r2") & F.col("r3") & F.col("r4")
                    & F.col("r5") & F.col("r6"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pass"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# BPE merge-round pair counting — the distributed core of byte-pair-
# encoding tokenizer training (Sennrich et al. 2016): count every
# adjacent symbol pair across the corpus and rank candidates for the
# next merge. One round is the primitive; full training iterates
# driver-side, re-tokenizing with the accumulated merge table broadcast
# to executors each round (the merge table is tiny — vocab-sized — so
# the loop is K broadcast-map-aggregate passes, never a driver-side data
# scan). Everything here is JVM-side: split -> explode words ->
# transform(sequence(...)) adjacent 2-grams -> explode -> hash agg ->
# TakeOrderedAndProject. Scale: map-side partial counts collapse the
# pair space (|alphabet|^2-bounded) before the single exchange; top-20
# is a TakeOrdered, not a global sort.
@query(
    "text_bpe_merge",
    oracle="""
WITH words AS (
  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
),
pairs AS (
  SELECT substr(w, i, 2) AS pair
  FROM words, LATERAL unnest(generate_series(1, length(w) - 1)) AS t(i)
  WHERE length(w) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS cnt
FROM pairs
GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 20
""",
)
def text_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


# --------------------------------------------------------------------------
# T5-style span corruption (Raffel et al. 2020 §3.1.4) — carve one
# deterministic span (~15% of tokens) out of each document, emit the
# corrupted input with a sentinel token plus the target span. Span
# placement uses a Knuth multiplicative integer mix of doc_id instead of
# an RNG so the transform is reproducible, restart-safe, and identical
# across engines (production would salt a hash; the mix is the
# deterministic stand-in with the same distributional role). All
# array-slice arithmetic is JVM-side; no shuffle — embarrassingly
# parallel per-row prep, exactly what a 100 TB pretraining-data pass
# needs.
@query(
    "text_span_corruption",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
), s AS (
  SELECT doc_id, toks, n,
         greatest(1, CAST(floor(n / 7.0) AS INT)) AS span_len,
         1 + CAST((doc_id * 2654435761) %
                  greatest(n - greatest(1, CAST(floor(n / 7.0) AS INT)), 1)
                  AS INT) AS span_start
  FROM t
)
SELECT doc_id,
       CAST(n AS INT) AS n_tokens,
       span_start, span_len,
       array_to_string(toks[span_start : span_start + span_len - 1], ' ')
         AS target,
       concat(array_to_string(toks[1 : span_start - 1], ' '),
              ' <extra_id_0> ',
              array_to_string(toks[span_start + span_len : n], ' '))
         AS corrupted
FROM s
ORDER BY doc_id
""",
)
def text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    span_len = F.greatest(F.lit(1), F.floor(n / 7.0).cast("int"))
    span_start = (
        F.lit(1)
        + (F.col("doc_id") * F.lit(2654435761).cast("bigint"))
        % F.greatest(n - span_len, F.lit(1))
    ).cast("int")
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        n.alias("n"),
        span_len.alias("span_len"),
        span_start.alias("span_start"),
    )
    toks_c, st, ln, nn = (
        F.col("toks"), F.col("span_start"), F.col("span_len"), F.col("n")
    )
    return (
        base.select(
            "doc_id",
            nn.cast("int").alias("n_tokens"),
            st.alias("span_start"),
            ln.alias("span_len"),
            F.array_join(F.slice(toks_c, st, ln), " ").alias("target"),
            F.concat(
                F.array_join(F.slice(toks_c, F.lit(1), st - 1), " "),
                F.lit(" <extra_id_0> "),
                F.array_join(
                    F.slice(toks_c, st + ln, F.greatest(nn - st - ln + 1, F.lit(0))),
                    " ",
                ),
            ).alias("corrupted"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# WordPiece-style greedy longest-match encoding (Wu et al. 2016; the
# application half of tokenizer land — text_bpe_merge is the training
# half). The vocab is a fixed broadcastable table; encoding is greedy
# longest-prefix match per position with single-char OOV fallback. The
# Spark plan dictionary-encodes: distinct words are encoded ONCE in an
# Arrow-batched mapInPandas (the loop is per unique word, not per
# occurrence — Zipf makes this orders of magnitude smaller at corpus
# scale), then broadcast-joined back to occurrences and aggregated per
# document. The DuckDB oracle replays the same greedy automaton as a
# recursive CTE over (word, pos) states, so both engines compute the
# identical tokenization. Scale: explode -> distinct (one shuffle,
# vocab-bounded) -> broadcast join -> per-doc hash agg.
_WP_VOCAB = (
    "bat", "ch", "win", "dow", "spark", "str", "eam", "que", "ry", "ta",
    "ble", "jo", "in", "er", "or", "an", "the", "val", "ue", "ust", "om",
)
_WP_VOCAB_SQL = ",".join(f"('{p}')" for p in _WP_VOCAB)


def _wp_encode_batches(batches):
    import pandas as pd

    by_len: dict[int, set] = {}
    for p in _WP_VOCAB:
        by_len.setdefault(len(p), set()).add(p)
    lens = sorted(by_len, reverse=True)
    for pdf in batches:
        out = []
        for w in pdf["w"]:
            pos, ntok, noov, L = 0, 0, 0, len(w)
            while pos < L:
                step = 1
                hit = False
                for ln in lens:
                    if ln <= L - pos and w[pos : pos + ln] in by_len[ln]:
                        step, hit = ln, True
                        break
                ntok += 1
                noov += 0 if hit else 1
                pos += step
            out.append((w, ntok, noov))
        yield pd.DataFrame(out, columns=["w", "ntok", "noov"])


@query(
    "text_wordpiece_encode",
    oracle=f"""
WITH RECURSIVE vocab(piece) AS (
  SELECT * FROM (VALUES {_WP_VOCAB_SQL}) v(piece)
),
occ AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
words AS (SELECT DISTINCT w FROM occ),
step(w, pos, ntok, noov) AS (
  SELECT w, CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  FROM words
  UNION ALL
  SELECT s.w,
         s.pos + coalesce((SELECT max(length(v.piece)) FROM vocab v
                           WHERE substr(s.w, CAST(s.pos AS INT),
                                        length(v.piece)) = v.piece), 1),
         s.ntok + 1,
         s.noov + CASE WHEN (SELECT max(length(v.piece)) FROM vocab v
                             WHERE substr(s.w, CAST(s.pos AS INT),
                                          length(v.piece)) = v.piece)
                       IS NULL THEN 1 ELSE 0 END
  FROM step s WHERE s.pos <= length(s.w)
),
enc AS (SELECT w, ntok, noov FROM step WHERE pos = length(w) + 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(enc.ntok) AS BIGINT) AS n_wp_tokens,
       CAST(sum(enc.noov) AS BIGINT) AS n_oov,
       CAST(floor(sum(length(occ.w)) * 10000.0 / sum(enc.ntok)) AS BIGINT)
         AS chars_per_tok_e4
FROM occ JOIN enc USING (w)
GROUP BY doc_id
ORDER BY doc_id
""",
)
def text_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Encode DISTINCT words in the Arrow UDF and broadcast the small
    # encoding table back: never a shuffle join on the occurrence stream.
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    enc = occ.select("w").distinct().mapInPandas(
        _wp_encode_batches, schema="w string, ntok long, noov long"
    )
    return (
        occ.join(F.broadcast(enc), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("ntok").alias("n_wp_tokens"),
            F.sum("noov").alias("n_oov"),
            F.floor(
                F.sum(F.length("w")) * 10000.0 / F.sum("ntok")
            ).cast("bigint").alias("chars_per_tok_e4"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Curriculum sharding — assign every document to a difficulty decile
# WITHOUT a global window (the naive ntile()-over-everything serializes
# to one task at scale). Instead: one exact-percentile aggregation
# produces the 9 decile boundaries (a single scalar row), which
# broadcast back against the corpus; shard = #boundaries below the
# score. The difficulty proxy is the exact-integer composite
# n_chars·1e6 + doc_id%1e6 (doc_id-tiebroken, corpus-size-independent —
# a fractional doc_id/1e6 epsilon would stop being an epsilon once
# doc_id ≥ 1e6). Integer scores are exactly representable in doubles up
# to 2^53 (n_chars < 9e9), distinct scores differ by ≥ 1 while the
# engines' interpolation noise is ≤ ulp(score) ≈ 1e-4, and a boundary
# landing ON a score is computed identically by both engines (frac = 0
# ⇒ boundary == v_i exactly), so the boundary-compare is engine-stable
# even for the rare doc_id≡(mod 1e6) tie; Spark percentile() and DuckDB
# quantile_cont() interpolate with the same (n-1)·q rule, verified by
# agg_percentile_exact. Scale: aggregate → broadcast → per-row map →
# final per-shard agg; no global sort, no single-task stage.
@query(
    "text_curriculum_shards",
    oracle="""
WITH s AS (
  SELECT doc_id, n_chars,
         n_chars * 1000000.0 + doc_id % 1000000 AS score
  FROM documents
),
b AS (
  SELECT quantile_cont(score,
           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
  FROM s
),
assigned AS (
  SELECT s.doc_id, s.n_chars,
         len(list_filter(b.bs, x -> s.score > x)) AS shard
  FROM s CROSS JOIN b
)
SELECT CAST(shard AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS INT) AS min_chars,
       CAST(max(n_chars) AS INT) AS max_chars
FROM assigned
GROUP BY shard
ORDER BY shard
""",
)
def text_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        "n_chars",
        (F.col("n_chars") * 1000000.0 + F.col("doc_id") % 1000000).alias(
            "score"
        ),
    )
    bounds = s.agg(
        F.expr(
            "percentile(score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("bs")
    )
    assigned = s.crossJoin(F.broadcast(bounds)).select(
        "n_chars",
        F.size(F.filter("bs", lambda x: F.col("score") > x))
        .cast("int")
        .alias("shard"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("int").alias("min_chars"),
            F.max("n_chars").cast("int").alias("max_chars"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# Contamination MATRIX — the release-gate view of text_contamination:
# instead of the raw (train, bench) pair list, roll leakage up to
# (train source × eval suite): which ingestion source leaks into which
# benchmark family, how many train docs and eval items are implicated.
# Suites partition the bench set deterministically ((bench_id/17) % 3 —
# the fixture's bench docs are doc_id % 17 = 0). Same shingle-posting
# join as the pair query (cost ∝ Σ bench-shingle df, never |train|²);
# the rollup is a second small aggregation over the matched pairs only.
_CONTAM_MATRIX_ORACLE = f"""
WITH {_CONTAMINATED_CTE}
SELECT d.source,
       CAST((c.bench_id // 17) % 3 AS INT) AS suite,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT c.train_id) AS BIGINT) AS n_train_docs,
       CAST(count(DISTINCT c.bench_id) AS BIGINT) AS n_eval_items
FROM contaminated c JOIN documents d ON d.doc_id = c.train_id
GROUP BY d.source, suite
ORDER BY d.source, suite
"""


@query("text_contamination_matrix", oracle=_CONTAM_MATRIX_ORACLE)
def text_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    contaminated = _contaminated(*_contamination_shingles(docs)).select(
        "train_id", "bench_id"
    )
    src = docs.select(F.col("doc_id").alias("train_id"), "source")
    return (
        contaminated.join(src, "train_id")
        .withColumn("suite", F.expr("CAST((bench_id div 17) % 3 AS INT)"))
        .groupBy("source", "suite")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("train_id").alias("n_train_docs"),
            F.countDistinct("bench_id").alias("n_eval_items"),
        )
        .orderBy("source", "suite")
    )


# --------------------------------------------------------------------------
# Per-source document capping — the RefinedWeb/Dolma "domain cap"
# dedup-adjacent control: no single source may contribute more than CAP
# documents, and the kept set is the source's BEST docs (longest, here;
# in production a quality score), not a random prefix. The rank <= CAP
# predicate over a per-source window is recognized by Spark as a
# WindowGroupLimit: each map task keeps only its local top-CAP per
# source BEFORE the shuffle, so a hot domain (the case that motivates
# capping!) ships at most CAP rows per input split instead of its whole
# skewed partition — the skew mitigation falls out of the plan shape.
# The report aggregates kept/dropped/char tallies per source.
DOMAIN_CAP = 8


@query(
    "text_domain_cap",
    oracle=f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (WHERE rn <= {DOMAIN_CAP}) AS BIGINT) AS n_kept,
       CAST(count(*) - count(*) FILTER (WHERE rn <= {DOMAIN_CAP}) AS BIGINT)
         AS n_dropped,
       CAST(sum(n_chars) FILTER (WHERE rn <= {DOMAIN_CAP}) AS BIGINT)
         AS chars_kept
FROM ranked
GROUP BY source
ORDER BY source
""",
)
def text_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at its DOMAIN_CAP longest docs; per-source report of
    total/kept/dropped counts and kept chars.

    Shape matters here: a single window over ALL docs (counting kept
    and dropped in one pass) cannot use WindowGroupLimit — every row
    must survive the window, so the full corpus shuffles by source and
    a hot domain ships whole. Instead the kept side filters rank <=
    CAP directly above the window (Spark infers the group limit: each
    map task emits at most CAP rows per source), and the totals side is
    an ordinary partial-aggregated count — two cheap branches instead
    of one skew-prone shuffle."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    kept = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= DOMAIN_CAP)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
        )
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        totals.join(F.broadcast(kept), "source")
        .select(
            "source",
            "n_total",
            "n_kept",
            (F.col("n_total") - F.col("n_kept")).alias("n_dropped"),
            "chars_kept",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Per-document TF-IDF keyword extraction — the corpus-statistics
# primitive behind tagging, topic labeling, and search snippeting (the
# document-side dual of text_bm25_topk's query-side scoring). One
# explode + one (doc, term) count builds the postings; document
# frequencies are a |vocab|-bounded aggregate broadcast back; the
# per-doc top-3 is a rank <= k predicate the planner turns into a
# WindowGroupLimit (map-side partial top-k per doc). Score is the
# plain tf · ln(N/df) form on integer inputs, rounded 6dp before
# ranking (repo convention) so near-tie keyword order is
# engine-stable. At 100 TB: cost ∝ corpus token count for the
# postings, |vocab| for the df join — no quadratic stage, no
# corpus-wide window (the window partitions by doc_id).
TFIDF_TOPK = 3
TFIDF_DOC_LIMIT = 200


@query(
    "text_tfidf_keywords",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
postings AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
stats AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM postings),
df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term
),
scored AS (
  SELECT p.doc_id, p.term,
         round(p.tf * ln(CAST(s.n AS DOUBLE) / f.df), 6) AS tfidf
  FROM postings p
  JOIN df f ON f.term = p.term
  CROSS JOIN stats s
  WHERE p.doc_id < {TFIDF_DOC_LIMIT}
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= {TFIDF_TOPK}
ORDER BY doc_id, rn
""",
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (doc_id < 200)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # doc_id-clustered posting index (r12, guide §2.4/§5, same shape as
    # the BM25 core): repartition the raw docs on doc_id BEFORE the
    # explode (Generate preserves partitioning) and persist — the tf
    # aggregate and the top-k window partitionBy(doc_id) then reuse ONE
    # exchange, and the three consumers (stats, df, scored) read the
    # materialized index instead of re-running the explode+agg lineage.
    postings = seam(
        docs.repartition(F.col("doc_id"))
        .select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    stats = postings.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n")
    )
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    scored = (
        postings.filter(F.col("doc_id") < TFIDF_DOC_LIMIT)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOPK)
        .select("doc_id", "term", "tfidf", F.col("rn").cast("int").alias("rn"))
        .orderBy("doc_id", "rn")
    )


# --------------------------------------------------------------------------
# Per-source n-gram novelty — "how much NEW content does each source
# add", in ingestion order (doc_id): a doc's novelty is the fraction of
# its distinct trigrams whose FIRST corpus occurrence is the doc
# itself. The Dolma-style source-profiling metric that ranks sources
# by marginal contribution (a mirror source scores ~0, a fresh crawl
# ~1) and the dedup-adjacent diagnostic for "which source should we
# ingest next". Shapes: one distinct-shingle explode, one min(doc_id)
# aggregate on the shingle key (the only corpus-sized shuffle), a
# shingle-keyed join back, then doc- and source-keyed aggregates —
# no pairwise stage at all, unlike Jaccard-based source comparison.
_NOVELTY_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS p
  FROM documents
),
shingles AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sh
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.p = a.p + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.p = a.p + 2
),
first_seen AS (SELECT sh, min(doc_id) AS fd FROM shingles GROUP BY sh),
per_doc AS (
  SELECT s.doc_id, count(*) AS n_sh,
         sum(CASE WHEN f.fd = s.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM shingles s JOIN first_seen f ON f.sh = s.sh
  GROUP BY s.doc_id
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_sh) AS BIGINT) AS n_shingles,
       CAST(sum(p.n_novel) AS BIGINT) AS n_novel,
       round(avg(p.n_novel * 1.0 / p.n_sh), 6) AS avg_novelty
FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
GROUP BY d.source
ORDER BY d.source
"""


@query("text_ngram_novelty", oracle=_NOVELTY_ORACLE)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.extensions.dedup import shingles_of

    docs = load_table(spark, sf_dir, "documents")
    # materialize the shingle relation once — first_seen and the join
    # back both consume it (same seam as the BM25 posting index;
    # measured 1.39 s → 1.22 s at sf0.1)
    sh = seam(shingles_of(docs.select("doc_id", "text")))
    first_seen = sh.groupBy("sh").agg(F.min("doc_id").alias("fd"))
    per_doc = (
        sh.join(first_seen, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_sh").cast("bigint").alias("n_shingles"),
            F.sum("n_novel").cast("bigint").alias("n_novel"),
            F.round(F.avg(F.col("n_novel") * 1.0 / F.col("n_sh")), 6).alias(
                "avg_novelty"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Language-ID confusion matrix — the classifier-audit sibling of the
# sketch audits (ANN recall, MinHash accuracy, KMV NDV): the fixture
# carries ground-truth `lang`, so the stopword-overlap heuristic of
# text_langid gets a real evaluation — (true, predicted) counts plus
# per-true-language accuracy. The number you check before trusting a
# cheap language filter to gate a corpus; at 100 TB this is one
# codegen'd CASE per row + a 25-cell aggregate.
_LANGID_CONF_ORACLE = f"""
WITH pred AS (
  SELECT lang AS true_lang,{_LANGID_PRED_SQL} AS pred_lang
  FROM documents
)
SELECT true_lang, pred_lang,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(count(*) * 1000.0
                  / sum(count(*)) OVER (PARTITION BY true_lang))
            AS BIGINT) AS row_share_permille
FROM pred
GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
"""


@query("text_langid_confusion", oracle=_LANGID_CONF_ORACLE)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    conf = (
        docs.select(F.col("lang").alias("true_lang"), _langid_pred().alias("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = W.partitionBy("true_lang")
    return conf.select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(F.col("n") * 1000.0 / F.sum("n").over(w), 0)
        .cast("bigint")
        .alias("row_share_permille"),
    ).orderBy("true_lang", "pred_lang")


# --------------------------------------------------------------------------
# Character-entropy quality filter — the Shannon-entropy boilerplate
# signal (low char-entropy ⇒ repeated/templated/spam text; a standard
# CCNet/Gopher-family gate). The 100 TB shape is the point: per-doc
# entropy is ONE codegen'd higher-order-function expression (sequence →
# substring chars → sorted distinct → counts → fold), zero shuffles and
# zero Python until the final per-source aggregate tree. O(d·n) per row
# with d bounded by the alphabet (~100), i.e. an embarrassingly
# parallel scan. Determinism contract: the fold runs over the SORTED
# distinct-char list in both engines (identical summation order), and
# per-doc entropy is rounded to 6dp before any aggregate, per the
# repo-wide pre-rank/pre-agg rounding convention.
_CHAR_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, source,
         list_transform(range(1, length(text) + 1),
                        i -> substr(text, i, 1)) AS cs,
         length(text) AS n
  FROM documents
  WHERE length(text) > 0
), ent AS (
  SELECT source,
         round(log2(n)
               - list_sum(list_transform(
                   list_sort(list_distinct(cs)),
                   c -> len(list_filter(cs, x -> x = c))
                        * log2(len(list_filter(cs, x -> x = c)))))
                 / n, 6) AS ent
  FROM chars
)
SELECT source,
       CAST(count(*) AS BIGINT)      AS n_docs,
       round(avg(ent), 5)            AS avg_entropy,
       round(min(ent), 6)            AS min_entropy,
       round(max(ent), 6)            AS max_entropy,
       CAST(sum(CASE WHEN ent < 3.0 THEN 1 ELSE 0 END) AS BIGINT)
                                     AS n_low_entropy
FROM ent
GROUP BY source
ORDER BY source
"""


@query("text_char_entropy", oracle=_CHAR_ENTROPY_ORACLE)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-entropy profile with a low-entropy
    (boilerplate) gate count.

    Reference parity: the reference exposes only scalar string/math
    builtins (be/src/exprs/string-functions.cc, math-functions.cc);
    this composes them into the corpus-quality signal its users build
    in SQL. Entropy per doc: H = log2(n) - (Σ c·log2(c))/n over the
    per-character counts c — computed as a single whole-stage-codegen
    HOF expression, no explode, no shuffle, no UDF.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    chars = "transform(sequence(1, length(text)), i -> substring(text, i, 1))"
    ent = (
        docs.withColumn("cs", F.expr(chars))
        .withColumn(
            "ent",
            F.expr(
                """
                round(log2(size(cs))
                      - aggregate(
                          transform(
                            array_sort(array_distinct(cs)),
                            c -> cast(size(filter(cs, x -> x = c)) as double)
                          ),
                          cast(0.0 as double),
                          (acc, c) -> acc + c * log2(c)
                        ) / size(cs), 6)
                """
            ),
        )
        .select("source", "ent")
    )
    return (
        ent.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("ent"), 5).alias("avg_entropy"),
            F.round(F.min("ent"), 6).alias("min_entropy"),
            F.round(F.max("ent"), 6).alias("max_entropy"),
            F.sum(F.when(F.col("ent") < 3.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_low_entropy"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# HTML boilerplate stripping — the first step of every web-crawl
# pipeline (C4 §2.1, CCNet): strip <script>/<style> blocks, then tags,
# decode entities (AFTER tag removal — '&lt;info&gt;' must survive as
# text), drop known boilerplate phrases, collapse whitespace. The
# fixture has no markup, so the documents are deterministically wrapped
# in a pseudo-page (nav/ad/footer chrome around the text) by the SAME
# expression in both engines; the op under test is the strip pipeline.
# 100 TB shape: a pure per-row codegen'd regexp chain — zero shuffles,
# zero Python; filters and column pruning push straight to the scan.
# Reference parity: the reference exposes regexp_replace/replace as
# scalar builtins (be/src/exprs/string-functions.cc:339 RegexpReplace);
# this composes them into the crawl-cleaning pass its users write.
_HTML_STRIP_ORACLE = """
WITH page AS (
  SELECT doc_id, length(text) AS text_len,
         '<html><head><title>' || source ||
         '</title><style>p{margin:0}</style><script type="text/javascript">var s="' ||
         source ||
         '";</script></head><body><nav>Home | About | Contact</nav><p class="main">' ||
         text ||
         '</p><br/><div id="ad">Subscribe now!</div><footer>&copy; 2024 ' ||
         source || ' &nbsp;&amp; sons &lt;info&gt;</footer></body></html>' AS html
  FROM documents
),
stripped AS (
  SELECT doc_id, text_len, length(html) AS raw_len,
         regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
         trim(regexp_replace(
           replace(replace(
             replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'g'),
                   '<style[^>]*>.*?</style>', ' ', 'g'),
                 '<[^>]*>', ' ', 'g'),
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
               '&copy;', '(c)'), '&amp;', '&'),
             'Home | About | Contact', ' '), 'Subscribe now!', ' '),
           ' +', ' ', 'g')) AS clean_text
  FROM page
)
SELECT doc_id, title, clean_text,
       CAST(raw_len AS BIGINT)          AS raw_len,
       CAST(length(clean_text) AS BIGINT) AS clean_len,
       CAST(round((raw_len - length(clean_text)) * 1000.0 / raw_len)
            AS BIGINT)                  AS shrink_permille
FROM stripped
ORDER BY doc_id
"""


@query("text_html_strip", oracle=_HTML_STRIP_ORACLE)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip markup/boilerplate from pseudo-HTML pages: script/style
    blocks first, then all tags, then entity decode, then boilerplate
    phrases, then whitespace collapse — the order a correct stripper
    needs (entities decode after tag removal so literal '<info>' text
    survives; phrases drop after entities so '&amp;' variants match).
    """
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>"), F.col("source"),
        F.lit('</title><style>p{margin:0}</style>'
              '<script type="text/javascript">var s="'),
        F.col("source"),
        F.lit('";</script></head><body>'
              '<nav>Home | About | Contact</nav><p class="main">'),
        F.col("text"),
        F.lit('</p><br/><div id="ad">Subscribe now!</div>'
              "<footer>&copy; 2024 "),
        F.col("source"),
        F.lit(" &nbsp;&amp; sons &lt;info&gt;</footer></body></html>"),
    )
    page = docs.select("doc_id", html.alias("html"))
    clean = F.trim(
        F.regexp_replace(
            F.expr(
                """
                replace(replace(
                  replace(replace(replace(replace(replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(html, '<script[^>]*>.*?</script>', ' '),
                        '<style[^>]*>.*?</style>', ' '),
                      '<[^>]*>', ' '),
                    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                    '&copy;', '(c)'), '&amp;', '&'),
                  'Home | About | Contact', ' '), 'Subscribe now!', ' ')
                """
            ),
            " +",
            " ",
        )
    )
    out = page.select(
        "doc_id",
        F.regexp_extract("html", "<title>([^<]*)</title>", 1).alias("title"),
        clean.alias("clean_text"),
        F.length("html").cast("bigint").alias("raw_len"),
    )
    return out.select(
        "doc_id",
        "title",
        "clean_text",
        "raw_len",
        F.length("clean_text").cast("bigint").alias("clean_len"),
        F.round(
            (F.col("raw_len") - F.length("clean_text")) * 1000.0
            / F.col("raw_len")
        )
        .cast("bigint")
        .alias("shrink_permille"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Stopword profile — per-(lang, source) corpus composition stats
# (stopword share is a core quality signal in C4/Gopher-style filters;
# this is the AGGREGATE view the per-doc gates in text_gopher_rules
# consume thresholds from). Token counts come from codegen'd array HOFs
# over split() — a pure per-row map with zero shuffles before the
# (lang, source) aggregate, the text-analysis profile that rides a
# 1000-executor cluster scan-bound.
_STOPWORDS = ("the", "a")
_STOPWORD_ORACLE = f"""
WITH per_doc AS (
  SELECT lang, source,
         len(string_split(text, ' ')) AS n_tok,
         len(list_filter(string_split(text, ' '),
                         t -> t IN ('{_STOPWORDS[0]}', '{_STOPWORDS[1]}')))
           AS n_stop
  FROM documents
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(n_stop) AS BIGINT) AS stop_tokens,
       CAST(round(sum(n_stop) * 1000.0 / sum(n_tok)) AS BIGINT)
         AS stop_share_permille,
       round(sum(n_tok) * 1.0 / count(*), 6) AS avg_tokens_per_doc
FROM per_doc
GROUP BY lang, source
ORDER BY lang, source
"""


@query("text_stopword_profile", oracle=_STOPWORD_ORACLE)
def text_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    per_doc = docs.select(
        "lang",
        "source",
        F.size(toks).alias("n_tok"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).alias("n_stop"),
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum("n_stop").cast("bigint").alias("stop_tokens"),
            F.round(F.sum("n_stop") * 1000.0 / F.sum("n_tok"), 0)
            .cast("bigint")
            .alias("stop_share_permille"),
            F.round(F.sum("n_tok") * 1.0 / F.count(F.lit(1)), 6).alias(
                "avg_tokens_per_doc"
            ),
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# Word co-occurrence PMI — doc-level pointwise mutual information over
# DISTINCT words per document (binary co-occurrence, the collocation /
# phrase-mining primitive behind compound-token discovery in corpus
# prep). Per-doc distinct terms bound the pair stage: the self-join
# emits ≤ |distinct terms per doc|² pairs per document (≤465 on this
# vocab; real corpora cap per-doc distinct terms first — the same
# bounded-shape discipline as the triangle-count cell cap). df and
# pair-df are plain hash aggs; N is a one-row broadcast scalar. PMI is
# rounded to 6dp BEFORE the top-15 rank (repo convention).
_PMI_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
),
n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
df AS (SELECT w, count(*) AS df FROM tok GROUP BY w),
co AS (
  SELECT a.w AS w1, b.w AS w2, count(*) AS co_df
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
),
pmi AS (
  SELECT c.w1, c.w2, c.co_df,
         round(ln(c.co_df * 1.0 * n.n / (d1.df * d2.df)), 6) AS pmi6
  FROM co c
  JOIN df d1 ON d1.w = c.w1
  JOIN df d2 ON d2.w = c.w2
  CROSS JOIN n_docs n
  WHERE c.co_df >= 5
),
ranked AS (
  SELECT w1, w2, co_df, pmi6,
         row_number() OVER (ORDER BY pmi6 DESC, w1, w2) AS rnk
  FROM pmi
)
SELECT w1, w2, CAST(co_df AS BIGINT) AS co_df, pmi6, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 15
ORDER BY rnk
"""


@query("text_word_cooccurrence", oracle=_PMI_ORACLE)
def text_word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # persist: three consumers (the document frequencies and both sides
    # of the co-occurrence self-join) each re-ran the scan + distinct-
    # token explode uncached (r12, guide §5)
    tok = seam(docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    ))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n"))
    df = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    a = tok.select(F.col("doc_id").alias("d"), F.col("w").alias("w1"))
    b = tok.select(F.col("doc_id").alias("d"), F.col("w").alias("w2"))
    co = (
        a.join(b, ["d"])
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("co_df"))
        .filter(F.col("co_df") >= 5)
    )
    d1 = df.select(F.col("w").alias("w1"), F.col("df").alias("df1"))
    d2 = df.select(F.col("w").alias("w2"), F.col("df").alias("df2"))
    pmi = (
        co.join(F.broadcast(d1), "w1")
        .join(F.broadcast(d2), "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            "co_df",
            F.round(
                F.log(F.col("co_df") * 1.0 * F.col("n") / (F.col("df1") * F.col("df2"))),
                6,
            ).alias("pmi6"),
        )
    )
    w_rank = W.orderBy(F.desc("pmi6"), "w1", "w2")
    return (
        pmi.withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rnk") <= 15)
        .select("w1", "w2", F.col("co_df").cast("bigint").alias("co_df"), "pmi6", "rnk")
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# Zipf fit — per-source rank-frequency power-law slope via SQL:2003
# regression aggregates over the log-log token census (slope ≈ −1 is
# Zipf's law; a source whose slope collapses toward 0 is template spam,
# one that steepens is vocabulary collapse — the distribution-shape
# alarm next to text_heavy_hitters' point alarms). Reuses the
# regr_slope/regr_r2 family (agg_regression_suite) over a derived
# table, proving the aggregate composes with windows: rank comes from
# one row_number per source over the vocabulary-bounded census.
# 100 TB shape: token census (one shuffle, vocab-bounded output), tiny
# rank window, one codegen'd regression agg — nothing scales with the
# corpus but the census scan.
_ZIPF_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
census AS (
  SELECT source, tok, count(*) AS freq FROM toks GROUP BY source, tok
),
ranked AS (
  SELECT source, freq,
         row_number() OVER (PARTITION BY source
                            ORDER BY freq DESC, tok) AS rnk
  FROM census
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(round(regr_slope(ln(freq), ln(rnk)) * 10000) AS BIGINT)
         AS slope_e4,
       CAST(round(regr_r2(ln(freq), ln(rnk)) * 10000) AS BIGINT) AS r2_e4
FROM ranked
GROUP BY source
ORDER BY source
"""


@query("text_zipf_fit", oracle=_ZIPF_ORACLE)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    census = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("freq"))
    ranked = census.select(
        "source",
        "freq",
        F.row_number()
        .over(W.partitionBy("source").orderBy(F.desc("freq"), F.asc("tok")))
        .alias("rnk"),
    )
    lf, lr = F.log(F.col("freq").cast("double")), F.log(F.col("rnk").cast("double"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.round(F.regr_slope(lf, lr) * 10000, 0).cast("bigint").alias("slope_e4"),
            F.round(F.regr_r2(lf, lr) * 10000, 0).cast("bigint").alias("r2_e4"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Schema/stat drift report — the per-COLUMN snapshot diff a dataset
# release gate runs (null-rate and NDV drift between corpus versions;
# the column-level companion to pipeline_corpus_diff's row-level
# matrix, and what COMPUTE STATS feeds when v2 lands). v2 derives
# deterministically from the fixture: every 7th text rewritten, every
# 13th lang nulled, every 3rd n_chars shifted. One pass per snapshot
# computes all column stats (count/nulls/NDV are codegen'd aggs over a
# single scan), and the report is a fixed-height union — at 100 TB the
# cost is two scans, output height = |columns|.
_DRIFT_ORACLE = """
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' drifted' ELSE text END AS text,
         CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
         source,
         CASE WHEN doc_id % 3 = 0 THEN n_chars + 5 ELSE n_chars END AS n_chars
  FROM documents
),
s1 AS (
  SELECT count(*) AS n,
         count(text) AS nn_text, count(DISTINCT text) AS ndv_text,
         count(lang) AS nn_lang, count(DISTINCT lang) AS ndv_lang,
         count(source) AS nn_source, count(DISTINCT source) AS ndv_source,
         count(n_chars) AS nn_nch, count(DISTINCT n_chars) AS ndv_nch
  FROM documents
),
s2 AS (
  SELECT count(*) AS n,
         count(text) AS nn_text, count(DISTINCT text) AS ndv_text,
         count(lang) AS nn_lang, count(DISTINCT lang) AS ndv_lang,
         count(source) AS nn_source, count(DISTINCT source) AS ndv_source,
         count(n_chars) AS nn_nch, count(DISTINCT n_chars) AS ndv_nch
  FROM v2
),
rep AS (
  SELECT 'text' AS col_name,
         s1.n - s1.nn_text AS v1_nulls, s2.n - s2.nn_text AS v2_nulls,
         s1.ndv_text AS v1_ndv, s2.ndv_text AS v2_ndv FROM s1, s2
  UNION ALL
  SELECT 'lang', s1.n - s1.nn_lang, s2.n - s2.nn_lang,
         s1.ndv_lang, s2.ndv_lang FROM s1, s2
  UNION ALL
  SELECT 'source', s1.n - s1.nn_source, s2.n - s2.nn_source,
         s1.ndv_source, s2.ndv_source FROM s1, s2
  UNION ALL
  SELECT 'n_chars', s1.n - s1.nn_nch, s2.n - s2.nn_nch,
         s1.ndv_nch, s2.ndv_nch FROM s1, s2
)
SELECT col_name,
       CAST(v1_nulls AS BIGINT) AS v1_nulls,
       CAST(v2_nulls AS BIGINT) AS v2_nulls,
       CAST(v1_ndv AS BIGINT) AS v1_ndv,
       CAST(v2_ndv AS BIGINT) AS v2_ndv,
       CAST(round((v2_ndv - v1_ndv) * 1000.0 / v1_ndv) AS BIGINT)
         AS ndv_drift_permille,
       (v2_nulls <> v1_nulls OR v2_ndv <> v1_ndv) AS drifted
FROM rep
ORDER BY col_name
"""


@query("pipeline_schema_drift_report", oracle=_DRIFT_ORACLE)
def pipeline_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    v2 = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" drifted")))
        .otherwise(F.col("text"))
        .alias("text"),
        F.when(F.col("doc_id") % 13 == 0, F.lit(None)).otherwise(F.col("lang")).alias("lang"),
        "source",
        F.when(F.col("doc_id") % 3 == 0, F.col("n_chars") + 5)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )

    def stats(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                x
                for c in ("text", "lang", "source", "n_chars")
                for x in (
                    F.count(c).alias(f"nn_{c}"),
                    F.countDistinct(c).alias(f"ndv_{c}"),
                )
            ],
        )

    s1, s2 = stats(docs), stats(v2)
    # one-row × one-row cross, then ONE explode fans out the per-column
    # report rows — each snapshot's stats aggregate executes exactly once
    # (a union of per-column selects would re-run the scans per branch)
    joined = s1.crossJoin(
        F.broadcast(s2.select(*[F.col(x).alias(f"b_{x}") for x in s2.columns]))
    )
    per_col = [
        F.struct(
            F.lit(c).alias("col_name"),
            (F.col("n") - F.col(f"nn_{c}")).alias("v1_nulls"),
            (F.col("b_n") - F.col(f"b_nn_{c}")).alias("v2_nulls"),
            F.col(f"ndv_{c}").alias("v1_ndv"),
            F.col(f"b_ndv_{c}").alias("v2_ndv"),
        )
        for c in ("text", "lang", "source", "n_chars")
    ]
    rep = joined.select(F.explode(F.array(*per_col)).alias("r")).select("r.*")
    return rep.select(
        "col_name",
        F.col("v1_nulls").cast("bigint").alias("v1_nulls"),
        F.col("v2_nulls").cast("bigint").alias("v2_nulls"),
        F.col("v1_ndv").cast("bigint").alias("v1_ndv"),
        F.col("v2_ndv").cast("bigint").alias("v2_ndv"),
        F.round((F.col("v2_ndv") - F.col("v1_ndv")) * 1000.0 / F.col("v1_ndv"), 0)
        .cast("bigint")
        .alias("ndv_drift_permille"),
        (
            (F.col("v2_nulls") != F.col("v1_nulls"))
            | (F.col("v2_ndv") != F.col("v1_ndv"))
        ).alias("drifted"),
    ).orderBy("col_name")


# --------------------------------------------------------------------------
# Code-vs-prose detection gate — the feature-threshold filter every
# pretraining pipeline runs to route code out of the prose corpus (or
# keep it, weighted): symbol density, brace/semicolon count, and
# indented-line share, combined into a rule gate. All features are
# codegen'd regexp/length expressions — a pure per-row map, zero
# shuffle before the (source, verdict) rollup. The fixture is all
# prose, so code-like docs are PLANTED (every 11th doc gets a C-style
# snippet appended) and the gate must flag exactly those — planted
# positives + natural negatives give the oracle real discriminative
# work at both scales.
_CODE_SNIPPET = "if (x > 0) { return compute(x); } else { y[i] = 0; };"
_CODE_DETECT_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 11 = 0
              THEN text || ' {_CODE_SNIPPET}' ELSE text END AS text
  FROM documents
),
feats AS (
  SELECT doc_id, source,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[{{}};()=\\[\\]<>]', '', 'g'))
           AS n_sym
  FROM corpus
),
gated AS (
  SELECT doc_id, source, n_chars, n_sym,
         n_sym * 1000 >= n_chars * 20 AS looks_code
  FROM feats
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count_if(looks_code) AS BIGINT) AS n_code,
       CAST(count_if(looks_code AND doc_id % 11 = 0) AS BIGINT)
         AS n_true_pos,
       CAST(count_if(looks_code AND doc_id % 11 <> 0) AS BIGINT)
         AS n_false_pos
FROM gated
GROUP BY source
ORDER BY source
"""


@query("text_code_detection", oracle=_CODE_DETECT_ORACLE)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus_df = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" " + _CODE_SNIPPET)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    n_chars = F.length("text")
    n_sym = n_chars - F.length(
        F.regexp_replace(F.col("text"), r"[{};()=\[\]<>]", "")
    )
    gated = corpus_df.select(
        "doc_id",
        "source",
        (n_sym * 1000 >= n_chars * 20).alias("looks_code"),
    )
    planted = F.col("doc_id") % 11 == 0
    return (
        gated.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_if(F.col("looks_code")).cast("bigint").alias("n_code"),
            F.count_if(F.col("looks_code") & planted)
            .cast("bigint")
            .alias("n_true_pos"),
            F.count_if(F.col("looks_code") & ~planted)
            .cast("bigint")
            .alias("n_false_pos"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Readability scoring (Flesch reading-ease over regex proxies) — the
# classic corpus-quality signal next to the Gopher rules: word count as
# non-space runs, sentence count as terminal-punctuation runs, syllable
# count as vowel groups.  All three are single-pass regexp counts (JVM
# regex, no UDF); the score is banded per document BEFORE aggregation
# (per-row floor to e2 integers — the determinism convention), so the
# group-by runs over exact integers and the oracle compare is bitwise.
# Scale: pure map-side expressions + one (lang, band) aggregate; the
# regexes stream over each document once, no shuffle until the
# |langs| x 5-row rollup.
# Flesch reading ease of `text` from its word, sentence and syllable
# counts, floored to e2 integers — as _flesch computes it.
_FLESCH_COUNTS_SQL = """
         len(regexp_extract_all(text, '\\S+')) AS words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           AS sylls"""
_FLESCH_E2_SQL = """
         CAST(floor((206.835 - 1.015 * (words * 1.0 / sents)
                     - 84.6 * (sylls * 1.0 / greatest(words, 1))) * 100)
              AS BIGINT)"""

_READABILITY_ORACLE = f"""
WITH scored AS (
  SELECT lang,{_FLESCH_COUNTS_SQL}
  FROM documents
),
banded AS (
  SELECT lang, words,{_FLESCH_E2_SQL} AS flesch_e2
  FROM scored
)
SELECT lang,
       CASE WHEN flesch_e2 >= 9000 THEN 'very_easy'
            WHEN flesch_e2 >= 7000 THEN 'easy'
            WHEN flesch_e2 >= 5000 THEN 'standard'
            WHEN flesch_e2 >= 3000 THEN 'difficult'
            ELSE 'very_difficult' END AS band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(round(avg(words)) AS BIGINT) AS avg_words,
       CAST(round(avg(flesch_e2)) AS BIGINT) AS avg_flesch_e2
FROM banded
GROUP BY lang, band
ORDER BY lang, band
"""


def _flesch() -> tuple[Column, Column]:
    """(words, flesch_e2): the word count of `text` and its Flesch reading
    ease floored to e2 integers."""
    words = F.regexp_count("text", F.lit(r"\S+"))
    sents = F.greatest(F.regexp_count("text", F.lit("[.!?]+")), F.lit(1))
    sylls = F.greatest(
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")), F.lit(1)
    )
    flesch_e2 = F.floor(
        (
            206.835
            - 1.015 * (words * 1.0 / sents)
            - 84.6 * (sylls * 1.0 / F.greatest(words, F.lit(1)))
        )
        * 100
    ).cast("bigint")
    return words, flesch_e2


@query("text_readability_scores", oracle=_READABILITY_ORACLE)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The regexp counts are per-row expressions, so the (lang, band)
    # rollup's is the only hash exchange.
    docs = load_table(spark, sf_dir, "documents")
    words, flesch_e2 = _flesch()
    banded = docs.select(
        "lang", words.alias("words"), flesch_e2.alias("flesch_e2")
    )
    band = (
        F.when(F.col("flesch_e2") >= 9000, "very_easy")
        .when(F.col("flesch_e2") >= 7000, "easy")
        .when(F.col("flesch_e2") >= 5000, "standard")
        .when(F.col("flesch_e2") >= 3000, "difficult")
        .otherwise("very_difficult")
    )
    return (
        banded.groupBy("lang", band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("words")).cast("bigint").alias("avg_words"),
            F.round(F.avg("flesch_e2")).cast("bigint").alias("avg_flesch_e2"),
        )
        .orderBy("lang", "band")
    )


# --------------------------------------------------------------------------
# Padding-efficiency audit for length-bucketed batching — the throughput
# planning artifact for the training side of the pipeline: when documents
# are padded to a fixed context length, short docs burn FLOPs on pad
# tokens; bucketed batching (group docs by length bucket, pad to the
# bucket cap) recovers most of it. This op reports, per bucket, the doc
# count, real-token total, padded-token total and waste permille, plus
# a 'single_max' row (everything padded to the global cap) so the two
# strategies diff in one relation. Token counts use the whitespace
# tokenizer (text_tokens' convention); docs longer than the global cap
# truncate to it.
#
# Scale: one narrow map (split + least + CASE) and one 4-group aggregate
# — map-side combine leaves |buckets| rows; the union arm is a second
# map-side-combined aggregate over the same scan. All-integer output.
_PAD_CAPS = (16, 32, 64, 128)
_PAD_MAX = 128

_PAD_ORACLE = f"""
WITH t AS (
  SELECT least(len(string_split(text, ' ')), {_PAD_MAX}) AS n
  FROM documents
),
b AS (
  SELECT n,
         CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
              WHEN n <= 64 THEN 64 ELSE 128 END AS cap
  FROM t
)
SELECT 'bucketed' AS strategy, CAST(cap AS BIGINT) AS bucket_cap,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS sum_tokens,
       CAST(count(*) * cap AS BIGINT) AS padded_tokens,
       CAST(round(1000.0 * (count(*) * cap - sum(n)) / (count(*) * cap))
            AS BIGINT) AS waste_permille
FROM b GROUP BY cap
UNION ALL
SELECT 'single_max', {_PAD_MAX},
       CAST(count(*) AS BIGINT),
       CAST(sum(n) AS BIGINT),
       CAST(count(*) * {_PAD_MAX} AS BIGINT),
       CAST(round(1000.0 * (count(*) * {_PAD_MAX} - sum(n))
                  / (count(*) * {_PAD_MAX})) AS BIGINT)
FROM t
ORDER BY strategy, bucket_cap
"""


@query("text_padding_efficiency", oracle=_PAD_ORACLE)
def text_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: per bucket cap (16/32/64/128
    tokens) the padding waste vs a single-max-length strategy.
    Output: (strategy, bucket_cap, n_docs, sum_tokens, padded_tokens,
    waste_permille)."""
    # Both strategy arms are map-side-combined aggregates over one narrow
    # scan: one hash exchange (the bucket groupBy).
    docs = load_table(spark, sf_dir, "documents")
    n = F.least(F.size(F.split("text", " ")), F.lit(_PAD_MAX))
    cap = (
        F.when(n <= 16, 16)
        .when(n <= 32, 32)
        .when(n <= 64, 64)
        .otherwise(128)
    )
    t = docs.select(n.alias("n"), cap.alias("cap"))

    def stats(grouped: DataFrame, strategy: str, cap_col) -> DataFrame:
        padded = (F.count(F.lit(1)) * cap_col).cast("bigint")
        return grouped.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("sum_tokens"),
            padded.alias("padded_tokens"),
            F.round(
                1000.0
                * (F.count(F.lit(1)) * cap_col - F.sum("n"))
                / (F.count(F.lit(1)) * cap_col)
            )
            .cast("bigint")
            .alias("waste_permille"),
        ).select(
            F.lit(strategy).alias("strategy"),
            cap_col.cast("bigint").alias("bucket_cap"),
            "n_docs",
            "sum_tokens",
            "padded_tokens",
            "waste_permille",
        )

    bucketed = stats(t.groupBy("cap"), "bucketed", F.col("cap"))
    single = stats(t.groupBy(), "single_max", F.lit(_PAD_MAX))
    return bucketed.unionByName(single).orderBy("strategy", "bucket_cap")


# --------------------------------------------------------------------------
# Quality-classifier calibration report — the trust audit run before a
# model-based filter (text_quality_classifier's logistic head) gates a
# corpus: rank every document by score, split into deciles, and compare
# each decile's mean score against the rate of an INDEPENDENT quality
# signal (the Flesch readability gate from text_readability_scores). A
# well-calibrated filter shows gold rate rising monotonically with the
# score decile; a flat profile means the classifier threshold is noise.
#
# Determinism: the score is rounded to e6 integers per row BEFORE
# ranking (repo convention — sub-ulp exp() differences cannot reorder),
# the rank key is the (score_e6, doc_id) TUPLE — never a packed scalar
# (the banned fixed-width-packing class: score_e6*1e10+doc_id collides
# once doc_id reaches 1e10) — the global rank is the distributed prefix
# scan (no single-task window), and the decile is floor((rank-1)*10/n)+1
# — pure integer math that DuckDB's row_number replays exactly.
#
# Scale: score+gold are narrow maps; the rank is the two-phase prefix
# scan; the report is a 10-row aggregate.
_CALIB_ORACLE = f"""
WITH f AS (
  SELECT doc_id,{_QC_FEATURES_SQL},{_FLESCH_COUNTS_SQL}
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(round(1000000.0 / (1.0 + exp(-({_QC_Z_SQL}))))
              AS BIGINT) AS score_e6,{_FLESCH_E2_SQL} >= 5000 AS gold
  FROM f
),
ranked AS (
  SELECT score_e6, gold,
         row_number() OVER (ORDER BY score_e6, doc_id)
           AS rnk,
         count(*) OVER () AS n
  FROM scored
)
SELECT CAST(floor((rnk - 1) * 10.0 / n) AS INT) + 1 AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(round(avg(score_e6)) AS BIGINT) AS avg_score_e6,
       CAST(count(*) FILTER (WHERE gold) AS BIGINT) AS n_gold,
       CAST(round(1000.0 * count(*) FILTER (WHERE gold) / count(*))
            AS BIGINT) AS gold_permille
FROM ranked
GROUP BY decile
ORDER BY decile
"""


@query("text_quality_calibration", oracle=_CALIB_ORACLE)
def text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the logistic quality classifier against the
    independent Flesch readability gate, by score decile. Output:
    (decile, n_docs, avg_score_e6, n_gold, gold_permille)."""
    # The global score rank is the two-phase prefix scan (one range
    # exchange), never a partition-less sort window over the corpus.
    from minimised_impala_spark.operators.prefix import distributed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    score_e6 = F.round(1000000.0 / (1.0 + F.exp(-_quality_logit()))).cast("bigint")
    _, flesch_e2 = _flesch()
    scored = docs.select(
        "doc_id",
        score_e6.alias("score_e6"),
        (flesch_e2 >= 5000).alias("gold"),
    )
    ranked = distributed_cumsum(scored, ["score_e6", "doc_id"], F.lit(1), "rnk")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    decile = F.floor((F.col("rnk") - 1) * 10.0 / F.col("n")).cast("int") + 1
    return (
        ranked.crossJoin(F.broadcast(n_docs))
        .groupBy(decile.alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("score_e6")).cast("bigint").alias("avg_score_e6"),
            F.count_if(F.col("gold")).cast("bigint").alias("n_gold"),
            F.round(1000.0 * F.count_if(F.col("gold")) / F.count(F.lit(1)))
            .cast("bigint")
            .alias("gold_permille"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995; Chen &
# Goodman 1999 empirical study) — the standard n-gram smoothing that
# replaces text_bigram_lm's Laplace estimate: mass is discounted from
# seen bigrams by a fixed D and redistributed via the CONTINUATION
# probability (how many distinct contexts a word follows), which scores
# boilerplate ("San Francisco" effect) far better than raw frequency:
#   P(w2|w1) = (c12 - D)/c1 + (D * N1+(w1,·)/c1) * (N1+(·,w2)/B)
# with D = 0.75, N1+ the distinct-continuation counts and B the number
# of distinct bigram types. Model trained on the scored corpus itself,
# so every scored bigram has c12 >= 1 > D and P > 0.
#
# Determinism: every model quantity is an exact integer (counts); both
# engines evaluate the identical left-associated double expression, and
# the per-doc average NLL is rounded at 4 decimals (text_lm_score
# convention). Scale: four grouped count aggregates build the model
# (|vocab| / |bigram-vocab| rows — broadcast), scoring is a broadcast
# join over the bigram stream; no shuffle touches corpus-sized data
# except the per-doc aggregate.
_KN_D = 0.75

_KN_ORACLE = f"""
WITH {_BIGRAM_CTE},
n1h AS (
  SELECT split_part(bigram, chr(9), 1) AS w1,
         CAST(count(*) AS BIGINT) AS n1h
  FROM c12 GROUP BY w1
),
n1t AS (
  SELECT split_part(bigram, chr(9), 2) AS w2,
         CAST(count(*) AS BIGINT) AS n1t
  FROM c12 GROUP BY w2
),
b AS (SELECT CAST(count(*) AS BIGINT) AS b FROM c12),
scored AS (
  SELECT g.doc_id, count(*) AS n_bigrams,
         sum(-ln((x.c12 - {_KN_D}) / h.c1
                 + (({_KN_D} * nh.n1h) / h.c1) * (nt.n1t * 1.0 / b.b))) AS nll
  FROM bg g
  JOIN c12 x ON x.bigram = g.bigram
  JOIN c1 h ON h.w1 = split_part(g.bigram, chr(9), 1)
  JOIN n1h nh ON nh.w1 = split_part(g.bigram, chr(9), 1)
  JOIN n1t nt ON nt.w2 = split_part(g.bigram, chr(9), 2)
  CROSS JOIN b
  GROUP BY g.doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(nll / n_bigrams, 4) AS avg_nll
FROM scored
ORDER BY doc_id
"""


@query("text_kneser_ney_lm", oracle=_KN_ORACLE)
def text_kneser_ney_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM: per-doc average NLL under
    absolute discounting (D=0.75) with continuation-probability backoff.
    Output: (doc_id, n_bigrams, avg_nll)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    bg = _bigrams(t, "doc_id")
    w1_of = F.split_part(F.col("bigram"), F.lit("\t"), F.lit(1))
    w2_of = F.split_part(F.col("bigram"), F.lit("\t"), F.lit(2))
    # persist: c12 has FOUR consumers (per_w1, n1t, the type count b and
    # the model assembly) — uncached, EACH one re-ran the document scan,
    # the bigram explode and the type exchange (measured: 5 parquet
    # scans / 7 exchanges in the executed plan; 2 scans / 4 after). The
    # TYPE table is vocab-sized — the one LM artifact that is always
    # worth materializing at 100 TB (r12, guide §5).
    c12 = seam(
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    )
    # Every per-context / per-word model quantity derives from the TYPE
    # table c12 — never from a second pass over the occurrence stream:
    # c1(w1) = Σ_w2 c12(w1,w2) exactly (each occurrence of context w1 is
    # counted once in some bigram type), and n1h(w1) is the type count of
    # the same grouping, so both come out of ONE vocab-sized aggregate.
    # Re-grouping the corpus-sized bigram stream just to count contexts
    # would cost one more full Exchange of corpus-scale data, where this
    # aggregate shuffles only vocab-sized types.
    per_w1 = (
        c12.groupBy(w1_of.alias("w1"))
        .agg(
            F.sum("c12").cast("bigint").alias("c1"),
            F.count(F.lit(1)).cast("bigint").alias("n1h"),
        )
    )
    n1t = (
        c12.groupBy(w2_of.alias("w2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n1t"))
    )
    b = c12.agg(F.count(F.lit(1)).cast("bigint").alias("b"))
    prob = (F.col("c12") - _KN_D) / F.col("c1") + (
        (_KN_D * F.col("n1h")) / F.col("c1")
    ) * (F.col("n1t") * 1.0 / F.col("b"))
    # Fold the whole model into ONE bigram-type-keyed table with the NLL
    # precomputed per TYPE (identical double: same expression over the
    # same operands as the old per-occurrence form — FP is deterministic
    # per value, only the summation order varies, which round(…, 4)
    # already absorbs on both engines). The scoring probe then pays one
    # broadcast hash join per occurrence instead of four joins + a cross
    # join, and the ln() runs |bigram types| times, not |occurrences|
    # times — at 100 TB that is the difference between transcendental
    # math per corpus token and per vocab entry (guide §2.3 "shuffle
    # keys/metadata instead of payloads", §1.2 step 1 before step 2).
    model = (
        c12.withColumn("w1", w1_of)
        .withColumn("w2", w2_of)
        .join(per_w1, "w1")
        .join(n1t, "w2")
        .crossJoin(F.broadcast(b))
        .select("bigram", (-F.log(prob)).alias("nlp"))
    )
    scored = (
        bg.join(F.broadcast(model), "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("nlp").alias("nll"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.round(F.col("nll") / F.col("n_bigrams"), 4).alias("avg_nll"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Vocabulary coverage curve — the tokenizer-sizing artifact: what share
# of all token OCCURRENCES do the top-K most frequent types cover, for
# the candidate vocab sizes a tokenizer build would choose between?
# (The BPE/WordPiece budget decision reads exactly this curve: 99%+
# coverage at K means a K-entry vocab rarely falls back to bytes.)
#
# Scale: the census is one (tok) count aggregate; the top-4096 frame
# comes from ORDER BY + LIMIT — Spark's TakeOrderedAndProject
# (per-partition heaps, no global sort shuffle) — and every later stage
# (rank window, K join, shares) runs on that ≤4096-row frame, which is
# K-bounded, not corpus-bounded.
_VOCAB_KS = (64, 256, 1024, 4096)

_VOCAB_COVERAGE_ORACLE = f"""
WITH census AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
  GROUP BY tok
),
tot AS (
  SELECT CAST(sum(freq) AS BIGINT) AS total_tokens,
         CAST(count(*) AS BIGINT) AS n_types_total
  FROM census
),
topn AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rnk
  FROM census
  ORDER BY freq DESC, tok LIMIT {max(_VOCAB_KS)}
),
ks AS (SELECT CAST(unnest([{", ".join(str(k) for k in _VOCAB_KS)}]) AS INT) AS k)
SELECT ks.k,
       tot.n_types_total,
       CAST(count(topn.rnk) AS BIGINT) AS types_used,
       CAST(coalesce(sum(topn.freq), 0) AS BIGINT) AS covered_tokens,
       tot.total_tokens,
       CAST(round(1000.0 * coalesce(sum(topn.freq), 0) / tot.total_tokens)
            AS BIGINT) AS coverage_permille
FROM ks CROSS JOIN tot LEFT JOIN topn ON topn.rnk <= ks.k
GROUP BY ks.k, tot.n_types_total, tot.total_tokens
ORDER BY ks.k
"""


@query("text_vocab_coverage_curve", oracle=_VOCAB_COVERAGE_ORACLE)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-occurrence coverage of the top-K vocabulary for candidate
    vocab sizes K. Output: (k, n_types_total, types_used,
    covered_tokens, total_tokens, coverage_permille)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    census = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    tot = census.agg(
        F.sum("freq").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types_total"),
    )
    # TakeOrderedAndProject bounds the frame at max(K); the rank window
    # then runs on <= 4096 rows (K-bounded, not corpus-bounded)
    topn = (
        census.orderBy(F.desc("freq"), F.asc("tok"))
        .limit(max(_VOCAB_KS))
        .withColumn(
            "rnk", F.row_number().over(W.orderBy(F.desc("freq"), F.asc("tok")))
        )
    )
    ks = spark.createDataFrame([(k,) for k in _VOCAB_KS], "k int")
    return (
        F.broadcast(ks)
        .join(topn, F.col("rnk") <= F.col("k"), "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n_types_total", "total_tokens")
        .agg(
            F.count("rnk").cast("bigint").alias("types_used"),
            F.coalesce(F.sum("freq"), F.lit(0)).cast("bigint")
            .alias("covered_tokens"),
        )
        .select(
            "k",
            "n_types_total",
            "types_used",
            "covered_tokens",
            "total_tokens",
            F.round(1000.0 * F.col("covered_tokens") / F.col("total_tokens"))
            .cast("bigint")
            .alias("coverage_permille"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Heaps'-law fit per source — the vocabulary-GROWTH companion to
# text_zipf_fit's frequency-shape alarm: V(n) ≈ K·n^β (β ~ 0.4-0.6 for
# natural language). A source whose β collapses toward 0 is template/
# boilerplate text (vocab saturates); β near 1 is id-like noise (every
# token new). Cumulative (tokens, vocab) pairs are taken at each doc
# boundary in doc_id order; the fit is regr_slope/regr_r2 over the
# log-log series (the text_zipf_fit e4 convention).
#
# Scale: first-occurrence assignment is one (source, tok) min-aggregate;
# the running sums are per-SOURCE windows (partitioned — parallel across
# sources; a single source with billions of docs would swap in the
# two-phase prefix scan); the fit is one grouped regression.
_HEAPS_ORACLE = """
WITH per_doc AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_toks
  FROM documents
),
firsts AS (
  SELECT source, min(doc_id) AS first_doc
  FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents) t
  GROUP BY source, tok
),
new_terms AS (
  SELECT source, first_doc AS doc_id, CAST(count(*) AS BIGINT) AS nv
  FROM firsts GROUP BY source, first_doc
),
series AS (
  SELECT d.source,
         sum(d.n_toks) OVER (PARTITION BY d.source ORDER BY d.doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_toks,
         sum(coalesce(nt.nv, 0)) OVER (PARTITION BY d.source ORDER BY d.doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum_vocab
  FROM per_doc d
  LEFT JOIN new_terms nt ON nt.source = d.source AND nt.doc_id = d.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(round(regr_slope(ln(cum_vocab), ln(cum_toks)) * 10000) AS BIGINT)
         AS beta_e4,
       CAST(round(regr_r2(ln(cum_vocab), ln(cum_toks)) * 10000) AS BIGINT)
         AS r2_e4
FROM series
GROUP BY source
ORDER BY source
"""


@query("text_heaps_fit", oracle=_HEAPS_ORACLE)
def text_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law exponent per source: regr fit of ln(cumulative vocab)
    on ln(cumulative tokens) sampled at every doc boundary in doc_id
    order. Output: (source, n_docs, beta_e4, r2_e4)."""
    # The running sums are per-source windows, never a partition-less
    # corpus-wide sort.
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_toks")
    )
    firsts = (
        docs.select("source", "doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    new_terms = (
        firsts.groupBy("source", F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    series = (
        per_doc.join(new_terms, ["source", "doc_id"], "left")
        .select(
            "source",
            F.sum("n_toks").over(w).alias("cum_toks"),
            F.sum(F.coalesce(F.col("nv"), F.lit(0))).over(w).alias("cum_vocab"),
        )
    )
    lv = F.log(F.col("cum_vocab").cast("double"))
    lt = F.log(F.col("cum_toks").cast("double"))
    return (
        series.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.regr_slope(lv, lt) * 10000, 0).cast("bigint").alias("beta_e4"),
            F.round(F.regr_r2(lv, lt) * 10000, 0).cast("bigint").alias("r2_e4"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Bigram conditional-entropy rate per source — the corpus-level
# complexity signal next to text_char_entropy's per-document gate:
# H(w2|w1) = -Σ p(w1,w2) ln p(w2|w1) in bits/token. Natural text sits
# in a characteristic band; near-zero means templated/boilerplate
# content (the next word is predictable), near-H(w1) means shuffled/
# id-like noise (the previous word tells you nothing). Reported beside
# the unigram entropy H(w1) so the conditioning GAIN is visible.
#
# Determinism: both entropies are Σ c·ln(c/N) over integer count
# tables; engines may disagree at ulp level on the grouped-sum order,
# which the e4 rounding absorbs (the text_zipf_fit regr convention).
# Scale: two (source, gram)-keyed count aggregates (|vocab|- and
# |bigram-vocab|-bounded) and a per-source rollup; only count tables
# shuffle.
_ENTROPY_RATE_ORACLE = """
WITH t AS (
  SELECT source, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
uni AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(toks) AS tok FROM t) u
  GROUP BY source, tok
),
bg AS (
  SELECT source,
         unnest(list_transform(generate_series(1, n - 1),
                               i -> toks[i] || chr(9) || toks[i + 1])) AS bigram
  FROM t WHERE n >= 2
),
c12 AS (SELECT source, bigram, CAST(count(*) AS BIGINT) AS c12
        FROM bg GROUP BY source, bigram),
c1 AS (SELECT source, split_part(bigram, chr(9), 1) AS w1,
              CAST(count(*) AS BIGINT) AS c1
       FROM bg GROUP BY source, w1),
hu AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         -sum(c * ln(c * 1.0 / (SELECT sum(c) FROM uni u2
                                WHERE u2.source = uni.source)))
           / sum(c) / ln(2) AS h1
  FROM uni GROUP BY source
),
hb AS (
  SELECT x.source, CAST(sum(x.c12) AS BIGINT) AS n_bigrams,
         -sum(x.c12 * ln(x.c12 * 1.0 / h.c1)) / sum(x.c12) / ln(2) AS h2
  FROM c12 x
  JOIN c1 h ON h.source = x.source
           AND h.w1 = split_part(x.bigram, chr(9), 1)
  GROUP BY x.source
)
SELECT hu.source, hu.n_tokens, hb.n_bigrams,
       CAST(round(hu.h1 * 10000) AS BIGINT) AS unigram_bits_e4,
       CAST(round(hb.h2 * 10000) AS BIGINT) AS cond_bits_e4,
       CAST(round((hu.h1 - hb.h2) * 10000) AS BIGINT) AS info_gain_e4
FROM hu JOIN hb ON hb.source = hu.source
ORDER BY hu.source
"""


@query("text_entropy_rate", oracle=_ENTROPY_RATE_ORACLE)
def text_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram entropy and bigram conditional-entropy rate
    (bits/token), plus the conditioning information gain. Output:
    (source, n_tokens, n_bigrams, unigram_bits_e4, cond_bits_e4,
    info_gain_e4)."""
    # The unigram-total and bigram-head tables are vocab-bounded and
    # broadcast; the corpus-sized streams only feed aggregates.
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("source", F.split("text", " ").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    # persist the two vocab-sized census tables; the context totals
    # derive from the bigram TYPE table below (same rework as
    # text_bigram_lm / text_kneser_ney_lm — r12, guide §2.3/§5)
    uni = seam(
        t.select("source", F.explode("toks").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot_u = uni.groupBy("source").agg(F.sum("c").alias("nt"))
    hu = (
        uni.join(F.broadcast(tot_u), "source")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            (
                -F.sum(F.col("c") * F.log(F.col("c") * 1.0 / F.col("nt")))
                / F.sum("c")
                / math.log(2)
            ).alias("h1"),
        )
    )
    bg = _bigrams(t, "source")
    w1_of = F.split_part(F.col("bigram"), F.lit("\t"), F.lit(1))
    c12 = seam(
        bg.groupBy("source", "bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    )
    # c1(source, w1) = Σ_w2 c12 exactly — derived from the persisted
    # type table, not a second grouping of the corpus-sized stream
    c1 = (
        c12.groupBy("source", w1_of.alias("w1"))
        .agg(F.sum("c12").cast("bigint").alias("c1"))
    )
    hb = (
        c12.withColumn("w1", w1_of)
        .join(F.broadcast(c1), ["source", "w1"])
        .groupBy("source")
        .agg(
            F.sum("c12").cast("bigint").alias("n_bigrams"),
            (
                -F.sum(F.col("c12") * F.log(F.col("c12") * 1.0 / F.col("c1")))
                / F.sum("c12")
                / math.log(2)
            ).alias("h2"),
        )
    )
    return (
        hu.join(hb, "source")
        .select(
            "source",
            "n_tokens",
            "n_bigrams",
            F.round(F.col("h1") * 10000).cast("bigint").alias("unigram_bits_e4"),
            F.round(F.col("h2") * 10000).cast("bigint").alias("cond_bits_e4"),
            F.round((F.col("h1") - F.col("h2")) * 10000)
            .cast("bigint")
            .alias("info_gain_e4"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Pairwise Jensen–Shannon divergence between source unigram
# distributions — the DISTRIBUTIONAL companion to
# pipeline_source_overlap_matrix's set-overlap view: two sources can
# share most of their vocabulary (high Jaccard) while using it with
# completely different frequencies (high JSD), and mixing weights care
# about the latter. JSD is symmetric and bounded in [0, 1] bit.
#
# The disjoint-support mass never needs an outer join: tokens present
# in only one source contribute exactly (p/2)·ln 2 each, so
#   JSD = Σ_common [ p/2·ln(2p/(p+q)) + q/2·ln(2q/(p+q)) ]
#         + ln2/2 · ((1 − Σ_common p) + (1 − Σ_common q))
# and the pair join is an INNER join on the token posting lists
# (df ≤ |sources| per token — the overlap-matrix bound).
#
# Determinism: p, q are integer-count ratios; the Σ is a grouped sum
# whose accumulation order the e4 rounding absorbs (zipf/centroid
# convention). Scale: one (source, tok) census, posting-bounded join,
# |sources|²/2-row output.
_JSD_ORACLE = """
WITH uni AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents) t
  GROUP BY source, tok
),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM uni GROUP BY source),
pq AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.c * 1.0 / ta.n AS p, b.c * 1.0 / tb.n AS q
  FROM uni a
  JOIN uni b ON b.tok = a.tok AND a.source < b.source
  JOIN tot ta ON ta.source = a.source
  JOIN tot tb ON tb.source = b.source
),
core AS (
  SELECT source_a, source_b,
         CAST(count(*) AS BIGINT) AS n_common_types,
         sum(0.5 * p * ln(2 * p / (p + q))
             + 0.5 * q * ln(2 * q / (p + q))) AS common_term,
         sum(p) AS mass_a, sum(q) AS mass_b
  FROM pq GROUP BY source_a, source_b
)
SELECT source_a, source_b, n_common_types,
       CAST(round((common_term
                   + 0.5 * ln(2) * ((1 - mass_a) + (1 - mass_b)))
                  / ln(2) * 10000) AS BIGINT) AS jsd_bits_e4
FROM core
ORDER BY source_a, source_b
"""


@query("text_jsd_source_divergence", oracle=_JSD_ORACLE)
def text_jsd_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence (bits, e4) between source
    unigram distributions; disjoint-support mass handled in closed form
    so the pair join stays inner/posting-bounded. Output: (source_a,
    source_b, n_common_types, jsd_bits_e4)."""
    # Source totals broadcast into both probability sides; the pair join
    # runs on the (source, tok) census, never a cartesian product.
    docs = load_table(spark, sf_dir, "documents")
    # persist: three consumers (the totals and both pair-join sides)
    # each re-ran the corpus census uncached (r12, guide §5)
    uni = seam(
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = uni.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    a = uni.join(F.broadcast(tot), "source").select(
        F.col("source").alias("source_a"),
        "tok",
        (F.col("c") * 1.0 / F.col("n")).alias("p"),
    )
    b = uni.join(F.broadcast(tot), "source").select(
        F.col("source").alias("source_b"),
        "tok",
        (F.col("c") * 1.0 / F.col("n")).alias("q"),
    )
    pq = a.join(b, "tok").filter(F.col("source_a") < F.col("source_b"))
    core = pq.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common_types"),
        F.sum(
            0.5 * F.col("p") * F.log(2 * F.col("p") / (F.col("p") + F.col("q")))
            + 0.5 * F.col("q") * F.log(2 * F.col("q") / (F.col("p") + F.col("q")))
        ).alias("common_term"),
        F.sum("p").alias("mass_a"),
        F.sum("q").alias("mass_b"),
    )
    return core.select(
        "source_a",
        "source_b",
        "n_common_types",
        F.round(
            (
                F.col("common_term")
                + 0.5 * math.log(2) * ((1 - F.col("mass_a")) + (1 - F.col("mass_b")))
            )
            / math.log(2)
            * 10000
        )
        .cast("bigint")
        .alias("jsd_bits_e4"),
    ).orderBy("source_a", "source_b")
