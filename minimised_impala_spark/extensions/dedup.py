"""Deduplication operators for training-data pipelines (north-star
extension; no reference analogue — the reference is pure SQL OLAP).

Dedup strategies over the ``documents`` table, each a DataFrame
pipeline with a full SQL oracle:

- exact:          md5 content fingerprint → hash groupBy
- ngram_jaccard:  exact trigram-shingle Jaccard similarity join (the
                  small-scale baseline — quadratic in colliding shingles)
- minhash_lsh:    16-perm MinHash signatures → 4-band LSH bucket join
                  (the 100 TB path: candidate pairs ∝ true near-dups, not
                  n²; each stage is a narrow shuffle on doc_id / band key)
- simhash:        64-bit SimHash (Manku et al. 2007, k=3) with 4×16-bit
                  band join + exact-Hamming rescore on collisions
- embedding:      cosine near-dup over the embeddings table
- keep_best:      duplicate-group resolution policy (keep highest quality)
- cluster_cc:     pairwise candidates → clusters via distributed
                  connected components (operators/graph.py; recursive-CTE
                  oracle)

Because the fixture corpus has no planted duplicates, every query builds a
deterministic test corpus in-query: documents ∪ twin copies (doc_id +
100000) where every 5th doc is an exact copy and the rest drop their first
token (near-dup). The oracle SQL constructs the identical corpus.

Hashing is md5-based so both engines agree exactly:
Spark  conv(substr(md5(tok),1,8), 16, 10)::bigint
DuckDB ('0x' || substr(md5(tok),1,8))::BIGINT
Then minhash_j = min over shingles of (a_j·h + b_j) mod p, p=2147483647,
a_j=2j+3, b_j=5j+7 — pure int64 arithmetic, no overflow (h<2³¹, a_j≤33).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minimised_impala_spark.queries.registry import QUERIES, query
from minimised_impala_spark.seams import seam
from minimised_impala_spark.shipping import order_after_python
from minimised_impala_spark.tables import load_table

P = 2147483647  # Mersenne prime 2^31-1
N_HASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASH // N_BANDS

# ---------------------------------------------------------------- corpus --
CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text
              ELSE substr(text, strpos(text, ' ') + 1) END AS text
  FROM documents
)
"""


def corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ planted twins (exact copy every 5th doc, else first token
    dropped) — mirrors CORPUS_SQL exactly."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.when(F.col("doc_id") % 5 == 0, F.col("text"))
        .otherwise(F.expr("substring(text, instr(text, ' ') + 1)"))
        .alias("text"),
    )
    # The downstream shingle/hash work is CPU-bound per row; the fixture is
    # a single small parquet file (2 input splits), so fan the corpus out
    # across all cores first. On a real cluster with many splits this
    # re-balance is equally correct: one narrow shuffle of raw text vs
    # hash-heavy stages bound by the input file count.
    try:
        parallelism = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect sessions expose no sparkContext
        parallelism = 32
    return docs.unionAll(twins).repartition(parallelism, "doc_id")


# Trigram shingles with positions. DuckDB pairs unnest+generate_subscripts;
# Spark uses posexplode (0-based — only used engine-internally).
SHINGLES_SQL = """
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS p
  FROM corpus
),
shingles AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sh
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.p = a.p + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.p = a.p + 2
)
"""


def _trigrams_of(toks: F.Column) -> F.Column:
    """Trigram shingle array from a MATERIALIZED token-array column.

    ``toks`` must be a real column (``withColumn("toks", split(...))``),
    not an inline ``split()`` expression: an expression captured inside the
    ``transform`` lambda is re-evaluated per array element — O(tokens²)
    splitting per document. Measured at sf0.1: 0.76 s → 0.30 s for the
    shingle+hash stage after materializing (2.5×). At 100 TB this is the
    difference between one split per doc and one per shingle."""
    n = F.size(toks)
    return F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_of(docs: DataFrame) -> DataFrame:
    """Distinct trigram shingles of an arbitrary (doc_id, text) frame."""
    return (
        docs.withColumn("toks", F.split("text", " "))
        .select(
            "doc_id",
            F.explode(F.array_distinct(_trigrams_of(F.col("toks")))).alias("sh"),
        )
    )


def shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct trigram shingles per doc: (doc_id, sh)."""
    return shingles_of(corpus(spark, sf_dir))


def _shingle_hash(col: F.Column) -> F.Column:
    """64-bit-safe 31-bit hash of a shingle, identical in DuckDB (see module
    docstring)."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % P).alias("h")


SHINGLE_HASH_SQL = "('0x' || substr(md5(sh), 1, 8))::BIGINT % 2147483647"


# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=f"""
WITH {CORPUS_SQL.strip()}
SELECT fp, count(*) AS n_dups, min(doc_id) AS canonical_id
FROM (SELECT doc_id, md5(text) AS fp FROM corpus) t
GROUP BY fp
HAVING count(*) > 1
ORDER BY fp
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy (scale: one shuffle on the hash;
    at 100 TB hash first, never shuffle raw text)."""
    return (
        corpus(spark, sf_dir)
        .select("doc_id", F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
        .orderBy("fp")
    )


# --------------------------------------------------------------------------
# Exact trigram Jaccard >= 0.6 over the planted-twin corpus: the answer
# of both dedup_ngram_jaccard and dedup_prefix_filter.
_JACCARD_ORACLE = f"""
WITH {CORPUS_SQL.strip()},
{SHINGLES_SQL.strip().lstrip(',').strip()},
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS d1, s2.doc_id AS d2, count(*) AS c
  FROM shingles s1 JOIN shingles s2
    ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
  GROUP BY s1.doc_id, s2.doc_id
)
SELECT d1, d2,
       round(c * 1.0 / (z1.sz + z2.sz - c), 6) AS jaccard
FROM inter
JOIN sizes z1 ON z1.doc_id = d1
JOIN sizes z2 ON z2.doc_id = d2
WHERE c * 1.0 / (z1.sz + z2.sz - c) >= 0.6
ORDER BY d1, d2
"""


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram Jaccard join — the correctness baseline for near-dup
    detection. Scale note: cost ∝ Σ (docs per shingle)²; fine when shingles
    are selective, replaced by MinHash-LSH at 100 TB."""
    # persist: three consumers (sizes + both join sides) each re-ran the
    # corpus scan + shingle explode uncached (r12, guide §5)
    sh = seam(shingles(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    s1 = sh.select(F.col("doc_id").alias("d1"), "sh")
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = (
        s1.join(s2, (F.col("sh") == F.col("sh2")) & (F.col("d1") < F.col("d2")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    z1 = sizes.select(F.col("doc_id").alias("zd1"), F.col("sz").alias("sz1"))
    z2 = sizes.select(F.col("doc_id").alias("zd2"), F.col("sz").alias("sz2"))
    jac = F.col("c") * 1.0 / (F.col("sz1") + F.col("sz2") - F.col("c"))
    return (
        inter.join(z1, F.col("zd1") == F.col("d1"))
        .join(z2, F.col("zd2") == F.col("d2"))
        .filter(jac >= 0.6)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
def _minhash_bands_cte(corpus_clause: str | None = None) -> str:
    """WITH-body through `bands` (doc_id, band, bsig) — the SQL mirror of
    lsh_bands(), shared by every LSH oracle.  ``corpus_clause`` overrides
    the CTE(s) that define ``corpus`` (the near-dedup oracle substitutes
    an exact-text-collapsed representative corpus — see
    _NEAR_DEDUP_ORACLE)."""
    mins = ",\n         ".join(
        f"min(({2 * j + 3} * h + {5 * j + 7}) % {P}) AS m{j}" for j in range(N_HASH)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({sig}) AS bsig FROM sig".format(
            b=b,
            sig=" || '_' || ".join(
                f"m{j}::VARCHAR" for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""{(corpus_clause or CORPUS_SQL).strip()},
{SHINGLES_SQL.strip().lstrip(',').strip()},
hashed AS (SELECT doc_id, {SHINGLE_HASH_SQL} AS h FROM shingles),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
),
bands AS (
{band_selects}
)"""


def _minhash_cte() -> str:
    """WITH-body through `cand` (distinct LSH candidate pairs) — shared by
    the dedup_minhash_lsh oracle and the composed pipeline oracle."""
    return f"""{_minhash_bands_cte()},
cand AS (
  SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.bsig = b2.bsig AND b1.doc_id < b2.doc_id
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_cte()}
SELECT d1, d2 FROM cand
ORDER BY d1, d2
"""


def bands_of(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bsig) MinHash band signatures of an arbitrary
    (doc_id, text) frame — the index-build kernel, also applied per
    micro-batch by the streaming probe (streaming_dedup_lsh)."""
    # Shingle hashes are computed once each (one md5 per shingle) inside a
    # narrow explode — no distinct: min() is insensitive to shingle
    # multiplicity, so the dedup shuffle is skipped entirely. The 16
    # permuted mins run in ONE whole-stage-codegen'd hash aggregate whose
    # map-side partial mins shrink the shuffle to |docs| rows × 16 ints
    # (the reference's streaming pre-aggregation pattern,
    # be/src/exec/partitioned-aggregation-node.h:45-75). Token array is
    # materialized first — see _trigrams_of for why.
    # (r12 note: an all-HOF zero-shuffle variant — per-doc hash array +
    # 16 array_min(transform(...)) passes — was A/B'd and is 4.6× SLOWER
    # at sf0.1: the lambdas run interpreted while this explode+aggregate
    # form stays in codegen, and the exchange it would remove is already
    # |docs|-sized thanks to the partial mins. Kept as-is per guide §2.3
    # "aggregate before you shuffle".)
    hashed = (
        docs.withColumn("toks", F.split("text", " "))
        .select("doc_id", F.explode(_trigrams_of(F.col("toks"))).alias("sh"))
        .select(
            "doc_id",
            (F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("bigint") % P).alias("h"),
        )
    )
    # Expressions are built as consolidated SQL strings (one F.expr) rather
    # than nested Column operators: every Column op is a py4j round trip,
    # and the 16-min + 4-band tree costs ~150 of them (~0.35 s of DRIVER
    # time per fresh plan at local[32]) — pure plan-construction overhead
    # that the string form collapses to 2 calls with an identical analyzed
    # plan. The SQL text mirrors _minhash_bands_cte, same formulas.
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({2 * j + 3} * h + {5 * j + 7}) % {P})").alias(f"m{j}")
            for j in range(N_HASH)
        ]
    )
    return _bands_from_sig(sig)


def _bands_from_sig(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bsig) band signatures from a (doc_id, m0..m15)
    MinHash signature frame — shared by bands_of and by rows that
    already hold a signature table (dedup_minhash_accuracy_report), so
    they never rebuild the corpus pipeline a second time."""
    bands_sql = ", ".join(
        "struct({b} AS band, md5(concat_ws('_', {ms})) AS bsig)".format(
            b=b,
            ms=", ".join(
                f"m{j}" for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return sig.select(
        "doc_id", F.explode(F.expr(f"array({bands_sql})")).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bsig").alias("bsig"))


def lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, bsig) MinHash band signatures over the planted-twin
    corpus — the persistable LSH index shared by the pair generator and
    the incremental probe."""
    return bands_of(corpus(spark, sf_dir))


def lsh_candidate_pairs_of(docs: DataFrame) -> DataFrame:
    """Distinct MinHash-LSH candidate pairs (d1, d2) over an arbitrary
    (doc_id, text) frame — the shared candidate generator for
    dedup_minhash_lsh and the composed near-dedup pipeline."""
    return _pairs_from_bands(bands_of(docs))


def _pairs_from_bands(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs (d1, d2) from a (doc_id, band, bsig) band
    frame."""
    return _bucket_pairs(bands, ("band", "bsig"), "doc_id", "d1", "d2")


def _bucket_pairs(
    rows: DataFrame, bucket: tuple[str, str], id_col: str, left: str, right: str
) -> DataFrame:
    """Distinct (left, right) pairs, left < right, of the ``id_col`` values
    that share a ``bucket`` key.

    groupBy + in-bucket pair expansion: ONE exchange on the bucket key,
    instead of a self-join's two (and the self-join would execute the
    signature lineage twice). Pair count per bucket is k², bounded by
    near-dup cluster size — the same bound the self-join has; a giant
    bucket means a degenerate band either way. Two chained Generate
    nodes, not a flatten/transform lambda tree: generators stay in
    whole-stage codegen while nested lambdas run interpreted per element
    and allocate a struct per pair (measured 1.54 s vs 1.12 s for the
    embedding-LSH candidate stage at sf0.1, identical pairs). A pair
    colliding in several buckets comes out once."""
    ids = F.sort_array(F.collect_list(id_col))
    return (
        rows.groupBy(*bucket)
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
        .select("ids", F.posexplode("ids").alias("i", left))
        .select(
            left,
            F.explode(F.expr("slice(ids, i + 2, size(ids) - i - 1)")).alias(right),
        )
        .distinct()
    )


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs over the planted-twin fixture corpus."""
    return lsh_candidate_pairs_of(corpus(spark, sf_dir))


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding — the 100 TB near-dup path: signature agg is one
    shuffle on doc_id, the bucket join shuffles on (band, band_sig) and its
    output is proportional to true candidates, never n²."""
    return lsh_candidate_pairs(spark, sf_dir).orderBy("d1", "d2")


# --------------------------------------------------------------------------
def _simhash_oracle() -> str:
    # 64-bit simhash (Manku et al. 2007's production config: f=64, k=3)
    # from two md5-derived 32-bit words per shingle; banded hamming join
    # on 4×16-bit chunks (pigeonhole still covers hamming ≤ 3, and a
    # 16-bit band has 65536 values where the former 8-bit band had 256 —
    # the band-occupancy self-join stays out of the Σ occupancy² regime
    # as the corpus grows). The signature lives as 4 chunk ROWS, never a
    # packed 64-bit scalar, so bit 63 cannot touch the BIGINT sign bit.
    return f"""
WITH {CORPUS_SQL.strip()},
{SHINGLES_SQL.strip().lstrip(',').strip()},
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5(sh), 9, 8))::BIGINT AS h2
  FROM shingles
),
bits AS (
  SELECT doc_id, b.bit,
         CAST(sum(CASE WHEN (CASE WHEN b.bit < 32 THEN (h1 >> b.bit) & 1
                             ELSE (h2 >> (b.bit - 32)) & 1 END) = 1
                  THEN 1 ELSE -1 END) AS BIGINT) AS s
  FROM hashed, (SELECT unnest(range(64)) AS bit) b
  GROUP BY doc_id, b.bit
),
chunks AS (
  SELECT doc_id, bit // 16 AS chunk,
         CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << (bit % 16)
                  ELSE 0 END) AS BIGINT) AS ck
  FROM bits GROUP BY doc_id, bit // 16
),
cand AS (
  SELECT DISTINCT c1.doc_id AS d1, c2.doc_id AS d2
  FROM chunks c1 JOIN chunks c2
    ON c1.chunk = c2.chunk AND c1.ck = c2.ck AND c1.doc_id < c2.doc_id
),
ham AS (
  SELECT c.d1, c.d2,
         CAST(sum(bit_count(xor(ca.ck, cb.ck))) AS INT) AS hamming
  FROM cand c
  JOIN chunks ca ON ca.doc_id = c.d1
  JOIN chunks cb ON cb.doc_id = c.d2 AND cb.chunk = ca.chunk
  GROUP BY c.d1, c.d2
)
SELECT d1, d2, hamming FROM ham
WHERE hamming <= 3
ORDER BY d1, d2
"""


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup at the published production configuration
    (Manku et al. 2007, WWW: f=64 bits, k=3): 64-bit signature per doc
    from two md5-derived 32-bit words per shingle, candidates via
    4×16-bit chunk banding (pigeonhole: hamming ≤ 3 ⇒ some chunk
    equal), exact hamming on candidates. All-integer → bit-identical
    across engines.

    Band width is the scale dial: the former 32-bit/8-bit-band form
    had 256 values per band, so the band self-join carried
    Σ occupancy² ≈ n²/256 candidate pairs (5.9× at the 10× smoke);
    16-bit bands cut random collisions 256×. The signature stays as 4
    chunk ROWS (never a packed 64-bit scalar — bit 63 would wrap the
    BIGINT sign in both engines)."""
    hashed = shingles(spark, sf_dir).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("sh")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h1"),
        F.conv(F.substring(F.md5(F.col("sh")), 9, 8), 16, 10)
        .cast("bigint")
        .alias("h2"),
    )
    # 64 columnar ± sums in ONE doc-keyed aggregate — never a 64×-row
    # bit explosion through the shuffle (the exploded form tripled the
    # op's wall time; the shuffle here carries |docs| rows of 64 ints,
    # map-side combined). Each sum is ONE F.expr SQL string: the former
    # nested F.when trees cost ~300 py4j column-construction round
    # trips and made this the registry's slowest PLAN BUILD (1.1 s —
    # the only query over the r11 1.0 s driver-side budget); string
    # exprs build the same plan in ~0.4 s.
    bit_sums = [
        F.expr(
            "sum(CASE WHEN (({w} >> {r}) & 1) = 1 THEN 1 ELSE -1 END)".format(
                w="h1" if b < 32 else "h2", r=b if b < 32 else b - 32
            )
        ).alias(f"s{b}")
        for b in range(64)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_sums)

    def _chunk(k: int) -> F.Column:
        terms = " + ".join(
            f"CASE WHEN s{16 * k + j} > 0 THEN {1 << j} ELSE 0 END"
            for j in range(16)
        )
        return F.expr(f"CAST({terms} AS BIGINT)")

    # persist: FOUR consumers (both candidate join sides + both hamming
    # join sides) each re-ran the whole shingle→bit-sum pipeline
    # uncached (8 corpus scans in the executed plan; 1 after). |docs|×4
    # narrow rows — the persisted band index this op's 100 TB shape
    # already calls for (r12, guide §5).
    chunks = seam(sums.select(
        "doc_id",
        F.posexplode(F.array(*[_chunk(k) for k in range(4)])).alias(
            "chunk", "ck"
        ),
    ))
    c1 = chunks.select(F.col("doc_id").alias("d1"), "chunk", "ck")
    c2 = chunks.select(
        F.col("doc_id").alias("d2"),
        F.col("chunk").alias("chunk2"),
        F.col("ck").alias("ck2"),
    )
    cand = (
        c1.join(
            c2,
            (F.col("chunk") == F.col("chunk2"))
            & (F.col("ck") == F.col("ck2"))
            & (F.col("d1") < F.col("d2")),
        )
        .select("d1", "d2")
        .distinct()
    )
    ca = chunks.select(
        F.col("doc_id").alias("d1"), "chunk", F.col("ck").alias("cka")
    )
    cb = chunks.select(
        F.col("doc_id").alias("d2b"),
        F.col("chunk").alias("chunkb"),
        F.col("ck").alias("ckb"),
    )
    return (
        cand.join(ca, "d1")
        .join(
            cb,
            (F.col("d2") == F.col("d2b")) & (F.col("chunk") == F.col("chunkb")),
        )
        .groupBy("d1", "d2")
        .agg(
            F.sum(F.bit_count(F.col("cka").bitwiseXOR(F.col("ckb"))))
            .cast("int")
            .alias("hamming")
        )
        .filter(F.col("hamming") <= 3)
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection: the semantic-dedup stage of a
# training-data pipeline (exact/minhash/simhash above are lexical). Pairs
# with cosine >= threshold are duplicates; each duplicated vector reports
# its lowest-id partner as the canonical representative.
#
# Scale design — blocked exact all-pairs, NOT a broadcast nested loop:
# an exact cosine threshold of 0.45 sits in the regime hyperplane LSH
# cannot prune with guaranteed recall (collision prob 0.65/plane for a
# qualifying pair vs 0.50 for a random one — any banded scheme that
# prunes also misses borderline pairs, and this fixture's qualifying
# pairs start at cosine 0.4501).  The distributed-exact pattern is block
# outer product: vectors are assigned to B id-blocks, each vector is
# replicated to the B block-pair groups it participates in, and each of
# the B(B+1)/2 groups computes its n/B × n/B cosine tile with one BLAS
# matmul inside applyInPandas, emitting ONLY qualifying pairs.  The n²
# candidate rows never exist as Spark rows, no side is broadcast, and
# per-task memory is 2·(n/B)·dim doubles — B is the single knob trading
# replication (n·B rows shuffled) against task count at 100 TB.  True
# sub-quadratic candidate pruning (when the threshold is high enough for
# it) is the LSH/IVF family in extensions/similarity.py.
_EMB_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         list_dot_product(a.e, b.e)
           / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
           AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT left_id, right_id, round(cosine, 6) AS cosine
FROM pairs
WHERE cosine >= 0.45
ORDER BY left_id, right_id
"""


_EMB_BLOCKS = 8  # B(B+1)/2 = 36 tiles; raise with corpus size (see above)

# Hard envelope on the blocked-exact path (r12, VERDICT r11 directive #6):
# work is Θ(n²) dot products no matter how the tiles are carved, so the
# recipe is bounded-corpus BY DESIGN — the sf10 sweep (200k vectors =
# 2·10¹⁰ pairs) proved the failure mode when nothing enforced it.  The
# bound is checked from parquet FOOTER metadata (no Spark job — plan-build
# stays inside the 1.0 s budget): 50k vectors ≈ 1.25·10⁹ pairs ≈ the sf1
# fixture (20k, swept strict-green in r11) with 6× headroom.  Above it,
# callers are redirected to the sub-quadratic recipes (dedup_embedding_lsh
# at dedup-strength thresholds, sim_ivf_ann/semdedup for retrieval).
_EMB_EXACT_MAX_ROWS = 50_000


def _parquet_footer_rows(path: str) -> int | None:
    """Row count from parquet footer metadata (file or directory of part
    files); None when the fixture layout is something else entirely —
    the envelope check is then skipped rather than guessed."""
    import glob
    import os

    import pyarrow.parquet as pq

    try:
        if os.path.isdir(path):
            return sum(
                pq.read_metadata(f).num_rows
                for f in glob.glob(os.path.join(path, "*.parquet"))
            )
        return pq.read_metadata(path).num_rows
    except Exception:
        return None


@query("dedup_embedding", oracle=_EMB_ORACLE)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    n_rows = _parquet_footer_rows(f"{sf_dir}/embeddings.parquet")
    if n_rows is not None and n_rows > _EMB_EXACT_MAX_ROWS:
        raise ValueError(
            f"dedup_embedding is the EXACT all-pairs recipe — Θ(n²) cosine "
            f"work by design — and the corpus at {sf_dir} has {n_rows:,} "
            f"vectors (> {_EMB_EXACT_MAX_ROWS:,}). "
            f"Use dedup_embedding_lsh (banded hyperplane LSH, recall→1 at "
            f"dedup-strength thresholds) or the IVF/semdedup recipes in "
            f"extensions/similarity.py."
        )

    B = _EMB_BLOCKS
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # Replicate each vector into every block-pair group it belongs to: a
    # vector in block b participates in tiles (min(b,k), max(b,k)) for all
    # k — each unordered vector pair lands in exactly one tile.
    blk = F.pmod(F.col("vec_id"), F.lit(B)).cast("int")
    tiles = F.array(
        *[
            F.struct(
                F.least(F.col("b"), F.lit(k)).alias("p"),
                F.greatest(F.col("b"), F.lit(k)).alias("q"),
            )
            for k in range(B)
        ]
    )
    exploded = (
        emb.withColumn("b", blk)
        .withColumn("t", F.explode(tiles))
        .select(F.col("t.p").alias("p"), F.col("t.q").alias("q"), "vec_id", "b", "e")
    )

    def score_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        p, q = key
        ids = pdf["vec_id"].to_numpy()
        m = np.vstack(pdf["e"].to_numpy())
        norms = np.sqrt((m * m).sum(axis=1))
        if p == q:
            g = (m @ m.T) / np.outer(norms, norms)
            ia, ib = np.triu_indices(len(ids), k=1)
            la, ra = ids[ia], ids[ib]
            cos = g[ia, ib]
        else:
            amask = pdf["b"].to_numpy() == p
            ids_a, ids_b = ids[amask], ids[~amask]
            g = (m[amask] @ m[~amask].T) / np.outer(norms[amask], norms[~amask])
            la = np.repeat(ids_a, len(ids_b))
            ra = np.tile(ids_b, len(ids_a))
            cos = g.ravel()
        keep = cos >= 0.45
        la, ra, cos = la[keep], ra[keep], cos[keep]
        return pd.DataFrame(
            {
                "left_id": np.minimum(la, ra),
                "right_id": np.maximum(la, ra),
                "cosine": cos,
            }
        )

    pairs = exploded.groupBy("p", "q").applyInPandas(
        score_tile, schema="left_id long, right_id long, cosine double"
    )
    return order_after_python(
        pairs.select("left_id", "right_id", F.round("cosine", 6).alias("cosine")),
        "left_id",
        "right_id",
    )


# --------------------------------------------------------------------------
# Scale-first semantic dedup: banded hyperplane-LSH candidates + exact
# cosine rescore — the DEFAULT recipe at dedup-strength thresholds
# (cosine >= ~0.7), where banded recall is drivable arbitrarily close to 1:
# P(candidate) = 1 − (1 − p^r)^b with p = 1 − acos(cos)/π. At 88 bands of
# 12 planes a cosine-0.87 pair is missed with P ≈ 2e-5 (≈ 7e-2 at the 0.7
# threshold itself — raise b to push the recall knee lower) while a
# random pair collides with P ≈ 88/2^12 ≈ 2% — candidates are ~50× fewer
# than all-pairs, improving with r at fixed b·2^−r. Contrast
# dedup_embedding above: at threshold 0.45 no banded scheme prunes without
# losing borderline pairs, so blocked exact all-pairs is the (bounded-
# corpus) fallback there. COVERAGE.md records which recipe at which
# threshold.
#
# The fixture corpus tops out at cosine ~0.51, so (mirroring CORPUS_SQL's
# planted-twin pattern) the query unions a deterministically perturbed
# copy of every 10th vector (every 16th component zeroed → cosine
# sqrt(1 − f) ∈ [0.87, 0.97] vs its source); the oracle builds the identical
# corpus and scores ALL pairs exactly — a green hash proves the LSH path
# reached recall 1 on every qualifying pair.
#
# 100 TB shape: signature stage is one narrow Arrow-batched matmul per
# batch (1056 plane dots amortized into a single BLAS call); candidates
# come from one self-equi-join on (band, bucket); rescore touches only
# surviving pairs. No broadcast of the corpus, no n² rows.
_EMB_LSH_BANDS = 88
_EMB_LSH_PLANES_PER_BAND = 12
_EMB_LSH_TAU = 0.7
# COUPLING: dedup_embedding_lsh and dedup_threshold_sweep both take their
# candidates from _emb_lsh_candidates, while both oracles score EXACT all
# pairs — the green compares rest on recall 1 at tau >= 0.7 with THESE
# band parameters on THIS fixture. Changing either constant (or the
# fixture) requires re-validating both queries; a recall drop shows up as
# an oracle mismatch in both, which is intentional (the compare IS the
# recall audit).
_EMB_TWIN_CORPUS_SQL = """base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
pert AS (
  SELECT vec_id + 100000 AS vec_id,
         list_transform(e, (x, i) -> CASE WHEN (i - 1) % 16 = 0
                                          THEN 0.0 ELSE x END) AS e
  FROM base WHERE vec_id % 10 = 0
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert)"""

_EMB_LSH_ORACLE = f"""
WITH {_EMB_TWIN_CORPUS_SQL},
pairs AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         list_dot_product(a.e, b.e)
           / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
           AS cosine
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT left_id, right_id, round(cosine, 6) AS cosine
FROM pairs
WHERE cosine >= {_EMB_LSH_TAU}
ORDER BY left_id, right_id
"""


def _emb_twin_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e) embeddings as doubles plus a planted near-twin of every
    10th vector — mirrors _EMB_TWIN_CORPUS_SQL."""
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # Planted near-dups: zero every 16th component (0-based idx here ↔
    # 1-based (i-1) in the DuckDB lambda). Zeroing is FP-exact, so the
    # derived corpus is bit-identical across engines.
    pert = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "e", lambda x, i: F.when(i % 16 == 0, F.lit(0.0)).otherwise(x)
        ).alias("e"),
    )
    return base.unionByName(pert)


def _emb_lsh_candidates(idx: DataFrame) -> DataFrame:
    """(left_id, right_id) pairs that share a band bucket of the LSH index
    ``idx`` (vec_id, sigs, q, qs, nrm) and whose int8 cosine bound reaches
    _EMB_LSH_TAU.

    Bulk pre-filter on int8 proxy codes (r13, guide §2.3/§8): candidate
    pairs outnumber corpus rows ~350:1 at sf1, so the rescore cost is the
    per-pair bytes crossing Arrow — 64 B codes + 2 scalars instead of
    512 B doubles per side (~7x fewer bytes), and cosine_ub_pair is a
    PROVABLE upper bound (derivation in vector_kernels.py), so no pair
    that can reach tau is dropped. Only survivors (planted twins + a thin
    margin band) pay the exact double-precision kernel."""
    from minimised_impala_spark.extensions import vector_kernels as VK

    bands = idx.select("vec_id", F.posexplode("sigs").alias("band", "bucket"))
    cand = _bucket_pairs(bands, ("band", "bucket"), "vec_id", "left_id", "right_id")
    qa = idx.select(
        F.col("vec_id").alias("left_id"), F.col("q").alias("lq"),
        F.col("qs").alias("lqs"), F.col("nrm").alias("lnrm"),
    )
    qb = idx.select(
        F.col("vec_id").alias("right_id"), F.col("q").alias("rq"),
        F.col("qs").alias("rqs"), F.col("nrm").alias("rnrm"),
    )
    return (
        cand.join(qa, "left_id")
        .join(qb, "right_id")
        # *_once: the filter on the UDF output column otherwise gets
        # pushed below the projection and the kernel runs twice (§4.4)
        .select(
            "left_id",
            "right_id",
            VK.cosine_ub_pair_once(
                "lq", "lqs", "lnrm", "rq", "rqs", "rnrm"
            ).alias("ub"),
        )
        .filter(F.col("ub") >= _EMB_LSH_TAU)
        .select("left_id", "right_id")
    )


@query("dedup_embedding_lsh", oracle=_EMB_LSH_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.extensions import vector_kernels as VK
    from minimised_impala_spark.shipping import ship_module_by_value

    ship_module_by_value("minimised_impala_spark.extensions.vector_kernels")

    prep = VK.make_lsh_prep_udf(
        spark, _EMB_LSH_BANDS, _EMB_LSH_PLANES_PER_BAND, with_norm_vec=True
    )
    # ONE persisted index carrying the banded signatures, the normalized
    # vector AND the int8 proxy codes for the rescore pre-filter, all
    # from a single Arrow crossing (r12 + r13, guide §4.1: the
    # JVM↔Python crossing is the cost — cross once with every output:
    # separate signature and normalize UDFs each put their own
    # ArrowEvalPython over their own corpus scan).
    corpus_df = _emb_twin_corpus(spark, sf_dir)
    idx = seam(corpus_df.select("vec_id", prep("e").alias("p")).select(
        "vec_id", "p.ne", "p.sigs", "p.q", "p.qs", "p.nrm"
    ))
    survivors = _emb_lsh_candidates(idx)
    norm = idx.select("vec_id", "ne")
    scored = (
        survivors.join(
            norm.select(F.col("vec_id").alias("left_id"), F.col("ne").alias("le")),
            "left_id",
        )
        .join(
            norm.select(F.col("vec_id").alias("right_id"), F.col("ne").alias("re")),
            "right_id",
        )
        # *_once: the >= filter on the UDF output column otherwise gets
        # pushed below the projection and the kernel runs twice per pair
        # (two ArrowEvalPython nodes in the before-plan; guide §4.4)
        .select("left_id", "right_id", VK.dot_pair_once("le", "re").alias("cosine"))
        .filter(F.col("cosine") >= _EMB_LSH_TAU)
        .select("left_id", "right_id", F.round("cosine", 6).alias("cosine"))
    )
    return order_after_python(scored, "left_id", "right_id")


# --------------------------------------------------------------------------
# Duplicate resolution policy: real pipelines keep the HIGHEST-QUALITY copy
# of each duplicate group, not an arbitrary one — rank within the exact-
# duplicate group (content hash) by quality (longer text, then lower id as
# the deterministic tiebreak) and keep rank 1. One window pass, one shuffle
# on the content hash.
_KEEP_BEST_ORACLE = """
WITH ranked AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY length(text) DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY md5(text)) AS group_size
  FROM corpus
)
SELECT doc_id, CAST(group_size AS BIGINT) AS group_size
FROM ranked
WHERE rn = 1 AND group_size > 1
ORDER BY doc_id
""".replace("corpus", "(" + CORPUS_SQL.strip()[len("corpus AS ("):-1] + ")")


@query("dedup_keep_best", oracle=_KEEP_BEST_ORACLE)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    c = corpus(spark, sf_dir)
    w = W.partitionBy(F.md5("text")).orderBy(F.length("text").desc(), F.col("doc_id"))
    wc = W.partitionBy(F.md5("text"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(wc))
        .filter((F.col("rn") == 1) & (F.col("group_size") > 1))
        .select("doc_id", F.col("group_size").cast("bigint").alias("group_size"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Duplicate clustering: pairwise candidates (the LSH output) are only half
# the dedup story — transitive pairs must collapse into CLUSTERS (a≈b,
# b≈c ⇒ {a,b,c}), i.e. connected components over the pair graph
# (operators/graph.py: min-label propagation + pointer jumping —
# O(log diameter) rounds of key-partitioned joins, the 100 TB path).
# Edge set here is deterministic: every doc pairs with its twin
# (doc_id+100000), and chain edges (d, d+1 | d%10<4) create multi-hop
# components of up to 10 nodes so convergence genuinely takes >1 round.
# The oracle computes the same components via DuckDB's recursive CTE —
# the iterative algorithm IS SQL-expressible through WITH RECURSIVE.
_CC_ORACLE = """
WITH RECURSIVE
edges AS (
  SELECT doc_id AS u, doc_id + 100000 AS v FROM documents
  UNION ALL
  SELECT d1.doc_id AS u, d2.doc_id AS v
  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
  WHERE d1.doc_id % 10 < 4
),
sym AS (
  SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges
),
nodes AS (SELECT DISTINCT u AS id FROM sym),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, sym.v FROM reach JOIN sym ON sym.u = reach.r
)
SELECT id AS doc_id, min(r) AS component FROM reach
GROUP BY id ORDER BY doc_id
"""


@query("dedup_cluster_cc", oracle=_CC_ORACLE)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    twin_edges = docs.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 100000).alias("dst")
    )
    d1, d2 = docs.alias("d1"), docs.alias("d2")
    chain_edges = (
        d1.join(d2, F.col("d2.doc_id") == F.col("d1.doc_id") + 1)
        .filter(F.col("d1.doc_id") % 10 < 4)
        .select(F.col("d1.doc_id").alias("src"), F.col("d2.doc_id").alias("dst"))
    )
    labels = connected_components(twin_edges.union(chain_edges))
    return labels.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# The COMPOSED near-dedup pipeline — candidates → rescore → clusters →
# representatives, end to end, exactly as a production corpus dedup runs:
#
#   1. MinHash-LSH candidate pairs      (bucket join; pairs ∝ near-dups)
#   2. exact trigram-Jaccard rescore    (shingle join restricted to
#      candidate docs — the rescore cost is ∝ candidates, never n²)
#   3. transitive closure to clusters   (distributed connected components,
#      operators/graph.py)
#   4. keep-best representative         (longest text, lowest id tiebreak)
#
# Declared semantics are candidates∩(jaccard ≥ 0.6): LSH recall misses are
# part of the contract (that is what production near-dedup ships), and the
# oracle states the identical semantics, so the differential check is
# exact. Stages 1-2 shuffle on band-key/shingle, stage 3 is O(log d)
# label-join rounds over pair rows only, stage 4 one window over the
# cluster id — no stage touches n² rows or collects to the driver.
# Oracle tractability (r11): the closure below is the semantic spec, but
# a naive (id, reachable-id) recursive CTE over ALL docs costs
# Σ_component size³ join rows — and the sf1 fixture's 10× exact-text
# replication multiplies every component by 10, i.e. 1000× the closure
# work (observed: >25 min / >40 GB in DuckDB before being killed; the
# r10 sweep stalled a whole session on it). The oracle therefore
# collapses EXACT-TEXT groups to their min-doc_id representative FIRST
# and runs the closure on the representative graph. This is an identity-
# preserving rewrite, not a relaxation:
#   * identical text ⇒ identical distinct-trigram shingle set ⇒ identical
#     minhash signature ⇒ identical band keys and Jaccard vs every other
#     doc — so every group member participates in exactly the same cand/
#     dups relations, and within-group pairs are always dups (bands
#     collide trivially, Jaccard = 1 ≥ 0.6) PROVIDED the text has ≥1
#     shingle (≥3 tokens — zero-shingle docs join nothing, in either
#     formulation: `inter` needs a common shingle);
#   * a doc appears in the original output iff it has ≥1 dup partner:
#     either its group has ≥2 members (and ≥1 shingle), or its rep has a
#     cross-group dup edge — exactly the `nodes` set below;
#   * component id = min doc_id over members = min rep over the rep-
#     component (each rep IS its group's min doc_id); rep_doc = longest
#     text then min doc_id, computable after expanding reps back to
#     members (all members share their group's text length).
_NEAR_DEDUP_ORACLE = f"""
WITH RECURSIVE {_minhash_bands_cte(
    CORPUS_SQL.strip().replace("corpus AS", "corpus_all AS", 1)
    + ''',
gmap AS (
  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY text) AS rep
  FROM corpus_all
),
corpus AS (SELECT rep AS doc_id, min(text) AS text FROM gmap GROUP BY rep)'''
)},
cand AS (
  SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.bsig = b2.bsig AND b1.doc_id < b2.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS d1, s2.doc_id AS d2, count(*) AS c
  FROM shingles s1
  JOIN shingles s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
  JOIN cand ON cand.d1 = s1.doc_id AND cand.d2 = s2.doc_id
  GROUP BY s1.doc_id, s2.doc_id
),
dups AS (
  SELECT d1, d2
  FROM inter
  JOIN sizes z1 ON z1.doc_id = d1
  JOIN sizes z2 ON z2.doc_id = d2
  WHERE c * 1.0 / (z1.sz + z2.sz - c) >= 0.6
),
sym AS (SELECT d1 AS u, d2 AS v FROM dups UNION SELECT d2 AS u, d1 AS v FROM dups),
members AS (SELECT rep, count(*) AS m FROM gmap GROUP BY rep),
nodes AS (
  SELECT DISTINCT u AS id FROM sym
  UNION
  SELECT members.rep AS id
  FROM members JOIN sizes ON sizes.doc_id = members.rep
  WHERE members.m >= 2
),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, sym.v FROM reach JOIN sym ON sym.u = reach.r
),
rcomp AS (SELECT id AS rep, min(r) AS component FROM reach GROUP BY id),
expand AS (
  SELECT g.doc_id, rc.component, length(g.text) AS len
  FROM gmap g JOIN rcomp rc ON rc.rep = g.rep
),
ranked AS (
  SELECT component, doc_id,
         row_number() OVER (PARTITION BY component
                            ORDER BY len DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY component) AS cluster_size
  FROM expand
)
SELECT CAST(component AS BIGINT)    AS component,
       CAST(doc_id AS BIGINT)      AS rep_doc,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked
WHERE rn = 1
ORDER BY component
"""


def exact_jaccard_rescore(
    cand: DataFrame, sh_r: DataFrame, threshold: float = 0.6
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: (d1, d2) with
    Jaccard(shingles(d1), shingles(d2)) >= threshold.

    ONE array_intersect per candidate pair (the prefix-filter
    verification pattern, dedup_prefix_filter below) — per-task memory
    is two doc shingle sets, corpus-INDEPENDENT.  The former
    shingle-level self-join (s1.sh == s2.sh, then groupBy pair)
    materialized k² rows per hot shingle; k scales with corpus
    replication, and the sf10 sweep (100× fixture = 10,000× pairs on
    the planted-twin shingles) hit a worker OOM there (NOTES r11;
    VERDICT r11 directive #5).  Identical semantics: ``sh_r`` carries
    DISTINCT shingles per doc, so |array_intersect| equals the pairwise
    intersection count the self-join aggregated.
    """
    sets = sh_r.groupBy("doc_id").agg(
        F.collect_list("sh").alias("shs"), F.count(F.lit(1)).alias("sz")
    )
    p1 = sets.select(
        F.col("doc_id").alias("d1"), F.col("shs").alias("shs1"),
        F.col("sz").alias("sz1"),
    )
    p2 = sets.select(
        F.col("doc_id").alias("d2"), F.col("shs").alias("shs2"),
        F.col("sz").alias("sz2"),
    )
    scored = (
        cand.join(p1, "d1")
        .join(p2, "d2")
        .withColumn("c", F.size(F.array_intersect("shs1", "shs2")))
    )
    jac = F.col("c") * 1.0 / (F.col("sz1") + F.col("sz2") - F.col("c"))
    return scored.filter(jac >= threshold).select("d1", "d2")


@query("pipeline_near_dedup", oracle=_NEAR_DEDUP_ORACLE)
def pipeline_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates → exact-Jaccard rescore → connected components,
    with an EXACT-DUPLICATE COLLAPSE first (r12): identical texts map to
    a representative (min doc_id per text), the whole near-dup pipeline
    runs over DISTINCT texts only, and members expand back at the end.
    This is the standard production staging for web-scale corpora —
    boilerplate duplicated millions of times otherwise forms m-cliques
    in every LSH bucket (m² candidate pairs, m² rescore rows, m² CC
    edges per clique). After the collapse every such clique is ONE node;
    candidates/rescore/CC cost scales with DISTINCT near-dup density.
    Found the hard way: the sf10 fixture's 100-way verbatim replication
    made every doc a 100-clique member and OOMed the CC aggregation
    (AGGREGATE_OUT_OF_MEMORY); post-collapse the pipeline is replication-
    invariant. The oracle has mirrored this staging since r11 (its gmap /
    members / expand CTEs); identity-preserving because identical text ⇒
    identical shingle set ⇒ Jaccard 1.0 within the group and identical
    scores across groups."""
    from pyspark.sql import Window as W

    from minimised_impala_spark.operators.graph import connected_components

    # The collapse exchange keys on the 16-byte md5 fingerprint — the
    # module's exact-identity key (dedup_exact) and the digest-only
    # shuffle rule (test_dedup_impact_shuffles_digests_only's lesson) —
    # never on the raw text.
    c0 = corpus(spark, sf_dir).withColumn("fp", F.md5("text"))
    wg = W.partitionBy("fp")
    gmap = c0.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.min("doc_id").over(wg).alias("rep"),
    )
    reps = (
        c0.withColumn("rep", F.min("doc_id").over(wg))
        .filter(F.col("doc_id") == F.col("rep"))
        .select("doc_id", "text")
    )
    cand = lsh_candidate_pairs_of(reps)
    sh = shingles_of(reps)
    # Restrict the rescore to docs that appear in any candidate pair
    # before the shingle self-join — at scale candidates ≪ corpus, so
    # this semi-join is what keeps the exact rescore off the full corpus.
    cand_docs = (
        cand.select(F.col("d1").alias("doc_id"))
        .union(cand.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    sh_r = sh.join(cand_docs, "doc_id", "left_semi")
    dups = exact_jaccard_rescore(cand, sh_r, threshold=0.6)
    labels = connected_components(dups, src="d1", dst="d2").select(
        F.col("id").alias("rep"), F.col("comp").alias("component")
    )
    # Identity groups with >= 2 members are duplicate cliques even when
    # their rep has no near-dup partner — they form their own component
    # (the oracle's members.m >= 2 ∧ has-shingles node rule: reps whose
    # text has < 3 tokens produce no shingles and stay out).
    msize = gmap.groupBy("rep").agg(F.count(F.lit(1)).alias("m"))
    shingled = sh.select("doc_id").distinct()
    solo = (
        msize.filter(F.col("m") >= 2)
        .join(shingled, msize.rep == shingled.doc_id, "left_semi")
        .join(labels.select("rep"), "rep", "left_anti")
        .select("rep", F.col("rep").alias("component"))
    )
    comps = labels.unionByName(solo)
    expand = gmap.join(comps, "rep").select("doc_id", "component", "n_chars")
    w = W.partitionBy("component").orderBy(F.desc("n_chars"), F.col("doc_id"))
    wc = W.partitionBy("component")
    return (
        expand.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            F.col("component").cast("bigint").alias("component"),
            F.col("doc_id").cast("bigint").alias("rep_doc"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
        .orderBy("component")
    )


# --------------------------------------------------------------------------
# Prefix-filtering similarity join (the SSJoin/PPJoin family: Chaudhuri et
# al. ICDE'06, Xiao et al. WWW'08) — a third scale path for exact-threshold
# near-dup alongside MinHash-LSH and SimHash, and unlike those it is
# EXACT end-to-end: for Jaccard ≥ t a pair must share a shingle inside
# both docs' prefixes of length L = |s| − ceil(t·|s|) + 1 under any
# consistent global ordering (rarest-first maximizes selectivity), so the
# candidate join touches only ~(1−t) of each doc's shingles and the long
# tail of the posting lists never joins. Candidates are then verified with
# one array-intersection per pair (pairs ∝ prefix collisions, not n²).
# ceil(0.6·sz) is computed in integers ((3·sz+4) div 5) — the float form
# rounds 0.6·5 up to 4 and would silently shrink the prefix (missed pairs).
# Oracle: identical output to dedup_ngram_jaccard (same exact semantics).
_PF_T_NUM, _PF_T_DEN = 3, 5  # t = 0.6


@query("dedup_prefix_filter", oracle=_JACCARD_ORACLE)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # persist: the distinct shingle stream feeds FOUR consumers (document
    # frequencies, the ranked prefix, per-doc sizes, the rescore sets) —
    # uncached each re-ran the corpus scan + shingle explode (16 scans in
    # the executed plan; 1 after — r12, guide §5)
    sh = seam(shingles(spark, sf_dir))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(dfreq, "sh").withColumn(
        "pos", F.row_number().over(W.partitionBy("doc_id").orderBy("df", "sh"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # L = sz - ceil(t*sz) + 1, all-integer
    prefix_len = (
        F.col("sz")
        - F.floor((_PF_T_NUM * F.col("sz") + _PF_T_DEN - 1) / _PF_T_DEN)
        + 1
    )
    pre = ranked.join(sizes, "doc_id").filter(F.col("pos") <= prefix_len)
    a = pre.select(F.col("doc_id").alias("d1"), "sh")
    b = pre.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    cand = (
        a.join(b, (F.col("sh") == F.col("sh2")) & (F.col("d1") < F.col("d2")))
        .select("d1", "d2")
        .distinct()
    )
    arrs = sh.groupBy("doc_id").agg(F.collect_set("sh").alias("shset"))
    a1 = arrs.select(F.col("doc_id").alias("d1"), F.col("shset").alias("s1"))
    a2 = arrs.select(F.col("doc_id").alias("d2"), F.col("shset").alias("s2"))
    c = F.size(F.array_intersect("s1", "s2"))
    jac = c * 1.0 / (F.size("s1") + F.size("s2") - c)
    return (
        cand.join(a1, "d1")
        .join(a2, "d2")
        .filter(jac >= _PF_T_NUM / _PF_T_DEN)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
# Incremental (batch-vs-corpus) near-dup — the nightly-ingest shape: an
# arriving batch (doc_id % 10 = 7 here) is probed against the standing
# corpus's LSH band index WITHOUT re-pairing the corpus against itself.
# At 100 TB the band index (|docs| × N_BANDS narrow rows) is a persisted
# table partitioned on (band, bsig); each ingest shuffles only the new
# batch's bands into it, so cost ∝ |batch| + collisions, independent of
# corpus size. Candidates are exact-rescored (set Jaccard ≥ 0.6) and each
# new doc reports its best corpus match (max jaccard, then min corpus id).
# The LSH probe is deterministic (md5-derived hashes), so the oracle
# reproduces the same index and probe in SQL — both engines agree on
# candidates AND scores.
# The same statement answers streaming_dedup_lsh, which runs this probe
# per micro-batch.
INCREMENTAL_ORACLE = f"""
WITH {_minhash_bands_cte()},
cand AS (
  SELECT DISTINCT b1.doc_id AS new_id, b2.doc_id AS corpus_id
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.bsig = b2.bsig
   AND b1.doc_id % 10 = 7 AND b2.doc_id % 10 <> 7
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.new_id, c.corpus_id, count(*) AS c
  FROM cand c
  JOIN shingles s1 ON s1.doc_id = c.new_id
  JOIN shingles s2 ON s2.doc_id = c.corpus_id AND s2.sh = s1.sh
  GROUP BY c.new_id, c.corpus_id
),
scored AS (
  SELECT i.new_id, i.corpus_id,
         i.c * 1.0 / (z1.sz + z2.sz - i.c) AS jac
  FROM inter i
  JOIN sizes z1 ON z1.doc_id = i.new_id
  JOIN sizes z2 ON z2.doc_id = i.corpus_id
  WHERE i.c * 1.0 / (z1.sz + z2.sz - i.c) >= 0.6
),
best AS (
  SELECT new_id, corpus_id, jac,
         row_number() OVER (PARTITION BY new_id
                            ORDER BY jac DESC, corpus_id) AS r
  FROM scored
)
SELECT new_id, corpus_id AS match_id, round(jac, 6) AS jaccard
FROM best WHERE r = 1
ORDER BY new_id
"""


@query("dedup_incremental", oracle=INCREMENTAL_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # persist both shared seams (r12, guide §5): the band index feeds the
    # batch AND corpus probe sides (uncached, each re-ran the whole
    # corpus→signature pipeline — 8 scans in the executed plan; 1 after),
    # and the shingle sets feed both rescore sides. The persisted band
    # index IS this op's documented 100 TB shape.
    bands = seam(lsh_bands(spark, sf_dir))
    is_new = F.col("doc_id") % 10 == 7
    new_b = bands.filter(is_new).select(
        F.col("doc_id").alias("new_id"), "band", "bsig"
    )
    corp_b = bands.filter(~is_new).select(
        F.col("doc_id").alias("corpus_id"), "band", "bsig"
    )
    cand = new_b.join(corp_b, ["band", "bsig"]).select("new_id", "corpus_id").distinct()
    arrs = seam(shingles(spark, sf_dir).groupBy("doc_id").agg(
        F.collect_set("sh").alias("shset")
    ))
    a1 = arrs.select(F.col("doc_id").alias("new_id"), F.col("shset").alias("s1"))
    a2 = arrs.select(F.col("doc_id").alias("corpus_id"), F.col("shset").alias("s2"))
    c = F.size(F.array_intersect("s1", "s2"))
    jac = c * 1.0 / (F.size("s1") + F.size("s2") - c)
    w = W.partitionBy("new_id").orderBy(F.desc("jac"), F.asc("corpus_id"))
    return (
        cand.join(a1, "new_id")
        .join(a2, "corpus_id")
        .select("new_id", "corpus_id", jac.alias("jac"))
        .filter(F.col("jac") >= 0.6)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("new_id", F.col("corpus_id").alias("match_id"),
                F.round("jac", 6).alias("jaccard"))
        .orderBy("new_id")
    )


# --------------------------------------------------------------------------
def _edit_distance_oracle() -> str:
    return f"""
WITH {_minhash_cte()}
SELECT c.d1, c.d2, CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
FROM cand c
JOIN corpus a ON a.doc_id = c.d1
JOIN corpus b ON b.doc_id = c.d2
WHERE levenshtein(a.text, b.text)
      <= CAST(floor(0.2 * greatest(length(a.text), length(b.text))) AS BIGINT)
ORDER BY d1, d2
"""


@query("dedup_edit_distance", oracle=_edit_distance_oracle())
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup: LSH candidate generation → exact Levenshtein
    rescore with a length-relative threshold (dist ≤ 20% of the longer
    text). The expensive O(len²) DP runs ONLY on LSH-colliding pairs —
    candidates ∝ true near-dups — never all-pairs; at 100 TB the rescore
    is a narrow map over the (joined) candidate rows, texts shuffled once
    by doc_id. Both engines compute standard Levenshtein; the threshold
    uses explicit floor() (DuckDB CAST rounds, Spark CAST truncates — the
    one cross-engine trap in this query)."""
    # ONE persisted corpus feeds the candidate generator AND both
    # rescore sides — previously lsh_candidate_pairs rebuilt its own
    # corpus and a/b re-scanned twice more (6 scans; 1 after — r12, §5)
    c = seam(corpus(spark, sf_dir))
    pairs = lsh_candidate_pairs_of(c)
    a = c.select(F.col("doc_id").alias("d1"), F.col("text").alias("t1"))
    b = c.select(F.col("doc_id").alias("d2"), F.col("text").alias("t2"))
    lev = F.levenshtein("t1", "t2")
    thr = F.floor(0.2 * F.greatest(F.length("t1"), F.length("t2")))
    return (
        pairs.join(a, "d1")
        .join(b, "d2")
        .filter(lev <= thr)
        .select("d1", "d2", lev.cast("bigint").alias("edit_dist"))
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
def _containment_oracle() -> str:
    return f"""
WITH {CORPUS_SQL.strip()},
{SHINGLES_SQL.strip().lstrip(',').strip()},
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
  FROM shingles a JOIN shingles b ON b.sh = a.sh AND b.doc_id <> a.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.d1, i.d2, round(i.c * 1.0 / s1.sz, 6) AS containment
FROM inter i JOIN sizes s1 ON s1.doc_id = i.d1
WHERE i.c * 1.0 / s1.sz >= 0.9
ORDER BY d1, d2
"""


@query("dedup_containment", oracle=_containment_oracle())
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle containment C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| —
    the quote/near-superset detector (CCNet-style): Jaccard misses a short
    doc fully embedded in a long one (union dominates), containment flags
    it. Directional output: (d1, d2) where ≥90% of d1's trigrams appear
    in d2. Same shingle-posting join shape as dedup_ngram_jaccard (the
    exact baseline — candidates ∝ shared shingles); at 100 TB route
    candidates through the LSH/prefix-filter generators first and use
    this as the rescore, exactly like dedup_edit_distance does."""
    # persist: three consumers (sizes + both join sides) each re-ran
    # the corpus scan + shingle explode uncached (r12, guide §5)
    sh = seam(shingles(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("d1"), "sh")
    b = sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = (
        a.join(b, (F.col("sh") == F.col("sh2")) & (F.col("d1") != F.col("d2")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    cont = F.col("c") * 1.0 / F.col("sz1")
    return (
        inter.join(s1, "d1")
        .filter(cont >= 0.9)
        .select("d1", "d2", F.round(cont, 6).alias("containment"))
        .orderBy("d1", "d2")
    )


# ------------------------------------------------------------ semdedup --
# SemDeDup (Abbas et al., 2023, arXiv:2303.09540): k-means-cluster the
# embedding space, then remove semantic duplicates ONLY within each
# cluster — the clustering bounds the pairwise work to Σ|cluster|²
# instead of n², which is the whole point at 100 TB (plus: cap cluster
# size / raise K as the corpus grows; near-dups land in the same cluster
# by construction, so recall loss is the distance between SemDeDup and
# exact all-pairs, accepted by design).
#
# Determinism contract (same as sim_kmeans_cluster): centroids are the K
# lowest-id vectors, assignment argmin on round-6 squared L2 with index
# tie-break, in-cluster cosine round-6 vs the threshold. All output
# columns integer/boolean.
_SEM_K = 8
_SEM_TAU = 0.4

_SEMDEDUP_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
cent AS (SELECT vec_id AS c, e FROM v WHERE vec_id < {_SEM_K}),
a AS (
  SELECT vec_id, e, c FROM (
    SELECT v.vec_id, v.e, cent.c,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY round(list_distance(v.e, cent.e) * list_distance(v.e, cent.e), 6),
                      cent.c) AS rn
    FROM v CROSS JOIN cent) t
  WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT hi.vec_id
  FROM a lo JOIN a hi
    ON lo.c = hi.c AND lo.vec_id < hi.vec_id
  WHERE round(list_cosine_similarity(lo.e, hi.e), 6) > {_SEM_TAU}
)
SELECT a.vec_id, CAST(a.c AS INT) AS cluster,
       d.vec_id IS NULL AS kept
FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
ORDER BY a.vec_id
"""


@query("dedup_semdedup", oracle=_SEMDEDUP_ORACLE)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster embeddings (deterministic single-pass
    assignment to the K lowest-id seed vectors), then drop any vector
    with a lower-id in-cluster neighbor above cosine 0.4. The in-cluster
    self-join shuffles on the cluster id, so compared pairs are
    Σ|cluster|², not n² — the scale recipe is K ∝ corpus size (the
    SemDeDup paper uses K=11k for LAION); dedup_embedding_lsh is the
    sibling for threshold regimes where banded LSH recall is provable,
    and blocked-exact dedup_embedding the bounded-corpus fallback.

    Output: (vec_id, cluster, kept) for every vector.
    """
    from pyspark.sql import Window as W

    from minimised_impala_spark.extensions import vector_kernels as VK
    from minimised_impala_spark.shipping import ship_module_by_value

    ship_module_by_value("minimised_impala_spark.extensions.vector_kernels")

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    centers = [
        list(r.e)
        for r in emb.filter(F.col("vec_id") < _SEM_K).orderBy("vec_id").collect()
    ]
    # Identical-vector collapse (r12, the near-dedup staging applied to
    # embeddings): the in-cluster self-join is Σ|cluster|², and verbatim
    # duplicates all land in the same cluster — m copies inflate its
    # pairwise term m² (the sf10 fixture's 100-way replication blew the
    # 1200 s sweep clamp here). Dedup semantics are derivable per GROUP:
    # a non-rep member always has its own rep as a lower-id identical
    # neighbor, so it is dropped exactly when round6(cos(e, e)) > τ —
    # self-cosine, which also preserves the zero-vector NaN edge (NaN
    # comparisons are false → zero-vector copies stay kept, as in the
    # pairwise form). Reps run the ORIGINAL algorithm over distinct
    # vectors: ∃ lower-id neighbor u of rep r with cos > τ ⟺ ∃ group
    # G' in-cluster with min(G') < r and cos(G', r) > τ — min(G') is
    # G''s rep, so the rep-level pairwise is exhaustive. Cluster
    # assignment is per-row (linear) and unchanged.
    w_e = W.partitionBy("e")
    assign = emb.select(
        "vec_id",
        "e",
        VK.make_kmeans_assign_udf(centers)("e").alias("cluster"),
        F.min("vec_id").over(w_e).alias("rep"),
    )
    reps_a = assign.filter(F.col("vec_id") == F.col("rep"))
    lo = reps_a.select(
        F.col("vec_id").alias("lo_id"), F.col("e").alias("lo_e"), "cluster"
    )
    hi = reps_a.select(
        F.col("vec_id").alias("hi_id"), F.col("e").alias("hi_e"), "cluster"
    )
    rep_dropped = (
        lo.join(hi, ["cluster"])
        .filter(F.col("lo_id") < F.col("hi_id"))
        .filter(F.round(VK.cosine_pair("lo_e", "hi_e"), 6) > _SEM_TAU)
        .select(F.col("hi_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    self_dup = F.round(VK.cosine_pair("e", "e"), 6) > _SEM_TAU
    return order_after_python(
        assign.join(rep_dropped, "vec_id", "left").select(
            "vec_id",
            "cluster",
            F.when(F.col("vec_id") == F.col("rep"), F.col("is_dropped").isNull())
            .otherwise(~self_dup)
            .alias("kept"),
        ),
        "vec_id",
    )


# ---------------------------------------------------------- paragraph --
# Paragraph-level exact dedup (the C4 / Dolma recipe: dedup at the
# paragraph/line grain and REASSEMBLE the documents, rather than drop
# whole docs). The fixture corpus has no newline structure, so the
# "paragraph" unit is a fixed 12-token chunk — the mechanics (global
# first-wins on the unit hash, in-order reassembly, empty-doc survival)
# are identical. Scale: one shuffle on the paragraph key for the
# first-wins window, one shuffle on doc_id for the reassembly — both
# keyed hash exchanges; at 100 TB partition the window by md5(paragraph)
# (uniform) and the reassembly by doc_id (unique), no skew.
_PARA_W = 12

_PARA_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id, i.ci,
         array_to_string(
           list_slice(toks, i.ci * {_PARA_W} + 1, i.ci * {_PARA_W} + {_PARA_W}),
           ' ') AS p
  FROM w, (SELECT unnest(generate_series(0, 9999)) AS ci) i
  WHERE i.ci * {_PARA_W} < len(toks)
),
r AS (
  SELECT doc_id, ci, p,
         row_number() OVER (PARTITION BY p ORDER BY doc_id, ci) AS rn
  FROM c
),
k AS (
  SELECT doc_id, string_agg(p, ' ' ORDER BY ci) AS clean_text,
         count(*) AS n_kept
  FROM r WHERE rn = 1 GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_chunks FROM c GROUP BY doc_id)
SELECT t.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(t.n_chunks AS INT) AS n_chunks,
       CAST(COALESCE(k.n_kept, 0) AS INT) AS n_kept
FROM tot t LEFT JOIN k USING (doc_id)
ORDER BY t.doc_id
"""


@query("dedup_paragraph", oracle=_PARA_ORACLE)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-grain exact dedup with document reassembly: split each
    doc into 12-token paragraphs, keep only the globally-FIRST
    occurrence of each distinct paragraph (order = (doc_id, position)),
    and rebuild every document from its surviving paragraphs in
    original order — documents whose every paragraph occurred earlier
    elsewhere survive as empty strings (they are not silently dropped).

    Output: (doc_id, clean_text, n_chunks, n_kept) for every document.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n_chunks = F.ceil(F.size("toks") / _PARA_W).cast("int")
    chunks = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("ci"),
        "toks",
    ).select(
        "doc_id",
        "ci",
        F.array_join(
            F.slice("toks", F.col("ci") * _PARA_W + 1, _PARA_W), " "
        ).alias("p"),
    )
    first_wins = W.partitionBy("p").orderBy("doc_id", "ci")
    kept = (
        chunks.withColumn("rn", F.row_number().over(first_wins))
        .filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list(F.struct("ci", "p"))).getField("p"),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("int").alias("n_kept"),
        )
    )
    totals = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks")
    )
    return (
        totals.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Span-grain exact dedup: which TOKEN POSITIONS inside each document are
# part of a 5-gram that also occurs verbatim in another document — the
# n-gram-grained formulation of suffix-array substring dedup (Lee et al.
# 2022, "Deduplicating Training Data Makes Language Models Better": their
# 50-token exact substrings become 5-token grams at fixture scale).  A
# true distributed suffix array is unnecessary: a span of L duplicated
# tokens is exactly a run of L-4 consecutive duplicated 5-grams, so
# gram-match + gaps-and-islands recovers every maximal span.
#
# Scale: explode is linear in corpus tokens; the dup-gram set is one
# hash aggregation on the 128-bit gram fingerprint (never raw text); the
# membership probe is a semi-join on the same key; runs/aggregations are
# keyed on doc_id. No broadcast of anything corpus-sized, no quadratic
# stage. Docs shorter than the gram width carry no positions and drop out
# on both sides (Spark: posexplode of an empty array; DuckDB: empty
# generate_series).
_SPAN_ORACLE = f"""
WITH {CORPUS_SQL.strip()},
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
pos AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(len(t) - 4, 0))) AS p
  FROM toks
),
grams AS (
  SELECT doc_id, p, md5(array_to_string(t[p:p+4], ' ')) AS gh FROM pos
),
dupg AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
marked AS (SELECT g.doc_id, g.p FROM grams g JOIN dupg USING (gh)),
islands AS (
  SELECT doc_id,
         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM marked
),
runs AS (SELECT doc_id, grp, count(*) AS run FROM islands GROUP BY doc_id, grp),
per_doc AS (
  SELECT doc_id,
         CAST(max(run) + 4 AS BIGINT) AS max_span_tokens,
         CAST(sum(run) AS BIGINT) AS n_dup
  FROM runs GROUP BY doc_id
),
base AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos FROM grams GROUP BY doc_id
)
SELECT b.doc_id, b.n_pos,
       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup,
       CAST(coalesce(p.max_span_tokens, 0) AS BIGINT) AS max_span_tokens,
       CAST(floor(CAST(coalesce(p.n_dup, 0) AS DOUBLE) * 1000 / b.n_pos)
            AS BIGINT) AS dup_per_1k
FROM base b LEFT JOIN per_doc p USING (doc_id)
ORDER BY b.doc_id
"""


@query("dedup_span_ngram", oracle=_SPAN_ORACLE)
def dedup_span_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span profile over the planted-twin corpus:
    (doc_id, n_pos, n_dup, max_span_tokens, dup_per_1k) where n_dup counts
    5-gram positions whose gram occurs in ≥2 distinct docs and
    max_span_tokens is the longest maximal duplicated token span
    (longest consecutive dup-gram run + 4)."""
    from pyspark.sql import Window as W

    docs = corpus(spark, sf_dir).withColumn("toks", F.split("text", " "))
    gram_arr = F.when(
        F.size("toks") >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 4),
            lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, 5))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # persist: three consumers (the dup-gram frequencies, the marked
    # positions and the per-doc position counts) each re-ran the corpus
    # scan + 5-gram hash explode uncached (r12, guide §5)
    grams = seam(
        docs.select("doc_id", F.posexplode(gram_arr).alias("i0", "gh"))
        .select("doc_id", (F.col("i0") + 1).alias("p"), "gh")
    )
    dupg = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    marked = grams.join(dupg, "gh", "left_semi").select("doc_id", "p")
    w = W.partitionBy("doc_id").orderBy("p")
    runs = (
        marked.withColumn("grp", F.col("p") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    per_doc = runs.groupBy("doc_id").agg(
        (F.max("run") + 4).cast("bigint").alias("max_span_tokens"),
        F.sum("run").cast("bigint").alias("n_dup"),
    )
    base = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pos")
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_pos",
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
            F.coalesce("max_span_tokens", F.lit(0))
            .cast("bigint")
            .alias("max_span_tokens"),
            F.floor(
                F.coalesce("n_dup", F.lit(0)).cast("double") * 1000
                / F.col("n_pos")
            )
            .cast("bigint")
            .alias("dup_per_1k"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# MinHash accuracy report — the sketch-audit artifact ("measure, don't
# guess", sibling of sim_ann_recall_report): for every LSH candidate
# pair, compare the signature-agreement ESTIMATE of Jaccard
# (#agreeing minhash components / 16 — the unbiased estimator the
# banding decision implicitly trusts) against the EXACT shingle
# Jaccard, and aggregate the error profile. A real deployment runs
# exactly this on a sample before picking (bands, rows) for a corpus.
# The exact side intersects shingles ONLY for candidate pairs (the
# same pair-join rescore shape dedup_minhash_lsh ships) — cost is
# |candidates| x shingles/doc, never the full shingle self-join's
# sum-of-df-squared, which explodes on low-entropy corpora (the first
# cut timed out at sf0.1 on exactly that; the candidate population is
# also the decision-relevant one for banding parameters).
_MINHASH_ACC_EST = " + ".join(
    f"CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END" for j in range(N_HASH)
)


def _minhash_acc_oracle() -> str:
    return f"""
WITH {_minhash_bands_cte()},
cand AS (
  SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
  FROM bands b1 JOIN bands b2
    ON b2.band = b1.band AND b2.bsig = b1.bsig AND b1.doc_id < b2.doc_id
),
est AS (
  SELECT c.d1, c.d2, ({_MINHASH_ACC_EST}) / {N_HASH}.0 AS est_j
  FROM cand c
  JOIN sig a ON a.doc_id = c.d1
  JOIN sig b ON b.doc_id = c.d2
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, count(*) AS c
  FROM cand c
  JOIN shingles s1 ON s1.doc_id = c.d1
  JOIN shingles s2 ON s2.doc_id = c.d2 AND s2.sh = s1.sh
  GROUP BY c.d1, c.d2
),
err AS (
  SELECT e.est_j,
         coalesce(i.c, 0) * 1.0 / (z1.sz + z2.sz - coalesce(i.c, 0)) AS ex_j
  FROM est e
  LEFT JOIN inter i ON i.d1 = e.d1 AND i.d2 = e.d2
  JOIN sizes z1 ON z1.doc_id = e.d1
  JOIN sizes z2 ON z2.doc_id = e.d2
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(est_j), 6) AS avg_est,
       round(avg(ex_j), 6) AS avg_exact,
       round(avg(abs(est_j - ex_j)), 6) AS mean_abs_err,
       round(max(abs(est_j - ex_j)), 6) AS max_abs_err
FROM err
"""


@query("dedup_minhash_accuracy_report", oracle=_minhash_acc_oracle())
def dedup_minhash_accuracy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist the two shared seams (r12, guide §5): the distinct shingle
    # stream feeds FOUR consumers (hash pass, per-doc sizes, both sides
    # of the exact-intersection join) and the signature table feeds
    # three (both estimate sides and the candidate generator). The
    # candidate pairs now derive from THIS signature table via the
    # shared band/pair helpers instead of lsh_candidate_pairs rebuilding
    # the whole corpus→shingle→hash→signature pipeline a second time —
    # MinHash mins are insensitive to shingle multiplicity, so the
    # distinct-shingle signature is bit-identical to bands_of's.
    # Plan: 16 corpus scans → 1 (audit: python tools/mis.py audit).
    sh = seam(shingles(spark, sf_dir))
    hashed = sh.select("doc_id", _shingle_hash(F.col("sh")))
    sig = seam(hashed.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({2 * j + 3} * h + {5 * j + 7}) % {P})").alias(f"m{j}")
            for j in range(N_HASH)
        ]
    ))
    cand = _pairs_from_bands(_bands_from_sig(sig))
    a = sig.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"m{j}").alias(f"am{j}") for j in range(N_HASH)],
    )
    b = sig.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"m{j}").alias(f"bm{j}") for j in range(N_HASH)],
    )
    agree = " + ".join(
        f"CASE WHEN am{j} = bm{j} THEN 1 ELSE 0 END" for j in range(N_HASH)
    )
    est = cand.join(a, "d1").join(b, "d2").select(
        "d1",
        "d2",
        # CAST: int-sum / decimal-literal is DECIMAL in Spark (the driver
        # hash is decimal-vs-double sensitive — VERDICT r2/r4)
        F.expr(
            f"CAST(({agree}) / {N_HASH}.0 AS DOUBLE)"
        ).alias("est_j"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    s1 = sh.select(F.col("doc_id").alias("d1"), "sh")
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .filter(F.col("sh2") == F.col("sh"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    z1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    z2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    ex = (
        est.join(inter, ["d1", "d2"], "left")
        .join(z1, "d1")
        .join(z2, "d2")
        .select(
            "est_j",
            (
                F.coalesce(F.col("c"), F.lit(0))
                * 1.0
                / (F.col("sz1") + F.col("sz2") - F.coalesce(F.col("c"), F.lit(0)))
            ).alias("ex_j"),
        )
    )
    return ex.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.avg("est_j"), 6).alias("avg_est"),
        F.round(F.avg("ex_j"), 6).alias("avg_exact"),
        F.round(F.avg(F.abs(F.col("est_j") - F.col("ex_j"))), 6).alias(
            "mean_abs_err"
        ),
        F.round(F.max(F.abs(F.col("est_j") - F.col("ex_j"))), 6).alias(
            "max_abs_err"
        ),
    )


# --------------------------------------------------------------------------
# URL canonicalization dedup — the crawl-frontier dedup every web corpus
# runs BEFORE content dedup (CommonCrawl/C4 keep one fetch per canonical
# URL). The fixture has no URL column, so both engines derive the same
# raw URL per document (scheme/host-case, www., default-port, trailing-
# slash, tracking-param and fragment variation keyed on doc_id mods) and
# the op under test is the normalizer: lowercase scheme+host, strip
# 'www.' and default ports, drop the fragment, strip trailing slashes,
# drop utm_*/fbclid params, sort the survivors. Keep-best picks the
# longest document (tie → lowest doc_id) per canonical URL.
# 100 TB shape: the normalizer is a per-row codegen'd regexp/array
# chain (no UDF, no explode); dedup is ONE hash-agg shuffle on the
# canonical key — the same cost as dedup_exact. No pair joins anywhere.
# Reference parity: composes the reference's scalar regexp/string
# builtins (be/src/exprs/string-functions.cc) plus its
# parse_url(url, 'HOST'|...) builtin (string-functions.cc ParseUrl,
# be/src/util/url-parser.h) into the canonical-URL dedup its users
# write; expressed structurally so DuckDB (no parse_url) runs the
# identical extraction regexes.
_URL_DEDUP_ORACLE = """
WITH raw AS (
  SELECT doc_id, n_chars,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END) || '://' ||
         (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
         (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END) ||
         '.News.Example.COM' ||
         (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END) ||
         '/Articles/item-' || CAST(doc_id % 5 AS VARCHAR) ||
         (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) ||
         (CASE WHEN doc_id % 2 = 0
               THEN '?utm_source=feed&id=' || CAST(doc_id % 4 AS VARCHAR)
                    || '&ref=r' || CAST(doc_id % 3 AS VARCHAR)
               ELSE '?id=' || CAST(doc_id % 4 AS VARCHAR) || '&ref=r'
                    || CAST(doc_id % 3 AS VARCHAR)
                    || '&utm_campaign=x&fbclid=abc' END) ||
         (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
  FROM documents
),
norm AS (
  SELECT doc_id, n_chars, url,
         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
         regexp_replace(
           lower(regexp_replace(
             regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1),
             ':[0-9]+$', '')),
           '^www\\.', '') AS host,
         regexp_replace(
           regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
           '/+$', '') AS path,
         array_to_string(
           list_sort(list_filter(
             string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
             p -> NOT starts_with(p, 'utm_')
                  AND NOT starts_with(p, 'fbclid'))),
           '&') AS qs
  FROM raw
),
canon AS (
  SELECT doc_id, n_chars, url,
         scheme || '://' || host || path ||
         (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS canon_url
  FROM norm
),
ranked AS (
  SELECT canon_url, doc_id, n_chars,
         count(*) OVER (PARTITION BY canon_url) AS n_variants,
         count(DISTINCT url) OVER (PARTITION BY canon_url)
           AS n_distinct_raw,
         row_number() OVER (PARTITION BY canon_url
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM canon
)
SELECT canon_url,
       CAST(n_variants AS BIGINT)     AS n_variants,
       CAST(n_distinct_raw AS BIGINT) AS n_distinct_raw,
       doc_id                         AS kept_doc_id,
       n_chars                        AS kept_n_chars
FROM ranked WHERE rn = 1
ORDER BY canon_url
"""


@query("dedup_url", oracle=_URL_DEDUP_ORACLE)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup: normalize scheme/host/port/path/query/
    fragment, then keep the best document per canonical URL."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda m: (d % m).cast("string")  # noqa: E731
    url = F.concat(
        F.when(d % 2 == 0, "HTTP").otherwise("http"),
        F.lit("://"),
        F.when(d % 3 == 0, "WWW.").otherwise(""),
        F.when(d % 5 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".News.Example.COM"),
        F.when(d % 4 == 0, ":80").otherwise(""),
        F.lit("/Articles/item-"), s(5),
        F.when(d % 6 == 0, "/").otherwise(""),
        F.when(
            d % 2 == 0,
            F.concat(F.lit("?utm_source=feed&id="), s(4), F.lit("&ref=r"), s(3)),
        ).otherwise(
            F.concat(
                F.lit("?id="), s(4), F.lit("&ref=r"), s(3),
                F.lit("&utm_campaign=x&fbclid=abc"),
            )
        ),
        F.when(d % 7 == 0, "#section-2").otherwise(""),
    )
    raw = docs.select("doc_id", "n_chars", url.alias("url"))
    host = F.regexp_replace(
        F.lower(
            F.regexp_replace(
                F.regexp_extract("url", "^[A-Za-z]+://([^/?#]+)", 1),
                ":[0-9]+$", "",
            )
        ),
        r"^www\.", "",
    )
    path = F.regexp_replace(
        F.regexp_extract("url", "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/+$", ""
    )
    qs = F.array_join(
        F.array_sort(
            F.expr(
                """
                filter(split(regexp_extract(url, '\\\\?([^#]*)', 1), '&'),
                       p -> NOT startswith(p, 'utm_')
                            AND NOT startswith(p, 'fbclid'))
                """
            )
        ),
        "&",
    )
    canon = raw.select(
        "doc_id",
        "n_chars",
        "url",
        F.concat(
            F.lower(F.regexp_extract("url", "^([A-Za-z]+)://", 1)),
            F.lit("://"),
            host,
            path,
            F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(""),
        ).alias("canon_url"),
    )
    from pyspark.sql import Window as W

    # Spark disallows count(DISTINCT) over a window — aggregate the
    # per-key stats in one hash-agg pass and join the keep-best row back
    # (broadcast-sized: one row per canonical key).
    stats = canon.groupBy("canon_url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_variants"),
        F.countDistinct("url").cast("bigint").alias("n_distinct_raw"),
    )
    w = W.partitionBy("canon_url").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    kept = (
        canon.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "canon_url",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_n_chars"),
        )
    )
    return (
        kept.join(stats, "canon_url")
        .select(
            "canon_url", "n_variants", "n_distinct_raw",
            "kept_doc_id", "kept_n_chars",
        )
        .orderBy("canon_url")
    )


# --------------------------------------------------------------------------
# Dedup threshold sensitivity sweep — the audit artifact you produce
# BEFORE picking the τ a semantic-dedup run will commit to: pair and
# affected-doc counts at candidate thresholds, over the same
# planted-twin corpus and banded-LSH candidate pipeline as
# dedup_embedding_lsh (recall-1 at τ ≥ 0.7 on this corpus — proven by
# that query's green exact-all-pairs oracle, which makes the sweep's
# counts trustworthy). 100 TB shape: candidates come from the one
# (band, bucket) self-equi-join; the rescore runs once; the 4-threshold
# fan-out is a broadcast cross of the SCORED pairs (≪ corpus), so the
# sweep costs one dedup candidate pass regardless of how many
# thresholds are audited.
_SWEEP_TAUS = (_EMB_LSH_TAU, 0.80, 0.90, 0.95)
_SWEEP_ORACLE = f"""
WITH {_EMB_TWIN_CORPUS_SQL},
pairs AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         round(list_dot_product(a.e, b.e)
           / (sqrt(list_dot_product(a.e, a.e))
              * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
),
cand AS (SELECT * FROM pairs WHERE cosine >= {_SWEEP_TAUS[0]}),
thr AS (
  SELECT * FROM (VALUES {", ".join(f"({t})" for t in _SWEEP_TAUS)}) t(tau)
),
sel AS (
  SELECT t.tau, c.left_id, c.right_id
  FROM thr t LEFT JOIN cand c ON c.cosine >= t.tau
),
docs AS (
  SELECT tau, unnest([left_id, right_id]) AS d FROM sel
  WHERE left_id IS NOT NULL
)
SELECT CAST(t.tau AS DOUBLE) AS tau,
       CAST(count(s.left_id) AS BIGINT) AS n_pairs,
       CAST(coalesce((SELECT count(DISTINCT d) FROM docs dd
                      WHERE dd.tau = t.tau), 0) AS BIGINT) AS n_docs
FROM thr t LEFT JOIN sel s ON s.tau = t.tau AND s.left_id IS NOT NULL
GROUP BY t.tau
ORDER BY t.tau
"""


@query("dedup_threshold_sweep", oracle=_SWEEP_ORACLE)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.extensions import vector_kernels as VK
    from minimised_impala_spark.shipping import ship_module_by_value

    ship_module_by_value("minimised_impala_spark.extensions.vector_kernels")

    corpus_df = _emb_twin_corpus(spark, sf_dir)
    prep = VK.make_lsh_prep_udf(spark, _EMB_LSH_BANDS, _EMB_LSH_PLANES_PER_BAND)
    # ONE persisted index carries the raw vector, the banded signatures
    # AND the int8 proxy codes for the rescore pre-filter, all from a
    # single Arrow crossing (r12 + r13, guide §4.1: previously the
    # banding UDF ran over one corpus scan and the rescore re-derived
    # the perturbed corpus from parquet in a second — now the pair
    # generator, the proxy lookups and the vector lookups all read the
    # same in-memory table).
    idx = seam(corpus_df.select("vec_id", "e", prep("e").alias("p")).select(
        "vec_id", "e", "p.sigs", "p.q", "p.qs", "p.nrm"
    ))
    survivors = _emb_lsh_candidates(idx)
    va = idx.select(F.col("vec_id").alias("left_id"), F.col("e").alias("ea"))
    vb = idx.select(F.col("vec_id").alias("right_id"), F.col("e").alias("eb"))
    cand = (
        survivors.join(va, "left_id")
        .join(vb, "right_id")
        .select(
            "left_id",
            "right_id",
            # *_once: see dedup_embedding_lsh — the tau filter on the
            # output column otherwise duplicates the kernel (guide §4.4)
            F.round(VK.cosine_pair_once("ea", "eb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= _SWEEP_TAUS[0])
    )
    thr = spark.createDataFrame([(t,) for t in _SWEEP_TAUS], "tau double")
    # ONE aggregation pass computes BOTH report columns (r12, guide
    # §2.4/§1.2): every pair contributes exactly two rows to the
    # exploded doc stream, so n_pairs == count(d)/2 — the previous
    # separate pair-count aggregate, the persist() of the scored
    # candidates it required (the rescore now has a single consumer),
    # and the n_pairs⋈docs join are all gone. Empty taus come back via
    # the broadcast left-join from the 6-row threshold table.
    sel = F.broadcast(thr).join(cand, F.col("cosine") >= F.col("tau"), "inner")
    fused = (
        sel.select("tau", F.explode(F.array("left_id", "right_id")).alias("d"))
        .groupBy("tau")
        .agg(
            (F.count("d") / 2).cast("bigint").alias("n_pairs"),
            F.countDistinct("d").alias("n_docs"),
        )
    )
    return (
        thr.join(fused, "tau", "left")
        .select(
            "tau",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
        )
        .orderBy("tau")
    )


# --------------------------------------------------------------------------
# Cross-source contamination pairs — the inter-source view the
# within-corpus dedups above don't give: which SOURCE pairs share
# verbatim 8-token spans (republication / scrape-of-a-scrape /
# benchmark leakage across providers). The fixture corpus has no
# organic cross-source 8-grams (random 31-word texts), so the query
# plants them (same discipline as the twin corpora): every 7th doc is
# "republished" under source 'mirror' with the first 10 tokens dropped
# — so detection must work at the GRAM level, not whole-text hashes.
# Report: per source pair, republished doc-pair count and distinct
# shared grams. 100 TB shape: one posting join on the gram hash —
# Σ df² bounded because high-df grams are boilerplate and get dropped
# by a df cap in production (text_boilerplate_ngrams is that gate);
# here df ≤ 2 by construction.
_XSRC_ORACLE = """
WITH mirrors AS (
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(string_split(text, ' ')[11:], ' ') AS text,
         'mirror' AS source
  FROM documents WHERE doc_id % 7 = 0 AND len(string_split(text, ' ')) > 20
),
corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL SELECT doc_id, text, source FROM mirrors
),
toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM corpus),
pos AS (
  SELECT doc_id, source, t,
         unnest(generate_series(1, greatest(len(t) - 7, 0))) AS p
  FROM toks
),
grams AS (
  SELECT DISTINCT doc_id, source,
         md5(array_to_string(t[p:p+7], ' ')) AS gh
  FROM pos
),
hits AS (
  SELECT a.source AS src_a, b.source AS src_b,
         a.doc_id AS doc_a, b.doc_id AS doc_b, a.gh
  FROM grams a JOIN grams b ON b.gh = a.gh AND a.source < b.source
)
SELECT src_a, src_b,
       CAST(count(DISTINCT (doc_a, doc_b)) AS BIGINT) AS n_doc_pairs,
       CAST(count(DISTINCT gh) AS BIGINT) AS n_shared_grams
FROM hits
GROUP BY src_a, src_b
ORDER BY src_a, src_b
"""


@query("dedup_cross_source", oracle=_XSRC_ORACLE)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks_all = F.split("text", " ")
    mirrors = docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.size(toks_all) > 20)
    ).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(
            F.slice(toks_all, 11, F.greatest(F.size(toks_all) - 10, F.lit(0))),
            " ",
        ).alias("text"),
        F.lit("mirror").alias("source"),
    )
    corpus_df = docs.select("doc_id", "text", "source").unionByName(mirrors)
    t = F.split("text", " ")
    gram_arr = F.when(
        F.size(t) >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 7),
            lambda i: F.md5(F.concat_ws(" ", F.slice(t, i, 8))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # persist: both self-join sides read the distinct gram stream —
    # uncached each re-ran the mirror build + 8-gram explode (r12, §5)
    grams = seam(
        corpus_df.select("doc_id", "source", F.explode(gram_arr).alias("gh"))
        .distinct()
    )
    a = grams.select(
        F.col("source").alias("src_a"), F.col("doc_id").alias("doc_a"), "gh"
    )
    b = grams.select(
        F.col("source").alias("src_b"), F.col("doc_id").alias("doc_b"), "gh"
    )
    hits = a.join(b, "gh").filter(F.col("src_a") < F.col("src_b"))
    return (
        hits.groupBy("src_a", "src_b")
        .agg(
            F.countDistinct("doc_a", "doc_b").cast("bigint").alias("n_doc_pairs"),
            F.countDistinct("gh").cast("bigint").alias("n_shared_grams"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# Normalization-aware exact dedup — dedup_exact catches byte-identical
# copies; real republication mangles case, whitespace, and punctuation
# first. Canonicalize (lowercase → strip non-alphanumerics → collapse
# runs of spaces → trim), THEN hash: the canonicalize step is a pure
# codegen'd per-row map, so the op costs exactly what dedup_exact costs
# — one shuffle on the 16-byte digest, raw text never shuffles. The
# fixture plants mangled twins (every 9th doc uppercased with doubled
# spaces and trailing bangs) that only the normalized hash unifies;
# n_variants > 1 proves the group crossed raw-text boundaries.
_NORM_DEDUP_ORACLE = """
WITH noisy AS (
  SELECT doc_id + 300000 AS doc_id,
         upper(replace(text, ' ', '  ')) || ' !!!' AS text
  FROM documents WHERE doc_id % 9 = 0
),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM noisy
),
canon AS (
  SELECT doc_id, text,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS fp
  FROM corpus
)
SELECT fp,
       CAST(count(*) AS BIGINT) AS n_dups,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_variants,
       CAST(min(doc_id) AS BIGINT) AS canonical_id
FROM canon
GROUP BY fp
HAVING count(*) > 1
ORDER BY fp
"""


@query("dedup_normalized_exact", oracle=_NORM_DEDUP_ORACLE)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    noisy = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.upper(F.replace(F.col("text"), F.lit(" "), F.lit("  "))), F.lit(" !!!")
        ).alias("text"),
    )
    corpus_df = docs.select("doc_id", "text").unionByName(noisy)
    fp = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    return (
        corpus_df.withColumn("fp", fp)
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            # distinct RAW-text variants counted by digest — the raw
            # text itself must never ride the shuffle (the 10x smoke
            # measured 4.3x with countDistinct(text); 16-byte digests
            # restore the dedup_exact cost profile)
            F.countDistinct(F.md5("text")).cast("bigint").alias("n_variants"),
            F.min("doc_id").cast("bigint").alias("canonical_id"),
        )
        .filter(F.col("n_dups") > 1)
        .orderBy("fp")
    )


# --------------------------------------------------------------------------
# Duplicate-cluster size histogram — the dedup TUNING artifact read off
# the connected-components collapse (dedup_cluster_cc): a healthy
# near-dup pass shows most clusters at size 2-3 with a thin tail; a fat
# tail of huge clusters means the threshold is merging template families
# (and keep-best is about to delete real content). Composes the
# CC labels, so its oracle wraps the same recursive-CTE oracle.
#
# Scale: the label table is corpus-sized but the histogram aggregates
# to |distinct cluster sizes| rows; cost is dedup_cluster_cc + two
# small aggregates.
def _cluster_hist_oracle() -> str:
    return f"""
WITH cc AS ({_CC_ORACLE.replace("ORDER BY doc_id", "")}),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM cc GROUP BY component
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST(cluster_size * count(*) - count(*) AS BIGINT) AS n_removable
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
"""


@query("dedup_cluster_size_histogram", oracle=_cluster_hist_oracle())
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of duplicate-cluster sizes from the CC collapse, with
    the removable-doc count (size - 1 per cluster under keep-one).
    Output: (cluster_size, n_clusters, n_docs, n_removable)."""
    labels = QUERIES["dedup_cluster_cc"](spark, sf_dir)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
            (F.col("cluster_size") * F.col("n_clusters") - F.col("n_clusters"))
            .cast("bigint")
            .alias("n_removable"),
        )
        .orderBy("cluster_size")
    )
