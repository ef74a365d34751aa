"""Multimodal column handling (north-star extension): image/audio/video
payloads as opaque BINARY columns with typed metadata, decoded via
Arrow-batched Pandas UDFs over mapInPandas.

The container has no image/audio libraries and the fixture has no binary
media, so this module makes the *Spark-side plumbing* real — binary
payload synthesis (utf-8 of document text standing in for media bytes),
schema, batch shapes, partitioning, UDF signatures — while the actual
codec step is a clearly marked stub (deterministic fake decode keyed on
content hash; `decode_image_real` raises NotImplementedError).

Scale notes: payload bytes never shuffle — metadata is extracted per-row
map-side and only (id, metadata) leaves the scan stage; mapInPandas
receives Arrow batches, so the decode path is vectorized batch-at-a-time
exactly as a real codec UDF would be.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minimised_impala_spark.queries.registry import query
from minimised_impala_spark.seams import seam
from minimised_impala_spark.shipping import order_after_python
from minimised_impala_spark.tables import load_table

# pandas kernels below ship to workers — see serde module docstring
from minimised_impala_spark.serde import pickle_module_by_value

pickle_module_by_value(__name__)

DECODED_SCHEMA = (
    "doc_id bigint, byte_len bigint, fmt string, width int, height int, channels int"
)


def _pil_image(payload: bytes):
    """``payload`` opened as a PIL image; NotImplementedError when PIL is
    not installed."""
    try:
        from PIL import Image  # type: ignore[import-not-found]
    except ImportError as exc:
        raise NotImplementedError(
            "image codecs not available in this environment"
        ) from exc
    return Image.open(io.BytesIO(payload))


def decode_image_real(payload: bytes) -> tuple[int, int, int]:
    """Real codec hook: decodes via PIL when it is installed, raises
    NotImplementedError otherwise. Environment-gated rather than
    hard-stubbed so an install of the codec libs upgrades this path (and
    its importorskip-gated tests) with no code change."""
    with _pil_image(payload) as im:
        return (im.width, im.height, len(im.getbands()))


def decode_image_fake(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode for plumbing tests: derives plausible
    dimensions from content bytes (stable across runs/engines)."""
    h = int.from_bytes(payload[:8].ljust(8, b"\0"), "big")
    return (64 + h % 1024, 64 + (h >> 10) % 1024, 3 if h % 4 else 1)


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: binary payload → decoded metadata rows."""
    for pdf in batches:
        payloads = pdf["payload"]
        dims = [decode_image_fake(p) for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": payloads.map(len),
                "fmt": payloads.map(
                    lambda p: "png" if p[:1] in (b"\x89", b"t") else "jpeg"
                ),
                "width": [d[0] for d in dims],
                "height": [d[1] for d in dims],
                "channels": [d[2] for d in dims],
            }
        )


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach the synthetic BINARY payload column."""
    return docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))


# --------------------------------------------------------------------------
# Binary metadata extraction — pure built-ins (JVM-side), full oracle.
@query(
    "multimodal_binary_meta",
    oracle="""
SELECT doc_id,
       octet_length(encode(text))   AS byte_len,
       md5(text)                    AS content_hash,
       CASE WHEN octet_length(encode(text)) > 300 THEN 'large' ELSE 'small' END
                                    AS size_class
FROM documents
ORDER BY doc_id
""",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("byte_len"),
        F.md5(payload).alias("content_hash"),
        F.when(F.length(payload) > 300, "large").otherwise("small").alias("size_class"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Decode pipeline through mapInPandas. The codec is a stub, but a fully
# DETERMINISTIC one (dims derived from the first 8 payload bytes), and
# the fixture text is pure ASCII — so the whole fake decode is
# re-expressible in SQL and the mapInPandas plumbing gets a hard
# value-hash oracle, not just a rows-only check: the oracle folds the
# first 8 bytes into the same big-endian integer (ord × 256^k; max byte
# 0x79 keeps it under 2^63) and recomputes width/height/channels/fmt.
_DECODE_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         CASE WHEN substr(text, 1, 1) = 't' THEN 'png' ELSE 'jpeg' END AS fmt,
         (ord(substr(text, 1, 1)) * 72057594037927936
          + ord(substr(text, 2, 1)) * 281474976710656
          + ord(substr(text, 3, 1)) * 1099511627776
          + ord(substr(text, 4, 1)) * 4294967296
          + ord(substr(text, 5, 1)) * 16777216
          + ord(substr(text, 6, 1)) * 65536
          + ord(substr(text, 7, 1)) * 256
          + ord(substr(text, 8, 1)))                AS h
  FROM documents
)
SELECT fmt,
       CAST(CASE WHEN h % 4 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
       CAST(count(*) AS BIGINT)                            AS n,
       CAST(sum(byte_len) AS BIGINT)                       AS total_bytes,
       CAST(min(64 + h % 1024) AS INT)                     AS min_w,
       CAST(max(64 + (h // 1024) % 1024) AS INT)           AS max_h
FROM d
GROUP BY fmt, channels
ORDER BY fmt, channels
"""


@query("multimodal_decode_stub", oracle=_DECODE_ORACLE)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    decoded = with_payload(docs).mapInPandas(_decode_batches, DECODED_SCHEMA)
    return (
        decoded.groupBy("fmt", "channels")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("byte_len").alias("total_bytes"),
            F.min("width").alias("min_w"),
            F.max("height").alias("max_h"),
        )
        .orderBy("fmt", "channels")
    )


# --------------------------------------------------------------------------
# Resize + feature-extraction kernels (stubs with real plumbing).


def resize_image_real(payload: bytes, w: int, h: int) -> bytes:
    """Real resize hook: PIL.Image.resize when PIL is installed, raises
    NotImplementedError otherwise (environment-gated like
    decode_image_real)."""
    with _pil_image(payload) as im:
        out = io.BytesIO()
        im.resize((w, h)).save(out, format=im.format or "PNG")
        return out.getvalue()


def _resize_batches(target_w: int, target_h: int):
    """mapInPandas kernel factory: deterministic fake resize — output
    payload is a content-keyed slice, output dims are the targets. The
    shape (binary in → binary out + dims) matches a real resize UDF."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payload = pdf["payload"].map(
                lambda p: bytes(p)[: max(8, (target_w * target_h) % max(len(p), 1))]
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": out_payload,
                    "width": target_w,
                    "height": target_h,
                }
            )

    return kernel


def resized(docs: DataFrame, w: int = 224, h: int = 224) -> DataFrame:
    return with_payload(docs).mapInPandas(
        _resize_batches(w, h), "doc_id bigint, payload binary, width int, height int"
    )


FRAME_SCHEMA = "doc_id bigint, frame_no int, frame_hash string"


def _frame_sample_batches(every_k: int):
    """Video frame sampling stub: treat each 64-byte payload chunk as a
    'frame', keep every k-th. Output cardinality is data-dependent
    (n_frames/k rows per video) — the real frame-sampler's shape."""
    import hashlib

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, hashes = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = [payload[i : i + 64] for i in range(0, len(payload), 64)]
                for no in range(0, len(frames), every_k):
                    ids.append(doc_id)
                    nos.append(no)
                    hashes.append(hashlib.md5(bytes(frames[no])).hexdigest())
            yield pd.DataFrame({"doc_id": ids, "frame_no": nos, "frame_hash": hashes})

    return kernel


# The 'frames' are 64-byte payload chunks and the fixture is ASCII, so
# the sampler has a hard oracle too: one generated frame index per doc
# (LATERAL generate_series over ceil(len/64)), md5 of the matching
# 64-char substring, every-4th kept — the exact computation the
# mapInPandas kernel performs on the Arrow batches.
_FRAME_ORACLE = """
WITH frames AS (
  SELECT doc_id, text,
         unnest(generate_series(
           0, CAST((octet_length(encode(text)) + 63) // 64 AS INT) - 1)) AS no
  FROM documents
  WHERE doc_id < 100
)
SELECT doc_id,
       CAST(count(*) AS BIGINT)                AS n_frames,
       min(md5(substr(text, no * 64 + 1, 64))) AS first_hash
FROM frames
WHERE no % 4 = 0
GROUP BY doc_id
ORDER BY doc_id
"""


@query("multimodal_frame_sample", oracle=_FRAME_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample every 4th 'frame' of each synthetic video payload and count
    sampled frames per doc (top 100 docs for determinism)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    frames = with_payload(docs).mapInPandas(_frame_sample_batches(4), FRAME_SCHEMA)
    return (
        frames.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_frames"), F.min("frame_hash").alias("first_hash"))
        .orderBy("doc_id")
    )


def extract_features(docs: DataFrame, dim: int = 8) -> DataFrame:
    """Deterministic fake feature extractor: payload → dim-float vector
    (md5-derived), Arrow-batched. Stands in for a real image/audio
    embedding model; output feeds the similarity operators."""
    import hashlib

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = []
            for payload in pdf["payload"]:
                digest = hashlib.md5(bytes(payload)).digest()
                vecs.append([digest[i % 16] / 255.0 for i in range(dim)])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "embedding": vecs})

    return with_payload(docs).mapInPandas(kernel, "doc_id bigint, embedding array<double>")


# --------------------------------------------------------------------------
# Audio chunking with overlap — the ASR-training preprocessing shape: a
# waveform column split into fixed-length overlapping windows, each chunk
# emitted as its own row (one→many mapInPandas expansion, like frame
# sampling but windowed). The chunk GEOMETRY (doc_id, chunk_idx, offset,
# n_samples) is pure arithmetic over the payload byte length, so unlike
# the codec stubs this op carries a full SQL oracle; the byte slicing
# itself is real (pytest asserts the chunk hashes against a driver-side
# model).
CHUNK = 100
HOP = 60


def _audio_chunk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [], "chunk_idx": [], "offset": [], "n_samples": [], "chunk_md5": []
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            idx = 0
            # empty payloads yield zero chunks (the oracle filters n > 0)
            for off in range(0, n, HOP):
                piece = payload[off : off + CHUNK]
                out["doc_id"].append(doc_id)
                out["chunk_idx"].append(idx)
                out["offset"].append(off)
                out["n_samples"].append(len(piece))
                out["chunk_md5"].append(hashlib.md5(piece).hexdigest())
                idx += 1
        yield pd.DataFrame(out)


def audio_chunks(docs: DataFrame) -> DataFrame:
    schema = (
        "doc_id LONG, chunk_idx INT, offset INT, n_samples INT, chunk_md5 STRING"
    )
    return with_payload(docs).mapInPandas(_audio_chunk_batches, schema)


@query(
    "multimodal_audio_chunks",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
  WHERE octet_length(encode(text)) > 0
)
SELECT doc_id,
       CAST(idx AS INT) AS chunk_idx,
       CAST(idx * {HOP} AS INT) AS offset,
       CAST(least({CHUNK}, n - idx * {HOP}) AS INT) AS n_samples
FROM sized, unnest(generate_series(0, (n - 1) // {HOP})) t(idx)
ORDER BY doc_id, chunk_idx
""",
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return order_after_python(
        audio_chunks(docs).select("doc_id", "chunk_idx", "offset", "n_samples"),
        "doc_id",
        "chunk_idx",
    )


# --------------------------------------------------------------------------
# Resize + feature-extraction through mapInPandas, driver-oracled like the
# decode stub: the kernels are stubs but DETERMINISTIC (content-keyed
# slice / md5-derived floats) over ASCII payloads, so the whole Arrow
# round trip gets a value-hash oracle. Output stays scalar-typed (the
# driver canonicalizer rejects array cells) — features land as f0..f7.
_RESIZE_ORACLE = """
SELECT doc_id,
       CAST(224 AS INT) AS width,
       CAST(224 AS INT) AS height,
       CAST(greatest(8, 50176 % octet_length(encode(text))) AS BIGINT) AS out_len,
       md5(substr(text, 1, greatest(8, 50176 % octet_length(encode(text)))))
         AS out_md5
FROM documents
ORDER BY doc_id
"""


@query("multimodal_resize_stub", oracle=_RESIZE_ORACLE)
def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """224×224 'resize' of every payload (content-keyed slice stub; real
    plumbing — binary in → binary out + dims through Arrow batches)."""
    docs = load_table(spark, sf_dir, "documents")
    out = resized(docs, 224, 224)
    return order_after_python(
        out.select(
            "doc_id",
            "width",
            "height",
            F.length("payload").cast("bigint").alias("out_len"),
            F.md5("payload").alias("out_md5"),
        ),
        "doc_id",
    )


_FEATURES_ORACLE = """
SELECT doc_id,
       {cols}
FROM documents
ORDER BY doc_id
""".format(
    cols=",\n       ".join(
        f"(('0x' || substr(md5(text), {2 * (i % 16) + 1}, 2))::BIGINT / 255.0) AS f{i}"
        for i in range(8)
    )
)


@query("multimodal_features", oracle=_FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-derived 8-dim feature vector per payload (embedding-model stub;
    real mapInPandas plumbing). The vector feeds the similarity wing;
    here it is flattened to scalar columns for the driver hash. x/255.0
    on integer x is bit-exact IEEE in both engines — no rounding shim."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(docs, dim=8)
    cols = [F.col("embedding")[i].alias(f"f{i}") for i in range(8)]
    return order_after_python(feats.select("doc_id", *cols), "doc_id")


# --------------------------------------------------------------------------
# CLIP-score pair filtering (the LAION curation step): an image-text pair
# survives only if the two towers' embeddings agree. The IMAGE tower
# output is the embeddings table (pretend model output, joined 1:1 on
# doc_id = vec_id); the TEXT tower is a STUB with real plumbing — a
# deterministic md5-derived 64-dim projection of the caption, generated
# from the SAME expression text in both engines (the Spark side F.expr's
# the literal fragment the oracle runs), so the fake model is
# bit-identical. Cosine runs in the Arrow/numpy kernel (vector_kernels)
# like the rest of the similarity wing; rounded to 6. At 100 TB: both
# towers are narrow maps (in production, a Pandas-UDF model invocation),
# the join is 1:1 on the pair key, the filter a narrow predicate — no
# shuffle beyond the id join, which co-partitioning/bucketing removes.
_TVEC_DIMS = 64


def _tvec_sql() -> str:
    """64-dim deterministic caption projection, as engine-portable SQL
    fragments: value_i = (H_i % 2001 - 1000) / 1000.0 where H_i is the
    first 8 md5 hex digits of text||'_'||i. ``{h}`` is the only engine
    difference (hex-to-int spelling), filled per engine."""
    return ", ".join(
        "(({h} % 2001) - 1000) / 1000.0".format(
            h="{pre}md5(text || '_%d'){post}" % i
        )
        for i in range(_TVEC_DIMS)
    )


def _tvec_for(engine: str) -> str:
    body = _tvec_sql()
    if engine == "duckdb":
        return body.format(pre="('0x' || substr(", post=", 1, 8))::BIGINT")
    return body.format(pre="conv(substring(", post=", 1, 8), 16, 10)")


_CLIP_ORACLE = f"""
WITH pairs AS (
  SELECT d.doc_id, d.source,
         [{_tvec_for('duckdb')}] AS tv,
         list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS iv
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
scored AS (
  SELECT doc_id, source,
         list_dot_product(tv, iv)
           / (sqrt(list_dot_product(tv, tv)) * sqrt(list_dot_product(iv, iv)))
           AS s
  FROM pairs
)
SELECT doc_id, source, round(s, 6) AS clip_score, s >= 0.0 AS kept
FROM scored
ORDER BY doc_id
"""


@query("multimodal_pair_clip_filter", oracle=_CLIP_ORACLE)
def multimodal_pair_clip_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.extensions import vector_kernels as VK

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = (
        docs.select(
            "doc_id",
            "source",
            F.expr(f"array({_tvec_for('spark')})").alias("tv"),
        )
        .join(
            emb.select(
                F.col("vec_id").alias("doc_id"),
                F.col("embedding").cast("array<double>").alias("iv"),
            ),
            "doc_id",
        )
    )
    s = VK.cosine_pair("tv", "iv")
    return order_after_python(
        pairs.select(
            "doc_id",
            "source",
            F.round(s, 6).alias("clip_score"),
            (s >= 0.0).alias("kept"),
        ),
        "doc_id",
    )


# --------------------------------------------------------------------------
# Perceptual-hash near-duplicate detection over binary payloads — the
# LAION-style media dedup shape: a compact content hash whose Hamming
# distance tracks perceptual similarity, banded so candidate pairs come
# from an equi-join, exact Hamming verified only on collisions. Real
# perceptual hashes (pHash DCT, aHash) need the codec libs this
# container lacks; the stand-in is a STRIDE-PARITY hash with the same
# locality property — bit i = parity of the sum of payload bytes at
# positions ≡ i (mod 64) — so a small byte edit flips few bits, packed
# into 4 SIXTEEN-bit chunks for pigeonhole banding (Hamming ≤ 3 touches
# at most 3 chunks, so ≥ 1 of the 4 band joins still collides). Band
# width is the scale dial: 8-bit chunks have only 256 values per band,
# which at 10× corpus put Σ occupancy² ≈ n²/256 pairs through the join
# (the first cut smoked 9.6×); 16-bit bands cut collisions 256× while
# keeping the pigeonhole guarantee. The hash is an
# Arrow-batched numpy kernel over the BINARY column (vectorized
# byte-matrix parity — exactly how a real pHash UDF would batch); the
# corpus is ASCII-only (lang = 'en') so the oracle can replay byte
# values as SQL char codes.
#
# Scale: hash is a narrow map (one kernel pass per payload); candidates
# come from the 4-way (chunk_idx, chunk_val) self-equi-join; the exact
# Hamming rescore is a 4-element fold on collision pairs only.
_PHASH_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  WHERE lang = 'en' AND length(text) > 0
  UNION ALL
  SELECT doc_id + 500000,
         substr(text, 1, 10) || 'Z' || substr(text, 12)
  FROM documents WHERE lang = 'en' AND length(text) > 0 AND doc_id % 7 = 0
),
bytes AS (
  SELECT doc_id, (i - 1) % 64 AS stride,
         unicode(substr(text, CAST(i AS INT), 1)) AS b
  FROM corpus, LATERAL unnest(generate_series(1, length(text))) t(i)
),
bits AS (
  SELECT doc_id, stride, CAST(sum(b) % 2 AS BIGINT) AS bit
  FROM bytes GROUP BY doc_id, stride
),
chunks AS (
  SELECT doc_id, stride // 16 AS k,
         CAST(sum(bit << (stride % 16)) AS BIGINT) AS chunk
  FROM bits GROUP BY doc_id, stride // 16
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM chunks a JOIN chunks b
    ON b.k = a.k AND b.chunk = a.chunk AND a.doc_id < b.doc_id
),
ham AS (
  SELECT c.doc_a, c.doc_b,
         CAST(sum(bit_count(xor(ca.chunk, cb.chunk))) AS BIGINT) AS hamming
  FROM cand c
  JOIN chunks ca ON ca.doc_id = c.doc_a
  JOIN chunks cb ON cb.doc_id = c.doc_b AND cb.k = ca.k
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, hamming FROM ham
WHERE hamming <= 3
ORDER BY doc_a, doc_b
"""


def _phash_chunks_kernel(payloads: pd.Series) -> pd.Series:
    """Vectorized stride-parity hash: payload bytes → 4 chunk values
    (each packing 16 parity bits). numpy does the whole Arrow batch in
    one padded byte-matrix reduction per row."""
    import numpy as np

    out = []
    for p in payloads:
        a = np.frombuffer(p, dtype=np.uint8).astype(np.int64)
        pad = (-len(a)) % 64
        if pad:
            a = np.concatenate([a, np.zeros(pad, dtype=np.int64)])
        bits = a.reshape(-1, 64).sum(axis=0) & 1
        weights = 1 << np.arange(16)
        chunks = (bits.reshape(4, 16) * weights).sum(axis=1)
        out.append([int(c) for c in chunks])
    return pd.Series(out)


@query("multimodal_phash_neardup", oracle=_PHASH_ORACLE)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded perceptual-hash near-dup over binary payloads: stride-
    parity hash chunks from an Arrow kernel, 4-way 16-bit band join,
    exact Hamming <= 3 on collisions. Output: (doc_a, doc_b,
    hamming)."""
    # Candidates come from the (chunk_idx, chunk_val) self-equi-join, never
    # a cartesian pairing of payloads.
    from pyspark.sql import functions as SF

    phash_udf = SF.pandas_udf(_phash_chunks_kernel, "array<bigint>")
    # length > 0 on BOTH engine and oracle sides: the kernel would hash
    # an empty payload to chunks [0,0,0,0] while the oracle's
    # generate_series(1, 0) replay drops the doc entirely — the compare
    # can only stay aligned if neither side ever sees an empty text
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") & (F.length("text") > 0)
    )
    pert = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 10), F.lit("Z"), F.expr("substring(text, 12)")
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(pert)
    hashed = seam(corpus.select(
        "doc_id",
        phash_udf(F.col("text").cast("binary")).alias("chunks"),
    ))
    bands = hashed.select(
        "doc_id", F.posexplode("chunks").alias("k", "chunk")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("b.k") == F.col("a.k"))
            & (F.col("b.chunk") == F.col("a.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ca = hashed.select(F.col("doc_id").alias("doc_a"), F.col("chunks").alias("ca"))
    cb = hashed.select(F.col("doc_id").alias("doc_b"), F.col("chunks").alias("cb"))
    hamming = F.expr(
        "aggregate(zip_with(ca, cb, (x, y) -> bit_count(x ^ y)), "
        "0L, (acc, v) -> acc + v)"
    ).cast("bigint")
    return (
        cand.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    )
