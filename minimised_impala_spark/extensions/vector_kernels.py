"""Arrow-vectorized numeric kernels for the similarity/ANN family.

Why pandas UDFs here when the rest of the engine is pure Column
expressions: Spark's higher-order functions (``zip_with``/``aggregate``/
``transform`` lambdas) run on the INTERPRETED expression path — they are
excluded from whole-stage codegen, costing ~0.1-0.2 ms per row for a
64-dim dot product. The Arrow batch → numpy BLAS path computes the same
kernels 20×+ faster (measured at sf0.1: sim_lsh_ann 2.03 s → 0.09 s
end-to-end, bit-identical rounded results). This is exactly the
"vectorized Pandas UDF for embedding math" carve-out the engine's design
reserves Python for; everything relational (joins, windows, topk) stays
JVM-side.

Determinism note: numpy accumulates dots in a different order than the
sequential fold DuckDB's list_dot_product uses; results agree to ~1e-15
relative and every consumer rounds at 1e-6, so oracle hashes are stable
(P(round-boundary collision) ≈ 1e-9 per pair).

This module is shipped BY VALUE into task closures (see shipping.py): it
must import only stdlib + numpy/pandas (and shipping, which travels by
value with it) at module level, and executors need no access to the repo.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from minimised_impala_spark.shipping import drop_zip_finders

# DataType objects, not DDL strings: string return types are parsed through
# the active SparkContext, which doesn't exist yet at import time.
_ARR_D = T.ArrayType(T.DoubleType())
_ARR_L = T.ArrayType(T.LongType())
_ARR_I = T.ArrayType(T.IntegerType())

N_PLANES = 8
DIM = 64


def plane(pl: int) -> list[float]:
    """±1 hyperplane pl: component i = +1 iff the first md5 byte of
    '{pl}_{i}' is even — the exact definition the DuckDB oracle evaluates
    (_PLANE_SQL in similarity.py)."""
    return [
        1.0 if int(hashlib.md5(f"{pl}_{i}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1.0
        for i in range(DIM)
    ]


@functools.cache
def plane_table(n: int) -> np.ndarray:
    """Planes 0..n-1 as one read-only n × DIM array, built once per process
    for each n (the factories below ask for a handful of fixed sizes).
    The 1056-plane table of the banded-LSH dedups takes 0.13-0.15 s of
    md5s to build; memoized, only the first plan build pays it."""
    table = np.array([plane(pl) for pl in range(n)])
    table.setflags(write=False)
    return table


_PLANES = plane_table(N_PLANES)
_POWERS = np.arange(N_PLANES)


def _mat(s: pd.Series) -> np.ndarray:
    # Every kernel passes through here, so this is where a reused worker
    # drops its zip finders: PySpark invalidates import caches at the
    # start of every task and each cached zipimporter then re-reads
    # pyspark.zip — 0.07–0.15 s per task on a 4-vCPU host
    # (shipping.drop_zip_finders).
    drop_zip_finders()
    return np.vstack(s.to_numpy())


def _empty(dtype: str = "float64") -> pd.Series:
    return pd.Series([], dtype=object if dtype == "object" else dtype)


# Every kernel guards the empty batch: np.vstack([]) raises, and while
# Spark normally skips empty partitions, an empty Arrow slice is cheap
# insurance against a crash deep inside a 100 TB job.


@pandas_udf(_ARR_D)
def norm_vec(s: pd.Series) -> pd.Series:
    """Row-normalize: e / |e|."""
    if s.empty:
        return _empty("object")
    m = _mat(s)
    m = m / np.sqrt((m * m).sum(axis=1, keepdims=True))
    return pd.Series(list(m))


@pandas_udf(T.LongType())
def lsh_bucket(s: pd.Series) -> pd.Series:
    """Random-hyperplane signature: bit pl set iff dot(e, plane_pl) > 0."""
    if s.empty:
        return _empty("int64")
    dots = _mat(s) @ _PLANES.T
    return pd.Series(((dots > 0) << _POWERS).sum(axis=1).astype("int64"))


@pandas_udf(T.DoubleType())
def dot_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    """Plain dot product (cosine when inputs are pre-normalized)."""
    if a.empty:
        return _empty()
    return pd.Series((_mat(a) * _mat(b)).sum(axis=1))


@pandas_udf(T.DoubleType())
def cosine_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    """Full cosine for un-normalized pairs."""
    if a.empty:
        return _empty()
    ma, mb = _mat(a), _mat(b)
    num = (ma * mb).sum(axis=1)
    den = np.sqrt((ma * ma).sum(axis=1)) * np.sqrt((mb * mb).sum(axis=1))
    return pd.Series(num / den)


# Non-deterministic-marked aliases for call sites where a FILTER references
# the kernel's output column: the optimizer pushes such a filter below the
# projection and evaluates the UDF twice per row (once under the filter,
# once in the projection — two ArrowEvalPython nodes for one call). The
# kernels are pure; the flag only forbids the optimizer from duplicating or
# reordering them, halving the rescore stage. Use the plain kernel whenever
# the output is not filtered — the flag also blocks legitimate pushdowns.
dot_pair_once = dot_pair.asNondeterministic()
cosine_pair_once = cosine_pair.asNondeterministic()


# ---------------------------------------------------------------------------
# int8 proxy codes for the LSH rescore pre-filter (r13, guide §2.3
# "narrower types" / §8 "decide with a lightweight proxy, move heavy bytes
# once"): candidate pairs are 50-500x more numerous than corpus rows, so
# the rescore's cost is the per-PAIR bytes crossing the Arrow boundary —
# 2 x 512 B of doubles per pair. The bulk pass instead ships 64 int8 codes
# + 2 scalars per side (~8x fewer bytes) and computes a PROVABLE upper
# bound on the pair's cosine; only pairs whose bound clears the threshold
# reach the exact double-precision kernel. Lossless by construction:
#
#   a = â + δ_a with â = s_a·q_a, |δ_a,i| <= s_a/2  (s_a = max|a_i|/127)
#   dot(a,b) − dot(â,b̂) = dot(â,δ_b) + dot(δ_a,b̂) + dot(δ_a,δ_b)
#   |δ_a|₂ <= (s_a/2)·√64 = 4·s_a, |â| <= |a| + 4·s_a  (Cauchy-Schwarz):
#   |dot(a,b) − s_a·s_b·(q_a·q_b)|
#     <= (|a|+4s_a)·4s_b + 4s_a·(|b|+4s_b) + 16·s_a·s_b
#      = 4·s_b·|a| + 4·s_a·|b| + 48·s_a·s_b
#   ⇒ |cos − est| <= 4·s_a/|a| + 4·s_b/|b| + 48·s_a·s_b/(|a|·|b|)
#
# so cosine <= est + bound, and a filter on (est + bound) >= τ keeps every
# pair whose true cosine can reach τ. No recall coupling: the proxy is an
# internal bound, not an approximation the result depends on.
#
# The kernel evaluates it through r = s/|a|, which lies in [1/(127·8),
# 1/127] for every nonzero vector, so no product under- or overflows. A
# norm below √(smallest normal double) carries no usable bound (its squares
# underflowed; a zero vector's is 0): such a pair yields +inf, a candidate
# the exact rescore decides — as it does the NaN of a zero vector.
_MIN_NORM = float(np.sqrt(np.finfo(np.float64).tiny))


@pandas_udf(T.DoubleType())
def cosine_ub_pair(
    qa: pd.Series, sa: pd.Series, na: pd.Series,
    qb: pd.Series, sb: pd.Series, nb: pd.Series,
) -> pd.Series:
    """Upper bound on cosine(a, b) from the int8 codes: est + bound."""
    if qa.empty:
        return _empty()
    ma = _mat(qa).astype("int32")
    mb = _mat(qb).astype("int32")
    wa, wb = na.to_numpy(), nb.to_numpy()
    ok = (wa >= _MIN_NORM) & (wb >= _MIN_NORM)
    with np.errstate(divide="ignore", invalid="ignore"):
        ra, rb = sa.to_numpy() / wa, sb.to_numpy() / wb
        ub = ra * rb * (ma * mb).sum(axis=1) + 4.0 * ra + 4.0 * rb + 48.0 * ra * rb
    return pd.Series(np.where(ok, ub, np.inf))


cosine_ub_pair_once = cosine_ub_pair.asNondeterministic()


@pandas_udf(_ARR_L)
def quantize_i8(s: pd.Series) -> pd.Series:
    """Max-abs int8 codes: round(x * 127 / max|x|), half away from zero
    (matches Spark non-ANSI round and DuckDB round — numpy's own np.round
    is half-to-EVEN and would diverge on exact .5 ties)."""
    if s.empty:
        return _empty("object")
    m = _mat(s)
    # (x*127)/max in that order — the DuckDB oracle evaluates x*127 first,
    # and the other association can differ by 1 ulp, flipping an exact .5
    # boundary under half-away-from-zero.
    v = m * 127.0 / np.abs(m).max(axis=1, keepdims=True)
    q = np.sign(v) * np.floor(np.abs(v) + 0.5)
    return pd.Series(list(q.astype("int64")))


@pandas_udf(T.LongType())
def sign_pack(s: pd.Series) -> pd.Series:
    """1-bit (binary) quantization: bit j set iff e[j] >= 0, packed into a
    single int64 word (DIM == 64). 8 bytes/vector vs 256 raw — the code
    table is 32× narrower than the float corpus, and Hamming distance is
    one XOR + popcount (JVM bit_count, codegen'd) instead of 64 FMAs."""
    if s.empty:
        return _empty("int64")
    bits = (_mat(s) >= 0).astype(np.uint64)
    words = (bits << np.arange(DIM, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
    return pd.Series(words.view(np.int64))


@pandas_udf(T.DoubleType())
def qcosine_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    """Cosine over integer codes — integer dots are exact in int64."""
    if a.empty:
        return _empty()
    ma, mb = _mat(a).astype("int64"), _mat(b).astype("int64")
    num = (ma * mb).sum(axis=1).astype("float64")
    den = np.sqrt((ma * ma).sum(axis=1).astype("float64")) * np.sqrt(
        (mb * mb).sum(axis=1).astype("float64")
    )
    return pd.Series(num / den)


# Kernel UDFs built by the factories below, per session (session_key)
# and parameters. A pandas UDF pickles its function and creates its JVM
# SimplePythonFunction on first use and then keeps both, so a memoized
# UDF pays that once per session instead of at every plan build (16 of
# the 509 round trips of a dedup_embedding_lsh build, and the pickling of
# its plane table). Keyed by session, as
# tables.load_table's DataFrames are, so a UDF never outlives the
# SparkContext its JVM function lives in. Two threads that miss at once
# each build one; either UDF is correct.
_SESSION_UDFS: dict[tuple, object] = {}


def per_session(factory):
    """``factory(*params)`` becomes ``factory(spark, *params)``, built
    once per session and parameter set; ``factory.__wrapped__`` is the
    unmemoized factory."""

    @functools.wraps(factory)
    def memoized(spark, *args, **kwargs):
        from minimised_impala_spark.session import session_key

        key = (session_key(spark), factory.__name__, args, tuple(sorted(kwargs.items())))
        udf = _SESSION_UDFS.get(key)
        if udf is None:
            udf = _SESSION_UDFS[key] = factory(*args, **kwargs)
        return udf

    return memoized


@per_session
def make_bucket_udf(plane_offset: int, n_planes: int = N_PLANES):
    """UDF factory: hyperplane signature over planes
    [plane_offset, plane_offset + n_planes) — the SAME md5-derived plane
    table, so a second probe set (offset 8) is oracle-expressible with the
    identical _PLANE_SQL parameterized by plane index."""
    planes = plane_table(plane_offset + n_planes)[plane_offset:]
    powers = np.arange(n_planes)

    @pandas_udf(T.LongType())
    def bucket_of(s: pd.Series) -> pd.Series:
        if s.empty:
            return _empty("int64")
        dots = _mat(s) @ planes.T
        return pd.Series(((dots > 0) << powers).sum(axis=1).astype("int64"))

    return bucket_of


@per_session
def make_band_sig_udf(n_bands: int, band_planes: int):
    """UDF factory: banded LSH signatures — one ``band_planes``-bit bucket
    per band, band k over planes [k·band_planes, (k+1)·band_planes), all
    from the SAME md5-derived plane table. Returns array<long> of length
    ``n_bands``. One numpy matmul computes every plane dot for the batch
    (n × DIM @ DIM × n_bands·band_planes), so signature cost is flat in
    the band count. The banding tradeoff: a pair colliding in ANY band is
    a candidate — P(candidate) = 1 − (1 − p^r)^b for per-plane agreement
    p = 1 − θ/π, so recall at a given cosine rises with b while random
    collisions stay ∝ b·2^−r."""
    total = n_bands * band_planes
    planes = plane_table(total)  # total × DIM
    powers = np.arange(band_planes)

    @pandas_udf(_ARR_L)
    def band_sigs(s: pd.Series) -> pd.Series:
        if s.empty:
            return _empty("object")
        bits = (_mat(s) @ planes.T) > 0  # n × total
        b = bits.reshape(len(bits), n_bands, band_planes)
        sigs = (b << powers).sum(axis=2).astype("int64")  # n × n_bands
        return pd.Series(list(sigs))

    return band_sigs


@per_session
def make_lsh_prep_udf(n_bands: int, band_planes: int, with_norm_vec: bool = False):
    """UDF factory: ONE Arrow crossing per corpus row computes everything
    the banded-LSH dedup pipeline needs — the banded signatures (same
    definition as make_band_sig_udf), the int8 proxy codes + scale + L2
    norm for the rescore pre-filter (see cosine_ub_pair), and optionally
    the normalized vector for the exact rescore. Guide §4.1: the
    JVM↔Python crossing is the cost — cross once with every output."""
    total = n_bands * band_planes
    planes = plane_table(total)
    powers = np.arange(band_planes)
    fields = [
        T.StructField("sigs", _ARR_L),
        T.StructField("q", T.ArrayType(T.ByteType())),
        T.StructField("qs", T.DoubleType()),
        T.StructField("nrm", T.DoubleType()),
    ]
    if with_norm_vec:
        fields.append(T.StructField("ne", _ARR_D))

    @pandas_udf(T.StructType(fields))
    def lsh_prep(s: pd.Series) -> pd.DataFrame:
        cols = ["sigs", "q", "qs", "nrm"] + (["ne"] if with_norm_vec else [])
        if s.empty:
            return pd.DataFrame({c: _empty("object") for c in cols})
        m = _mat(s)
        bits = (m @ planes.T) > 0
        sigs = (bits.reshape(len(m), n_bands, band_planes) << powers).sum(
            axis=2
        ).astype("int64")
        scale = np.abs(m).max(axis=1) / 127.0
        safe = np.where(scale == 0.0, 1.0, scale)
        q = np.sign(m) * np.floor(np.abs(m) / safe[:, None] + 0.5)
        nrm = np.sqrt((m * m).sum(axis=1))
        out = {
            "sigs": list(sigs),
            "q": list(q.astype("int8")),
            "qs": scale,
            "nrm": nrm,
        }
        if with_norm_vec:
            out["ne"] = list(m / nrm[:, None])
        return pd.DataFrame(out)

    return lsh_prep


def make_probe_udf(centers: list[list[float]], nprobe: int):
    """UDF factory: indices of the ``nprobe`` nearest centroids (squared
    L2), ties broken by centroid index — centroids are closure-captured
    per k-means fit, so the assignment stage stays a narrow map with the
    centroid matrix shipped inside the task closure (broadcast-by-value)."""
    c = np.array(centers)  # nlist × DIM

    @pandas_udf(_ARR_I)
    def probe_lists(s: pd.Series) -> pd.Series:
        if s.empty:
            return _empty("object")
        m = _mat(s)
        # ||e - c||² = ||e||² - 2e·c + ||c||²; ||e||² constant per row
        d = -2.0 * (m @ c.T) + (c * c).sum(axis=1)[None, :]
        # stable argsort → ties by centroid index, matching the Column
        # formulation array_sort(struct(d, i))
        idx = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(idx.astype("int32")))

    return probe_lists


def make_pq_encode_udf(codebooks: list[list[list[float]]]):
    """UDF factory: product-quantization encoder. ``codebooks`` is
    M × K × dsub (one K-centroid codebook per contiguous subspace);
    each vector maps to M small codes = argmin squared-L2 per subspace
    (ties → lowest centroid index via argmin's first-occurrence rule).
    Codebooks are closure-captured, so encoding is a narrow map with the
    (tiny) codebook tensor shipped by value — no shuffle, no broadcast
    machinery needed."""
    cb = [np.array(c) for c in codebooks]
    m_sub = len(cb)
    dsub = cb[0].shape[1]

    @pandas_udf(_ARR_I)
    def pq_encode(s: pd.Series) -> pd.Series:
        if s.empty:
            return _empty("object")
        m = _mat(s)
        codes = np.empty((m.shape[0], m_sub), dtype="int32")
        for j in range(m_sub):
            sub = m[:, j * dsub : (j + 1) * dsub]
            c = cb[j]
            d = -2.0 * (sub @ c.T) + (c * c).sum(axis=1)[None, :]
            codes[:, j] = np.argmin(d, axis=1)
        return pd.Series(list(codes))

    return pq_encode


def make_adc_udf(codebooks: list[list[list[float]]]):
    """UDF factory: asymmetric-distance scoring — exact query sub-vectors
    against the CODED corpus: score = Σ_j q_j · codebook[j][code_j]. With
    pre-normalized inputs this approximates cosine while the corpus side
    stores only M bytes per vector — the memory path that lets a
    billion-vector corpus fit executor RAM."""
    cb = np.stack([np.array(c) for c in codebooks])  # M × K × dsub
    m_sub, _, dsub = cb.shape

    @pandas_udf(T.DoubleType())
    def adc_dot(q: pd.Series, codes: pd.Series) -> pd.Series:
        if q.empty:
            return _empty()
        mq = _mat(q)
        mc = np.vstack(codes.to_numpy()).astype("int64")
        total = np.zeros(mq.shape[0])
        for j in range(m_sub):
            total += (mq[:, j * dsub : (j + 1) * dsub] * cb[j][mc[:, j]]).sum(axis=1)
        return pd.Series(total)

    return adc_dot


def train_pq_codebooks(
    sample: "np.ndarray", m_sub: int, k: int, iters: int = 12, seed: int = 42
) -> list[list[list[float]]]:
    """Seeded Lloyd's k-means per contiguous subspace over a driver-side
    SAMPLE matrix (n × DIM) — how production PQ trains codebooks (FAISS
    trains on a bounded sample too): the codebook tensor is M·K·dsub
    floats, so training belongs on the driver, not in a 16-fit
    pyspark.ml pipeline (measured 19 s vs <0.1 s at sf0.1 for identical
    recall). Deterministic: seeded init, stable argmin ties, empty
    clusters keep their previous center."""
    dsub = sample.shape[1] // m_sub
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m_sub):
        x = sample[:, j * dsub : (j + 1) * dsub]
        init = rng.choice(x.shape[0], size=min(k, x.shape[0]), replace=False)
        c = x[np.sort(init)].copy()
        if c.shape[0] < k:  # degenerate tiny sample: pad by repeating
            c = np.vstack([c] * (k // c.shape[0] + 1))[:k]
        for _ in range(iters):
            d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d, axis=1)
            for ci in range(k):
                pts = x[a == ci]
                if len(pts):
                    c[ci] = pts.mean(axis=0)
        books.append(c.tolist())
    return books


def make_residual_udf(centers: list[list[float]]):
    """UDF factory: residual vector x − centroid[list_id] — the IVF-PQ
    encoding input (PQ codes quantize the residual, which has far less
    energy than the raw vector once the coarse quantizer explains the
    list mean)."""
    c = np.array(centers)

    @pandas_udf(_ARR_D)
    def residual_of(s: pd.Series, lid: pd.Series) -> pd.Series:
        if s.empty:
            return _empty("object")
        m = _mat(s) - c[lid.to_numpy().astype("int64")]
        return pd.Series(list(m))

    return residual_of


def make_center_dot_udf(centers: list[list[float]]):
    """UDF factory: q · centroid[list_id] — the coarse term of the IVF-PQ
    score decomposition dot(q, x) = dot(q, c_list) + dot(q, residual)."""
    c = np.array(centers)

    @pandas_udf(T.DoubleType())
    def center_dot(q: pd.Series, lid: pd.Series) -> pd.Series:
        if q.empty:
            return _empty()
        return pd.Series(
            (_mat(q) * c[lid.to_numpy().astype("int64")]).sum(axis=1)
        )

    return center_dot


def make_kmeans_assign_udf(centers: list[list[float]]):
    """UDF factory: index of the nearest centroid by squared-L2 distance
    ROUNDED to 6 decimals, ties broken by centroid index (numpy argmin's
    first-occurrence rule). The rounding is the oracle-parity contract:
    the DuckDB side recomputes round(list_distance(e, c)^2, 6) with its
    own accumulation order and both engines agree after rounding (inputs
    are unit-norm, so d^2 is in [0, 4] and the 1e-13 cross-engine noise
    is far below the 1e-6 grid — and mathematically-equal ties, e.g. a
    vector that IS a centroid duplicated, round identically on both
    sides and fall through to the index tie-break).

    Centroids are closure-captured (a K x DIM float matrix — bytes, not
    a DataFrame), so assignment is a narrow map with no shuffle and no
    broadcast machinery: the Lloyd's-iteration reduce is the only
    exchange in the k-means plan."""
    c = np.array(centers)  # K × DIM

    @pandas_udf(T.IntegerType())
    def assign_cluster(s: pd.Series) -> pd.Series:
        if s.empty:
            return _empty("int32")
        m = _mat(s)
        # ||e||² − 2e·c + ||c||² — one BLAS matmul instead of an n×K×DIM
        # intermediate; the association noise vs (e−c)² is absorbed by
        # the same round-6 grid as the cross-engine noise.
        d = (
            (m * m).sum(axis=1)[:, None]
            - 2.0 * (m @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
        return pd.Series(np.argmin(np.round(d, 6), axis=1).astype("int32"))

    return assign_cluster
