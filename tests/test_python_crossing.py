"""The JVM↔Python crossing: a reused worker's import set-up, Python stages
that run once under a global sort, and the int8 rescore kernels those
stages run (evaluated in-process through each UDF's ``.func``)."""

from __future__ import annotations

import functools
import importlib
import importlib.machinery
import math
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from minimised_impala_spark.extensions import vector_kernels as VK
from minimised_impala_spark.queries import load_all
from minimised_impala_spark.queries.registry import fresh
from minimised_impala_spark.shipping import drop_zip_finders
from tools.plan_audit import physical_plan, pysort, python_nodes

load_all()

# Every registry query with a Python evaluation node in its physical plan
# (tools/plan_audit.py lists them; the test below fails for an entry that
# stops crossing into Python).
PYTHON_QUERIES = (
    "dedup_embedding", "dedup_embedding_lsh", "dedup_semdedup",
    "dedup_threshold_sweep", "multimodal_audio_chunks",
    "multimodal_decode_stub", "multimodal_features",
    "multimodal_frame_sample", "multimodal_pair_clip_filter",
    "multimodal_resize_stub", "pipeline_quality_scorecard",
    "sim_ann_recall_report", "sim_binary_quant_topk", "sim_cosine_topk",
    "sim_filtered_ann", "sim_ivf_ann", "sim_ivfpq_ann", "sim_kmeans_cluster",
    "sim_knn_classify", "sim_lsh_ann", "sim_lsh_buckets",
    "sim_lsh_multiprobe", "sim_matryoshka_topk", "sim_mmr_rerank",
    "sim_pq_ann", "sim_quantized_topk", "sim_range_search", "sim_rrf_hybrid",
    "source_avro_scan", "text_wordpiece_encode", "uda_grouped_pandas",
    "udf_pandas_scalar", "udtf_longest_streak", "udtf_sentence_split",
)


@pytest.mark.parametrize("name", PYTHON_QUERIES)
def test_python_stage_not_resampled_by_sort(name, spark, sf_dir):
    """No Python stage feeds a global sort's range partitioner directly:
    the partitioner samples its input by running it, so that stage would
    run twice (shipping.order_after_python puts an exchange between)."""
    plan = physical_plan(fresh(name)(spark, sf_dir))
    assert python_nodes(plan), f"{name} has no Python stage; drop it from the list"
    assert not pysort(plan), plan.toString()


def test_drop_zip_finders_stops_zip_rereads(tmp_path, monkeypatch):
    archive = tmp_path / "kernels.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mis_zip_mod_a.py", "A = 1\n")
        z.writestr("mis_zip_mod_b.py", "B = 2\n")
    plain = tmp_path / "files"
    plain.mkdir()
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.syspath_prepend(str(plain))  # searched first: its finder is cached
    names = ("mis_zip_mod_a", "mis_zip_mod_b", "mis_late_mod")
    try:
        importlib.import_module("mis_zip_mod_a")
        cache = sys.path_importer_cache
        assert isinstance(cache[str(archive)], zipimport.zipimporter)

        drop_zip_finders()
        reads = []
        real_read = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
        )
        importlib.invalidate_caches()  # what PySpark runs at every task start
        assert reads == []

        assert importlib.import_module("mis_zip_mod_b").B == 2
        assert sys.modules["mis_zip_mod_b"].__file__.startswith(str(archive))
        assert isinstance(cache[str(plain)], importlib.machinery.FileFinder)
        # a .py file shipped after the drop (SparkFiles) is still found
        (plain / "mis_late_mod.py").write_text("C = 3\n")
        importlib.invalidate_caches()
        assert importlib.import_module("mis_late_mod").C == 3
    finally:
        for name in names:
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        sys.path_importer_cache.pop(str(plain), None)


# -- int8 rescore kernels ---------------------------------------------------

_components = st.lists(
    st.floats(-1.0, 1.0, allow_nan=False), min_size=VK.DIM, max_size=VK.DIM
)
# 10^-320 reaches subnormals, where a vector's squared norm underflows
_scale = st.integers(-320, 3).map(lambda k: 10.0**k)
_vector = st.one_of(
    st.just([0.0] * VK.DIM),
    st.builds(lambda v, s: (np.array(v) * s).tolist(), _components, _scale),
)


@functools.cache
def _prep(n_bands: int, band_planes: int):
    return VK.make_lsh_prep_udf(n_bands, band_planes).func


@functools.cache
def _band_sigs(n_bands: int, band_planes: int):
    return VK.make_band_sig_udf(n_bands, band_planes).func


def _exact_cosine(a: np.ndarray, b: np.ndarray) -> float:
    # divide by the max first so subnormal inputs keep their precision
    a, b = a / np.abs(a).max(), b / np.abs(b).max()
    return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))


@settings(max_examples=300, deadline=None)
@given(_vector, _vector)
def test_cosine_ub_pair_bounds_exact_cosine(a, b):
    """The pre-filter drops no true pair: its value is never below the
    exact cosine. A zero vector (or one whose squared norm underflows)
    has no usable bound and yields +inf — always a candidate, so the
    exact rescore decides."""
    p = _prep(1, 8)(pd.Series([np.array(a), np.array(b)]))
    ub = VK.cosine_ub_pair.func(
        p["q"][:1], p["qs"][:1], p["nrm"][:1],
        p["q"][1:], p["qs"][1:], p["nrm"][1:],
    ).to_numpy()
    assert ub.shape == (1,)
    va, vb = np.array(a), np.array(b)
    if not va.any() or not vb.any():
        assert ub[0] == math.inf
    else:
        assert ub[0] >= _exact_cosine(va, vb)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(_vector, min_size=1, max_size=6),
    st.sampled_from([(1, 8), (4, 5), (88, 12)]),
)
def test_lsh_prep_sigs_match_band_sig_udf(rows, shape):
    """The fused prep kernel's signatures are the banded-LSH signatures."""
    s = pd.Series([np.array(r) for r in rows])
    fused = np.vstack(_prep(*shape)(s)["sigs"].to_numpy())
    plain = np.vstack(_band_sigs(*shape)(s).to_numpy())
    assert np.array_equal(fused, plain)


@pytest.mark.parametrize("n", [VK.N_PLANES, 88 * 12])
def test_plane_table_is_the_plane_definition_read_only(n):
    """The memoized table is ``plane()`` row for row (the definition the
    DuckDB oracle mirrors), is built once per size, and cannot be
    written: every UDF a factory builds shares it."""
    table = VK.plane_table(n)
    assert table.tolist() == [VK.plane(i) for i in range(n)]
    assert not table.flags.writeable
    assert VK.plane_table(n) is table
    with pytest.raises(ValueError):
        table[0, 0] = 0.0
