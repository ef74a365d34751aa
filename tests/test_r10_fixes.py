"""Round-10 regression pins for the four r9 ADVICE items.

Each test pins the FIX, not just the symptom, so a refactor that
reintroduces the old behavior fails here with a named message.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from minimised_impala_spark.dialect import translate
from minimised_impala_spark.queries.tpch import isum
from minimised_impala_spark.sources.formats import (
    read_mixed_partitions,
    write_parquet,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --------------------------------------------------------------------------
# ADVICE #1 (medium): isum must not wrap past BIGINT range. A BIGINT
# accumulator silently wraps once the scaled group sum exceeds 9.2e18
# (~TPC-H SF 150 for q1's sum_charge); the DECIMAL(38,0) accumulator is
# exact to 1e38. Four 5e18-scaled terms sum to 2e19 — past the wrap point.
def test_isum_exact_past_bigint_range(spark):
    df = spark.range(4).select(F.lit(5.0e12).alias("x"))
    got = df.agg(isum(F.col("x"), 6).alias("s")).collect()[0]["s"]
    assert got == 2.0e13, f"isum wrapped or lost precision: {got}"


def test_isum_result_type_is_double(spark):
    # The driver's schema compare needs the output column to stay DOUBLE
    # (decimal would leak a different dtype into tpch_q1's schema).
    df = spark.range(3).select((F.col("id") + 0.25).alias("x"))
    out = df.agg(isum(F.col("x"), 6).alias("s"))
    assert dict(out.dtypes)["s"] == "double"


# --------------------------------------------------------------------------
# ADVICE #2 (low): the IREGEXP operand binds LOWER than arithmetic in the
# reference grammar (sql-parser.cup), so 'x IREGEXP p1 + p2' must rewrite
# the WHOLE arithmetic expression as the pattern, and a comment between
# IREGEXP and a literal pattern must be skipped, not treated as the
# operand.
def test_iregexp_arithmetic_operand():
    assert translate("SELECT x IREGEXP p1 + p2 FROM t") == (
        "SELECT x RLIKE concat('(?i)', p1 + p2) FROM t"
    )


def test_iregexp_comment_before_literal_operand():
    assert translate("SELECT x IREGEXP /* c */ 'a.c' FROM t") == (
        "SELECT x RLIKE '(?i)a.c' FROM t"
    )
    assert translate("SELECT x IREGEXP -- c\n 'a.c' FROM t") == (
        "SELECT x RLIKE '(?i)a.c' FROM t"
    )


def test_iregexp_operand_stops_at_lower_precedence():
    # '&&' (dialect AND) is lower precedence: operand must end before it,
    # and the '&&' itself still rewrites to AND afterwards.
    out = translate("SELECT * FROM t WHERE x IREGEXP p && y > 1")
    assert "RLIKE concat('(?i)', p)" in out and " AND " in out
    # Function-call + string concat-arg shape stays intact.
    assert translate("SELECT x IREGEXP concat(a, 'b') AS m FROM t") == (
        "SELECT x RLIKE concat('(?i)', concat(a, 'b')) AS m FROM t"
    )


def test_iregexp_missing_operand_raises():
    with pytest.raises(ValueError, match="IREGEXP"):
        translate("SELECT x IREGEXP FROM t")


# --------------------------------------------------------------------------
# ADVICE #3 (low): read_mixed_partitions on a fully-pruned (empty)
# partition list returns an empty relation of the declared schema, and
# partitions with DIFFERING partition-key sets union with NULL fill.
def test_mixed_partitions_fully_pruned(spark):
    out = read_mixed_partitions(
        spark, [], "id bigint, v string, pk string"
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "v", "pk"]


def test_mixed_partitions_differing_partition_keys(spark, tmp_path):
    df = spark.range(3).select(F.col("id"), F.lit("a").alias("v"))
    p1, p2 = str(tmp_path / "p1"), str(tmp_path / "p2")
    write_parquet(df, p1)
    write_parquet(df, p2)
    out = read_mixed_partitions(
        spark,
        [(p1, "parquet", {"year": 2024}), (p2, "parquet", {"month": 7})],
        "id bigint, v string",
    )
    rows = out.orderBy("id", "year").collect()
    assert len(rows) == 6
    assert {r["year"] for r in rows} == {2024, None}
    assert {r["month"] for r in rows} == {7, None}


# --------------------------------------------------------------------------
# ADVICE #4 (low): explain() must tolerate conf.get returning None for an
# unset EXPLAIN_LEVEL (some PySpark variants return None instead of
# raising) — default to level 1, not TypeError.
def test_explain_level_none_conf(spark, monkeypatch):
    from minimised_impala_spark.engine import Engine

    eng = Engine(spark)
    monkeypatch.setattr(
        eng.spark.conf, "get", lambda *a, **k: None, raising=False
    )
    txt = eng.explain("SELECT 1 AS one")
    assert "Project" in txt or "one" in txt


# --------------------------------------------------------------------------
# Latent-audit class 3 (float division/conversion) for the r10 isum change:
# past 2^53 the DECIMAL(38,0) sum is no longer exactly representable as a
# double, so the final cast ROUNDS — engine and oracle must round the same
# decimal to the same double or the hash compare diverges exactly where
# the overflow fix starts mattering. Both must be correctly-rounded
# (round-half-even) decimal->double conversions.
def test_decimal_to_double_cast_parity_past_2_53(spark):
    import duckdb

    vals = [
        9007199254740993,          # 2^53 + 1 (first non-representable odd)
        9007199254740995,
        18014398509481985,         # 2^54 + 1
        123456789012345678901,     # ~1.2e20, well past 2^63 too
        99999999999999999999999999999999999999,  # max DECIMAL(38,0)
    ]
    con = duckdb.connect()
    for v in vals:
        s = spark.sql(
            f"SELECT CAST(CAST('{v}' AS DECIMAL(38,0)) AS DOUBLE) AS d"
        ).collect()[0]["d"]
        d = con.execute(
            f"SELECT CAST(CAST('{v}' AS DECIMAL(38,0)) AS DOUBLE)"
        ).fetchone()[0]
        assert s == d == float(v), (v, s, d, float(v))


# --------------------------------------------------------------------------
# A persisted seam must stay CORRECT when its cached blocks are lost: Spark
# recomputes a missing partition from lineage, which is safe only because
# the seam builds are deterministic. Seams are persists only inside
# query_scope(), so the probe builds each query in a scope, as registry.run
# does. It runs in a SUBPROCESS JVM whose unified memory is squeezed (tiny
# heap, minimal storage protection); at sf0.001 that alone evicts no block
# (every seam stays whole in memory), so after the first collect the probe
# also removes every block of the query's persisted seams, builds the query
# again in the same scope (its plan reads the same cache entries) and
# collects it. Both results must be bit-identical to the suite session's.
# (A second in-process SparkSession would silently reuse the existing JVM
# and its memory config.) Eager checkpoints (seam(df, now=True)) have no
# lineage to recompute from and are left alone.
_EVICTED = (
    "events_triangle_count", "dedup_threshold_sweep", "text_ngram_novelty",
    "multimodal_phash_neardup", "sim_ann_recall_report", "events_link_prediction",
    "events_degree_distribution", "streaming_dedup_lsh",
)


def test_persist_seams_correct_under_cache_eviction(spark, tmp_path):
    import json
    import subprocess
    import sys as _sys

    from minimised_impala_spark.queries import load_all
    from minimised_impala_spark.queries.registry import QUERIES
    from minimised_impala_spark.seams import query_scope

    load_all()
    sf = "/root/testdata/sf0.001"
    want = {}
    for n in _EVICTED:
        with query_scope():
            want[n] = sorted(map(repr, map(tuple, QUERIES[n](spark, sf).collect())))
    script = tmp_path / "evict_probe.py"
    script.write_text(
        """
import json, sys
sys.path.insert(0, %r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]").appName("mis-evict")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "640m")
    .config("spark.memory.fraction", "0.2")
    .config("spark.memory.storageFraction", "0.05")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from minimised_impala_spark.queries import load_all
from minimised_impala_spark.queries.registry import QUERIES
from minimised_impala_spark.seams import query_scope
load_all()
NAMES = %r
jsc = spark.sparkContext._jsc
blocks = jsc.sc().env().blockManager().master()
block = spark._jvm.org.apache.spark.storage.RDDBlockId
def held(rdds, i):
    return sum(blocks.contains(block(i, p)) for p in range(rdds.get(i).getNumPartitions()))
def run(n):
    return sorted(map(repr, map(tuple, QUERIES[n](spark, "/root/testdata/sf0.001").collect())))
out = {}
for n in NAMES:
    with query_scope():
        before = set(jsc.getPersistentRDDs().keySet())
        first = run(n)
        rdds = jsc.getPersistentRDDs()
        seams = [i for i in rdds.keySet()
                 if i not in before and not rdds.get(i).rdd().isLocallyCheckpointed()]
        cached = sum(held(rdds, i) for i in seams)
        for i in seams:
            blocks.removeRdd(i, True)
        lost = sum(held(rdds, i) for i in seams)
        again = run(n)
        recomputed = sum(held(rdds, i) for i in seams)
    out[n] = {"first": first, "again": again, "seams": len(seams),
              "cached": cached, "lost": lost, "recomputed": recomputed}
print("EVICT_RESULT " + json.dumps(out))
""" % (_REPO, _EVICTED)
    )
    r = subprocess.run(
        [_sys.executable, str(script)], capture_output=True, text=True,
        timeout=420,
    )
    line = [l for l in r.stdout.splitlines() if l.startswith("EVICT_RESULT ")]
    assert line, f"probe failed: {r.stderr[-1500:]}"
    got = json.loads(line[0][len("EVICT_RESULT "):])
    for n, w in want.items():
        g = got[n]
        assert g["seams"] and g["cached"], f"{n}: no persisted seam was cached"
        assert g["lost"] == 0, f"{n}: {g['lost']} seam blocks survived removal"
        assert g["recomputed"], f"{n}: no lost seam block was recomputed"
        assert g["first"] == w, f"{n} diverged under memory pressure"
        assert g["again"] == w, f"{n} diverged after its seam blocks were lost"
