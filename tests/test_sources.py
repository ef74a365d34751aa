"""Source/sink round-trip tests — the reference's format matrix
("test vectors", testdata/workloads/README: per-format × compression
execution of the same queries; SURVEY §5.1)."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from minimised_impala_spark.sources import formats
from minimised_impala_spark.tables import load_table


@pytest.fixture()
def sample(spark, sf_dir):
    return load_table(spark, sf_dir, "nation")


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy(df.columns[0]).collect()]


def test_text_roundtrip_plain(spark, sample, tmp_path):
    path = str(tmp_path / "txt")
    formats.write_text(sample, path, sep="|", header=True)
    back = formats.read_text(
        spark, path, schema="n_nationkey INT, n_name STRING, n_regionkey INT",
        sep="|", header=True,
    )
    assert _sorted_rows(back) == _sorted_rows(sample)


def test_text_roundtrip_gzip(spark, sample, tmp_path):
    path = str(tmp_path / "txt_gz")
    formats.write_text(sample, path, compression="gzip", header=True)
    import glob

    assert glob.glob(f"{path}/*.gz"), "expected gzip part files"
    back = formats.read_text(
        spark, path, schema="n_nationkey INT, n_name STRING, n_regionkey INT", header=True
    )
    assert back.count() == 25


def test_text_escaping(spark, tmp_path):
    """Delimiters/quotes inside values survive the round trip
    (delimited-text-parser.cc:293 escaping semantics)."""
    df = spark.createDataFrame(
        [(1, 'a,b'), (2, 'c"d'), (3, "e\\f"), (4, None)], "k INT, v STRING"
    )
    path = str(tmp_path / "esc")
    formats.write_text(df, path, header=True)
    back = formats.read_text(spark, path, schema="k INT, v STRING", header=True)
    assert _sorted_rows(back) == _sorted_rows(df)


def test_json_roundtrip(spark, sample, tmp_path):
    path = str(tmp_path / "json")
    formats.write_json(sample, path)
    back = formats.read_json(spark, path, schema=sample.schema)
    assert _sorted_rows(back) == _sorted_rows(sample)


def test_parquet_roundtrip_codecs(spark, sample, tmp_path):
    for codec in ("snappy", "gzip", "zstd"):
        path = str(tmp_path / f"pq_{codec}")
        formats.write_parquet(sample, path, compression=codec)
        assert formats.read_parquet(spark, path).count() == 25


def test_partitioned_write_layout(spark, sample, tmp_path):
    """One directory per key value, pruned on read — the HdfsTableSink/
    HdfsPartition directory model."""
    import os

    path = str(tmp_path / "part")
    formats.write_partitioned(sample, path, ["n_regionkey"])
    dirs = {d for d in os.listdir(path) if d.startswith("n_regionkey=")}
    assert dirs == {f"n_regionkey={i}" for i in range(5)}
    back = formats.read_parquet(spark, path).filter("n_regionkey = 3")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert back.count() == 5


def test_avro_roundtrip_if_available(spark, sample, tmp_path):
    if not formats.avro_available(spark):
        pytest.skip("spark-avro not on classpath in this deployment")
    path = str(tmp_path / "avro")
    sample.write.format("avro").mode("overwrite").save(path)
    assert formats.read_avro(spark, path).count() == 25


def test_source_agnostic_operators(spark, sample, tmp_path):
    """The same aggregation runs identically over text/json/parquet copies
    of one table — the reference's per-format test-vector matrix."""
    results = []
    p1 = str(tmp_path / "m_txt")
    formats.write_text(sample, p1, header=True)
    results.append(
        formats.read_text(
            spark, p1, schema="n_nationkey INT, n_name STRING, n_regionkey INT", header=True
        )
    )
    p2 = str(tmp_path / "m_json")
    formats.write_json(sample, p2)
    results.append(formats.read_json(spark, p2, schema=sample.schema))
    p3 = str(tmp_path / "m_pq")
    formats.write_parquet(sample, p3)
    results.append(formats.read_parquet(spark, p3))
    counts = {
        tuple(
            sorted(
                tuple(r)
                for r in df.groupBy("n_regionkey").agg(F.count("*").alias("n")).collect()
            )
        )
        for df in results
    }
    assert len(counts) == 1


def test_orc_roundtrip(spark, tmp_path):
    from minimised_impala_spark.sources import formats

    df = spark.range(100).selectExpr("id", "CAST(id % 7 AS STRING) AS k")
    p = str(tmp_path / "orc_t")
    formats.write_orc(df, p)
    back = formats.read_orc(spark, p)
    assert back.count() == 100
    assert dict(back.dtypes) == {"id": "bigint", "k": "string"}


def test_compact_files(spark, tmp_path):
    import os

    from minimised_impala_spark.sources import formats

    p = str(tmp_path / "many_small")
    # 40 tiny files
    spark.range(4000).repartition(40).write.parquet(p)
    n_in = len([f for f in os.listdir(p) if f.endswith(".parquet")])
    assert n_in >= 20
    n_out = formats.compact_files(spark, p, target_file_bytes=10 * 1024 * 1024)
    n_files = len([f for f in os.listdir(p) if f.endswith(".parquet")])
    assert n_files == n_out < n_in
    assert spark.read.parquet(p).count() == 4000
    assert not os.path.exists(p + "._compact_staging")
    assert not os.path.exists(p + "._compact_old")


def test_compact_files_recovers_from_stale_dirs(spark, tmp_path):
    """A leftover backup/staging dir from a crashed run must not wedge the
    next compaction; a stranded backup with no data dir is restored."""
    import os
    import shutil

    from minimised_impala_spark.sources import formats

    p = str(tmp_path / "ds")
    spark.range(100).repartition(4).write.parquet(p)
    # simulate a crash between the two renames: data at backup, none at path
    os.rename(p, p + "._compact_old")
    formats.compact_files(spark, p, target_file_bytes=64 * 1024 * 1024)
    assert spark.read.parquet(p).count() == 100
    assert not os.path.exists(p + "._compact_old")
    # simulate stale staging + stale backup alongside live data
    os.makedirs(p + "._compact_staging")
    shutil.copytree(p, p + "._compact_old")
    formats.compact_files(spark, p, target_file_bytes=64 * 1024 * 1024)
    assert spark.read.parquet(p).count() == 100
    assert not os.path.exists(p + "._compact_staging")
    assert not os.path.exists(p + "._compact_old")


def test_text_malformed_row_modes(spark, tmp_path):
    """Malformed-row tolerance — the reference's text scanner counts and
    tolerates parse errors per row (hdfs-text-scanner.h); the csv source
    exposes the same policy as PERMISSIVE / DROPMALFORMED / FAILFAST."""
    import pytest as _pytest

    from minimised_impala_spark.sources import formats

    p = tmp_path / "bad.csv"
    p.write_text("1,a\nnot_an_int,b\n3,c\n")
    schema = "k INT, v STRING"

    perm = formats.read_text(spark, str(p), schema=schema).collect()
    assert len(perm) == 3
    assert sorted([r["k"] for r in perm], key=lambda x: (x is None, x)) == [1, 3, None]

    dropped = formats.read_text(
        spark, str(p), schema=schema, mode="DROPMALFORMED"
    ).collect()
    assert sorted(r["k"] for r in dropped) == [1, 3]

    with _pytest.raises(Exception):
        formats.read_text(spark, str(p), schema=schema, mode="FAILFAST").collect()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema-on-read evolution: files written before an ALTER TABLE ADD
    COLUMNS coexist with newer wide files; mergeSchema unifies them and
    old rows surface NULL for the added column (the reference's
    HdfsTable schema-evolution contract)."""
    p = str(tmp_path / "evolve")
    spark.range(5).selectExpr("id", "CAST(id * 2 AS DOUBLE) AS v").write.parquet(p)
    spark.range(5, 10).selectExpr(
        "id", "CAST(id * 2 AS DOUBLE) AS v", "CONCAT('tag', id) AS tag"
    ).write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "v", "tag"}
    rows = {r.id: r.tag for r in merged.collect()}
    assert all(rows[i] is None for i in range(5))
    assert all(rows[i] == f"tag{i}" for i in range(5, 10))


def test_parquet_compression_codecs(spark, sample, tmp_path):
    """Codec matrix round-trip (the reference's per-format codec support,
    hdfs-parquet-table-writer.h codec negotiation): every supported codec
    yields identical data."""
    import pyarrow.parquet as pq
    import glob

    expected = sorted(map(tuple, sample.collect()))
    for codec in ("snappy", "gzip", "zstd", "none"):
        p = str(tmp_path / f"c_{codec}")
        sample.coalesce(1).write.option("compression", codec).parquet(p)
        back = sorted(map(tuple, spark.read.parquet(p).collect()))
        assert back == expected, codec
        meta = pq.ParquetFile(glob.glob(p + "/*.parquet")[0]).metadata
        got = meta.row_group(0).column(0).compression.lower()
        want = {"none": "uncompressed"}.get(codec, codec)
        assert got == want, (codec, got)


def test_staging_is_private_to_each_process(sf_dir):
    """Queries that stage a fixture table (a format round trip, a stream's
    input links) write under a directory of their own process: two
    processes running them over one fixture at once neither overwrite nor
    delete each other's files, both stay oracle-strict, and each removes
    its directories when it exits."""
    from tools import mis

    cmd = [sys.executable, mis.__file__, "oracle", "source_avro_scan", "source_text_scan",
           "streaming_window_counts", "--sf", sf_dir, "--cpus", "2"]
    procs = [subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
             for _ in range(2)]
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0, out + err[-2000:]
        assert "BAD: []" in out, out
        assert not glob.glob(os.path.join(tempfile.gettempdir(), f"mis_{p.pid}_*"))
