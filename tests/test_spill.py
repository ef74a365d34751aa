"""Constrained-memory spill behavior — the engine analogue of the
reference's spill-to-disk infrastructure (be/src/runtime/sorter.cc,
buffered-block-mgr.cc): a sort whose input exceeds execution memory must
spill and still produce the complete, correct result. Spark's external
sort (UnsafeExternalSorter) is the replacement; this pins that it
actually engages (spillSize > 0) rather than OOMing, in a dedicated
small-heap JVM."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_external_sort_spills_and_completes():
    script = textwrap.dedent(
        f"""
        import sys; sys.path.insert(0, {_REPO!r})
        from pyspark.sql import SparkSession, functions as F
        spark = (SparkSession.builder.master("local[4]")
                 .config("spark.driver.memory", "600m")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        n_in = 6_000_000
        df = (spark.range(0, n_in, 1, 8)
              .select(F.col("id"),
                      F.sha2(F.col("id").cast("string"), 256).alias("payload")))
        s = df.orderBy(F.desc("payload"))
        # execute the FULL sort through its own queryExecution so the
        # plan's metric registry fills in (count()/limit() would optimize
        # the sort away)
        n_out = s._jdf.queryExecution().toRdd().count()
        from minimised_impala_spark.engine import render_profile
        prof = render_profile(s)
        import re
        spills = [int(x) for x in re.findall(r"spillSize=(\\d+)", prof)]
        print("ROWS", n_out)
        print("SPILL", max(spills) if spills else 0)
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(
        l.split() for l in out.stdout.splitlines() if l.startswith(("ROWS", "SPILL"))
    )
    assert int(lines["ROWS"]) == 6_000_000
    assert int(lines["SPILL"]) > 100_000_000, lines  # really spilled, not fringe


def test_hash_aggregate_spills_and_completes():
    """High-cardinality aggregation (every group distinct) exceeding the
    heap: HashAggregate must fall back to sort-based aggregation
    (spill size > 0) and still return the exact group count."""
    script = textwrap.dedent(
        f"""
        import sys; sys.path.insert(0, {_REPO!r})
        from pyspark.sql import SparkSession, functions as F
        spark = (SparkSession.builder.master("local[4]")
                 .config("spark.driver.memory", "500m")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        n_in = 8_000_000
        df = (spark.range(0, n_in, 1, 8)
              .select(F.sha2(F.col("id").cast("string"), 256).alias("g")))
        a = df.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
        n_out = a._jdf.queryExecution().toRdd().count()
        from minimised_impala_spark.engine import render_profile
        prof = render_profile(a)
        import re
        spills = [int(x) for x in re.findall(r"spillSize=(\\d+)", prof)]
        fallbacks = [int(x) for x in re.findall(r"numTasksFallBacked=(\\d+)", prof)]
        print("ROWS", n_out)
        print("SPILL", max(spills) if spills else 0)
        print("FALLBACK", max(fallbacks) if fallbacks else 0)
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(
        l.split() for l in out.stdout.splitlines() if l.startswith(("ROWS", "SPILL"))
    )
    assert int(lines["ROWS"]) == 8_000_000
    assert int(lines["SPILL"]) > 0, lines  # sort-based fallback engaged


def test_join_with_distinct_agg_spills_and_completes():
    """The reference's agg_stress.test shape: self-join fan-out feeding a
    count(DISTINCT wide-string) under a memory limit that forces both the
    sort-merge join's sorts and the distinct aggregate to spill
    (buffered-block-mgr.cc races were the reference's target; here we pin
    that Spark's external join/agg paths engage and the answer is exact)."""
    script = textwrap.dedent(
        f"""
        import sys; sys.path.insert(0, {_REPO!r})
        from pyspark.sql import SparkSession, functions as F
        spark = (SparkSession.builder.master("local[4]")
                 .config("spark.driver.memory", "600m")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.sql.autoBroadcastJoinThreshold", "-1")
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        n = 1_500_000
        base = (spark.range(0, n, 1, 8)
                .select((F.col("id") / 7).cast("bigint").alias("k"),
                        F.sha2(F.col("id").cast("string"), 256).alias("payload")))
        l1 = base.select(F.col("k").alias("k1"), F.col("payload").alias("p1"))
        l2 = base.select(F.col("k").alias("k2"), F.col("payload").alias("p2"))
        j = l1.join(l2, F.col("k1") == F.col("k2"))
        out = j.agg(F.countDistinct("p2").alias("nd"))
        row = out.collect()[0]
        from minimised_impala_spark.engine import render_profile
        import re
        prof = render_profile(out)
        spills = [int(x) for x in re.findall(r"spillSize=(\\d+)", prof)]
        print("ND", row["nd"])
        print("SPILL", max(spills) if spills else 0)
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(
        l.split() for l in out.stdout.splitlines() if l.startswith(("ND", "SPILL"))
    )
    # every payload survives the equi-join (each key matches itself)
    assert int(lines["ND"]) == 1_500_000
    assert int(lines["SPILL"]) > 10_000_000, lines
