"""COMPUTE STATS must be load-bearing, not just parsed: the reference's
planner uses table/column stats to pick broadcast vs partitioned joins
(fe/.../planner/DistributedPlanner.java decides on the build side's
estimated size from HdfsTable stats). The Spark analogue: a hive-serde
table WITHOUT catalog stats (and spark.sql.statistics.fallBackToHdfs
off) is costed at defaultSizeInBytes (effectively infinite), so the
static planner refuses to broadcast it; after the dialect's
COMPUTE STATS runs (→ ANALYZE TABLE ... COMPUTE STATISTICS), the same
join plans as a BroadcastHashJoin. This pins the full chain
dialect verb → catalog stats → physical join strategy.

Runs in a subprocess because enableHiveSupport is a static conf that
can't be flipped on the shared test session (same pattern as
test_hive_udf.py).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_compute_stats_flips_join_to_broadcast(tmp_path):
    driver = tmp_path / "drive.py"
    driver.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {_REPO!r})
            from pyspark.sql import SparkSession

            spark = (SparkSession.builder.master("local[2]")
                     .config("spark.ui.enabled", "false")
                     .config("spark.sql.warehouse.dir", r"{tmp_path}/wh")
                     .config("spark.driver.extraJavaOptions",
                             r"-Dderby.system.home={tmp_path}/derby")
                     .config("spark.sql.statistics.fallBackToHdfs", "false")
                     .config("spark.sql.hive.convertMetastoreParquet", "false")
                     .enableHiveSupport().getOrCreate())
            spark.sparkContext.setLogLevel("ERROR")

            # EXTERNAL hive-serde table over pre-written files: unlike
            # CTAS/INSERT (which auto-gather totalSize), external-table
            # creation records NO stats — the exact state of
            # freshly-landed data before COMPUTE STATS, which is the
            # reference's motivating scenario (SURVEY: tables must be
            # COMPUTE STATS'd after load or plans degrade)
            # files land AFTER table creation (the real ingest order), so
            # the metastore's DDL-time auto-gathered totalSize is 0 and
            # the planner is on its own until COMPUTE STATS runs
            import os
            loc = r"{tmp_path}/dim_files"
            os.makedirs(loc, exist_ok=True)
            spark.sql("DROP TABLE IF EXISTS mis_stats_dim")
            spark.sql(
                "CREATE EXTERNAL TABLE mis_stats_dim (k BIGINT, grp INT) "
                "STORED AS PARQUET LOCATION '" + loc + "'")
            (spark.range(50)
                 .selectExpr("id AS k", "CAST(id % 7 AS INT) AS grp")
                 .write.mode("append").parquet(loc))
            # big enough that the fact side itself can never broadcast
            # (plans are inspected, not executed)
            fact = spark.range(0, 50_000_000).selectExpr(
                "id % 50 AS k", "id AS v")

            def join_plan():
                df = fact.join(spark.table("mis_stats_dim"), "k")
                return df._jdf.queryExecution().executedPlan().toString()

            before = join_plan()
            assert "BroadcastHashJoin" not in before, before
            assert "SortMergeJoin" in before, before

            from minimised_impala_spark.engine import Engine
            Engine(spark).sql("COMPUTE STATS mis_stats_dim")

            after = join_plan()
            assert "BroadcastHashJoin" in after, after
            print("STATS_FLIP_OK")
            """
        )
    )
    out = subprocess.run(
        [sys.executable, str(driver)],
        capture_output=True,
        text=True,
        timeout=240,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "STATS_FLIP_OK" in out.stdout
