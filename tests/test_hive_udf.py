"""Java/Hive UDF entry point (`CREATE [TEMPORARY] FUNCTION ... USING JAR`)
— the reference executes Hive UDF jars natively
(be/src/exprs/hive-udf-call.cc:335, planner/fe .../hive/executor/); real
deployments migrate Hive UDF jars constantly, so the Spark engine must
accept the same jars.

Spark wraps Hive UDF classes only through the Hive session catalog
(`enableHiveSupport()`), a static conf that cannot be flipped on the shared
test JVM — so this test builds the jar with the in-container JDK and drives
a dedicated hive-enabled session in a subprocess.  No prebuilt binary is
checked in: the UDF compiles from source at test time against the
hive-exec jar that ships inside pyspark/jars."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

import pyspark

from minimised_impala_spark.session import thread_class_loader_kept

JARS = os.path.join(os.path.dirname(pyspark.__file__), "jars")


def _hive_exec_jar() -> str | None:
    for f in os.listdir(JARS):
        if f.startswith("hive-exec-"):
            return os.path.join(JARS, f)
    return None


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK")
@pytest.mark.skipif(_hive_exec_jar() is None, reason="no hive-exec jar")
def test_hive_udf_using_jar(tmp_path):
    src = tmp_path / "MisRepeatUdf.java"
    src.write_text(
        textwrap.dedent(
            """
            import org.apache.hadoop.hive.ql.exec.UDF;
            public class MisRepeatUdf extends UDF {
              public String evaluate(String s, int n) {
                if (s == null) return null;
                return s.repeat(Math.max(n, 0));
              }
            }
            """
        )
    )
    subprocess.run(
        ["javac", "-cp", _hive_exec_jar(), str(src)], check=True, cwd=tmp_path
    )
    jar = tmp_path / "mis_udf.jar"
    subprocess.run(
        ["jar", "cf", str(jar), "MisRepeatUdf.class"], check=True, cwd=tmp_path
    )

    driver = tmp_path / "drive.py"
    driver.write_text(
        textwrap.dedent(
            f"""
            from pyspark.sql import SparkSession
            spark = (SparkSession.builder.master("local[2]")
                     .config("spark.ui.enabled", "false")
                     .config("spark.sql.warehouse.dir", r"{tmp_path}/wh")
                     .config("spark.driver.extraJavaOptions",
                             r"-Dderby.system.home={tmp_path}/derby")
                     .enableHiveSupport().getOrCreate())
            spark.sparkContext.setLogLevel("ERROR")
            spark.sql("CREATE TEMPORARY FUNCTION mis_repeat AS 'MisRepeatUdf' "
                      "USING JAR '{jar}'")
            rows = spark.sql(
                "SELECT mis_repeat('ab', 3) AS r, mis_repeat(NULL, 2) AS n").collect()
            assert rows[0].r == "ababab" and rows[0].n is None, rows
            # and through a real column, executor-side
            got = spark.sql(
                "SELECT sum(length(mis_repeat(CAST(id AS STRING), 2))) AS t "
                "FROM range(100)").collect()[0].t
            assert got == sum(len(str(i)) * 2 for i in range(100)), got
            print("HIVE_UDF_OK")
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
    assert "HIVE_UDF_OK" in out.stdout


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK")
def test_java_udf_register_from_jar(spark, tmp_path):
    """Non-Hive Java UDF path: a jar built from source at test time, added
    to the LIVE session with ADD JAR, registered via registerJavaFunction
    (fe/.../hive/executor is the reference's Java-UDF seam; this is
    Spark's native equivalent for plain Java implementations)."""
    import textwrap as tw

    src = tmp_path / "MisLevenshtein.java"
    src.write_text(
        tw.dedent(
            """
            import org.apache.spark.sql.api.java.UDF2;
            public class MisLevenshtein implements UDF2<String, String, Integer> {
              public Integer call(String a, String b) {
                if (a == null || b == null) return null;
                int[] prev = new int[b.length() + 1];
                int[] cur = new int[b.length() + 1];
                for (int j = 0; j <= b.length(); j++) prev[j] = j;
                for (int i = 1; i <= a.length(); i++) {
                  cur[0] = i;
                  for (int j = 1; j <= b.length(); j++) {
                    int cost = a.charAt(i - 1) == b.charAt(j - 1) ? 0 : 1;
                    cur[j] = Math.min(Math.min(cur[j - 1] + 1, prev[j] + 1),
                                      prev[j - 1] + cost);
                  }
                  int[] t = prev; prev = cur; cur = t;
                }
                return prev[b.length()];
              }
            }
            """
        )
    )
    api_jar = next(
        os.path.join(JARS, f) for f in os.listdir(JARS) if f.startswith("spark-sql-api")
    )
    subprocess.run(["javac", "-cp", api_jar, str(src)], check=True, cwd=tmp_path)
    jar = tmp_path / "mis_judf.jar"
    subprocess.run(
        ["jar", "cf", str(jar), "MisLevenshtein.class"], check=True, cwd=tmp_path
    )
    with thread_class_loader_kept(spark):
        spark.sql(f"ADD JAR '{jar}'")
        spark.udf.registerJavaFunction("mis_lev", "MisLevenshtein", "int")
    row = spark.sql(
        "SELECT mis_lev('kitten', 'sitting') AS d, mis_lev('abc', NULL) AS n"
    ).collect()[0]
    assert (row.d, row.n) == (3, None)
    # executor-side over a real column
    got = spark.sql(
        "SELECT sum(mis_lev(CAST(id AS STRING), CAST(id + 1 AS STRING))) AS s "
        "FROM range(200)"
    ).collect()[0].s
    assert got > 0
