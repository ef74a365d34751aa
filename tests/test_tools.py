"""``tools/mis.py``, the one command line over the registry runner, and
bench.py's sanity bound. Each subcommand runs on the shared ``spark``
fixture, except ``invariance``, which restarts its session per pass."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

import __spark_entry__ as entry
import bench
from minimised_impala_spark.queries.registry import ORACLES, QUERIES
from tools import mis


def _args(*argv: str):
    return mis.parser().parse_args(list(argv))


def _persistent_ids(spark) -> set[int]:
    # ids, not a count: Spark's ContextCleaner may unpersist another test's
    # unreferenced RDD while a query runs
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_oracle_matches_strictly(spark, sf_dir, capsys):
    assert mis.oracle(spark, _args("oracle", "tpch_q6", "--sf", sf_dir)) == 0
    assert re.search(r"tpch_q6\s+OK\s+rows=1/1", capsys.readouterr().out)


def test_oracle_driver_slice_and_done_list(tmp_path):
    order = list(entry.queries())
    assert mis._selected(_args("oracle", "--driver", "2:4", "--sf", "x")) == order[2:4]
    assert mis._selected(_args("oracle", "--sf", "x")) == order
    done = tmp_path / "done.txt"
    done.write_text(order[2] + "\n")
    assert mis._selected(_args("oracle", "--driver", "2:4", "--done", str(done), "--sf", "x")) == order[3:4]


def test_oracle_rejects_unlisted_zero_row_result(spark, sf_dir, tmp_path, capsys, monkeypatch):
    """Engine and oracle agreeing on no rows is no evidence: the result is
    EMPTY, fails the run and stays off the done-list."""

    def mis_test_empty(spark, sf_dir):
        return spark.range(0).selectExpr("CAST(id AS INT) AS x")

    monkeypatch.setitem(QUERIES, "mis_test_empty", mis_test_empty)
    monkeypatch.setitem(ORACLES, "mis_test_empty", "SELECT 1::INTEGER AS x WHERE 1 = 0")
    done = tmp_path / "done.txt"
    args = _args("oracle", "tpch_q6", "mis_test_empty", "--done", str(done), "--sf", sf_dir)
    assert mis.oracle(spark, args) == 1
    assert re.search(r"mis_test_empty\s+EMPTY\s+rows=0/0", capsys.readouterr().out)
    assert done.read_text().split() == ["tpch_q6"]


def test_time_reports_build_collect_split(spark, sf_dir, capsys):
    assert mis.time_(spark, _args("time", "tpch_q1", "--draws", "2", "--sf", sf_dir)) == 0
    m = re.search(r"tpch_q1\s+sec=([\d.]+) plan=([\d.]+) exec=([\d.]+) compiled=\d+ py4j=(\d+)",
                  capsys.readouterr().out)
    sec, build, exe, py4j = map(float, m.groups())
    assert build > 0 and exe > 0 and py4j > 0
    assert abs(sec - (build + exe)) <= 0.002


def test_audit_matches_plan_audit():
    """At two cores, a session of its own prints the committed tpch_ rows:
    a plan's shape does not depend on the core count."""
    sf, table = mis.committed_shapes()
    r = subprocess.run(
        [sys.executable, mis.__file__, "audit", "tpch_", "--cpus", "2", "--sf", sf],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.splitlines()[1:] == [table[1], *(ln for ln in table[2:] if "tpch_" in ln.split("\t")[0])]


SEAM_HOLDERS = ("sim_ann_recall_report", "sim_lsh_buckets")


@pytest.mark.parametrize("cmd", ["scale", "profile", "explain"])
def test_subcommands_release_seams(cmd, spark, sf_dir, capsys):
    """Each query's seams are released when it ends, so no later query in
    the session reads them and no persistent RDD outlives the command."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = _persistent_ids(spark)
    extra = ["--big", sf_dir] if cmd == "scale" else []
    args = _args(cmd, *SEAM_HOLDERS, "--sf", sf_dir, *extra)
    assert args.fn(spark, args) == 0
    assert not _persistent_ids(spark) - before
    assert cache.isEmpty()
    out = capsys.readouterr().out
    assert all(name in out for name in SEAM_HOLDERS)


def test_invariance_passes_in_one_run(sf_dir):
    r = subprocess.run(
        [sys.executable, mis.__file__, "invariance", "tpch_q6", "--sf", sf_dir, "--cpus", "2"],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "1 queries, passes A/B/C; DIVERGENT: []" in r.stdout


def _artifact(root, name: str, doc: dict) -> None:
    with open(os.path.join(root, name), "w") as f:
        json.dump(doc, f)


def test_sanity_bound_uses_same_core_count(tmp_path):
    _artifact(tmp_path, "BENCH_r01.json", {"cpus": 4, "parsed": {"value": 4.0}})
    _artifact(tmp_path, "BENCH_r02.json", {"cpus": 32, "parsed": {"value": 5.0}})
    _artifact(tmp_path, "BENCH_r03_c8.json", {"cpus": 8, "parsed": {"value": 7.0}})
    _artifact(tmp_path, "BENCH_r04.json", {"value": 2.0})  # no core count
    _artifact(tmp_path, "BENCH_r05.json", {"cpus": 4, "value": 3.0, "sf": 0.1})
    _artifact(tmp_path, "BENCH_sf1_r06.json", {"cpus": 4, "value": 20.0})
    assert bench._prior_round_bound(False, 4, str(tmp_path)) == 5.4
    assert bench._prior_round_bound(False, 8, str(tmp_path)) == 12.6
    assert bench._prior_round_bound(False, 32, str(tmp_path)) == 9.0
    assert bench._prior_round_bound(False, 16, str(tmp_path)) == float("inf")
    assert bench._prior_round_bound(True, 4, str(tmp_path)) == 36.0
    assert bench._prior_round_bound(True, 8, str(tmp_path)) == float("inf")


def test_scale_smoke_zero_row_guard():
    """A 0-row result at any probed scale is a vacuous timing (a streaming
    query that staged no input at sf1 once timed as a pass) and must fail
    the scale smoke unless whitelisted."""
    from tools.mis import ZERO_ROW_OK, vacuous

    assert vacuous("q", [100, 0])
    assert vacuous("q", [0, 100])
    assert not vacuous("q", [100, 1000])
    assert not vacuous(next(iter(ZERO_ROW_OK)), [100, 0])
