"""Self-test of the benchmark: one pass of each workload at sf0.001.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Each workload runs traced, in this process, on the sf0.001 fixture with no
warm-up, so one run prints every end-to-end metric (in its detail line) and
every per-layer metric (in its result line). A last run corrupts one
expected oracle hash inside this test and checks that the benchmark then
reports the draw as failed and exits non-zero. That run uses
``jvm_sf0.01``: the kernels' pandas UDFs are bound to the first engine
JVM of a process, so a process can run ``kernels_sf0.01`` only once.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

SMOKE_DATA = os.path.join(bench.FIXTURES, "sf0.001")


def _run(monkeypatch, capsys, workload: str, trace: int) -> tuple[int, dict, dict, str]:
    _, nominal_pass_s, names = bench.WORKLOADS[workload]
    monkeypatch.setitem(bench.WORKLOADS, workload, (SMOKE_DATA, nominal_pass_s, names))
    monkeypatch.setattr(bench, "WARMUP_PASSES", 0)
    # the run points these at its work directory; restore them afterwards
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_LAUNCHER_OPTS"):
        monkeypatch.delenv(var, raising=False)
    code = bench.main(["--workload", workload, "--seed", "7", "--seconds", "0",
                       "--trace", str(trace)])
    out, err = capsys.readouterr()
    lines = out.strip().splitlines()
    return code, json.loads(lines[-2])["detail"], json.loads(lines[-1]), err


def _assert_named_with_units(printed: dict, expected_units: dict[str, str]) -> None:
    assert set(printed) == set(expected_units)
    for name, unit in expected_units.items():
        assert printed[name]["unit"] == unit, name
        assert isinstance(printed[name]["value"], (int, float)), name


@pytest.mark.parametrize("workload", sorted(bench.WORKLOADS))
def test_one_pass_prints_every_metric(monkeypatch, capsys, workload):
    code, detail, result, err = _run(monkeypatch, capsys, workload, trace=1)
    assert code == 0, err[-3000:]
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == len(bench.WORKLOADS[workload][2])
    _assert_named_with_units(detail["end_to_end"], bench.END_TO_END_UNITS)
    _assert_named_with_units(result["metrics"], bench.PER_LAYER_UNITS)
    assert detail["end_to_end"]["success_frac"]["value"] == 1.0
    assert detail["cpus"] >= 1 and len(detail["timed_pass_s"]) == 1
    assert {"steal_frac", "load1_start", "load1_end"} <= set(detail["host"])


def test_wrong_result_fails_the_run(monkeypatch, capsys):
    workload = "jvm_sf0.01"
    victim = bench.WORKLOADS[workload][2][0]
    oracle = bench.expected_hashes

    def corrupted(data_dir, names):
        hashes = oracle(data_dir, names)
        hashes[victim] = "0" * 64
        return hashes

    monkeypatch.setattr(bench, "expected_hashes", corrupted)
    code, _, result, err = _run(monkeypatch, capsys, workload, trace=0)
    assert code != 0
    assert result["correct"] is False and result["failed"] == 1, err[-3000:]
    assert result["metrics"]["success_frac"]["value"] < 1.0
