"""Self-tests of the benchmark at sf0.001, a few ops per workload.

Run from the root of the repository:

    python3 -m pytest perfbench/test_selftest.py -q

Each case starts its own Spark session through ``run.py``, so the file
takes a few minutes. The cases check that every metric named in
``BENCHMARK.json`` prints with its unit, that a corrupted expected
result is reported as a failed op with a non-zero exit, and that a
directory without the engine is refused without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SMALL = ["--seconds", "1", "--smoke"]


def _run(args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc):
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_print_with_units(workload):
    proc = _run(["--workload", workload, "--seed", "3", "--trace", "0", *SMALL])
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = _result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], float) and v["value"] > 0, (k, v)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_layers_and_flags_corrupt_expected(workload):
    proc = _run(["--workload", workload, "--seed", "4", "--trace", "1", "--corrupt-expected", *SMALL])
    assert proc.returncode == 1, proc.stderr[-3000:]
    res = _result(proc)
    assert res["correct"] is False and res["failed"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["trace.uncovered_ratio"]["value"] <= 0.10


def test_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench")
    proc = _run(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
