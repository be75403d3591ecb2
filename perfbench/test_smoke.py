"""Smoke tests of the benchmark command at its tiny scale.

    python -m pytest perfbench/test_smoke.py -q

Each run starts its own Spark session, so the module takes a few
minutes.  It checks the output contract of BENCHMARK.json (every
declared metric printed with its unit, in both modes and on both
workloads), that an injected wrong answer is counted as a failure, and
that the command refuses to run without the program beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


def bench(*args, cwd=REPO):
    cmd = DECLARED["command"] + list(args)
    return subprocess.run([sys.executable if c == "python3" else c for c in cmd],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    diag = json.loads(lines[-2].removeprefix("diagnostics: "))
    return json.loads(lines[-1]), diag


def smoke(workload, trace, *extra):
    return result(bench("--workload", workload, "--seed", "0", "--seconds", "1",
                        "--trace", str(trace), "--scale", "smoke", *extra))


@pytest.mark.parametrize("workload", [w["name"] for w in DECLARED["workloads"]])
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_prints_every_declared_metric(workload, trace, kind):
    res, diag = smoke(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, diag["failures"]
    assert res["attempted"] >= 1 and diag["failed_frac"] == 0.0
    want = {m["name"]: m["unit"] for m in DECLARED[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], float), name
        if kind == "end_to_end":
            assert m["value"] > 0, name


@pytest.mark.parametrize("workload", [w["name"] for w in DECLARED["workloads"]])
def test_injected_wrong_answer_is_counted(workload):
    res, diag = smoke(workload, 0, "--inject-fault")
    assert res["correct"] is False
    assert res["failed"] >= 1 and diag["failed_frac"] > 0


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    for p in DECLARED["paths"]:
        shutil.copytree(os.path.join(REPO, p), tmp_path / p)
    proc = bench("--workload", "build", "--seed", "0", "--seconds", "1",
                 "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
