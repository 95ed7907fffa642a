"""Tests of the benchmark itself: the smoke mode (one pass per workload on
sf0.001 inputs, output check and traced counters included), a set-up in a
fresh process, the refusal to run outside a checkout, the input generator,
the attribution of Spark jobs and the output signature.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from check import signature  # noqa: E402
from probes import STAGE_COUNTERS, group_counts  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_pass(workload):
    out = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "1", "--smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    diag = json.loads(lines[-2])["diagnostics"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert diag["failed_jobs"] == []
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == len(WORKLOADS[workload])
    assert set(result["metrics"]) == {m["name"] for m in BENCHMARK["per_layer"]}
    e2e = diag["end_to_end"]
    assert set(e2e) == {m["name"] for m in BENCHMARK["end_to_end"]}
    assert e2e["job_ok_ratio"]["value"] == 1.0
    assert all(m["value"] > 0 for m in e2e.values())
    for m in BENCHMARK["per_layer"] + BENCHMARK["end_to_end"]:
        got = result["metrics"].get(m["name"]) or e2e[m["name"]]
        assert got["unit"] == m["unit"], m["name"]
    # Every Spark job ran under a job group, so stage counters reached it.
    assert result["metrics"]["exec.tasks"]["value"] > 0
    assert not os.listdir(os.path.join(ROOT, ".perfbench", "runs"))


def test_setup_only_prints_its_setup_time():
    out = _run(ROOT, "--workload", sorted(WORKLOADS)[0], "--seed", "1", "--setup-only")
    assert out.returncode == 0, out.stderr[-3000:]
    assert float(out.stdout.strip().splitlines()[-1]) > 0
    assert not os.listdir(os.path.join(ROOT, ".perfbench", "runs"))


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(str(tmp_path), "--workload", sorted(WORKLOADS)[0], "--seed", "1", "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_same_seed_same_inputs(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    datagen.generate(a, 7, 0.001)
    datagen.generate(b, 7, 0.001)
    datagen.generate(c, 8, 0.001)
    for name in os.listdir(a):
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read(), name
    with open(os.path.join(a, "lineitem.parquet"), "rb") as fa, open(os.path.join(c, "lineitem.parquet"), "rb") as fc:
        assert fa.read() != fc.read()


def test_jobs_of_other_groups_are_attributed_by_submission_time():
    stage = {"status": "COMPLETE", "numCompleteTasks": 1, "numKilledTasks": 0, **dict.fromkeys(STAGE_COUNTERS, 0)}
    stages = {i: [{**stage, "outputBytes": 10 * i}] for i in range(1, 5)}
    jobs = [
        {"jobGroup": "run/0/a/build", "submissionTime": 100, "stageIds": [1]},
        # A streaming micro-batch inside the window: attributed.
        {"jobGroup": "stream-run-id", "submissionTime": 150, "stageIds": [2]},
        # Another of the benchmark's groups inside the window: not.
        {"jobGroup": "run/0/b/build", "submissionTime": 160, "stageIds": [3]},
        # A micro-batch outside the window: not.
        {"jobGroup": "stream-run-id", "submissionTime": 300, "stageIds": [4]},
    ]
    got = group_counts(jobs, stages, "run/0/a/build", (100.0, 200.0), "run/")
    assert (got["jobs"], got["outputBytes"]) == (2, 30)


def test_signature_ignores_row_and_column_order():
    df = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", None]})
    shuffled = df.iloc[[2, 0, 1]][["v", "k"]]
    assert signature(df).mismatch(signature(shuffled)) is None


def test_signature_catches_type_and_value_changes():
    df = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert "int" in signature(df.astype({"k": "float64"})).mismatch(signature(df))
    assert signature(df.assign(v=[0.5, 1.25])).mismatch(signature(df)) == "values differ"
    assert "rows" in signature(df.iloc[:1]).mismatch(signature(df))

