"""Smoke run of every workload at the small scale (sf0.001 catalog).

    python3 -m pytest perfbench/tests -q

Each run measures exactly one pass (``--seconds 0``), after the warm-up
pass, through the real engine; the tests check the result line's shape,
that every end-to-end (and, traced, every per-layer) metric of
BENCHMARK.json is printed, that no output was wrong, and that tracing
leaves the engine's state as an untraced run does.
"""
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


SEED = 3
_runs = {}


def run(workload, trace):
    """The result line and the artifact of one single-pass run."""
    if (workload, trace) not in _runs:
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", workload, "--seed", str(SEED), "--seconds", "0",
             "--trace", str(trace), "--sf", "0.001"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900, check=True).stdout
        artifact = os.path.join(ROOT, ".bench_build", "results",
                                f"{workload}-seed{SEED}-trace{trace}.json")
        with open(artifact) as f:
            _runs[workload, trace] = json.loads(out.strip().splitlines()[-1]), json.load(f)
    return _runs[workload, trace]


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_runs_and_checks(workload):
    r, _ = run(workload, 0)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    names = [m["name"] for m in BENCH["end_to_end"]]
    assert sorted(r["metrics"]) == sorted(names)
    for m in BENCH["end_to_end"]:
        assert r["metrics"][m["name"]]["unit"] == m["unit"]
        assert r["metrics"][m["name"]]["value"] > 0


def test_traced_run_prints_every_layer_metric():
    r, _ = run("interactive", 1)
    assert sorted(r["metrics"]) == sorted(m["name"] for m in BENCH["per_layer"])
    assert r["metrics"]["dialect.rewrite_ms"]["value"] > 0
    assert r["metrics"]["exec.jobs"]["value"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tracing_leaves_the_same_scan_views(workload):
    """The traced run's rewrite probe registers scan views of its own; they
    must be dropped, so both runs end with the views the engine made."""
    traced, _ = run(workload, 1)
    _, untraced = run(workload, 0)
    views = traced["metrics"]["session.temp_views"]["value"]
    assert views > 0
    assert views == untraced["end_to_end_detail"]["temp_views"]


def test_clean_directory_fails_without_result(tmp_path):
    """With only BENCHMARK.json and the benchmark's files, the command must
    fail fast and print no result line."""
    import shutil
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("target", "project/target"))
    p = subprocess.run(BENCH["command"] + ["--workload", "bulk", "--seed", "1",
                                           "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, stdout=subprocess.PIPE, text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
