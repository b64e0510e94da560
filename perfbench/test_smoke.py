"""Smoke test of the benchmark harness on a tiny input.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Runs every workload and the traced run end to end through ``run.py``
on 300 rows, checks the result line against ``BENCHMARK.json``, checks
the numpy near-duplicate reference against a brute-force one, and
checks that the benchmark refuses to run where the package is missing.
Takes a few minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import inputs  # noqa: E402
from trace_layers import LAYERS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
TINY_ROWS = "300"


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=400)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    return res


def _units(metrics: dict) -> dict:
    return {name: m["unit"] for name, m in metrics.items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_end_to_end(workload):
    res = _result(_run(["--workload", workload, "--seed", "5",
                        "--seconds", "1", "--trace", "0",
                        "--rows", TINY_ROWS]))
    assert _units(res["metrics"]) == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_reports_every_layer():
    res = _result(_run(["--workload", SPEC["workloads"][0]["name"],
                        "--seed", "5", "--seconds", "1", "--trace", "1",
                        "--rows", TINY_ROWS]))
    assert _units(res["metrics"]) == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]}


def test_layer_table_matches_benchmark_json():
    assert [(n, u, b) for n, (u, b, _moves) in LAYERS.items()] == [
        (m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]]


def test_near_dup_reference_matches_brute_force():
    rng = np.random.default_rng(0)
    base = rng.integers(-2**63, 2**63 - 1, 30, dtype=np.int64)
    phashes = []
    for h in base:
        phashes.append(int(h))
        # near copies: flip 1..4 random bits, so some pairs are just
        # outside the 3-bit radius and some chains link through
        for _ in range(int(rng.integers(0, 3))):
            bits = rng.choice(64, int(rng.integers(1, 5)), replace=False)
            v = int(h) & (2**64 - 1)
            for b in bits:
                v ^= 1 << int(b)
            phashes.append(v - 2**64 if v >= 2**63 else v)
    ids = [f"img_{i:04d}" for i in rng.permutation(len(phashes))]
    got = inputs.near_dup_reference(pd.Series(ids),
                                    pd.Series(phashes, dtype="int64"))

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    u = [p & (2**64 - 1) for p in phashes]
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if bin(u[a] ^ u[b]).count("1") <= inputs.MAX_HAMMING:
                ra, rb = find(ids[a]), find(ids[b])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = [find(i) for i in ids]
    assert got["keeper_id"].tolist() == want
    assert got["is_dup"].tolist() == [k != i for k, i in zip(want, ids)]


def test_refuses_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", ".out",
                                                  "__pycache__"))
    proc = _run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                 "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
