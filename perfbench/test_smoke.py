"""Smoke test of the benchmark at tiny input sizes (a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q

Every workload (including ``points_border``, which BENCHMARK.json leaves
out of the timed set) runs once untraced and once traced; each run must pass its
own output check and emit exactly the metrics BENCHMARK.json names, with
their units. A perturbed reference must count every job as failed, and
the benchmark must refuse to run where the program's sources are absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from run import WORKLOAD_NAMES, fold_seed

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def smoke(workload: str, trace: int, *extra: str) -> dict:
    p = bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--size", "smoke", *extra)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_every_metric_emitted_with_its_unit(workload, trace):
    out = smoke(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("seed", [2**31 - 1, 4_000_000_003, 2**64 + 5, -7])
def test_any_seed_gives_a_full_size_reference(seed, tmp_path):
    # DuckDB raises on 64-bit overflow, so the largest layout ids must fit
    import reference
    from workloads import SIZES

    n = SIZES["full"]["points_hotspot"]["points"]
    lo = fold_seed(seed) * n
    con = reference.duckdb_connect(str(tmp_path))
    try:
        assert len(reference.hotspot_reference(con, lo, lo + n)) == 100
    finally:
        con.close()


def test_wrong_reference_counts_in_fail_ratio():
    out = smoke("points_hotspot", 0, "--wrong-reference")
    assert not out["correct"]
    assert out["failed"] == out["attempted"] >= 1


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(str(tmp_path), "--workload", WORKLOAD_NAMES[0], "--seed", "1",
              "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
