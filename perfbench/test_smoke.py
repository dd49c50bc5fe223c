"""Smoke test of the benchmark command at sf0.01 (``SCALE`` in ``run.py``).

Every workload runs timed and traced, emits exactly the metrics named
in BENCHMARK.json with their units, and checks its outputs; another
seed changes the generated inputs but not the metric names. Each run
starts its own Spark JVM, so the module takes several minutes.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["info"]


def test_benchmark_json_names_what_run_emits():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_emitted_with_unit(workload, trace):
    res, info = _run(workload, seed=1, trace=trace)
    want = bench.PER_LAYER if trace else bench.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(math.isfinite(v["value"]) for v in res["metrics"].values())
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert info["failed_frac"] == 0.0 and info["nproc"] >= 1


def test_seed_changes_inputs_not_metric_names():
    a, ia = _run("etl_tpch", seed=1, trace=0)
    b, ib = _run("etl_tpch", seed=2, trace=0)
    assert ia["inputs"] != ib["inputs"]
    assert a["metrics"].keys() == b["metrics"].keys()


def test_refuses_to_run_without_the_program(tmp_path):
    """Copied alone, the benchmark exits non-zero and prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_tpch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
