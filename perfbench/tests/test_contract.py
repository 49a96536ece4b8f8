"""BENCHMARK.json and the runner agree on workloads and metrics, and the
runner refuses to run without the engine.

Run with ``python -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_and_units_match_the_runner():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_runner_refuses_a_tree_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "fx_wide", "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""


def test_runner_refuses_more_cores_than_the_machine(tmp_path):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", "fx_wide", "--seed", "1", "--seconds", "1",
                        "--cores", str(os.cpu_count() * 4 + 1)],
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 2 and p.stdout == ""
    assert "cores" in p.stderr
