"""Smoke test for the benchmark at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload once untraced and once traced at ``--scale 0.1``
(sf0.001-sized tables; a 1000-story vote feed) with a 1-second window, and
checks the output contract: the last stdout line is the result JSON, every
declared metric is present with its unit, every correctness check passed,
and the workload's own named metrics are printed. Also checks that the
benchmark refuses to run, without a result, when the program is absent.
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
sys.path.insert(0, HERE)

from suite import NAMED  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_workload_contract(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, lines[:-1]
    assert out["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    detail = json.loads(next(x for x in lines if x.startswith(f"# {workload} "))[
        len(workload) + 3:
    ])
    for name in [*NAMED[workload], "ops", "failed_ops"]:
        assert name in detail
    assert detail["failed_ops"] == 0
    assert detail["leak_active_streams"] == 0
    if trace:
        assert "# e2e_under_trace " in p.stdout
        assert os.path.isfile(
            os.path.join(HERE, ".traces", f"{workload}-seed7.json")
        )
    run_dirs = os.path.join(HERE, ".run")
    left = os.listdir(run_dirs) if os.path.isdir(run_dirs) else []
    assert not [d for d in left if d.startswith(workload + "-")]


def test_refuses_without_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE, tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".run", ".traces", "__pycache__"),
    )
    p = _run(str(tmp_path), "olap_batch", 0)
    assert p.returncode != 0
    assert not p.stdout.strip()
