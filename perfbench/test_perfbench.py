"""Self-test of the benchmark at toy size (sf0.001 tables, 1 MiB corpus).

    python -m pytest perfbench -q

Each workload runs once untraced and twice traced at the same seed. Every
run must check all its outputs, print every metric with its unit, and the
traced runs' work counts must repeat exactly.
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

from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# work counts: they must not depend on timing
REPEATABLE = [k for k, unit in PER_LAYER.items() if unit in ("count", "bytes")]


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True, p.stderr[-4000:]
    assert res["failed"] == 0
    assert res["attempted"] >= 1
    return res


@pytest.mark.parametrize("workload", WORKLOADS)
def test_toy_workload(workload: str) -> None:
    common = ["--workload", workload, "--seed", "7", "--seconds", "1", "--toy"]
    plain = _result(_run(*common, "--trace", "0"))
    assert {k: v["unit"] for k, v in plain["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in plain["metrics"].values())

    traced = [_result(_run(*common, "--trace", "1")) for _ in range(2)]
    for res in traced:
        assert {k: v["unit"] for k, v in res["metrics"].items()} == PER_LAYER
    first, second = ({k: r["metrics"][k]["value"] for k in REPEATABLE} for r in traced)
    assert first == second


def test_refuses_without_engine(tmp_path) -> None:
    """In a directory holding only the benchmark, the run fails fast
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("--workload", "bro_io", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
