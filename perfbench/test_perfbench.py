"""Checks of the benchmark itself, at its tiny input size.

    python3 -m pytest perfbench/test_perfbench.py -q

Each tiny run still starts a Spark session (about a minute), so the whole
file takes several minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

sys.path.insert(0, str(HERE))

from probes import tail  # noqa: E402
from spans import length, minus  # noqa: E402


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_reports_every_metric_and_passes_its_checks(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = _run(tmp_path, "build", 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    assert tail(xs) == (30.0, 75)  # 10 samples above the 30th
    assert tail(xs[:5]) == (5.0, 100.0)  # too few: the maximum


def test_interval_minus_cuts_overlaps():
    iv = minus([(0.0, 10.0), (5.0, 12.0)], [(2.0, 3.0), (11.0, 20.0)])
    assert iv == [(0.0, 2.0), (3.0, 11.0)]
    assert length(iv) == 10.0
