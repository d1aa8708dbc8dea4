"""Smoke test of the benchmark command at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced on a few dozen records per day,
and checks that each run passes its own output checks, prints the
metrics ``BENCHMARK.json`` names, records the machine it ran on, and
leaves no process running.
About five minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("daily_etl", "backfill_etl", "sightings_api")


def _declared(kind: str) -> set[str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec[kind]}


def _running_in(path: Path) -> list[str]:
    """Command lines of the processes whose working directory is ``path``:
    every process a run starts inherits it."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            if Path(os.readlink(f"/proc/{pid}/cwd")) == path:
                out.append(Path(f"/proc/{pid}/cmdline").read_bytes().replace(b"\0", b" ").decode())
        except OSError:
            continue
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run(workload: str, trace: int, tmp_path: Path) -> None:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert _running_in(tmp_path.resolve()) == []
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    assert set(result["metrics"]) == _declared(kind)

    results = tmp_path / ".perfbench_work" / "results"
    report = json.loads((results / f"{workload}-seed7-trace{trace}.json").read_text())
    for key in ("nproc", "spark_graft_cpus", "pyspark", "loadavg_before", "loadavg_after"):
        assert report[key], key
    if trace:
        spans = json.loads(next(results.glob("*.spans.json")).read_text())
        assert {"rest.fetch", "cleaning", "serving.plan"} <= {s["name"] for s in spans}
    else:
        assert report["end_to_end"]["error_share"]["value"] == 0


def test_fails_without_the_package(tmp_path: Path) -> None:
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
