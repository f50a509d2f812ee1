"""Smoke test of the benchmark itself at tiny sizes with a fixed seed.

    python3 -m pytest perfbench/test_smoke.py -q

For every workload, an untraced and then a traced run must exit 0, emit
every metric of BENCHMARK.json under its name and unit, pass every
oracle check and fail no op. The traced run must report its overhead
against the untraced one. A directory holding only BENCHMARK.json and
perfbench/ must make the benchmark exit non-zero without a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SEED = 7
SECONDS = 3


def run_bench(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
           "--seconds", str(SECONDS), "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric_and_passes_its_oracles(workload):
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        out = run_bench(ROOT, workload, trace)
        assert out.returncode == 0, out.stderr[-3000:]
        lines = out.stdout.strip().splitlines()
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True, detail
        assert result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want
        assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
        for name, passed in detail["checks"].items():
            ok, made = passed.split("/")
            assert ok == made and int(made) > 0, (name, passed)
        if trace:
            assert set(detail["trace_overhead"]) == {m["name"] for m in SPEC["end_to_end"]}


def test_fails_without_the_program():
    bare = ROOT / ".perfbench_work" / "bare-checkout"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = run_bench(bare, SPEC["workloads"][0]["name"], 0)
        assert out.returncode != 0
        assert '"correct"' not in out.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
