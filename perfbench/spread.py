"""Run-to-run spread of the end-to-end metrics, the benchmark's own
steadiness check.

    python3 perfbench/spread.py --workload serve --seeds 1 2 3 4 5

Runs the benchmark once per seed (untraced, ``run_seconds`` from
BENCHMARK.json, one run at a time) and prints, per end-to-end metric,
the median, the quartile spread (Q3 - Q1) / median from
``statistics.quantiles(values, n=4)`` and the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in args.seeds:
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4)
        spread = (q[2] - q[0]) / med if med else float("nan")
        flag = "" if spread < m["bound"] / 3 else ("  (>= bound/3)" if spread <= m["bound"] else "  (> bound)")
        print(f"{m['name']:>12}: median {med:.4g}  spread {spread:.3f}  bound {m['bound']}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
