"""Run state shared by the three workloads: environment pinning, the op
recorder, oracle checks, percentiles and host readings.

A workload is a fixed, seeded sequence of operations. Each operation is
timed from outside the library, one at a time, by a single closed-loop
client thread; nothing is timed against a wall-clock budget, so every run
with the same arguments does identical work.
"""

from __future__ import annotations

import math
import os
import shlex
import statistics
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# everything a run leaves behind (spark scratch, the ingest space, spans,
# detail records) stays under the checkout, in one ignored directory
WORK = ROOT / ".perfbench_work"


def pin_environment() -> dict:
    """Pin the run environment before the JVM starts: one Spark core per
    schedulable CPU, scratch dirs inside the checkout, and a driver heap
    sized to the host (the library's 24g default gets the JVM
    OOM-killed on a 15 GB host)."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = _mem_total_gb()
    heap_gb = max(1, min(4, mem_gb // 4))
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        # every JVM spark-submit starts (its launcher too): temp files in
        # the checkout, and no perf-data file, which would go to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={shlex.quote(str(tmp))} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def _mem_total_gb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class HostReadings:
    """Steal share and load average around a run, read from /proc. They
    only label a noisy run; no run is ever dropped because of them."""

    def __init__(self) -> None:
        self.cpu0 = _cpu_times()
        self.load_before = _loadavg()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        d = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(d)
        steal = d[7] if len(d) > 7 else 0
        return {
            "steal_pct": 100.0 * steal / total if total else 0.0,
            "loadavg_before": self.load_before,
            "loadavg_after": _loadavg(),
        }


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return math.nan
    k = (len(xs) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


class JvmDied(RuntimeError):
    """The Spark JVM is gone; every remaining op counts as failed."""


class Recorder:
    """Times ops, counts failures and collects oracle checks.

    ``op`` runs one operation: ``build`` makes the library call; when it
    returns a DataFrame the recorder collects it, and with tracing on it
    forces the physical plan first, so plan time and execution time are
    separate spans. Latency is the whole call plus the action."""

    def __init__(self, spark, tracer=None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, list[bool]] = defaultdict(list)
        self.errors: list[str] = []

    def op(self, cls: str, build, collect: bool = True):
        """Run and time one op of class ``cls``; returns its rows (or the
        eager call's result), or ``None`` if it failed."""
        from pyspark.sql import DataFrame

        self.attempted += 1
        tr = self.tracer
        if tr is not None:
            tr.begin_op(cls)
        t0 = time.perf_counter()
        try:
            out = build()
            t1 = time.perf_counter()
            if collect and isinstance(out, DataFrame):
                if tr is not None:
                    out._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                out = out.collect()
            else:
                t2 = t1
            t3 = time.perf_counter()
        except Exception as e:  # an op failure is a counted outcome
            self.failed += 1
            self.errors.append(f"{cls}: {type(e).__name__}: {str(e)[:300]}")
            if tr is not None:
                tr.end_op(None)
            if not self.jvm_alive():
                raise JvmDied(str(e)) from e
            return None
        self.samples[cls].append((t3 - t0) * 1000.0)
        if tr is not None:
            tr.end_op((t0, t1, t2, t3))
        return out

    def jvm_alive(self) -> bool:
        try:
            return not self.spark.sparkContext._jsc.sc().isStopped()
        except Exception:
            return False

    def check(self, name: str, ok: bool) -> None:
        self.checks[name].append(bool(ok))

    def ratio(self, name: str) -> float:
        xs = self.checks.get(name) or []
        return sum(xs) / len(xs) if xs else math.nan

    def all_checks_pass(self) -> bool:
        return bool(self.checks) and all(all(v) for v in self.checks.values())

    def p(self, cls: str, q: float) -> float:
        return pct(self.samples.get(cls, []), q)

    def sequence_s(self) -> float:
        """Time of the run's fixed op sequence, rebuilt from per-class
        medians: sum over op classes of (ops of that class x its median).
        A steal burst that hits a minority of one class's samples cannot
        move it, unlike the summed wall time."""
        return sum(len(v) * median(v) for v in self.samples.values()) / 1000.0

