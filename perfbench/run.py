"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,ingest,dedup} --seed N \\
        --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root. One invocation is one workload in a fresh
process and a fresh JVM on ``local[<schedulable cpus>]``. ``--seconds``
sets the length of the workload's fixed op sequence (ops per nominal
second, see each workload module); the sequence never depends on the
clock. The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of
BENCHMARK.json. The line before it is a detail record with the
workload's own metric names, host readings and, when traced, the layer
breakdown per op class; it is also written under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
import traceback

import harness

WORKLOADS = ("serve", "ingest", "dedup")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke test's input sizes")
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(harness.ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def stop_jvm(spark) -> None:
    """Stop Spark, then wait for the JVM process the gateway launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def generic_layers(tracer, counters: dict, timings: dict) -> dict:
    """Per-layer metrics every workload has: setup phases, the split of
    op time into driver and Spark-job time, and Spark runtime counters,
    each averaged over the timed ops."""
    from harness import median

    ops = tracer.ops
    n = max(1, len(ops))
    per_op = counters["per_op"]

    def mean(key: str) -> float:
        return sum(per_op[o["group"]].get(key, 0.0) for o in ops) / n

    op_ms = [(o["t3"] - o["t0"]) * 1e3 for o in ops]
    jobs_ms = [per_op[o["group"]]["jobs_ms"] for o in ops]
    py = counters["python_run"]
    return {
        "session.start_s": timings["session.start_s"],
        "setup.load_s": timings["setup.load_s"],
        "setup.build_s": timings["setup.build_s"],
        "setup.warmup_s": timings["setup.warmup_s"],
        "driver.build_ms": median([o["build_ms"] for o in ops]),
        "spark.plan_ms": median([o["plan_ms"] for o in ops if o["plan_ms"] > 0]),
        "spark.exec_ms": median([o["exec_ms"] for o in ops if o["plan_ms"] > 0]),
        "op.jobs_ms": median(jobs_ms),
        "op.driver_ms": median([max(0.0, a - b) for a, b in zip(op_ms, jobs_ms)]),
        "spark.jobs_per_op": mean("jobs"),
        "spark.stages_per_op": mean("stages"),
        "spark.tasks_per_op": mean("tasks"),
        "executor.run_ms_per_op": mean("run_ms"),
        "executor.cpu_ms_per_op": mean("cpu_ms"),
        "shuffle.read_bytes_per_op": mean("shuffle_read_b"),
        "shuffle.write_bytes_per_op": mean("shuffle_write_b"),
        "driver.result_bytes_per_op": mean("result_b"),
        "jvm.gc_ms": sum(o["gc_ms"] for o in ops),
        "python.boot_ms": py.get("python.boot_ms", 0.0),
        "python.init_ms": py.get("python.init_ms", 0.0),
        "python.total_ms": py.get("python.total_ms", 0.0),
        "trace.bookkeeping_ms_per_op": tracer.bookkeeping_s * 1e3 / n,
    }


def per_class_layers(tracer, counters: dict) -> dict:
    """The Spark runtime breakdown per op class (detail record only)."""
    from collections import defaultdict

    from harness import median

    by_cls: dict[str, list[dict]] = defaultdict(list)
    for o in tracer.ops:
        by_cls[o["cls"]].append(o)
    out = {}
    for cls, ops in by_cls.items():
        rows = [counters["per_op"][o["group"]] for o in ops]
        keys = sorted({k for r in rows for k in r})
        out[cls] = {
            "n": len(ops),
            "build_ms": median([o["build_ms"] for o in ops]),
            "plan_ms": median([o["plan_ms"] for o in ops]),
            "exec_ms": median([o["exec_ms"] for o in ops]),
            **{k: sum(r.get(k, 0.0) for r in rows) / len(rows) for k in keys},
        }
    return out


def previous_untraced(args) -> dict | None:
    path = harness.WORK / f"result-{args.workload}-{args.seed}-{args.seconds}-{args.size}-t0.json"
    if path.exists():
        with open(path) as fh:
            return json.load(fh)
    return None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (harness.ROOT / "vearch_spark").is_dir():
        print(f"no vearch_spark package under {harness.ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    env = harness.pin_environment()
    sys.path.insert(0, str(harness.ROOT))
    host = harness.HostReadings()

    import importlib

    workload = importlib.import_module(f"workload_{args.workload}")

    t0 = time.perf_counter()
    from vearch_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    timings = {"session.start_s": time.perf_counter() - t0}
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.wrap_ivf()
    rec = harness.Recorder(spark, tracer)
    out = None
    jvm_died = False
    try:
        out = workload.run(spark, rec, tracer, args.seed, args.seconds, args.size, timings)
    except harness.JvmDied as e:
        jvm_died = True
        rec.errors.append(f"JVM died: {e}")
    except Exception:
        rec.errors.append(traceback.format_exc())
    counters = None
    if tracer is not None:
        tracer.unwrap_all()
        if out is not None:
            counters = tracer.spark_counters()
    t_stop = time.perf_counter()
    try:
        stop_jvm(spark)
    except Exception:
        rec.errors.append(traceback.format_exc())
    timings["stop_s"] = time.perf_counter() - t_stop
    host_after = host.finish()

    if out is None:
        # the sequence could not finish (the JVM died, or setup failed):
        # no metrics exist, so report the counts and exit non-zero
        print(json.dumps({"errors": rec.errors, "jvm_died": jvm_died,
                          "attempted": rec.attempted, "failed": rec.failed,
                          "host": host_after}))
        return 1

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        layer = generic_layers(tracer, counters, timings)
        layer.update(out["layer"])
        layer["host.steal_pct"] = host_after["steal_pct"]
        layer["host.loadavg"] = host_after["loadavg_after"]
        values = {k: layer.get(k, 0.0) for k in names}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        values = {"setup_s": timings["setup_s"], **out["e2e"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}

    finite = all(
        isinstance(values.get(k), (int, float)) and math.isfinite(values[k]) for k in names
    )
    # a non-finite value is a benchmark fault: print it as null, and the
    # run as incorrect, rather than emit invalid JSON
    values = {k: (v if isinstance(v, (int, float)) and math.isfinite(v) else None)
              for k, v in values.items()}
    correct = rec.all_checks_pass() and rec.failed == 0 and finite
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "env": env, "host": host_after,
        "timings": timings, "e2e": {"setup_s": timings["setup_s"], **out["e2e"]},
        "metrics": out["detail"],
        "checks": {k: f"{sum(v)}/{len(v)}" for k, v in rec.checks.items()},
        "errors": rec.errors,
    }
    if tracer is not None:
        detail["layers"] = {**out["layer"], "per_class": per_class_layers(tracer, counters)}
        prev = previous_untraced(args)
        detail["trace_overhead"] = (
            {k: detail["e2e"][k] - prev["e2e"][k] for k in prev["e2e"]} if prev else None
        )
        tracer.write_spans(harness.WORK / f"spans-{args.workload}-{args.seed}.jsonl")
    else:
        path = harness.WORK / (
            f"result-{args.workload}-{args.seed}-{args.seconds}-{args.size}-t0.json"
        )
        with open(path, "w") as fh:
            json.dump(detail, fh)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": values.get(k), "unit": units[k]} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
