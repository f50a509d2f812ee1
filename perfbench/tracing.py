"""Outside-in layer tracing for the traced run (``--trace 1``).

Spans live in memory as (op id, layer, start, end, parent) and are
written out when the run ends. Spark counters come from the public
status tracker (job ids per job group) and the JVM status stores, read
once after the op sequence, so no counter read lands inside a timed
window. A handful of public library methods are wrapped at runtime to
time the layer behind them; the wrappers are removed when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

PYTHON_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
}
_DURATION = re.compile(r"([0-9.]+) (ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _parse_total_ms(text: str) -> float:
    """Total of a Spark SQL timing metric's display string, whose first
    duration after the header line is the sum over tasks."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    return float(m.group(1)) * _UNIT_MS[m.group(2)] if m else 0.0


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []
        self.layer_ms: dict[str, list[float]] = defaultdict(list)
        self.last_index = None
        self.last_cells: list[int] | None = None
        self.bookkeeping_s = 0.0
        self._cur: dict | None = None

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, layer: str):
        sid = self._open(layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._close(sid, t0, time.perf_counter())

    def _open(self, layer: str) -> int:
        sid = self._next_id
        self._next_id += 1
        self.spans.append(
            {"id": sid, "layer": layer, "parent": self._stack[-1] if self._stack else None}
        )
        self._stack.append(sid)
        return sid

    def _close(self, sid: int, t0: float, t1: float) -> None:
        self._stack.pop()
        sp = self.spans[sid]
        sp["start"], sp["end"] = t0, t1
        self.layer_ms[sp["layer"]].append((t1 - t0) * 1000.0)

    def begin_op(self, cls: str) -> None:
        b0 = time.perf_counter()
        group = f"op{len(self.ops)}:{cls}"
        self.sc.setJobGroup(group, group)
        sid = self._open(cls)
        self._cur = {"cls": cls, "group": group, "span": sid, "gc0": self.gc_ms()}
        self.bookkeeping_s += time.perf_counter() - b0

    def end_op(self, times) -> None:
        b0 = time.perf_counter()
        cur, self._cur = self._cur, None
        if times is None:  # failed op: close the span, keep no sample
            self._close(cur["span"], b0, b0)
        else:
            t0, t1, t2, t3 = times
            self._close(cur["span"], t0, t3)
            for layer, a, b in (
                ("driver.build", t0, t1),
                ("spark.plan", t1, t2),
                ("spark.exec", t2, t3),
            ):
                self.spans.append(
                    {"id": self._next_id, "layer": layer, "parent": cur["span"],
                     "start": a, "end": b}
                )
                self._next_id += 1
            cur.update(t0=t0, t3=t3, build_ms=(t1 - t0) * 1e3,
                       plan_ms=(t2 - t1) * 1e3, exec_ms=(t3 - t2) * 1e3,
                       gc_ms=self.gc_ms() - cur["gc0"])
            self.ops.append(cur)
        self.sc.setJobGroup("untimed", "untimed")
        self.bookkeeping_s += time.perf_counter() - b0

    def gc_ms(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))

    # --------------------------------------------------- method wrappers
    def wrap(self, owner, name: str, layer: str, on_result=None) -> None:
        """Time every call of ``owner.name`` as a ``layer`` span."""
        orig = getattr(owner, name)
        tracer = self

        def wrapper(obj, *a, **kw):
            with tracer.span(layer):
                out = orig(obj, *a, **kw)
            if on_result is not None:
                on_result(obj, out)
            return out

        setattr(owner, name, wrapper)
        self._patches.append((owner, name, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, name, orig = self._patches.pop()
            setattr(owner, name, orig)

    def wrap_ivf(self) -> None:
        """Time IVF fit/add/remove/probe_cells; remember the index object
        and the cells of the last probe for the layer counts."""
        from vearch_spark.operators.ivf import IVFFlatIndex

        def remember(idx, out):
            self.last_index = idx

        def remember_cells(idx, out):
            self.last_index = idx
            self.last_cells = list(out)

        self.wrap(IVFFlatIndex, "fit", "ivf.fit", remember)
        self.wrap(IVFFlatIndex, "add", "ivf.add", remember)
        self.wrap(IVFFlatIndex, "remove", "ivf.remove", remember)
        self.wrap(IVFFlatIndex, "probe_cells", "ivf.probe_cells", remember_cells)

    def chain_depth(self) -> int:
        """Cached-relation levels in the last-touched IVF index's
        ``assigned`` plan: each incremental add/remove persists a new
        relation on top of the previous one. Counted exactly by walking
        InMemoryRelation -> cached physical plan -> InMemoryTableScan ->
        InMemoryRelation, memoized by JVM object identity."""
        idx = self.last_index
        if idx is None or idx.assigned is None:
            return 0
        jvm = self.sc._jvm
        ident = jvm.java.lang.System.identityHashCode
        memo: dict[int, int] = {}

        def depth(node) -> int:
            key = ident(node)
            if key in memo:
                return memo[key]
            kind = node.getClass().getSimpleName()
            if kind == "InMemoryRelation":
                d = 1 + depth(node.cachedPlan())
            elif kind == "InMemoryTableScanExec":
                d = depth(node.relation())
            elif kind == "AdaptiveSparkPlanExec":
                d = depth(node.executedPlan())
            elif kind.endswith("QueryStageExec"):
                d = depth(node.plan())
            else:
                d = max((depth(c) for c in _seq(node.children())), default=0)
            memo[key] = d
            return d

        return depth(idx.assigned._jdf.queryExecution().withCachedData())

    # ------------------------------------------------- spark counters
    def spark_counters(self) -> dict:
        """Per-op Spark counters keyed by op group, plus whole-run Python
        worker times. Waits for the listener bus to settle first."""
        time.sleep(0.5)
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        per_op: dict[str, dict] = {}
        job_to_group: dict[int, str] = {}
        for op in self.ops:
            c = defaultdict(float)
            intervals = []
            for jid in tracker.getJobIdsForGroup(op["group"]):
                job_to_group[jid] = op["group"]
                jd = store.job(jid)
                c["jobs"] += 1
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    intervals.append(
                        (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
                    )
                for sid in _seq(jd.stageIds()):
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) != "COMPLETE":
                        continue  # skipped: shuffle output reused
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks()
                    c["run_ms"] += sd.executorRunTime()
                    c["cpu_ms"] += sd.executorCpuTime() / 1e6
                    c["shuffle_read_b"] += sd.shuffleReadBytes()
                    c["shuffle_write_b"] += sd.shuffleWriteBytes()
                    c["result_b"] += sd.resultSize()
            c["jobs_ms"] = _union_ms(intervals)
            per_op[op["group"]] = c
        python_run = defaultdict(float)
        python_op: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        sql = self.spark._jsparkSession.sharedState().statusStore()
        seen: set[int] = set()
        for e in _seq(sql.executionsList()):
            # a query over a cached relation lists the cached plan's
            # metrics again, with the same accumulators: count each
            # accumulator once, in the execution that first ran it
            wanted = {}
            for m in _seq(e.metrics()):
                key = PYTHON_METRICS.get(m.name())
                if key is not None and m.accumulatorId() not in seen:
                    wanted[m.accumulatorId()] = key
            if not wanted:
                continue
            vals = sql.executionMetrics(e.executionId())
            it = e.jobs().keysIterator()
            group = None
            while it.hasNext() and group is None:
                group = job_to_group.get(it.next())
            for acc, key in wanted.items():
                v = vals.get(acc)
                if not v.isDefined():
                    continue
                seen.add(acc)
                ms = _parse_total_ms(v.get())
                python_run[key] += ms
                if group is not None:
                    python_op[group][key] += ms
        for group, c in per_op.items():
            c.update(python_op.get(group, {}))
        return {"per_op": per_op, "python_run": dict(python_run)}

    def write_spans(self, path) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp) + "\n")


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)
