"""``serve``: read-only request mix against an in-memory IVFFLAT space.

Setup: clustered 64-d vectors with an INT ``cat`` field (16 values) and a
DOUBLE ``price`` field, plus an IVFFLAT index (128 cells, nprobe 8).
Op mix, in a fixed seeded order: 50 % filtered ``api.search`` top-10
(``cat`` range filter alternating 50 % and 6 % selectivity), 10 % exact
search (``is_brute_search=1``, same filters), 20 % ``api.query`` (2-sided
``price`` range, sort by price, limit 20) and 20 % ``Space.search_batch``
of 16 queries. Every query vector is fresh and in-distribution, so no
result cache can win. Every answer is checked against numpy over the
generated data.
"""

from __future__ import annotations

import time

import numpy as np

DIM = 64
N_CLUSTERS = 64
SIZES = {"full": {"rows": 10_000}, "tiny": {"rows": 4_000}}
INDEX = {"ncentroids": 128, "nprobe": 8}
MIX = ["search"] * 5 + ["exact"] + ["query"] * 2 + ["batch"] * 2
WARMUP = ["search", "exact", "query", "batch"]
BATCH = 16
RECALL_GATE = 0.80


class Data:
    def __init__(self, seed: int, rows: int) -> None:
        rng = np.random.default_rng([seed, 1])
        self.centers = rng.normal(0.0, 4.0, (N_CLUSTERS, DIM))
        labels = rng.integers(0, N_CLUSTERS, rows)
        self.vec = (self.centers[labels] + rng.normal(0.0, 1.0, (rows, DIM))).astype(np.float32)
        self.cat = rng.integers(0, 16, rows).astype(np.int32)
        self.price = rng.uniform(0.0, 1000.0, rows)
        self.ids = np.array([f"d{i}" for i in range(rows)])
        self.vec64 = self.vec.astype(np.float64)
        self.sq = (self.vec64**2).sum(axis=1)

    def query_vector(self, rng) -> list[float]:
        c = self.centers[rng.integers(0, N_CLUSTERS)]
        return [float(x) for x in np.float32(c + rng.normal(0.0, 1.0, DIM))]

    def exact_top(self, q: list[float], mask: np.ndarray | None, k: int) -> set[str]:
        qv = np.asarray(q, dtype=np.float64)
        d = self.sq - 2.0 * (self.vec64 @ qv)
        idx = np.flatnonzero(mask) if mask is not None else np.arange(len(d))
        top = idx[np.argsort(d[idx], kind="stable")[:k]]
        return set(self.ids[top].tolist())


def cat_filter(i: int, rng) -> tuple[dict, tuple[int, int]]:
    """Alternates 50 % (8 of 16 values) and 6 % (1 of 16) selectivity."""
    if i % 2 == 0:
        lo = int(rng.integers(0, 9))
        hi = lo + 7
    else:
        lo = hi = int(rng.integers(0, 16))
    flt = {"operator": "AND", "conditions": [
        {"field": "cat", "operator": ">=", "value": lo},
        {"field": "cat", "operator": "<=", "value": hi},
    ]}
    return flt, (lo, hi)


def plan_ops(seed: int, seconds: int) -> list[str]:
    """The fixed op sequence: shuffled 10-op blocks, one block per 3
    nominal seconds."""
    rng = np.random.default_rng([seed, 2])
    out: list[str] = []
    for _ in range(max(1, seconds // 3)):
        out += list(rng.permutation(MIX))
    return out


def setup(spark, seed: int, size: str):
    import pandas as pd

    from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, SpaceSchema
    from vearch_spark.space import Space

    t0 = time.perf_counter()
    data = Data(seed, SIZES[size]["rows"])
    schema = SpaceSchema(name="serve", fields=[
        FieldSpec("cat", FieldType.INT, index=IndexSpec("cat", "SCALAR")),
        FieldSpec("price", FieldType.DOUBLE, index=IndexSpec("price", "SCALAR")),
        FieldSpec("vec", FieldType.VECTOR, dimension=DIM, index=IndexSpec(
            "vec", "IVFFLAT", params={**INDEX, "training_threshold": 1000})),
    ])
    space = Space(spark, schema)
    pdf = pd.DataFrame({"_id": data.ids, "cat": data.cat, "price": data.price,
                        "vec": list(data.vec)})
    space.upsert(spark.createDataFrame(pdf, "_id string, cat int, price double, vec array<float>"))
    t1 = time.perf_counter()
    space.build_index("vec")
    t2 = time.perf_counter()
    return {"data": data, "space": space}, {"load": t1 - t0, "build": t2 - t1}


class Runner:
    """Issues the ops and checks each answer against numpy."""

    def __init__(self, state, rec, tracer, seed: int, stream: int) -> None:
        self.data = state["data"]
        self.space = state["space"]
        self.rec = rec
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, stream])
        self.n_filtered = 0
        self.recall: list[float] = []
        self.batch_recall: list[float] = []
        self._cells: np.ndarray | None = None
        self.layer: dict[str, list[float]] = {
            "filters.compile_ms": [], "ivf.rows_scored_per_search": [],
            "topk.rows_scored_per_exact_search": [],
        }

    def run(self, kind: str) -> None:
        getattr(self, kind)()

    def _filtered(self):
        flt, (lo, hi) = cat_filter(self.n_filtered, self.rng)
        self.n_filtered += 1
        mask = (self.data.cat >= lo) & (self.data.cat <= hi)
        return flt, mask, (lo, hi)

    def _compile_timing(self, flt) -> None:
        if self.tracer is None:
            return
        from vearch_spark.filters import compile_filter

        t0 = time.perf_counter()
        compile_filter(flt, self.space.schema)
        self.layer["filters.compile_ms"].append((time.perf_counter() - t0) * 1e3)

    def search(self) -> None:
        from vearch_spark import api

        q = self.data.query_vector(self.rng)
        flt, mask, (lo, hi) = self._filtered()
        req = {"vectors": [{"field": "vec", "feature": q}], "limit": 10, "filters": flt}
        rows = self.rec.op("search", lambda: api.search(self.space, req))
        if rows is None:
            return
        truth = self.data.exact_top(q, mask, 10)
        got = {r["_id"] for r in rows}
        self.recall.append(len(got & truth) / 10.0)
        self.rec.check("search_hits_pass_filter", all(lo <= r["cat"] <= hi for r in rows))
        self._compile_timing(flt)
        if self.tracer is not None and self.tracer.last_cells is not None:
            cells = set(self.tracer.last_cells)
            in_cells = np.isin(self._assign(), list(cells))
            self.layer["ivf.rows_scored_per_search"].append(
                float((in_cells & mask).sum()) / 10.0
            )

    def _assign(self) -> np.ndarray:
        """Cell of every generated row under the index's own centroids."""
        if self._cells is None:
            c = np.asarray(self.tracer.last_index.centroids, dtype=np.float64)
            d = (c**2).sum(axis=1) - 2.0 * (self.data.vec64 @ c.T)
            self._cells = d.argmin(axis=1)
        return self._cells

    def exact(self) -> None:
        from vearch_spark import api

        q = self.data.query_vector(self.rng)
        flt, mask, _ = self._filtered()
        req = {"vectors": [{"field": "vec", "feature": q}], "limit": 10,
               "filters": flt, "is_brute_search": 1}
        rows = self.rec.op("exact", lambda: api.search(self.space, req))
        if rows is None:
            return
        truth = self.data.exact_top(q, mask, 10)
        # exact search: at most one swap at the 10th place from float
        # rounding of a near-tie
        self.rec.check("exact_top10", len({r["_id"] for r in rows} & truth) >= 9)
        self._compile_timing(flt)
        if self.tracer is not None:
            self.layer["topk.rows_scored_per_exact_search"].append(float(mask.sum()))

    def query(self) -> None:
        from vearch_spark import api

        lo = float(self.rng.uniform(0.0, 980.0))
        hi = lo + 20.0
        flt = {"operator": "AND", "conditions": [
            {"field": "price", "operator": ">=", "value": lo},
            {"field": "price", "operator": "<", "value": hi},
        ]}
        req = {"filters": flt, "sort": [{"price": {"order": "asc"}}], "limit": 20}
        rows = self.rec.op("query", lambda: api.query(self.space, req))
        if rows is None:
            return
        p = self.data.price
        idx = np.flatnonzero((p >= lo) & (p < hi))
        want = self.data.ids[idx[np.argsort(p[idx], kind="stable")[:20]]].tolist()
        self.rec.check("query_sorted_page", [r["_id"] for r in rows] == want)
        self._compile_timing(flt)

    def batch(self) -> None:
        qs = [self.data.query_vector(self.rng) for _ in range(BATCH)]
        rows = self.rec.op("batch", lambda: self.space.search_batch(qs, limit=10))
        if rows is None:
            return
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["_id"])
        for i, q in enumerate(qs):
            truth = self.data.exact_top(q, None, 10)
            self.batch_recall.append(len(got.get(i, set()) & truth) / 10.0)


def run(spark, rec, tracer, seed: int, seconds: int, size: str, timings: dict) -> dict:
    """Setup, warm-up and the timed op sequence; returns the metrics."""
    from harness import Recorder, median

    t0 = time.perf_counter()
    state, parts = setup(spark, seed, size)
    timings["setup.load_s"] = parts["load"]
    timings["setup.build_s"] = parts["build"]
    timings["setup_s"] = timings["session.start_s"] + time.perf_counter() - t0

    t1 = time.perf_counter()
    warm = Runner(state, Recorder(spark), None, seed, 90)
    for kind in WARMUP:
        warm.run(kind)
    timings["setup.warmup_s"] = time.perf_counter() - t1

    runner = Runner(state, rec, tracer, seed, 91)
    for kind in plan_ops(seed, seconds):
        runner.run(kind)

    recall = float(np.mean(runner.recall)) if runner.recall else 0.0
    batch_recall = float(np.mean(runner.batch_recall)) if runner.batch_recall else 0.0
    rec.check("recall_at_10_gate", recall >= RECALL_GATE)
    rec.check("batch_recall_gate", batch_recall >= RECALL_GATE)
    batch_p50 = rec.p("batch", 50)
    e2e = {
        "op_p50_ms": rec.p("search", 50),
        "op_p75_ms": rec.p("search", 75),
        "sequence_s": rec.sequence_s(),
        "items_per_s": BATCH / (batch_p50 / 1000.0),
        "quality": recall,
    }
    detail = {
        "search_p50_ms": rec.p("search", 50),
        "search_p90_ms": rec.p("search", 90),
        "exact_search_p50_ms": rec.p("exact", 50),
        "query_p50_ms": rec.p("query", 50),
        "batch_qps": BATCH / (batch_p50 / 1000.0),
        "recall_at_10": recall,
        "batch_recall_at_10": batch_recall,
        "samples": {k: len(v) for k, v in rec.samples.items()},
    }
    layer = {}
    if tracer is not None:
        for name, xs in runner.layer.items():
            layer[name] = median(xs)
        layer["ivf.probe_cells_ms"] = median(tracer.layer_ms.get("ivf.probe_cells", []))
        layer["ivf.chain_depth"] = tracer.chain_depth()
    return {"e2e": e2e, "detail": detail, "layer": layer}

