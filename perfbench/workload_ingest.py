"""``ingest``: writes with read-your-write checks on a durable IVFFLAT space.

Setup: a path-mode ``Space`` (16 buckets) of clustered 64-d docs with a
trained IVFFLAT index. Each round runs ``api.index_forcemerge``, then
``api.index_rebuild``, then W = 4 writes at fixed positions: upsert 200
existing ids with new vectors, insert 100 new ids, delete those 100 ids,
upsert 200 existing ids. The row count stays constant. After every write
a read-your-write check runs through the index path: a written vector's
id must come back at rank 1, and deleted ids must be absent from ``get``.

Why W = 4: each incremental write stacks another persisted relation on
the IVF index's ``assigned`` plan (the persist chain in
``IVFFlatIndex._swap_assigned``), so write and search cost grow with the
number of writes since the last rebuild. When this benchmark was
written, the 5th write since a build cost about 2x the first and the 8th
failed with a heap OOM; W = 4 keeps every run completing while
``space.upsert_ms.pos*`` and ``ivf.chain_depth.pos*`` still show the
growth. See perfbench/NOTES.md.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from harness import WORK

DIM = 64
N_CLUSTERS = 32
SIZES = {"full": {"rows": 2_000}, "tiny": {"rows": 1_000}}
INDEX = {"ncentroids": 32, "nprobe": 8}
N_BUCKETS = 16
UPSERT_N = 200
INSERT_N = 100
POSITIONS = ("upsert", "insert", "delete", "upsert")
CHECKS_PER_WRITE = 1


class Data:
    """The generated corpus, kept in step with every write so the oracle
    always knows the current vector of each live id."""

    def __init__(self, seed: int, rows: int) -> None:
        self.rng = np.random.default_rng([seed, 11])
        self.centers = self.rng.normal(0.0, 4.0, (N_CLUSTERS, DIM))
        self.rows = rows
        self.live: dict[str, np.ndarray] = {}
        vec = self.vectors(rows)
        self.ids = [f"d{i}" for i in range(rows)]
        self.cat = self.rng.integers(0, 16, rows).astype(np.int32)
        for i, v in zip(self.ids, vec):
            self.live[i] = v
        self.initial = vec
        self.next_new = 0

    def vectors(self, n: int) -> np.ndarray:
        labels = self.rng.integers(0, N_CLUSTERS, n)
        return (self.centers[labels] + self.rng.normal(0.0, 1.0, (n, DIM))).astype(np.float32)

    def docs(self, ids: list[str]) -> list[dict]:
        vec = self.vectors(len(ids))
        out = []
        for i, v in zip(ids, vec):
            self.live[i] = v
            out.append({"_id": i, "cat": int(self.rng.integers(0, 16)),
                        "vec": [float(x) for x in v]})
        return out

    def existing(self, n: int) -> list[str]:
        return [self.ids[i] for i in self.rng.choice(self.rows, n, replace=False)]

    def fresh(self, n: int) -> list[str]:
        out = [f"n{self.next_new + k}" for k in range(n)]
        self.next_new += n
        return out


def _schema():
    from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, SpaceSchema

    return SpaceSchema(name="ingest", fields=[
        FieldSpec("cat", FieldType.INT, index=IndexSpec("cat", "SCALAR")),
        FieldSpec("vec", FieldType.VECTOR, dimension=DIM, index=IndexSpec(
            "vec", "IVFFLAT", params={**INDEX, "training_threshold": 1000})),
    ])


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Runner:
    def __init__(self, spark, space, data, rec, tracer, path: str) -> None:
        self.spark = spark
        self.space = space
        self.data = data
        self.rec = rec
        self.tracer = tracer
        self.path = path
        self.pos_depth: dict[int, list[int]] = {k: [] for k in range(len(POSITIONS))}
        self.bytes_ratio: list[float] = []
        self.pending_delete: list[str] = []  # the ids the last insert wrote

    def write(self, pos: int) -> None:
        from vearch_spark import api

        kind = POSITIONS[pos]
        before = _dir_bytes(self.path) if self.tracer is not None else 0
        if kind == "delete":
            ids = self.pending_delete
            rows = self.rec.op(f"delete.pos{pos}", lambda: api.delete(
                self.space, {"document_ids": ids}), collect=False)
            if rows is None:
                return
            for i in ids:
                self.data.live.pop(i, None)
            user_bytes = sum(len(i) for i in ids)
        else:
            ids = self.data.existing(UPSERT_N) if kind == "upsert" else self.data.fresh(INSERT_N)
            docs = self.data.docs(ids)
            n = self.rec.op(f"{kind}.pos{pos}", lambda: api.upsert(
                self.space, {"documents": docs}), collect=False)
            if n is None:
                return
            self.rec.check("upsert_count", n == len(ids))
            if kind == "insert":
                self.pending_delete = ids
            user_bytes = sum(len(i) + 4 + 4 * DIM for i in ids)
        if self.tracer is not None:
            self.pos_depth[pos].append(self.tracer.chain_depth())
            self.bytes_ratio.append((_dir_bytes(self.path) - before) / user_bytes)
        self.verify(kind, ids)

    def verify(self, kind: str, ids: list[str]) -> None:
        """Read-your-write: rank 1 through the index path for written
        vectors; ``get`` returns nothing for deleted ids."""
        from vearch_spark import api

        if kind == "delete":
            rows = self.rec.op("get", lambda: api.query(self.space, {"document_ids": ids}))
            if rows is not None:
                self.rec.check("visible", len(rows) == 0)
            return
        picks = self.data.rng.choice(len(ids), CHECKS_PER_WRITE, replace=False)
        for i in (ids[int(k)] for k in picks):
            q = [float(x) for x in self.data.live[i]]
            req = {"vectors": [{"field": "vec", "feature": q}], "limit": 10,
                   "is_brute_search": 0}
            rows = self.rec.op("search", lambda: api.search(self.space, req))
            if rows is not None:
                self.rec.check("visible", bool(rows) and rows[0]["_id"] == i)

    def round(self) -> None:
        from vearch_spark import api

        self.rec.op("forcemerge", lambda: api.index_forcemerge(self.space), collect=False)
        out = self.rec.op("rebuild", lambda: api.index_rebuild(self.space), collect=False)
        if out is not None:
            self.rec.check("rebuild_fields", out == ["vec"])
        for pos in range(len(POSITIONS)):
            self.write(pos)
        self.rec.check("row_count_constant", self.space.count() == self.data.rows)


def run(spark, rec, tracer, seed: int, seconds: int, size: str, timings: dict) -> dict:
    import pandas as pd

    from harness import Recorder, median, pct
    from vearch_spark.space import Space

    path = str(WORK / f"ingest-space-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    try:
        t0 = time.perf_counter()
        data = Data(seed, SIZES[size]["rows"])
        space = Space(spark, _schema(), path=path, n_buckets=N_BUCKETS)
        pdf = pd.DataFrame({"_id": data.ids, "cat": data.cat, "vec": list(data.initial)})
        space.upsert(spark.createDataFrame(pdf, "_id string, cat int, vec array<float>"))
        t1 = time.perf_counter()
        space.build_index("vec")
        t2 = time.perf_counter()
        timings["setup.load_s"] = t1 - t0
        timings["setup.build_s"] = t2 - t1
        timings["setup_s"] = timings["session.start_s"] + t2 - t0

        # warm-up: one write and its checks, untimed; the first round's
        # rebuild resets the index it touched
        warm = Runner(spark, space, data, Recorder(spark), None, path)
        warm.write(0)
        timings["setup.warmup_s"] = time.perf_counter() - t2

        runner = Runner(spark, space, data, rec, tracer, path)
        for _ in range(max(1, seconds // 6)):
            runner.round()
        version_dirs = sum(1 for d in os.listdir(path) if d[:1] == "v" and d[1:].isdigit())
    finally:
        shutil.rmtree(path, ignore_errors=True)

    writes = [x for pos, kind in enumerate(POSITIONS) for x in rec.samples.get(f"{kind}.pos{pos}", [])]
    upserts = rec.samples.get("upsert.pos0", []) + rec.samples.get("upsert.pos3", [])
    visible = rec.ratio("visible")
    e2e = {
        "op_p50_ms": pct(writes, 50),
        "op_p75_ms": pct(writes, 75),
        "sequence_s": rec.sequence_s(),
        "items_per_s": UPSERT_N / (median(upserts) / 1000.0),
        "quality": visible,
    }
    detail = {
        "write_p50_ms": pct(writes, 50),
        "write_p75_ms": pct(writes, 75),
        "search_p50_ms": rec.p("search", 50),
        "get_p50_ms": rec.p("get", 50),
        "rebuild_s": rec.p("rebuild", 50) / 1000.0,
        "visible_ratio": visible,
        "samples": {k: len(v) for k, v in rec.samples.items()},
    }
    for pos, kind in enumerate(POSITIONS):
        detail[f"space.upsert_ms.pos{pos}"] = rec.p(f"{kind}.pos{pos}", 50)
    layer = {}
    if tracer is not None:
        lm = tracer.layer_ms
        layer.update({
            "space.delete_ms": rec.p("delete.pos2", 50),
            "api.forcemerge_ms": rec.p("forcemerge", 50),
            "ivf.add_ms": median(lm.get("ivf.add", [])),
            "ivf.remove_ms": median(lm.get("ivf.remove", [])),
            "ivf.fit_ms": median(lm.get("ivf.fit", [])),
            "ivf.chain_depth": max(max(v, default=0) for v in runner.pos_depth.values()),
            "storage.bytes_written_per_user_byte": median(runner.bytes_ratio),
            "storage.version_dirs": version_dirs,
        })
        for pos, depths in runner.pos_depth.items():
            layer[f"ivf.chain_depth.pos{pos}"] = max(depths, default=0)
    return {"e2e": e2e, "detail": detail, "layer": layer}

