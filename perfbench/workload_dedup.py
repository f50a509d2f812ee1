"""``dedup``: batch near-duplicate passes over fresh generated shards.

Each pass generates a fresh shard from (seed, pass), caches it untimed,
then times three steps: ``ngram_jaccard_pairs`` (threshold 0.5,
3-shingles), ``dedup_resolve`` on those pairs, and ``minhash_lsh_pairs``
(default xxhash64 and ``max_bucket`` guard). The shard plants 10 %
near-duplicates (5 % word substitutions) and gives 5 % of its docs a
shared 30-word boilerplate header whose shingles exceed the df cap. A
fresh shard per pass keeps module-level caches from turning a pass into a
cache read.

The oracle recomputes everything in Python from the generated text: the
df-capped lower-bound Jaccard that ``ngram_jaccard_pairs`` reports (full
set sizes, intersection over shingles in at most max(100, 1 % of docs)
docs), the full Jaccard that the LSH verify reports, and the connected
components that ``dedup_resolve`` must produce.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np

# 2400 docs is the smallest shard whose 5 % boilerplate docs always
# exceed the df cap of max(100, 1 % of docs)
SIZES = {"full": {"docs": 2_400}, "tiny": {"docs": 2_400}}
VOCAB = 20_000
DOC_WORDS = (60, 100)
HEADER_WORDS = 30
DUP_SHARE = 0.10
BOILER_SHARE = 0.05
SUBST = 0.05
THRESHOLD = 0.5
SHINGLE_N = 3
RECALL_GATE = 0.9


class Shard:
    def __init__(self, seed: int, pass_no: int, n: int) -> None:
        rng = np.random.default_rng([seed, 21, pass_no])
        header = [f"w{x}" for x in rng.integers(0, VOCAB, HEADER_WORDS)]
        n_dup = int(n * DUP_SHARE)
        n_orig = n - n_dup
        boiler = set(rng.choice(n_orig, int(n * BOILER_SHARE), replace=False).tolist())
        words: list[list[str]] = []
        for i in range(n_orig):
            body = [f"w{x}" for x in rng.integers(0, VOCAB, rng.integers(*DOC_WORDS))]
            words.append(header + body if i in boiler else body)
        self.planted: list[tuple[int, int]] = []
        for src in rng.choice(n_orig, n_dup, replace=False).tolist():
            w = list(words[src])
            for k in rng.choice(len(w), max(1, int(len(w) * SUBST)), replace=False):
                w[k] = f"w{rng.integers(0, VOCAB)}"
            self.planted.append((src, len(words)))
            words.append(w)
        # shuffle doc ids so planted copies are not adjacent to sources
        perm = rng.permutation(n)
        self.text = [""] * n
        for old, new in enumerate(perm.tolist()):
            self.text[new] = " ".join(words[old])
        self.planted = [tuple(sorted((int(perm[a]), int(perm[b])))) for a, b in self.planted]
        self.n = n
        self.boilerplate_share = sum(
            t.startswith(" ".join(header)) for t in self.text
        ) / n

    def frame(self, spark):
        """The shard as a cached DataFrame, materialized."""
        import pandas as pd

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(self.n, dtype=np.int64), "text": self.text}),
            "doc_id long, text string",
        ).cache()
        docs.count()
        return docs

    def oracle(self) -> None:
        """Shingle sets, hot shingles and every df-capped pair at or above
        the threshold, computed with an inverted index in Python."""
        sh = []
        for t in self.text:
            toks = [w for w in t.split(" ") if w]
            sh.append(set(" ".join(toks[i:i + SHINGLE_N])
                          for i in range(max(len(toks) - SHINGLE_N, 0) + 1)))
        self.shingles = sh
        df: dict[str, int] = defaultdict(int)
        for s in sh:
            for g in s:
                df[g] += 1
        cap = max(100, int(self.n * 0.01))
        self.hot = {g for g, c in df.items() if c > cap}
        postings: dict[str, list[int]] = defaultdict(list)
        for d, s in enumerate(sh):
            for g in s:
                if g not in self.hot:
                    postings[g].append(d)
        inter: dict[tuple[int, int], int] = defaultdict(int)
        for docs in postings.values():
            for i in range(len(docs)):
                for j in range(i + 1, len(docs)):
                    inter[(docs[i], docs[j])] += 1
        self.exact_pairs = {}
        for (a, b), k in inter.items():
            j = k / (len(sh[a]) + len(sh[b]) - k)
            if j >= THRESHOLD:
                self.exact_pairs[(a, b)] = j

    def capped_jaccard(self, a: int, b: int) -> float:
        sa, sb = self.shingles[a], self.shingles[b]
        k = len((sa & sb) - self.hot)
        return k / (len(sa) + len(sb) - k)

    def full_jaccard(self, a: int, b: int) -> float:
        sa, sb = self.shingles[a], self.shingles[b]
        k = len(sa & sb)
        return k / (len(sa) + len(sb) - k)

    def components(self) -> dict[int, int]:
        """Cluster id (min member) of every doc under the oracle's pairs."""
        parent = list(range(self.n))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.exact_pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {d: find(d) for d in range(self.n)}


class Runner:
    def __init__(self, spark, rec) -> None:
        self.spark = spark
        self.rec = rec
        self.recall_exact: list[float] = []
        self.recall_lsh: list[float] = []
        self.precise = 0
        self.reported = 0
        self.pairs_found: list[int] = []
        self.pass_ms: list[float] = []

    def one_pass(self, shard: Shard, docs) -> None:
        """Times the three steps on ``docs``, the shard's cached frame."""
        from vearch_spark.operators import dedup

        try:
            exact = self.rec.op("ngram", lambda: dedup.ngram_jaccard_pairs(
                docs, shingle_n=SHINGLE_N, jaccard_threshold=THRESHOLD))
            if exact is None:
                return
            pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact}
            pairs_df = self.spark.createDataFrame(list(pairs), "id_a long, id_b long")
            resolved = self.rec.op("resolve", lambda: dedup.dedup_resolve(docs, pairs_df))
            with dedup.skew_guard_scope():
                lsh = self.rec.op("lsh", lambda: dedup.minhash_lsh_pairs(
                    docs, shingle_n=SHINGLE_N, jaccard_threshold=THRESHOLD))
            if resolved is None or lsh is None:
                return
            self.pass_ms.append(sum(self.rec.samples[c][-1] for c in ("ngram", "resolve", "lsh")))
        finally:
            # the operators persist intermediates they never release;
            # drop them (and the shard) before the next fresh shard
            self.spark.catalog.clearCache()
        self.verify(shard, pairs, resolved, lsh)

    def verify(self, shard: Shard, pairs: dict, resolved, lsh) -> None:
        shard.oracle()
        self.rec.check("exact_pairs_match_oracle", set(pairs) == set(shard.exact_pairs))
        for (a, b), j in pairs.items():
            self.reported += 1
            self.precise += j >= THRESHOLD and abs(j - shard.capped_jaccard(a, b)) < 1e-9
        lsh_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in lsh}
        for (a, b), j in lsh_pairs.items():
            self.reported += 1
            self.precise += j >= THRESHOLD and abs(j - shard.full_jaccard(a, b)) < 1e-9
        self.pairs_found.append(len(pairs))
        want_exact = [p for p in shard.planted if shard.capped_jaccard(*p) >= THRESHOLD]
        want_lsh = [p for p in shard.planted if shard.full_jaccard(*p) >= THRESHOLD]
        self.recall_exact.append(sum(p in pairs for p in want_exact) / max(1, len(want_exact)))
        self.recall_lsh.append(sum(p in lsh_pairs for p in want_lsh) / max(1, len(want_lsh)))
        comp = shard.components()
        self.rec.check("resolve_matches_oracle", len(resolved) == shard.n and all(
            r["cluster_id"] == comp[r["doc_id"]]
            and r["is_canonical"] == int(r["doc_id"] == comp[r["doc_id"]])
            for r in resolved
        ))


def run(spark, rec, tracer, seed: int, seconds: int, size: str, timings: dict) -> dict:
    from harness import Recorder, median, pct

    n = SIZES[size]["docs"]
    t0 = time.perf_counter()
    # the warm-up pass runs on a full-size shard: after a smaller one the
    # first timed pass was far slower than the rest
    warm = Shard(seed, 0, n)
    shards = [Shard(seed, p, n) for p in range(1, max(1, seconds // 4) + 1)]
    t1 = time.perf_counter()
    # no index here: the build step is materializing a cached input
    # shard, which every timed pass also does untimed
    first = warm.frame(spark)
    t2 = time.perf_counter()
    timings["setup.load_s"] = t1 - t0
    timings["setup.build_s"] = t2 - t1
    timings["setup_s"] = timings["session.start_s"] + t2 - t0

    Runner(spark, Recorder(spark)).one_pass(warm, first)
    timings["setup.warmup_s"] = time.perf_counter() - t2

    runner = Runner(spark, rec)
    for shard in shards:
        runner.one_pass(shard, shard.frame(spark))

    recall = min(min(runner.recall_exact, default=0.0), min(runner.recall_lsh, default=0.0))
    precision = runner.precise / runner.reported if runner.reported else 0.0
    rec.check("pair_precision_is_1", precision == 1.0)
    rec.check("pair_recall_gate", recall >= RECALL_GATE)
    pass_p50 = median(runner.pass_ms)
    e2e = {
        "op_p50_ms": pass_p50,
        "op_p75_ms": pct(runner.pass_ms, 75),
        "sequence_s": rec.sequence_s(),
        "items_per_s": n / (pass_p50 / 1000.0),
        "quality": recall,
    }
    detail = {
        "docs_per_s": n / (pass_p50 / 1000.0),
        "pair_recall": recall,
        "pair_precision": precision,
        "pass_ms": runner.pass_ms,
        "samples": {k: len(v) for k, v in rec.samples.items()},
    }
    layer = {}
    if tracer is not None:
        layer.update({
            "dedup.ngram_pairs_ms": rec.p("ngram", 50),
            "dedup.resolve_ms": rec.p("resolve", 50),
            "dedup.lsh_pairs_ms": rec.p("lsh", 50),
            "dedup.pairs_found": median(runner.pairs_found),
            "dedup.boilerplate_doc_share": median([s.boilerplate_share for s in shards]),
        })
    return {"e2e": e2e, "detail": detail, "layer": layer}
