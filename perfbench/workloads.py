"""The two workloads, `serve` and `batch`. Each one builds its seeded
inputs in `setup`, runs one fixed cycle of public-API calls per
`cycle`, checks answers in `check` (outside the timed window), and in
the traced run replays single layers in `layers` so their cost shows
on its own.

A workload's `cycle` appends one record per API call to
`self.results`; `check` returns a list of failure messages (empty when
every answer is right). `batch` is made of three parts (ANN query
sets, the BM25 index lifecycle, curation) that record through it.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen

K = 10


def write_docs(path: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
        }),
        path,
    )


def write_vectors(path: str, vecs: np.ndarray) -> None:
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float32()))
    pq.write_table(
        pa.table({"vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)), "embedding": emb}),
        path, row_group_size=16384,
    )


def exact_topk(V: np.ndarray, q: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Exact cosine top-k, scores rounded half-up to 6 dp like the
    engine, ties broken by the lower id."""
    Vn = V.astype(np.float64)
    Vn = Vn / np.maximum(np.linalg.norm(Vn, axis=1, keepdims=True), 1e-300)
    qn = q / max(np.linalg.norm(q), 1e-300)
    s = Vn @ qn
    s = np.sign(s) * np.floor(np.abs(s) * 1e6 + 0.5) / 1e6
    order = np.lexsort((np.arange(len(s)), -s))[:k]
    return [(int(i), float(s[i])) for i in order]


def topk_mismatch(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """None when `got` is a correct top-k for the exact ranking `want`.
    A 1e-6 slack absorbs the last-digit rounding of float32 inputs, so
    two ids whose scores tie within it may swap."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for (gi, gs), (wi, ws) in zip(got, want):
        if abs(gs - ws) > 1.5e-6:
            return f"score {gs} for id {gi}, expected {ws} for id {wi}"
        if gi != wi and abs(gs - ws) > 1e-6:
            return f"id {gi}, expected {wi}"
    return None


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.results: list[dict] = []
        self.layer_ms: dict[str, list[float]] = {}
        self.counters: dict[str, list[float]] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.ctx.workdir, name)

    def timed_call(self, kind: str, fn, *args):
        """Run one API call under a root span; record its wall."""
        with self.tracer.call(f"{self.name}.{kind}"):
            t0 = time.perf_counter()
            out = fn(*args)
            ms = (time.perf_counter() - t0) * 1000.0
        self.results.append({"kind": kind, "ms": ms})
        return out

    def layer(self, name: str, fn, *args):
        """Replay one layer on its own and keep its wall."""
        with self.tracer.call(f"layer.{name}"):
            t0 = time.perf_counter()
            out = fn(*args)
            self.layer_ms.setdefault(name, []).append((time.perf_counter() - t0) * 1000.0)
        return out

    def collect(self, df) -> list:
        with self.tracer.span("driver.collect"):
            return df.collect()

    def count(self, name: str, value: float) -> None:
        self.counters.setdefault(name, []).append(float(value))

    def layers(self, i: int) -> None:
        pass


# ------------------------------------------------------------ serve


class Serve(Workload):
    """MCP tools/call search_hybrid, one closed-loop client."""

    name = "serve"
    adaptive_warm = True

    def setup(self):
        from mcp_vector_search_spark.api import SparkProject
        from mcp_vector_search_spark.mcp_adapter import McpAdapter

        seed = self.ctx.seed
        self.docs = datagen.corpus(seed)
        write_docs(self.path("docs.parquet"), self.docs)
        write_vectors(self.path("vecs.parquet"), datagen.embeddings(seed))
        self.docs_df = self.spark.read.parquet(self.path("docs.parquet"))
        self.vecs_df = self.spark.read.parquet(self.path("vecs.parquet"))
        self.project = SparkProject(self.spark, self.docs_df, self.vecs_df)
        self.project.start_serving()
        self.adapter = McpAdapter(self.project, reports_dir=self.path("reports"))
        self.queries = datagen.query_texts(self.docs, 1000, seed, salt=0)
        self.warm_queries = datagen.query_texts(self.docs, 10, seed, salt=1)
        self.responses: list[tuple[str, dict]] = []

    def _send(self, i: int, text: str) -> dict:
        from mcp_vector_search_spark.mcp_server import handle_message

        msg = {
            "jsonrpc": "2.0", "id": i, "method": "tools/call",
            "params": {"name": "search_hybrid", "arguments": {"query": text, "limit": K}},
        }
        with self.tracer.span("mcp_server.handle_message"):
            return handle_message(self.adapter, msg)

    def warm_up(self):
        return [lambda t=t: self._send(-1, t) for t in self.warm_queries]

    def cycle(self, i: int) -> None:
        text = self.queries[i % len(self.queries)]
        resp = self.timed_call("search_hybrid", self._send, i, text)
        self.responses.append((text, resp))

    def check(self) -> list[str]:
        from mcp_vector_search_spark.functions.embed import embed_batch

        fails = []
        for text, resp in self.responses:
            payload = json.loads(resp["result"]["content"][0]["text"])
            if resp["result"]["isError"] or len(payload["rows"]) != K:
                fails.append(f"serve {text!r}: {payload.get('error', payload['rows'])}")
        # two sampled calls against the batch surface, same terms and
        # the same embedded vector, as one query set
        sample = [self.responses[0], self.responses[len(self.responses) // 2]]
        texts = [text for text, _ in sample]
        q = self.spark.createDataFrame(list(enumerate(texts)), "query_id long, q string")
        qv = embed_batch(q, "query_id", "q", dim=datagen.DIM).withColumnRenamed("embedding", "query_vec")
        ref = self.project.search_hybrid_batch(list(enumerate(texts)), qv, limit=K).collect()
        for qid, (text, resp) in enumerate(sample):
            rows = json.loads(resp["result"]["content"][0]["text"])["rows"]
            got = [(r[0], round(r[1], 6)) for r in rows]
            want = [(r["doc_id"], round(r["rrf_score"], 6))
                    for r in sorted((r for r in ref if r["query_id"] == qid), key=lambda r: r["rn"])]
            if got != want:
                fails.append(f"serve {text!r}: {got} != batch {want}")
        return fails

    def trace_setup(self):
        from mcp_vector_search_spark.operators.bm25 import Bm25ServingStats

        self.stats = Bm25ServingStats(self.docs_df)
        self.vec_cache = self.vecs_df.cache()
        self.vec_cache.count()
        instrument(self.tracer, [
            ("mcp_vector_search_spark.functions.embed", None, "embed_batch", "functions.embed.embed_batch"),
            ("mcp_vector_search_spark.api", "SparkProject", "search_hybrid", "api.search_hybrid"),
            ("mcp_vector_search_spark.operators.bm25", "Bm25ServingStats", "stats_for", "operators.bm25.stats_for"),
            ("mcp_vector_search_spark.plans.hybrid", None, "hybrid_search", "plans.hybrid.hybrid_search"),
            ("mcp_vector_search_spark.mcp_adapter", None, "df_payload", "mcp_adapter.df_payload"),
        ])

    def layers(self, i: int) -> None:
        from pyspark.sql import functions as F

        from mcp_vector_search_spark.functions.embed import embed_batch
        from mcp_vector_search_spark.functions.query import preprocess_query
        from mcp_vector_search_spark.operators.bm25 import bm25_topk
        from mcp_vector_search_spark.operators.fusion import rrf_fuse
        from mcp_vector_search_spark.operators.topk import knn_brute_force, rank_by

        text = self.queries[i % len(self.queries)]
        terms = preprocess_query(text).split()
        q = self.spark.createDataFrame([(0, text)], "qid long, q string")
        vec = self.layer(
            "functions.embed.query",
            lambda: embed_batch(q, "qid", "q", dim=datagen.DIM).collect()[0]["embedding"],
        )
        stats = self.layer("operators.bm25.stats", self.stats.stats_for, terms)
        bm = self.layer("operators.bm25.leg", lambda: bm25_topk(
            self.docs_df, terms, 2 * K, stats=stats, tokenized=self.stats.tokenized).collect())
        qv = self.spark.createDataFrame([(vec,)], "query_vec array<double>")
        vl = self.layer("operators.topk.leg", lambda: knn_brute_force(self.vec_cache, qv, 2 * K).collect())
        bm_df = self.spark.createDataFrame([(r["doc_id"], r["score"]) for r in bm], "doc_id long, score double")
        vl_df = self.spark.createDataFrame([(r["vec_id"], r["cos_sim"]) for r in vl], "doc_id long, cos_sim double")
        self.layer("operators.fusion.fuse", lambda: rrf_fuse(
            rank_by(vl_df, "cos_sim", "doc_id"), rank_by(bm_df, "score", "doc_id")
        ).orderBy(F.desc("rrf_score")).limit(K).collect())


# ------------------------------------------------------------ batch


class Part:
    """One batch pipeline. It records its calls, layer replays and
    counters through the `Batch` workload that owns it."""

    def __init__(self, owner: Workload):
        self.w = owner
        self.spark = owner.spark
        self.seed = owner.ctx.seed

    def layers(self, i: int) -> None:
        pass


class Ann(Part):
    """Query sets as batch jobs: a small and a large ANN batch over an
    inflated corpus, `search_batch(route="auto")` after an ANN build."""

    # jittered copies of the 2,000 base vectors; RAM-sized (~1M rows)
    # does not fit a run's time budget, see NOTES.md
    ROWS = 32768
    SIZES = {"ann_small": 16, "ann_large": 1024}

    def setup(self):
        from mcp_vector_search_spark.api import SparkProject

        base = datagen.embeddings(self.seed)
        self.big = datagen.inflate(base, self.ROWS, self.seed)
        write_vectors(self.w.path("big.parquet"), self.big)
        docs = self.spark.createDataFrame([], "doc_id long, text string")
        self.ann = SparkProject(self.spark, docs, self.spark.read.parquet(self.w.path("big.parquet")))
        self.ann.build_ann_index(fit="sampled")
        self.sets = {}
        for kind, n in self.SIZES.items():
            Q = datagen.query_vectors(base, n, self.seed, salt=n)
            self.sets[kind] = (Q, self.spark.createDataFrame(
                [(i, [float(x) for x in row]) for i, row in enumerate(Q)],
                "query_id long, query_vec array<double>",
            ))
        self.outputs: list[dict] = []

    def _ann(self, qdf):
        rows = self.w.collect(self.ann.search_batch(qdf, limit=K, route="auto"))
        self.w.count(f"api.route.{self.ann.last_route['served']}", 1)
        return rows

    def warm_up(self):
        # one batch warms the kernel path both sizes share
        return [lambda: self._ann(self.sets["ann_small"][1])]

    def cycle(self, i: int) -> None:
        self.outputs.append({kind: self.w.timed_call(kind, self._ann, qdf)
                             for kind, (_, qdf) in self.sets.items()})

    def check(self) -> list[str]:
        fails = []
        for out in self.outputs:
            for kind, rows in out.items():
                if len(rows) != self.SIZES[kind] * K:
                    fails.append(f"batch {kind}: {len(rows)} rows, expected {self.SIZES[kind] * K}")
        for kind, rows in self.outputs[-1].items():
            Q = self.sets[kind][0]
            for qid in (0, len(Q) // 2, len(Q) - 1):
                got = sorted(
                    ((r["vec_id"], r["cos_sim"]) for r in rows if r["query_id"] == qid),
                    key=lambda t: (-t[1], t[0]),
                )
                bad = topk_mismatch(got, exact_topk(self.big, Q[qid], K))
                if bad:
                    fails.append(f"batch {kind} query {qid}: {bad}")
        return fails

    def trace_setup(self):
        instrument(self.w.tracer, [
            ("mcp_vector_search_spark.api", "SparkProject", "search_batch", "api.search_batch"),
            ("mcp_vector_search_spark.operators.topk", None, "topk_per_query_np",
             "operators.topk.topk_per_query_np"),
        ])


def dir_files(path: str) -> dict[str, tuple[int, int, int]]:
    """path → (size, mtime_ns, inode): a rewrite under the same name
    changes the inode or the mtime even when the size stays."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


class Ingest(Part):
    """BM25 index lifecycle on local disk: update, query, compact."""

    DOCS, BASE = 2500, 2000
    KEYWORDS = (["spark", "hash"], ["token", "parse", "schema"])

    def setup(self):
        from mcp_vector_search_spark.operators.bm25 import write_bm25_index

        self.docs = datagen.corpus(self.seed, self.DOCS)
        self.deltas = datagen.ingest_deltas(self.docs, self.BASE, self.seed)
        self.live = {d[0]: d[1] for d in self.docs[: self.BASE]}
        self.idx = self.w.path("bm25")
        write_bm25_index(self._frame(list(self.live.items())), self.idx)
        self.answers: list = []

    def _frame(self, rows):
        return self.spark.createDataFrame(rows, "doc_id long, text string")

    def _update(self, delta):
        from mcp_vector_search_spark.operators.bm25 import update_bm25_index

        upserts, gone = delta
        return update_bm25_index(self.spark, self.idx, self._frame(upserts), deleted_ids=gone)

    def _query_set(self, path):
        from mcp_vector_search_spark.operators.bm25 import bm25_topk_indexed

        return [
            [(r["doc_id"], round(r["score"], 6)) for r in self.w.collect(bm25_topk_indexed(self.spark, path, q, K))]
            for q in self.KEYWORDS
        ]

    def _compact(self):
        from mcp_vector_search_spark.operators.bm25 import compact_bm25_index

        return compact_bm25_index(self.spark, self.idx)

    def _apply(self, delta):
        upserts, gone = delta
        for doc_id, text in upserts:
            self.live[doc_id] = text
        for doc_id in gone:
            del self.live[doc_id]

    def warm_up(self):
        # one whole cycle on the first seeded delta: the first update,
        # keyword set and compaction of a process are cold calls, and
        # the timed cycle then starts from the same one-segment index
        return [lambda: self.cycle(-1)]

    def cycle(self, i: int) -> None:
        delta = next(self.deltas)
        upserts, gone = delta
        tracing = self.w.tracer.enabled
        before = dir_files(self.idx) if tracing else None
        self.w.timed_call("update", self._update, delta)
        self._apply(delta)
        if tracing:
            after = dir_files(self.idx)
            written = sum(st[0] for p, st in after.items() if before.get(p) != st)
            delta_bytes = sum(len(t.encode()) for _, t in upserts)
            live_bytes = sum(len(t.encode()) for t in self.live.values())
            self.w.count("io.bytes_written", written)
            self.w.count("io.write_amp", written / delta_bytes)
            self.w.count("io.space_amp", sum(st[0] for st in after.values()) / live_bytes)
            self.w.count("operators.bm25.segments", len({
                part for p in after for part in p.split(os.sep) if part.startswith("seg=")}))
        self.answers.append(self.w.timed_call("query_set", self._query_set, self.idx))
        self.w.timed_call("compact", self._compact)

    def check(self) -> list[str]:
        from mcp_vector_search_spark.operators.bm25 import write_bm25_index

        fails = [f"ingest query set {i}: empty answer" for i, a in enumerate(self.answers)
                 if any(not rows for rows in a)]
        fresh = self.w.path("bm25_fresh")
        write_bm25_index(self._frame(sorted(self.live.items())), fresh)
        want = self._query_set(fresh)
        # the last timed answers (after the update) and the compacted
        # index must both score like a fresh build of the final corpus
        for label, got in (("updated", self.answers[-1]), ("compacted", self._query_set(self.idx))):
            for q, g, w in zip(self.KEYWORDS, got, want):
                if g != w:
                    fails.append(f"ingest {q}: {label} index {g} != fresh build {w}")
        return fails

    def trace_setup(self):
        instrument(self.w.tracer, [
            ("mcp_vector_search_spark.operators.bm25", None, "update_bm25_index", "operators.bm25.update_bm25_index"),
            ("mcp_vector_search_spark.operators.bm25", None, "bm25_topk_indexed", "operators.bm25.bm25_topk_indexed"),
            ("mcp_vector_search_spark.operators.bm25", None, "compact_bm25_index", "operators.bm25.compact_bm25_index"),
            ("mcp_vector_search_spark.io", None, "atomic_swap_dir", "io.atomic_swap_dir"),
        ])


class Curate(Part):
    """SparkProject.curate_corpus over the corpus plus planted copies."""

    DOCS, COPIES = 2500, 125

    def setup(self):
        from mcp_vector_search_spark.api import SparkProject

        rows, self.exact_ids, self.near_ids = datagen.curation_input(
            datagen.corpus(self.seed, self.DOCS), self.seed, exact=self.COPIES, near=self.COPIES)
        self.n_input = len(rows)
        write_docs(self.w.path("docs.parquet"), rows)
        self.docs_df = self.spark.read.parquet(self.w.path("docs.parquet"))
        empty = self.spark.createDataFrame([], "vec_id long, embedding array<double>")
        self.project = SparkProject(self.spark, self.docs_df, empty)
        self.runs: list[tuple[dict, str]] = []

    def _curate(self):
        from pyspark.sql import functions as F

        bins, report = self.project.curate_corpus()
        # forces every output row: an order-free digest of the bins
        digest = self.w.collect(bins.select(
            F.bit_xor(F.xxhash64("shard", "bin_id", "n_docs", "total_tok", "text")).alias("h"),
            F.count("*").alias("n"),
        ))[0]
        stages = {r["stage"]: r["n_docs"] for r in self.w.collect(report)}
        return stages, hashlib.sha256(f"{digest['h']}:{digest['n']}".encode()).hexdigest()[:16]

    def warm_up(self):
        return [lambda: self.runs.append(self._curate())]

    def trace_setup(self):
        instrument(self.w.tracer, [
            ("mcp_vector_search_spark.api", "SparkProject", "curate_corpus", "api.curate_corpus"),
        ])

    def cycle(self, i: int) -> None:
        self.runs.append(self.w.timed_call("curate_corpus", self._curate))

    def check(self) -> list[str]:
        """Exact copies are dropped deterministically, so all of them
        must go. The near-dup stage keeps only LSH candidates whose
        exact Jaccard clears 0.8, so it may miss a planted near-copy
        (counted as `operators.dedup.near_missed`) but must never drop
        more documents than were planted."""
        fails = []
        n_exact, n_near = len(self.exact_ids), len(self.near_ids)
        for stages in (r[0] for r in self.runs):
            if stages.get("input") != self.n_input:
                fails.append(f"curate input {stages.get('input')}, expected {self.n_input}")
            exact = stages.get("exact_dedup")
            near = stages.get("near_dedup")
            if exact != self.n_input - n_exact:
                fails.append(f"curate exact_dedup kept {exact}, expected {self.n_input - n_exact}")
            elif near is None or not 0 <= exact - near <= n_near:
                fails.append(f"curate near_dedup kept {near} of {exact}; {n_near} near-copies planted")
            else:
                self.w.count("operators.dedup.near_missed", n_near - (exact - near))
        digests = {d for _, d in self.runs}
        if len(digests) != 1:
            fails.append(f"curate output digests differ across calls: {sorted(digests)}")
        return fails

    def layers(self, i: int) -> None:
        from mcp_vector_search_spark.functions.text import token_count
        from mcp_vector_search_spark.operators.analytics import text_quality_frame
        from mcp_vector_search_spark.operators.dedup import (
            exact_duplicates, jaccard_verify, minhash_candidates, shingle_index,
        )
        from mcp_vector_search_spark.operators.sampling import pack_sequences

        docs = self.docs_df
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        self.w.layer("operators.analytics.quality", noop, text_quality_frame(docs))
        self.w.layer("operators.dedup.exact", noop, exact_duplicates(docs))

        def minhash():
            sh = shingle_index(docs).cache()
            cand = minhash_candidates(docs, shingles=sh).cache()
            n_cand = cand.count()
            n_ver = jaccard_verify(cand, sh, threshold=0.8).count()
            cand.unpersist()
            sh.unpersist()
            return n_cand, n_ver

        n_cand, n_ver = self.w.layer("operators.dedup.minhash", minhash)
        self.w.count("operators.dedup.candidate_pairs", n_cand)
        self.w.count("operators.dedup.verified_pairs", n_ver)
        toks = docs.select("doc_id", token_count("text").cast("long").alias("tok"))
        self.w.layer("operators.sampling.pack", noop, pack_sequences(toks, 512))


class Batch(Workload):
    """The batch pipelines in one cycle: a small and a large ANN batch,
    then the BM25 index update, the keyword set on the updated index
    and a compaction, then one curation run. They share one workload
    so that a run's fixed cost (session start, first-job warm-up) is
    paid once for all of them."""

    name = "batch"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = [Ann(self), Ingest(self), Curate(self)]

    def setup(self):
        for p in self.parts:
            t0 = time.perf_counter()
            p.setup()
            print(f"[perfbench] {type(p).__name__} set-up {time.perf_counter() - t0:.2f}s",
                  file=sys.stderr, flush=True)

    def warm_up(self):
        return [fn for p in self.parts for fn in p.warm_up()]

    def cycle(self, i: int) -> None:
        for p in self.parts:
            p.cycle(i)

    def check(self) -> list[str]:
        return [f for p in self.parts for f in p.check()]

    def trace_setup(self):
        for p in self.parts:
            p.trace_setup()

    def layers(self, i: int) -> None:
        for p in self.parts:
            p.layers(i)


WORKLOADS = {w.name: w for w in (Serve, Batch)}


def instrument(tracer, targets) -> None:
    """Wrap public engine functions so each call opens a child span.
    The wrappers are installed for the traced phase only, by the
    benchmark, on the loaded modules; no engine file changes."""
    import functools
    import importlib

    for module, cls, attr, span in targets:
        owner = importlib.import_module(module)
        if cls is not None:
            owner = getattr(owner, cls)
        fn = getattr(owner, attr)

        def wrapped(*a, __fn=fn, __span=span, **kw):
            with tracer.span(__span):
                return __fn(*a, **kw)

        setattr(owner, attr, functools.wraps(fn)(wrapped))
