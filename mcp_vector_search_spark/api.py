"""Public query API — the reference's MCP tool surface
(``mcp/tool_schemas.py:46-1380``, dispatch ``mcp/server.py:303-460``)
as one façade over the DataFrame programs. A user of the reference
switches by calling the same-named method; every method returns a
DataFrame (lazily planned — callers compose or collect).

The façade holds the three corpus frames (docs, chunk metadata,
vectors) plus lazily-built artifacts (KG edges, IVF layout). Nothing
here adds logic: each method is the operator composition the
matching tool runs, so correctness rides on the oracle-gated
registry queries underneath.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the directories `save_ann_index` writes per layout kind, next to the
# `kind/` manifest
LAYOUT_PARTS = {
    "ivf": ("blocks", "centroids"),
    "ivfpq": ("blocks", "centroids", "codebooks"),
    "ivfsq": ("blocks", "bounds"),
}


class SparkProject:
    """One indexed project = (documents, vectors[, chunk metadata])."""

    def __init__(
        self,
        spark: SparkSession,
        docs: DataFrame,
        vectors: DataFrame,
        chunk_meta: DataFrame | None = None,
        spread: bool | str = "auto",
        corpus_cold: bool = False,
    ):
        """`spread` controls the single-small-file ingest trap
        (io.spread docstring; VERDICT r7 #2): a one-file corpus is ONE
        scan partition, and every full-corpus Arrow kernel this façade
        runs (BM25 tokenize, ANN builds, brute scoring) would inherit
        that single partition no matter the cluster size. "auto"
        (default) repartitions docs/vectors up to cluster parallelism
        ONLY when their plans are raw scans (narrow ops over a file
        relation — derived frames pass through untouched, not even
        probed); True forces the spread — callers who KNOW the frame
        is safe to probe; False opts out entirely."""
        from mcp_vector_search_spark import io as _io

        if not (spread is True or spread is False or spread == "auto"):
            # a typo'd mode ("Auto", "off", "none") must not silently
            # take the force branch — forced spread probes partition
            # counts, which on a derived frame is the hidden double
            # execution the auto guard exists to prevent (r8 review).
            # Identity checks, not `in`: 1 == True / 0 == False in
            # Python, so a membership test lets ints through (r8 ADVICE)
            raise ValueError(
                f"spread must be True, False, or 'auto', got {spread!r}"
            )
        if spread == "auto":
            docs = _io.spread_if_raw(docs)
            vectors = _io.spread_if_raw(vectors)
            if chunk_meta is not None:
                # chunk_meta feeds the same full-corpus Arrow kernels
                # (search_context chunk scoring) — same trap, same fix
                chunk_meta = _io.spread_if_raw(chunk_meta)
        elif spread:
            docs = _io.spread(docs)
            vectors = _io.spread(vectors)
            if chunk_meta is not None:
                chunk_meta = _io.spread(chunk_meta)
        self.spark = spark
        self.docs = docs
        self.vectors = vectors
        self.chunk_meta = chunk_meta
        self._kg_edges: DataFrame | None = None
        self._bm25_index: tuple[DataFrame, DataFrame, DataFrame] | None = None
        self._ivf_layout: tuple[DataFrame, DataFrame, str] | None = None
        self._ivfpq_layout: tuple[DataFrame, DataFrame, DataFrame] | None = None
        self._sq_layout: tuple[DataFrame, DataFrame] | None = None
        # lazily-measured routing inputs, invalidated with the layout
        self._ivf_bytes: int | None = None
        self._ivf_nclusters: int | None = None
        self._deferred_caches: list[DataFrame] = []
        self._hybrid_server = None
        # the last search_batch routing decision, for operators (the
        # MCP ann_serving_regime tool reports it — VERDICT r9 #4):
        # {"requested", "served", "reason", ...measured inputs}.
        # Stamped after the serving kernel CONSTRUCTS its plan (r10
        # ADVICE, scope corrected r12 per VERDICT r11 #3): the kernels
        # return LAZY DataFrames, so a route that fails at plan
        # construction (bad layout, schema mismatch, empty batch
        # collect) leaves no stamp — but a plan that fails later at
        # ACTION time (executor OOM, corrupt partition) does leave the
        # stamp, and that is the documented semantics: last_route
        # records which plan was handed to the caller, not that its
        # execution succeeded. Shared instance state under ONE driver
        # thread per project — the JSON-RPC MCP server dispatches
        # sequentially; a caller running concurrent batches on one
        # SparkProject must read the route from its own call context,
        # not this attribute.
        self.last_route: dict | None = None
        # serving-regime knobs for search_batch(route="auto") — the
        # measured in-memory probe-vs-brute crossover (ivf.py
        # choose_ann_route). Instance attrs so a deployment with a
        # different scan rate (or a test) can move the break-even.
        from mcp_vector_search_spark.operators.ivf import (
            ANN_ROUTE_BYTES_PER_NODE,
            ANN_ROUTE_UNION_MAX,
        )

        self.ann_route_bytes_per_node = ANN_ROUTE_BYTES_PER_NODE
        self.ann_route_union_max = ANN_ROUTE_UNION_MAX
        # storage-latency hint (VERDICT r9 #8): True declares that the
        # raw `vectors` frame lives on cold/slow storage, so the brute
        # side of the routing curve (which priced a scan-cheap corpus)
        # is off the table whenever a cached layout can serve instead.
        # A deployment fact, not something the engine can probe —
        # settable at construction or any time after.
        self.corpus_cold = bool(corpus_cold)
        # populated by from_corpus(report_attrition=True): how many
        # records the drop-mode ingest read silently discarded —
        # {"malformed_dropped", "path", "fmt"} (r10 VERDICT #8)
        self.corpus_attrition: dict | None = None

    @classmethod
    def from_corpus(
        cls,
        spark: SparkSession,
        path: str,
        fmt: str = "auto",
        *,
        vectors: DataFrame | None = None,
        embed: bool = False,
        text_col: str = "text",
        id_col: str = "doc_id",
        schema=None,
        options: dict | None = None,
        report_attrition: bool = False,
        **kwargs,
    ) -> "SparkProject":
        """Open a project directly over a corpus in any ingestion
        format (sources/corpus.py — JSONL[.gz], CSV, line-per-doc
        text, one-file-per-doc text trees, parquet, ORC). The reader
        normalizes to the documents contract and applies the ingest
        spread, so a single-shard corpus still fans out.

        `vectors`: an existing embeddings frame (vec_id, embedding).
        `embed=True` instead embeds the corpus through the F11
        pipeline (Arrow mapInPandas; real model when importable) so
        the vector/hybrid search legs work out of the box. Default is
        a docs-only project: the curation surface (dedup, quality,
        sampling, BM25) needs no vectors, and vector entry points fail
        on the empty frame rather than silently returning nothing.

        `report_attrition=True` runs the malformed_count audit pass
        (one extra PERMISSIVE scan — sample your shards at 100 TB) and
        records the result on the project as `corpus_attrition`:
        {"malformed_dropped": N, "path": ..., "fmt": ...}. The MCP
        corpus_stats tool surfaces it (r10 VERDICT #8: the number was
        import-only before).
        """
        from mcp_vector_search_spark.sources.corpus import read_corpus

        docs = read_corpus(
            spark, path, fmt,
            text_col=text_col, id_col=id_col, schema=schema, options=options,
        )
        # Normalize to the documents CONTRACT before constructing the
        # project: every SparkProject method hard-codes 'doc_id'/'text'
        # (doc_fingerprint("text"), token_count("text"), ...), so a
        # corpus read with custom column names would fail deep inside
        # curate_corpus/search with a missing-column AnalysisException
        # (ADVICE r9 medium). read_corpus keeps its name-preserving
        # behavior for standalone use; the rename happens only here,
        # at the project boundary.
        for src, dst in ((id_col, "doc_id"), (text_col, "text")):
            if src != dst:
                if dst in docs.columns:
                    raise ValueError(
                        f"corpus already has a {dst!r} column alongside "
                        f"{src!r}; rename or drop one before from_corpus "
                        f"(the project contract reserves {dst!r})"
                    )
                docs = docs.withColumnRenamed(src, dst)
        if vectors is None:
            if embed:
                from mcp_vector_search_spark.functions.embed import embed_batch

                vectors = embed_batch(docs, "doc_id", "text").withColumnRenamed(
                    "doc_id", "vec_id"
                )
            else:
                vectors = spark.createDataFrame(
                    [], "vec_id long, embedding array<double>"
                )
        # the default spread="auto" is still right here: docs came back
        # from read_corpus already spread (its Repartition node makes
        # the plan non-raw, so the auto pass leaves it untouched — no
        # double probe), derived/empty vectors pass through, and a
        # user-supplied raw one-file vectors frame gets the fan-out
        project = cls(spark, docs, vectors, **kwargs)
        if report_attrition:
            from mcp_vector_search_spark.sources.corpus import (
                _infer_format,
                malformed_count,
            )

            resolved = _infer_format(path) if fmt == "auto" else fmt
            project.corpus_attrition = {
                "malformed_dropped": malformed_count(
                    spark, path, resolved, schema=schema, options=options
                ),
                "path": path,
                "fmt": resolved,
            }
        return project

    def _release_later(self, df: DataFrame) -> None:
        """Register a cached frame whose consumer is a RETURNED lazy
        DataFrame: it cannot be unpersisted here (the caller hasn't
        materialized yet), so it is released at the start of the next
        cache-creating call — rolling release, no accumulation across
        repeated calls in a long session."""
        self._deferred_caches.append(df)

    def _drain_deferred(self) -> None:
        while self._deferred_caches:
            self._deferred_caches.pop().unpersist()

    # ---------------------------------------------------------- search

    def _bm25(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Memoized in-session BM25 index: ONE tokenize pass over the
        corpus (cached postings/doc-stats/idf), every subsequent query
        scores against it — the reference's prebuilt-BM25Okapi serving
        shape. For a standing corpus, `write_bm25_index` persists the
        same three frames (K3)."""
        if self._bm25_index is None:
            from mcp_vector_search_spark.operators.bm25 import (
                build_postings,
                build_term_stats,
                doc_stats_from_postings,
            )

            postings = build_postings(self.docs).cache()
            stats = doc_stats_from_postings(postings).cache()
            terms = build_term_stats(postings, stats).cache()
            self._bm25_index = (postings, stats, terms)
        return self._bm25_index

    def search_code(self, query: str, limit: int = 10) -> DataFrame:
        """BM25 keyword search (tool `search_code`) against the
        memoized index — repeated queries never re-tokenize."""
        from mcp_vector_search_spark.functions.query import preprocess_query
        from mcp_vector_search_spark.operators.bm25 import bm25_scores

        postings, stats, terms = self._bm25()
        scored = bm25_scores(
            postings, stats, preprocess_query(query).split(), term_stats=terms
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(limit)

    def search_similar(self, doc_id: int, limit: int = 10) -> DataFrame:
        """Nearest neighbors of an indexed document (tool
        `search_similar`)."""
        from mcp_vector_search_spark.operators.topk import knn_brute_force

        qv = self.vectors.filter(F.col("vec_id") == doc_id).select(
            F.col("embedding").alias("query_vec")
        )
        if qv.isEmpty():
            # an unknown/unindexed id would otherwise return an empty
            # frame — a confident 'no similar documents' for a typo
            raise ValueError(f"doc_id not in the vector index: {doc_id}")
        # over-retrieve by one, drop self, re-cap: with tied duplicate
        # vectors the target may not be inside the top limit+1, in
        # which case the filter removes nothing and the cap matters
        return (
            knn_brute_force(self.vectors, qv, limit + 1)
            .filter(F.col("vec_id") != doc_id)
            .limit(limit)
        )

    def build_ann_index(
        self,
        num_clusters: int | None = None,
        kind: str = "ivf",
        m: int = 8,
        k_codes: int = 256,
        fit: str = "kmeans",
        dtype: str = "float64",
    ) -> None:
        """Build + memoize an ANN layout so `search_batch` prunes
        clusters instead of scanning the corpus per query.

        kind="ivf"   — coarse quantizer only; probed clusters score
                       full-precision floats (exact within the probe).
                       The memoized serving frame is the PACKED
                       per-cluster block layout (`ivf_pack`): probing
                       deserializes one binary cell per cluster-block
                       instead of every cached row (VERDICT r4 #1).
        kind="ivfpq" — additionally residual-PQ-encodes the corpus
                       (operators/ivfpq.py): probed clusters scan m
                       code bytes per vector instead of d floats, then
                       exact-rerank — the 100 TB memory/I-O path.
        kind="ivfsq" — scalar-quantize to one byte per dimension
                       (operators/sq.py, the reference's IVF_SQ codec,
                       ``vectors_backend.py:1264-1341``); queries
                       decode-and-GEMM the SQ codes then exact-rerank.
                       `sq_topk_refined` scans all codes (no cluster
                       pruning), so no IVF build is paid for this kind.

        Rebuilding with a DIFFERENT kind clears the superseded layout
        and unpersists its cached frames — `search_batch` routes by
        whichever layout exists, so a stale one would silently keep
        answering with the old index.

        fit="kmeans" (default) — MLlib KMeans coarse fit: re-scans the
        corpus per iteration; the pinned quantizer existing callers
        expect. fit="sampled" — the r7 scale build: driver-side Lloyd's
        on the deterministic md5 sample, then for kind="ivf" the FUSED
        one-pass assign+pack (`ivf_build_sampled_packed` — the corpus
        is scanned exactly once, only block blobs cross the shuffle);
        for the coded kinds the sampled quantizer feeds the usual
        encode. The 100 TB default is "sampled"; "kmeans" stays the
        API default only for result stability.

        dtype="float32" (kind="ivf" only) halves the packed layout's
        cache bytes and Arrow transfer — the lever that matters when
        in-memory serving is transfer-bound (BENCH_NOTES r7);
        quantization sits below the round-6 score rounding, answer-set
        parity pinned in tests/test_ivf.py.
        """
        self._drain_deferred()
        if kind not in ("ivf", "ivfpq", "ivfsq"):
            raise ValueError(f"unknown ANN index kind: {kind!r}")
        if fit not in ("kmeans", "sampled"):
            raise ValueError(f"unknown ANN fit: {fit!r}")
        if dtype not in ("float64", "float32"):
            raise ValueError(f"unknown pack dtype: {dtype!r}")
        if kind != "ivf" and dtype != "float64":
            # the coded kinds already fix their codecs (uint8 codes);
            # a float pack dtype only applies to the plain-IVF layout
            raise ValueError(
                f"dtype={dtype!r} only applies to kind='ivf' packed floats"
            )
        if kind == "ivfsq" and fit != "kmeans":
            # no accept-and-ignore: SQ has no coarse quantizer fit, so a
            # caller asking for one is confused, not served. Validated
            # BEFORE the invalidation loop below — a rejected call must
            # not destroy the standing layout (r7 review).
            raise ValueError(
                "kind='ivfsq' scalar-quantizes without a coarse fit — "
                "the 'fit' argument does not apply"
            )
        for attr, cached_pos in (
            ("_ivf_layout", 0), ("_ivfpq_layout", 0), ("_sq_layout", 0)
        ):
            layout = getattr(self, attr)
            if layout is not None:
                layout[cached_pos].unpersist()
                setattr(self, attr, None)
        self._ivf_bytes = None  # measured per layout — never carry over
        self._ivf_nclusters = None

        if kind == "ivfsq":
            from mcp_vector_search_spark.operators.sq import (
                sq_pack_fused,
                sq_train,
            )

            bounds = sq_train(self.vectors)
            # materialize the bounds NOW as a lineage-free local frame
            # (d rows): storing the lazy aggregate would re-execute a
            # full-corpus posexplode scan inside every search_batch,
            # and a later self.vectors change would silently decode
            # old codes against drifted bounds. The ENCODE must use the
            # same pinned frame — encoding against the lazy aggregate
            # would re-derive bounds at cache-fill time, so a vector
            # source swapped in between yields codes encoded with one
            # set of bounds and decoded with another (r6 review #3)
            bounds_local = self.spark.createDataFrame(
                bounds.collect(), bounds.schema
            )
            # r7: fused one-pass encode+pack against the pinned bounds
            # (bit-identical to sq_pack(sq_encode(...)), tests/test_sq.py)
            self._sq_layout = (
                sq_pack_fused(self.vectors, bounds_local).cache(),
                bounds_local,
            )
            return

        from mcp_vector_search_spark.operators.ivf import (
            ivf_build,
            ivf_build_sampled,
            ivf_build_sampled_packed,
            ivf_pack,
        )

        kwargs = {} if num_clusters is None else {"num_clusters": num_clusters}
        if kind == "ivf" and fit == "sampled":
            packed, centroids = ivf_build_sampled_packed(
                self.vectors, dtype=dtype, **kwargs
            )
            packed = packed.cache()
            packed.count()
            self._ivf_layout = (packed, centroids, "packed")
            return
        builder = ivf_build_sampled if fit == "sampled" else ivf_build
        assigned, centroids = builder(self.vectors, **kwargs)
        if kind == "ivfpq":
            from mcp_vector_search_spark.operators.ivfpq import (
                ivfpq_build,
                ivfpq_pack,
            )

            # the assignment is cached only for the build: the residual
            # encode reads it twice (codebook fit sample + full encode),
            # but SERVING dispatches exclusively on _ivfpq_layout, so
            # pinning it as a standing _ivf_layout leaked ~2x corpus
            # vector bytes of executor memory for the lifetime of the
            # layout (r6 review #3). Materialize the packed codes, then
            # release it. centroids/codebooks are already lineage-free
            # local frames (ivf_build/pq_train createDataFrame).
            assigned = assigned.cache()
            if fit == "sampled":
                # r7: codebooks fit as usual, then ONE fused
                # encode+pack pass — no per-row code table, no
                # per-row-array shuffle (bit-identical blocks)
                from mcp_vector_search_spark.operators.ivfpq import (
                    ivfpq_build_packed,
                )

                packed, cents, codebooks = ivfpq_build_packed(
                    self.vectors, m=m, k_codes=k_codes,
                    coarse=(assigned, centroids),
                )
                packed = packed.cache()
                # release the fit-only assignment cache BEFORE the
                # memory-heaviest job (the fused full-corpus pass in
                # packed.count()) — nothing reads it after the codebook
                # fit, and holding it through the count pinned ~2x
                # corpus vector bytes at peak (r7 review)
                assigned.unpersist()
                packed.count()
                self._ivfpq_layout = (packed, cents, codebooks)
                return
            else:
                encoded, cents, codebooks = ivfpq_build(
                    self.vectors, m=m, k_codes=k_codes,
                    coarse=(assigned, centroids),
                )
                # serve the ADC stage from PACKED code blocks (r5):
                # the per-row code cache paid the same Arrow-cell
                # deserialize tax the float layout did before ivf_pack
                packed = ivfpq_pack(encoded).cache()
            packed.count()
            assigned.unpersist()
            self._ivfpq_layout = (packed, cents, codebooks)
        else:
            # (frame, centroids, layout-kind): the kind tag is what
            # search_batch dispatches on — never a schema sniff
            self._ivf_layout = (
                ivf_pack(assigned, dtype=dtype).cache(), centroids, "packed"
            )

    def save_ann_index(self, path: str) -> None:
        """Persist the currently-built ANN layout (r6): whichever
        `build_ann_index` kind is active writes through its layout
        module — ivfpq → blocks+centroids+codebooks, ivfsq →
        blocks+bounds, ivf (packed) → blocks+centroids. A fresh
        session then serves it via `load_ann_index` with no rebuild —
        the reference's persisted-index startup path."""
        from mcp_vector_search_spark.io import delete_path

        # retire the standing kind manifest BEFORE touching the layout:
        # the layout write is not atomic, so a crash mid-save would
        # otherwise leave the OLD manifest describing a half-written
        # mix of old and new metadata dirs — a later load would trust
        # it and fail cryptically inside an executor at query time.
        # With the manifest gone, a torn save is explicit: load refuses
        # until kind= is passed (r6 review #3).
        delete_path(self.spark, f"{path}/kind")
        if self._ivfpq_layout is not None:
            from mcp_vector_search_spark.operators.layout import write_ivfpq_layout

            packed, cents, cbs = self._ivfpq_layout
            write_ivfpq_layout(packed, cents, cbs, path)
            kind = "ivfpq"
        elif self._sq_layout is not None:
            from mcp_vector_search_spark.operators.layout import write_sq_layout

            packed, bounds = self._sq_layout
            write_sq_layout(packed, bounds, path)
            kind = "ivfsq"
        elif self._ivf_layout is not None:
            layout, centroids, _ = self._ivf_layout
            from mcp_vector_search_spark.operators.ivf import write_ivf_layout

            write_ivf_layout(layout, centroids, path)
            kind = "ivf"
        else:
            raise ValueError("no ANN index built — call build_ann_index first")
        # one-row kind manifest: layouts of different kinds share the
        # blocks/centroids path shape, so a wrong-kind load would
        # otherwise succeed here and fail cryptically inside an
        # executor at query time (r6 review)
        self.spark.createDataFrame([(kind,)], "kind string").write.mode(
            "overwrite"
        ).parquet(f"{path}/kind")

    def _persisted_kind(self, path: str) -> str | None:
        """Read the layout's one-row kind manifest; None ONLY when the
        manifest is missing (pre-manifest layouts / torn saves) — any
        other read failure surfaces here, not cryptically at query
        time (r6 review #3). A `kind/` directory holding no data file
        (a crash inside the manifest's overwrite) is a missing
        manifest too."""
        from pyspark.errors import AnalysisException

        from mcp_vector_search_spark.io import recover_swap

        # the layout root is swap-managed (retrain / overwrite): a
        # crash-stranded `<path>.old` must be recovered before the
        # manifest probe, or an intact layout reads as manifest-less
        recover_swap(path)
        try:
            row = self.spark.read.parquet(f"{path}/kind").first()
            if row is None:
                raise ValueError(f"kind manifest at {path}/kind is empty")
            return row["kind"]
        except AnalysisException as e:
            missing = ("PATH_NOT_FOUND", "Path does not exist", "UNABLE_TO_INFER_SCHEMA")
            if not any(m in str(e) for m in missing):
                raise
            return None

    def _path_exists(self, path: str) -> bool:
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))

    def _require_float_ivf(self, path: str) -> None:
        """Maintenance ops below run on float IVF layouts only: PQ/SQ
        blocks are lossy codes — their vectors cannot be reconstructed,
        so retrain those from the source corpus via build_ann_index."""
        kind = self._persisted_kind(path)
        if kind is not None and kind != "ivf":
            raise ValueError(
                f"layout at {path} is kind={kind!r}; index maintenance "
                "operates on float 'ivf' layouts only"
            )

    def ann_index_health(self, path: str) -> DataFrame:
        """Per-cluster health of a persisted float-IVF layout →
        (cluster_id, n_rows, n_blocks, mean_resid): skew, block
        fragmentation (cure: `compact_ann_layout`), and quantization
        error (cure: `retrain_ann_index`)."""
        from mcp_vector_search_spark.operators.ivf import ivf_layout_stats

        self._require_float_ivf(path)
        return ivf_layout_stats(self.spark, path)

    def ann_retrain_gain(self, path: str, sample_rows: int = 8192) -> dict:
        """The retrain decision signal: mean residual of the standing
        quantizer vs a fresh sample refit — near-zero means retraining
        buys nothing; large means streamed appends drifted the corpus."""
        from mcp_vector_search_spark.operators.ivf import ivf_retrain_gain

        self._require_float_ivf(path)
        return ivf_retrain_gain(self.spark, path, sample_rows=sample_rows)

    def retrain_ann_index(
        self, path: str, num_clusters: int | None = None, sample_rows: int = 16384
    ) -> int:
        """Refit the quantizer from the layout's own vectors and
        atomically rewrite the layout (`retrain_ivf_layout`). A
        session currently serving this path keeps serving the OLD
        (cached) index until `load_ann_index(path)` is called again —
        retrain never yanks a live index."""
        from mcp_vector_search_spark.operators.ivf import retrain_ivf_layout

        self._require_float_ivf(path)
        return retrain_ivf_layout(
            self.spark, path, num_clusters=num_clusters, sample_rows=sample_rows
        )

    def load_ann_index(self, path: str, kind: str | None = None) -> None:
        """Load a persisted ANN layout into the serving memo (cached
        blocks + lineage-free metadata) — `search_batch` routes to it
        exactly as after `build_ann_index(kind)`.

        `kind=None` reads the layout's kind manifest (written by
        `save_ann_index`); passing a kind that contradicts the
        manifest raises. The new layout is read and materialized
        BEFORE the standing one is released, so a failed load leaves
        the current index serving (r6 review)."""
        if kind is not None and kind not in ("ivf", "ivfpq", "ivfsq"):
            raise ValueError(f"unknown ANN index kind: {kind!r}")
        persisted = self._persisted_kind(path)
        if persisted is not None:
            if kind is not None and kind != persisted:
                raise ValueError(
                    f"layout at {path} is kind={persisted!r}, not {kind!r}"
                )
            kind = persisted
        if kind is None:
            raise ValueError(
                f"layout at {path} has no kind manifest — pass kind= explicitly"
            )

        # read + materialize the NEW layout first; only then swap
        if kind == "ivfpq":
            from mcp_vector_search_spark.operators.layout import read_ivfpq_layout

            packed, cents, cbs = read_ivfpq_layout(self.spark, path)
            packed = packed.cache()
            packed.count()
            # pin the tiny metadata tables as lineage-free local frames
            # too: a row-corrupt centroids/codebooks parquet that passes
            # schema inference would otherwise only fail at the first
            # query — AFTER the standing index was released, breaking
            # the failed-load guarantee below (r6 review #3)
            cents = self.spark.createDataFrame(cents.collect(), cents.schema)
            cbs = self.spark.createDataFrame(cbs.collect(), cbs.schema)
            new = ("_ivfpq_layout", (packed, cents, cbs))
        elif kind == "ivfsq":
            from mcp_vector_search_spark.operators.layout import read_sq_layout

            packed, bounds = read_sq_layout(self.spark, path)
            packed = packed.cache()
            packed.count()
            bounds_local = self.spark.createDataFrame(bounds.collect(), bounds.schema)
            new = ("_sq_layout", (packed, bounds_local))
        else:
            from mcp_vector_search_spark.operators.ivf import read_ivf_layout

            packed, centroids = read_ivf_layout(self.spark, path)
            packed = packed.cache()
            packed.count()
            # same lineage-cut as the ivfpq branch: fail here, not
            # after the standing index is released
            centroids = self.spark.createDataFrame(
                centroids.collect(), centroids.schema
            )
            new = ("_ivf_layout", (packed, centroids, "packed"))
        self._drain_deferred()
        for attr in ("_ivf_layout", "_ivfpq_layout", "_sq_layout"):
            layout = getattr(self, attr)
            if layout is not None:
                layout[0].unpersist()
                setattr(self, attr, None)
        self._ivf_bytes = None  # measured per layout — never carry over
        self._ivf_nclusters = None
        setattr(self, *new)

    def _ann_nodes(self) -> int:
        """Executor count (local mode → 1): the measured in-memory
        break-even is PER-NODE cached bytes — a 10-executor cluster
        brute-scans 10× the corpus at the same per-node cost."""
        size = self.spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
        return max(1, size - 1)

    def _ivf_layout_bytes(self) -> int:
        """Packed-block bytes of the memoized float-IVF layout, the
        corpus-size axis of the routing decision — measured once per
        layout (one agg over the cached block table, ~clusters·blocks
        rows) and invalidated whenever the layout changes."""
        if self._ivf_bytes is None:
            layout = self._ivf_layout[0]
            self._ivf_bytes = int(
                layout.agg(F.sum(F.length("mat"))).collect()[0][0] or 0
            )
        return self._ivf_bytes

    def _ivf_layout_clusters(self) -> int:
        """Cluster count of the memoized float-IVF layout — layout-
        invariant, so memoized like the bytes: the auto route must not
        pay an extra count() job per serving batch (r9 review)."""
        if self._ivf_nclusters is None:
            self._ivf_nclusters = self._ivf_layout[1].count()
        return self._ivf_nclusters

    def search_batch(
        self, queries: DataFrame, limit: int = 10, route: str = "auto"
    ) -> DataFrame:
        """Batch ANN (tool batch search): every route runs the one
        Arrow scoring kernel (`operators/kernel.py`) — per-unit numpy
        scoring with partial top-k, so the shuffle carries
        O(units·|Q|·k) rows, never |Q|×|V| scored pairs (the HOF path
        is oracle-only). An empty query set returns an empty frame.

        `route` (VERDICT r8 #2 — the measured probe-vs-brute
        crossover, decided per batch instead of by layout presence):

        - "auto" (default): with a float-IVF layout built, probe it
          ONLY in the regime the measurements say probing wins — the
          cached corpus exceeds ~`ann_route_bytes_per_node` per node
          AND this batch's probe-union fraction stays under
          `ann_route_union_max` (a diffuse batch ships ~the whole
          corpus through Arrow anyway). Otherwise the brute matmul
          kernel serves. Both plans are result-identical for float64
          packs (shared oracle), so routing never changes answers.
          Quantized layouts (ivfpq/ivfsq) are explicit opt-ins —
          "auto" always serves them as built. The brute side of the
          measured curve priced a scan-cheap corpus (cached or fast
          storage); construct the project with `corpus_cold=True`
          (or set the attribute) when `self.vectors` sits on cold
          slow storage and auto will serve from the cached layout at
          any corpus size (VERDICT r9 #8 — no manual route="probe"
          override needed).
        - "probe": force the layout path (the pre-r9 behavior).
        - "brute": force the exact Arrow kernel, ignoring ANY layout —
          including the quantized codecs (exact scores, no codec)."""
        from mcp_vector_search_spark.operators.topk import topk_per_query_np

        if route not in ("auto", "probe", "brute"):
            raise ValueError(
                f"route must be 'auto', 'probe', or 'brute', got {route!r}"
            )
        if route == "brute":
            # every site below stamps last_route AFTER its kernel call
            # returns (r10 ADVICE low): a batch whose PLAN CONSTRUCTION
            # raises must not leave last_route describing a route that
            # never produced a plan. The kernels return lazy frames, so
            # this guards construction-time failures only — an
            # action-time failure on the returned frame keeps the stamp
            # (by design: the route DID construct and was handed out;
            # see the attribute comment in __init__)
            result = topk_per_query_np(self.vectors, queries, limit)
            self.last_route = {
                "requested": route, "served": "brute", "reason": "forced",
            }
            return result
        if self._ivfpq_layout is not None:
            from mcp_vector_search_spark.operators.ivfpq import ivfpq_topk_refined

            packed_codes, cents, codebooks = self._ivfpq_layout
            result = ivfpq_topk_refined(
                self.vectors,
                None,  # per-row code table unused: the packed layout serves
                cents,
                codebooks,
                queries,
                limit,
                packed_codes=packed_codes,
            )
            self.last_route = {
                "requested": route, "served": "codec:ivfpq",
                "reason": "quantized layout is an explicit opt-in",
            }
            return result
        if self._sq_layout is not None:
            from mcp_vector_search_spark.operators.sq import sq_topk_refined

            packed_codes, bounds = self._sq_layout
            result = sq_topk_refined(
                self.vectors, None, bounds, queries, limit,
                packed_codes=packed_codes,
            )
            self.last_route = {
                "requested": route, "served": "codec:ivfsq",
                "reason": "quantized layout is an explicit opt-in",
            }
            return result
        if self._ivf_layout is not None:
            from mcp_vector_search_spark.operators.ivf import (
                NPROBES,
                choose_ann_route,
                ivf_topk_batch_packed,
            )
            from mcp_vector_search_spark.operators.kernel import collect_queries

            layout, centroids, _ = self._ivf_layout
            if route == "probe":
                result = ivf_topk_batch_packed(
                    layout, centroids, queries, limit)
                self.last_route = {
                    "requested": route, "served": "probe", "reason": "forced",
                }
                return result
            nodes = self._ann_nodes()
            corpus_bytes = self._ivf_layout_bytes()
            # union_fraction=0.0 is the most probe-favorable batch a
            # corpus can see: if even that routes to brute, the bytes
            # axis alone decided — skip collecting the queries for a
            # probe map nothing will use
            if choose_ann_route(
                corpus_bytes, 0.0, nodes=nodes,
                bytes_per_node=self.ann_route_bytes_per_node,
                union_max=self.ann_route_union_max,
                corpus_cold=self.corpus_cold,
            ) == "brute":
                result = topk_per_query_np(self.vectors, queries, limit)
                self.last_route = {
                    "requested": route, "served": "brute",
                    "reason": "corpus below bytes-per-node break-even",
                    "corpus_bytes": corpus_bytes, "nodes": nodes,
                }
                return result
            qs = collect_queries(queries, centroids=centroids, nprobes=NPROBES)
            union_fraction = len(qs.probes) / max(1, self._ivf_layout_clusters())
            if choose_ann_route(
                corpus_bytes, union_fraction, nodes=nodes,
                bytes_per_node=self.ann_route_bytes_per_node,
                union_max=self.ann_route_union_max,
                corpus_cold=self.corpus_cold,
            ) == "probe":
                result = ivf_topk_batch_packed(
                    layout, centroids, queries, limit, _query_set=qs
                )
                self.last_route = {
                    "requested": route, "served": "probe",
                    "reason": (
                        "corpus is cold storage" if self.corpus_cold
                        else "above break-even with concentrated batch"
                    ),
                    "corpus_bytes": corpus_bytes, "nodes": nodes,
                    "union_fraction": round(union_fraction, 4),
                }
                return result
            # the queries were already collected for the probe map —
            # hand them to the brute kernel rather than
            # re-executing the query frame's lineage (a limit()/
            # sampled frame could yield a DIFFERENT set, r8 trap)
            result = topk_per_query_np(
                self.vectors, queries, limit, _query_set=qs
            )
            self.last_route = {
                "requested": route, "served": "brute",
                "reason": "diffuse batch: probe union above the cap",
                "corpus_bytes": corpus_bytes, "nodes": nodes,
                "union_fraction": round(union_fraction, 4),
            }
            return result
        if route == "probe":
            raise ValueError(
                "route='probe' needs an ANN layout — call "
                "build_ann_index or load_ann_index first"
            )
        result = topk_per_query_np(self.vectors, queries, limit)
        self.last_route = {
            "requested": route, "served": "brute", "reason": "no ANN layout",
        }
        return result

    def ann_serving_regime(self, batch_size: int = 2, path: str | None = None) -> dict:
        """Which serving regime a layout + corpus sit in — the
        `search_batch(route="auto")` decision surfaced for operators
        (VERDICT r8 #6): packed corpus bytes vs the measured per-node
        in-memory break-even, cluster count, and the WORST-CASE
        probe-union fraction of a `batch_size`-query batch
        (`batch_size · NPROBES / clusters`, every query probing
        disjoint clusters; a concentrated batch probes fewer).

        Default scope is the MEMOIZED (cached) layout. With `path`,
        reports the regime of a PERSISTED layout instead: on disk the
        probe filter is physical partition pruning, so the regime is
        "probe" at any corpus size or batch shape
        (choose_ann_route(on_disk=True); the 4M disk-q2 bench pair
        prices ignoring it at 2.6–25×).

        regime — "brute": cached corpus below the bytes crossover (or
        no float-IVF layout); auto serves the Arrow brute kernel.
        "probe": above the crossover and a batch this size can stay
        under the union cap (always, for a persisted `path`).
        "codec": a quantized layout (ivfpq / ivfsq) is an explicit
        opt-in, served as built."""
        from mcp_vector_search_spark.operators.ivf import (
            NPROBES,
            choose_ann_route,
        )

        if path is not None:
            kind = self._persisted_kind(path)
            if kind is None:
                # a typo'd/absent path or a torn save must not get a
                # confident healthy-probe report (r9 review) — mirror
                # load_ann_index's refusal
                raise ValueError(
                    f"no ANN layout kind manifest at {path} — nothing "
                    "to report a serving regime for"
                )
            # nor may a manifest that outlived its layout's data
            torn = [
                part for part in LAYOUT_PARTS[kind]
                if not self._path_exists(f"{path}/{part}")
            ]
            if torn:
                raise ValueError(
                    f"ANN layout at {path} is torn: its kind={kind!r} "
                    f"manifest stands but {', '.join(torn)} is missing"
                )
            if kind in ("ivfpq", "ivfsq"):
                return {"kind": kind, "on_disk": True, "regime": "codec"}
            return {
                "kind": kind,
                "on_disk": True,
                "regime": choose_ann_route(0, 0.0, on_disk=True),
            }
        if self._ivfpq_layout is not None or self._sq_layout is not None:
            kind = "ivfpq" if self._ivfpq_layout is not None else "ivfsq"
            return {"kind": kind, "regime": "codec"}
        if self._ivf_layout is None:
            return {"kind": None, "regime": "brute"}
        nodes = self._ann_nodes()
        corpus_bytes = self._ivf_layout_bytes()
        num_clusters = self._ivf_layout_clusters()
        union_ub = min(1.0, batch_size * NPROBES / max(1, num_clusters))
        return {
            "kind": "ivf",
            "corpus_bytes": corpus_bytes,
            "num_clusters": num_clusters,
            "nodes": nodes,
            "bytes_per_node_breakeven": self.ann_route_bytes_per_node,
            "batch_size": batch_size,
            "union_fraction_worst_case": union_ub,
            "corpus_cold": self.corpus_cold,
            "regime": choose_ann_route(
                corpus_bytes, union_ub, nodes=nodes,
                bytes_per_node=self.ann_route_bytes_per_node,
                union_max=self.ann_route_union_max,
                corpus_cold=self.corpus_cold,
            ),
        }

    def search_hybrid(
        self,
        query: str,
        query_vec: Sequence[float] | DataFrame,
        limit: int = 10,
        alpha: float = 0.7,
    ) -> DataFrame:
        """BM25 ⊕ vector RRF fusion (tool `search_hybrid`). The query
        is preprocessed like `search_code` — postings terms are
        lowercase tokens, so raw-cased input would silently empty the
        BM25 leg. `query_vec` is the query vector as a sequence of
        floats or as a 1-row (query_vec) DataFrame.

        After `start_serving()`, queries route through the warm
        `HybridServer`: pinned tokenized corpus, pinned unit vectors
        and term stats loaded at start; a frame is read once with
        `.first()` and the vector scored as a literal. The two legs
        run as two concurrent single-stage Spark jobs and are fused on
        the driver, with identical results; the returned frame is
        local."""
        from mcp_vector_search_spark.functions.query import preprocess_query
        from mcp_vector_search_spark.plans.hybrid import hybrid_search, query_frame

        terms = preprocess_query(query).split()
        if self._hybrid_server is not None:
            return self._hybrid_server.search(
                terms, query_vec, k=limit, alpha=alpha
            )
        return hybrid_search(
            self.docs,
            self.vectors,
            terms,
            query_frame(self.spark, query_vec),
            k=limit,
            alpha=alpha,
        )

    def start_serving(self) -> None:
        """Enter warm single-query serving mode (r6, VERDICT r5 #6):
        builds the `HybridServer` state once — tokenized corpus and
        unit-normalized vectors pinned over local checkpoints, BM25
        corpus scalars and the idf of the highest-df vocabulary terms,
        one worker thread. Each later `search_hybrid` call runs its two
        legs as two concurrent single-stage Spark jobs, fuses them on
        the driver, and returns the cold path's rows; only a
        vocabulary too large to load whole adds one tiny lookup job
        the first time a term outside the loaded part appears. No
        session conf is changed."""
        if self._hybrid_server is None:
            from mcp_vector_search_spark.plans.hybrid import HybridServer

            self._hybrid_server = HybridServer(self.docs, self.vectors)

    def stop_serving(self) -> None:
        """Leave serving mode: stop the worker thread, release every
        cache and checkpoint serving pinned."""
        if self._hybrid_server is not None:
            self._hybrid_server.close()
            self._hybrid_server = None

    # past this batch size the expression-compiled path's plan width
    # (|Q|·|terms| compiled score expressions) stops being the right
    # trade and the table-driven postings-index path takes over
    EXPR_BATCH_MAX = 100

    def search_hybrid_batch(
        self,
        queries: list[tuple[int, str]],
        query_vecs: DataFrame,
        limit: int = 10,
        alpha: float = 0.7,
        method: str = "auto",
        nprobes: int | None = None,
    ) -> DataFrame:
        """A hybrid query SET as ONE DataFrame program → (query_id,
        doc_id, rrf_score, rn) — the batch-serving surface (r5):
        per-query semantics identical to `search_hybrid`, but every
        query shares one BM25-stats scan, one scoring scan, and one
        vector scan, so per-query cost amortizes (~30× the warm
        single-query rate at sf0.1 — BENCH hybrid_batch_qps).
        `queries` = [(query_id, raw query string)] — preprocessed like
        `search_code`; `query_vecs` = (query_id, query_vec).

        `method`: "expr" compiles per-query score expressions into the
        scan (fastest small batches); "indexed" (r6, VERDICT r5 #2)
        joins the query set against the memoized postings index — plan
        width independent of batch size, scales to thousands of
        queries; "auto" picks by batch size (≤EXPR_BATCH_MAX → expr).
        Both paths are row-identical (shared oracle + parity test).

        "ann" (r6, opt-in — never chosen by "auto" because it trades
        exactness) additionally serves the VECTOR leg from the
        project's packed IVF layout (`build_ann_index('ivf')` /
        `load_ann_index`), probing `nprobes` clusters (None = all =
        exact): the configuration where neither corpus scan appears
        in the per-query cost. Note the pure-vector surface
        (`search_batch(route="auto")`) picks its serving regime
        itself since r9 (`ann_serving_regime()` reports it); "ann"
        here stays an explicit opt-in because its trade is
        exactness, not only latency."""
        from mcp_vector_search_spark.functions.query import preprocess_query

        if method not in ("auto", "expr", "indexed", "ann"):
            raise ValueError(f"unknown method {method!r}")
        if nprobes is not None and method != "ann":
            # every other method runs an EXACT brute vector leg — a
            # silently ignored nprobes would let the caller believe
            # they configured IVF probing (r6 review)
            raise ValueError(f"nprobes applies only to method='ann' (got {method!r})")
        term_sets = [(qid, preprocess_query(q).split()) for qid, q in queries]
        if method == "auto":
            method = "expr" if len(term_sets) <= self.EXPR_BATCH_MAX else "indexed"
        if method == "ann":
            if self._ivf_layout is None:
                raise ValueError(
                    "method='ann' serves from a packed IVF layout — call "
                    "build_ann_index('ivf') or load_ann_index(path) first"
                )
            from mcp_vector_search_spark.plans.hybrid import hybrid_search_batch_ann

            packed, centroids, _ = self._ivf_layout
            postings, dstats, tstats = self._bm25()
            return hybrid_search_batch_ann(
                postings,
                dstats,
                tstats,
                packed,
                centroids,
                term_sets,
                query_vecs,
                k=limit,
                alpha=alpha,
                nprobes=nprobes,
            )
        if method == "indexed":
            from mcp_vector_search_spark.plans.hybrid import (
                hybrid_search_batch_indexed,
            )

            postings, dstats, tstats = self._bm25()
            return hybrid_search_batch_indexed(
                postings,
                dstats,
                tstats,
                self.vectors,
                term_sets,
                query_vecs,
                k=limit,
                alpha=alpha,
            )
        from mcp_vector_search_spark.plans.hybrid import hybrid_search_batch

        return hybrid_search_batch(
            self.docs,
            self.vectors,
            term_sets,
            query_vecs,
            k=limit,
            alpha=alpha,
        )

    def search_context(
        self, query: str, query_vec: Sequence[float] | DataFrame, limit: int = 10
    ) -> DataFrame:
        """Full pipeline incl. rescoring + MMR (tool `search_context`);
        requires chunk metadata. `query_vec` as in `search_hybrid`."""
        from mcp_vector_search_spark.plans.hybrid import query_frame
        from mcp_vector_search_spark.plans.search import full_search

        assert self.chunk_meta is not None, "search_context needs chunk_meta"
        return full_search(
            self.docs, self.chunk_meta, self.vectors, query,
            query_frame(self.spark, query_vec), k=limit,
        )

    # ----------------------------------------------------------- dedup

    def find_duplicates(
        self, method: str = "minhash", threshold: float | None = None, **kw
    ) -> DataFrame:
        """Duplicate pairs (doc_a, doc_b, ...) by detector — 'minhash'
        (LSH candidates, exact-Jaccard verified ≥ `threshold`, default
        0.8), 'simhash' (pigeonhole-banded hamming), 'embedding'
        (cosine ≥ `threshold`, default 0.9). Every pair method emits
        doc_a/doc_b so the output feeds `dedup_clusters` directly.
        'exact' is the odd one out: it returns fingerprint GROUPS
        (fingerprint, dup_count, keep_id) — already resolved, no
        clustering needed."""
        self._drain_deferred()
        from mcp_vector_search_spark.operators import dedup as D

        if method == "exact":
            return D.exact_duplicates(self.docs, **kw)
        if method == "minhash":
            sh = D.shingle_index(self.docs).cache()
            try:
                cand = D.minhash_candidates(self.docs, shingles=sh, **kw)
                # without a verify threshold every band collision —
                # Jaccard ~0.2 pairs included — would count as a dup
                return D.jaccard_verify(
                    cand, sh, threshold=0.8 if threshold is None else threshold
                )
            finally:
                self._release_later(sh)
        if method == "simhash":
            return D.simhash_near_dups(self.docs, **kw)
        if method == "embedding":
            out = D.embedding_near_dups(
                self.vectors,
                **({} if threshold is None else {"threshold": threshold}),
                **kw,
            )
            return out.select(
                F.col("id_a").alias("doc_a"),
                F.col("id_b").alias("doc_b"),
                "cos_sim",
            )
        raise ValueError(f"unknown dedup method: {method!r}")

    def dedup_clusters(self, pairs: DataFrame) -> DataFrame:
        """Pair list → transitive duplicate clusters with one keeper
        per cluster (operators/components.py); filter `is_keeper` to
        apply the dedup."""
        from mcp_vector_search_spark.operators.components import dup_clusters

        return dup_clusters(pairs)

    def quality_signals(self) -> DataFrame:
        """Per-doc Gopher repetition/quality signals + keep/drop flag
        (functions/text.py) — the pretraining filter columns."""
        from mcp_vector_search_spark.functions.text import (
            alpha_word_fraction,
            bullet_line_fraction,
            doc_lines,
            dup_line_fraction,
            ellipsis_line_fraction,
            mean_word_length,
            symbol_word_ratio,
            tokenize,
        )

        # stage the tokenize/line-split arrays once: CollapseProject
        # keeps the projections separate when a non-cheap column is
        # referenced more than once, so each array is computed ONCE per
        # row instead of re-inlined into every signal (the round-3
        # text_quality trap, registry.py q_text_quality; r6 review #3)
        staged = self.docs.select(
            "doc_id",
            "text",
            tokenize("text").alias("_toks"),
            doc_lines("text").alias("_lines"),
        )
        toks, lines = F.col("_toks"), F.col("_lines")
        return staged.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.round(dup_line_fraction(lines), 6).alias("dup_line_frac"),
            F.round(bullet_line_fraction(lines), 6).alias("bullet_line_frac"),
            F.round(ellipsis_line_fraction(lines), 6).alias("ellipsis_line_frac"),
            F.round(mean_word_length(toks), 6).alias("mean_word_len"),
            F.round(alpha_word_fraction(toks), 6).alias("alpha_word_frac"),
            F.round(symbol_word_ratio("text", toks), 6).alias("symbol_word_ratio"),
        )

    # ------------------------------------------------------- analytics

    def get_project_status(self) -> DataFrame:
        """Index stats rollup (tool `get_project_status`)."""
        from mcp_vector_search_spark.operators.analytics import lang_distribution

        return lang_distribution(self.docs)

    def analyze_project(self) -> DataFrame:
        """Per-file rollups + health grades (tool `analyze_project`)."""
        from mcp_vector_search_spark.operators.analytics import source_rollup

        return source_rollup(self.docs)

    def find_smells(self, chunks: DataFrame) -> DataFrame:
        """Smell detection over chunk metrics (tool `find_smells`)."""
        from mcp_vector_search_spark.operators.smells import detect_smells

        return detect_smells(chunks)

    def get_complexity_hotspots(self, n: int = 10) -> DataFrame:
        """Top-N hotspots (tool `get_complexity_hotspots`)."""
        from mcp_vector_search_spark.operators.analytics import hotspots

        return hotspots(self.docs, n=n)

    def check_circular_dependencies(self, edges: DataFrame) -> DataFrame:
        """Short-cycle members (tool `check_circular_dependencies`)."""
        from mcp_vector_search_spark.operators.graph import cycle_nodes

        return cycle_nodes(edges)

    # -------------------------------------------------------------- KG

    def kg_build(self, chunks: DataFrame) -> DataFrame:
        """Construct + memoize the call-edge list (tool `kg_build`)."""
        from mcp_vector_search_spark.operators.kg import call_edges

        self._kg_edges = call_edges(
            chunks,
            id_col="doc_id",
            name_col="name",
            calls_col="calls",
            path_col="source",
        )
        return self._kg_edges

    def kg_stats(self) -> DataFrame:
        """Node/edge degree stats (tool `kg_stats`)."""
        from mcp_vector_search_spark.operators.graph import degree

        assert self._kg_edges is not None, "call kg_build first"
        return degree(self._kg_edges)

    def find_related(self, entity_id, max_hops: int = 2) -> DataFrame:
        """Bounded BFS neighborhood (tool `kg_query` / find_related)."""
        from mcp_vector_search_spark.operators.graph import bfs_min_hops

        assert self._kg_edges is not None, "call kg_build first"
        start = self.spark.createDataFrame([(entity_id,)], ["id"])
        return bfs_min_hops(self._kg_edges, start, max_hops)

    def trace_execution_flow(
        self, entity_id, max_hops: int = 3, direction: str = "forward"
    ) -> DataFrame:
        """Path enumeration from an entry point (tool
        `trace_execution_flow`). direction='backward' walks call edges
        in reverse (who can reach the entry point) by swapping the
        src/dst roles — the MCP schema advertised the knob but dispatch
        dropped it (r6 review #6)."""
        from mcp_vector_search_spark.operators.graph import trace_paths

        assert self._kg_edges is not None, "call kg_build first"
        if direction == "backward":
            return trace_paths(
                self._kg_edges, entity_id, max_hops, src_col="dst", dst_col="src"
            )
        if direction != "forward":
            raise ValueError(f"direction must be forward|backward, got {direction!r}")
        return trace_paths(self._kg_edges, entity_id, max_hops)

    def build_repo_graph(
        self, repo_path: str, project_name: str
    ) -> tuple[DataFrame, DataFrame]:
        """Version-control node/edge tables — Person (email-hashed) /
        Project / Repository / Branch / Commit with AUTHORED +
        hierarchy edges (reference ``knowledge_graph.py:50-160``)."""
        from mcp_vector_search_spark.operators.kg import repo_nodes
        from mcp_vector_search_spark.sources.git_source import (
            current_branch,
            git_log_df,
        )

        commits = git_log_df(self.spark, repo_path)
        return repo_nodes(commits, project_name, branch=current_branch(repo_path))

    def commit_ancestry_table(self, repo_path: str) -> DataFrame:
        """(commit_sha, ancestor_sha) reflexive ancestry closure for
        the repo — the temporal-KG join table ("B is an ancestor of A"
        as one semi-join). Routed by commit count
        (sources/git_source.commit_closure, threshold 100k): small
        histories use the driver bitset build, larger ones the
        distributed pointer-doubling closure — same rows either way.
        Persist the result for repeated at-commit queries."""
        from mcp_vector_search_spark.sources.git_source import (
            commit_closure,
            git_log_df,
        )

        return commit_closure(git_log_df(self.spark, repo_path))

    # ------------------------------------------------- corpus curation

    def split_corpus(self, train: float = 0.8, val: float = 0.1) -> DataFrame:
        """Reproducible hash-based train/val/test split of the doc
        corpus (operators/sampling.py) — membership is a pure function
        of doc_id, stable as the corpus grows."""
        from mcp_vector_search_spark.operators.sampling import hash_split

        return hash_split(self.docs, train=train, val=val)

    def pack_corpus(self, max_tokens: int, n_shards: int = 32) -> DataFrame:
        """Greedy sequence packing of the corpus to a context budget →
        (shard, doc_id, tok, bin_id); bins map 1:1 to training context
        windows."""
        from mcp_vector_search_spark.functions.text import token_count
        from mcp_vector_search_spark.operators.sampling import pack_sequences

        docs = self.docs.select(
            "doc_id", token_count("text").cast("long").alias("tok")
        )
        return pack_sequences(docs, max_tokens, n_shards=n_shards, token_col="tok")

    def curate_corpus(
        self,
        max_tokens: int = 512,
        benchmark: DataFrame | None = None,
        lang_fractions: dict[str, float] | None = None,
        lang_allow: list[str] | None = None,
        near_dup_jaccard: float = 0.8,
        strip_dup_spans_k: int | None = None,
        semantic_threshold: float | None = None,
        n_shards: int = 32,
        collect_report: bool = True,
        redact: bool = False,
        quality_filter: str | Column | None = None,
    ) -> tuple[DataFrame, DataFrame | None]:
        """The end-to-end training-corpus pipeline this engine exists
        for, composed from the individually oracle-gated stages:

        0. quality filter (`quality_filter` set) — per-row keep/drop
           BEFORE any shuffle-bearing stage: "gopher" applies the
           canonical Gopher bands via `analytics.text_quality_frame`
           (the text_quality gate's exact definition), or pass any
           boolean Column over that frame's signal columns;
        1. exact dedup — drop every doc whose normalized fingerprint
           already appeared at a lower id;
        2. near-dedup — MinHash-LSH candidates, exact-Jaccard
           verified ≥ `near_dup_jaccard`; the higher id of each pair
           drops;
        2b. semantic dedup (`semantic_threshold` set and vectors
           present) — embedding-cosine pairs blocked by sample-fit
           IVF clusters with top-2 multiprobe assignment (Σ|c|²-shaped
           candidate pairs, never N², and boundary-straddling pairs
           still compared; vec_id must align with doc_id); the higher
           id drops;
        2c. decontamination — drop docs sharing 5-grams with
           `benchmark` (skipped when None). Runs on the ORIGINAL
           text, before any rewriting stage: redaction would break
           the gram match against the unredacted benchmark side, and
           span stripping could hide contamination inside removed
           boilerplate;
        2d. PII masking of the surviving text (`redact=True`) — runs
           BEFORE span stripping because the stripper rewrites flagged
           docs from the tokenize() stream (lowercased, punctuation
           gone), which would destroy the email/IP shapes the
           redaction patterns match (ADVICE r4);
        2e. exact-substring span stripping (`strip_dup_spans_k` set) —
           detect cross-doc duplicated ≥k-token spans (Lee et al.
           style) among the SURVIVING docs and rewrite their text
           with the spans removed (boilerplate removal; doc count
           unchanged, so no report row);
        3. content language filter (`lang_allow` set) — keep docs
           whose CONTENT-detected language (stopword-profile
           `lang_id`, not the metadata column) is in the allowlist;
        4. stratified rebalance by language (skipped when None);
        5. reproducible hash split; the train split then
        6. greedy-packs into `max_tokens` bins assembled as training
           rows.

        Returns (bins, report): bins = (shard, bin_id, n_docs,
        total_tok, text) for the train split; report = one row per
        pipeline stage with the surviving doc count — the mixture /
        attrition summary a curation run is judged by. The report
        costs one action per stage, so each surviving-docs frame is
        cached at the stage boundary (count + reuse, no recompute of
        the upstream chain) and unpersisted as soon as the NEXT stage
        is materialized — only the newest boundary stays cached, so
        repeated curation runs in a long-lived session don't
        accumulate executor cache (ADVICE r3). `collect_report=False`
        skips both the counts and the caches for a single lazy
        end-to-end plan.
        """
        from mcp_vector_search_spark.functions.text import doc_fingerprint, token_count
        from mcp_vector_search_spark.operators.dedup import (
            contaminated_docs,
            jaccard_verify,
            minhash_candidates,
            shingle_index,
        )
        from mcp_vector_search_spark.operators.sampling import (
            bin_texts,
            hash_split,
            pack_sequences,
            stratified_sample,
        )

        spark = self.spark
        self._drain_deferred()  # release the previous run's boundary
        stages: list[tuple[str, int]] = []
        prev_cached: list[DataFrame] = []

        def checkpoint(name: str, df: DataFrame) -> DataFrame:
            if not collect_report:
                return df
            df = df.cache()
            stages.append((name, df.count()))
            # the count above materialized THIS stage, so the previous
            # boundary's cache can no longer be re-read — release it
            while prev_cached:
                prev_cached.pop().unpersist()
            prev_cached.append(df)
            return df

        # input is counted but never cached: it's the caller's frame,
        # and cache()+unpersist() here would clobber their cache state
        if collect_report:
            stages.append(("input", self.docs.count()))

        # 0. quality filter — FIRST, like the production pipelines it
        # mirrors (RefinedWeb/Gopher order: cheap per-row rules cut
        # volume before any shuffle-bearing dedup stage pays for the
        # dropped rows). `quality_filter="gopher"` keeps docs passing
        # the canonical Gopher bands — the SAME
        # `analytics.text_quality_frame` definition the text_quality
        # oracle gate scores; any other boolean Column is applied over
        # that frame's signal columns (n_tokens, mean_word_len,
        # dup_line_frac, top_2gram_frac, quality, ...), so custom
        # thresholds compose from gated signals.
        docs0 = self.docs
        if quality_filter is not None:
            from mcp_vector_search_spark.operators.analytics import (
                text_quality_frame,
            )

            predicate = (
                F.col("passes_gopher")
                if isinstance(quality_filter, str) and quality_filter == "gopher"
                else quality_filter
            )
            if isinstance(predicate, str):
                raise ValueError(
                    f"quality_filter must be 'gopher' or a boolean Column, "
                    f"got {quality_filter!r}"
                )
            # per-row keep/drop must stay a FILTER over the scan:
            # signals_only=False carries the original columns through
            # the signal projection, so no doc_id semi-join back to
            # the corpus (that join would shuffle both sides of a
            # decision that is per-row by construction)
            kept = (
                text_quality_frame(docs0, signals_only=False)
                .filter(predicate)
                .select(*docs0.columns)
            )
            docs0 = checkpoint("quality_filter", kept)

        # 1. exact: keep the lowest id per fingerprint — one full-row
        # shuffle on the fingerprint key (any id-level filter of the
        # corpus moves the rows once; a slim window + semi-join would
        # add a second exchange, not remove this one)
        from pyspark.sql.window import Window

        w = Window.partitionBy("_fp").orderBy("doc_id")
        docs = (
            docs0.withColumn("_fp", doc_fingerprint("text"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_fp", "_rn")
        )
        docs = checkpoint("exact_dedup", docs)

        # 2. near-dup: verified LSH pairs; the higher id drops (hashed
        # shingle form: longs in the shuffle/cache, never the strings)
        sh = shingle_index(docs)
        if not collect_report:
            # lazy mode (the benched single-plan path): the shingle
            # index is referenced FOUR times in the one end-to-end
            # plan (both sides of the candidate band self-join + both
            # sides of jaccard_verify), and everything upstream of the
            # exact-dedup exchange is deduplicated by ReusedExchange
            # but the post-exchange work — window filter + tokenize +
            # per-shingle md5 over the full text — re-executes per
            # reference (guide §7.2). One eager localCheckpoint of the
            # slim hash-pair frame (longs, never text) pins it; the
            # report path already caches stage boundaries.
            from mcp_vector_search_spark import io as _io

            sh = _io.checkpoint(sh)
        pairs = jaccard_verify(
            minhash_candidates(docs, shingles=sh), sh, threshold=near_dup_jaccard
        )
        drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        docs = checkpoint("near_dedup", docs.join(drop, "doc_id", "left_anti"))

        # 2b. semantic near-dedup on the embedding column
        if semantic_threshold is not None and self.vectors is not None:
            from mcp_vector_search_spark.operators.dedup import (
                embedding_near_dups,
            )

            surviving = self.vectors.join(
                docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
            )
            # method="auto" with no layout = sample-fit centroids +
            # top-2 multiprobe blocking, so near-dup pairs straddling
            # a cluster boundary are still dropped (r5: the single-
            # probe clustered blocker knowingly skipped them)
            sem_pairs = embedding_near_dups(
                surviving, threshold=semantic_threshold
            )
            sem_drop = sem_pairs.select(F.col("id_b").alias("doc_id")).distinct()
            docs = checkpoint(
                "semantic_dedup", docs.join(sem_drop, "doc_id", "left_anti")
            )

        # 2c. decontaminate. Ordering constraints (both directions
        # matter): decontamination must see the ORIGINAL text — a
        # redacted doc side would no longer share grams with the
        # unredacted benchmark side, letting contaminated docs slip
        # through — and it runs before span stripping, so contamination
        # hiding inside shared boilerplate still drops the doc (the
        # conservative choice; the old strip-first order kept it).
        if benchmark is not None:
            flagged = contaminated_docs(docs, benchmark).filter("contaminated")
            docs = checkpoint(
                "decontaminated",
                docs.join(flagged.select("doc_id"), "doc_id", "left_anti"),
            )

        # 2d. PII masking (map-side; not a filter, so no stage count).
        # MUST precede span stripping: the stripper rebuilds flagged
        # docs from the tokenize() stream, which lowercases and drops
        # punctuation — 'user@example.com' would become
        # 'user example com' and slip past every PII pattern.
        if redact:
            from mcp_vector_search_spark.functions.text import redact_pii

            docs = docs.withColumn("text", redact_pii("text"))

        # 2e. boilerplate span stripping (rewrites text, drops no docs)
        if strip_dup_spans_k is not None:
            from mcp_vector_search_spark.operators.dedup import (
                duplicate_spans,
                strip_duplicate_spans,
            )

            spans = duplicate_spans(
                docs, k=strip_dup_spans_k, hash_fn="xxhash64"
            )
            docs = strip_duplicate_spans(docs, spans)

        # 3. content-language filter (per-row exprs; no shuffle)
        if lang_allow:
            from mcp_vector_search_spark.functions.text import lang_id

            docs = checkpoint(
                "lang_filtered",
                docs.filter(lang_id("text")["lang"].isin(*lang_allow)),
            )

        # 4. rebalance
        if lang_fractions:
            docs = checkpoint("rebalanced", stratified_sample(docs, lang_fractions))

        # 5. split → 6. pack the train split
        train = checkpoint(
            "train_split", hash_split(docs).filter(F.col("split") == "train")
        )
        toks = train.select("doc_id", token_count("text").cast("long").alias("tok"))
        packed = pack_sequences(toks, max_tokens, n_shards=n_shards, token_col="tok")
        bins = bin_texts(packed, train)
        report = (
            spark.createDataFrame(stages, "stage string, n_docs long")
            if collect_report
            else None
        )
        # the FINAL boundary cache is still needed by the lazy `bins`
        # the caller will materialize — release it on the NEXT
        # curation/dedup call instead of leaking one frame per run
        while prev_cached:
            self._release_later(prev_cached.pop())
        return bins, report
