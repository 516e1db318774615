"""Hybrid search: BM25 leg ⊕ vector leg → RRF fusion → top-k.

Re-expresses the reference's main search pipeline
(``core/search.py:215-432``, hybrid mode ``:1656-1768``) as ONE
DataFrame program. The reference runs the two legs sequentially in
Python and fuses in-memory; here both legs are branches of a single
logical plan — Catalyst sees the whole tree, and the only shuffles are
the two leg-internal aggregations (BM25 groupBy, top-k rank) plus one
tiny fused join.

Scale shape: each leg ends in an over-retrieval `limit` (reference
retrieves `limit*2` per leg, ``search.py:293-295``) so the fusion
stage is O(k), independent of corpus size.

Warm interactive serving (`HybridServer`) collects the two legs as
two concurrent single-stage jobs instead and fuses their rows on the
driver, like the reference: at 2·k rows a leg, a fused plan's join
and window cost more scheduling than the fusion itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcp_vector_search_spark.operators.bm25 import bm25_topk
from mcp_vector_search_spark.operators.fusion import RRF_K as RRF_K_BATCH
from mcp_vector_search_spark.operators.fusion import rrf_fuse, rrf_fuse_lists
from mcp_vector_search_spark.operators.topk import cosine_topk, knn_brute_force, rank_by


def hybrid_search(
    docs: DataFrame,
    vectors: DataFrame,
    query_terms: list[str],
    query: DataFrame,
    k: int = 10,
    over_retrieve: int = 2,
    alpha: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """(doc_id, rrf_score) — top-k fused results.

    `query` is a 1-row (query_vec) DataFrame; `docs[id_col]` and
    `vectors[vec_id_col]` share an id universe (the reference's
    denormalized vectors table guarantees this by construction).
    `HybridServer` serves the same rows from warm state.
    """
    n_leg = k * over_retrieve

    bm_leg = rank_by(
        bm25_topk(docs, query_terms, n_leg, id_col=id_col, text_col=text_col),
        "score",
        "doc_id",
    )
    vec_leg = rank_vec_leg(
        knn_brute_force(vectors, query, n_leg, vec_col=vec_col, id_col=vec_id_col),
        vec_id_col,
    )
    fused = rrf_fuse(vec_leg, bm_leg, id_col="doc_id", alpha=alpha)
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(k)


def rank_vec_leg(topk: DataFrame, vec_id_col: str = "vec_id") -> DataFrame:
    """A single-query cosine top-k (`knn_brute_force`/`cosine_topk`
    output) as the ranked (doc_id, cos_sim, rank) vector leg RRF
    fuses."""
    return rank_by(
        topk.withColumnRenamed(vec_id_col, "doc_id").select("doc_id", "cos_sim"),
        "cos_sim",
        "doc_id",
    )


def hybrid_search_batch(
    docs: DataFrame,
    vectors: DataFrame,
    term_sets: list[tuple[int, list[str]]],
    query_vecs: DataFrame,
    k: int = 10,
    over_retrieve: int = 2,
    alpha: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    query_id_col: str = "query_id",
    stats: dict | None = None,
) -> DataFrame:
    """A query SET through the full hybrid pipeline as ONE DataFrame
    program → (query_id, doc_id, rrf_score, rn) — the engine's serving
    thesis (VERDICT r4 #6): per-query hybrid latency amortizes to
    batch throughput, because every query shares both corpus scans.

    `term_sets` = [(query_id, terms)], `query_vecs` = (query_id,
    query_vec); ids must align. Per query the semantics are EXACTLY
    `hybrid_search`: one-shot BM25 scoring (round-6, zero-score docs
    excluded by the matched filter), round-6 cosine kNN, both legs
    over-retrieved to k*over_retrieve, RRF α/(60+rank) with per-query
    max-normalization, round-6, top-k (ties → lower doc_id).

    Plan shape: ONE stats scan for the UNION of every query's terms
    (`bm25_oneshot_stats` — the same sharing the query-expansion path
    uses), ONE scoring scan computing every query's tf columns, then
    an explode to (query_id, doc_id, score) pairs — sparse: a doc
    reaches query q only if it matches ≥1 of q's terms — into a
    per-query rank window. The vector leg is the Arrow batch kernel
    (`topk_per_query_np`), one corpus scan for all queries. Fusion
    joins two ≤|Q|·n_leg-row sets on (query_id, doc_id): tiny at any
    corpus scale.

    Scale envelope: per-query score expressions are compiled into the
    scan (term_sets is a driver-side list), so the plan width grows
    with |Q|·|terms| — right for serving batches up to a few hundred
    queries per program. Larger sets split into chunks of ~100
    (per-chunk stats reuse via `stats=`), or route the BM25 side
    through the persisted postings index where the query set is a
    TABLE, not a literal.
    """
    n_leg = k * over_retrieve
    bm_leg = expr_bm_leg(
        docs, term_sets, stats, n_leg, id_col, text_col, query_id_col,
        qid_type_src=query_vecs,
    )
    return batch_fuse(
        bm_leg,
        _brute_vec_leg(vectors, query_vecs, n_leg, vec_col, vec_id_col, query_id_col),
        k, alpha, query_id_col,
    )


def _require_unique_qids(term_sets: list[tuple[int, list[str]]]) -> None:
    """A duplicate id emits two entries per doc: the BM25 leg doubles
    that query's rows and every downstream rank/fusion score is
    silently corrupted — fail loudly instead."""
    qids = [qid for qid, _ in term_sets]
    if len(set(qids)) != len(qids):
        dupes = sorted({q for q in qids if qids.count(q) > 1})
        raise ValueError(f"duplicate query_ids in term_sets: {dupes}")


def expr_bm_leg(
    docs: DataFrame,
    term_sets: list[tuple[int, list[str]]],
    stats: dict | None,
    n_leg: int,
    id_col: str,
    text_col: str,
    query_id_col: str,
    qid_type_src: DataFrame,
    tokenized: DataFrame | None = None,
) -> DataFrame:
    """The expression-compiled BM25 stage of `hybrid_search_batch` →
    (query_id, doc_id, score, _rank_b ≤ n_leg): ONE scan computing
    every query's tf columns, exploded to sparse (query_id, doc_id)
    score pairs, per-query rank window. Per query the semantics are
    EXACTLY `bm25_topk`'s one-shot path (round-6 scores, matched>0,
    ties → lower doc_id) — pinned by the 1-query batch-vs-single test.

    r13 (VERDICT r12 #4): factored out so `full_search` can fuse its
    per-VARIANT scoring scans into this one-scan shape — variants are
    queries with integer ids, and `tokenized` feeds the checkpointed
    (doc_id, toks, _dl) frame so the plan has one scoring scan total.
    """
    from pyspark.sql.window import Window

    from mcp_vector_search_spark.functions.text import tokenize
    from mcp_vector_search_spark.operators.bm25 import (
        B,
        K1,
        bm25_oneshot_stats,
    )

    _require_unique_qids(term_sets)
    all_terms = list(dict.fromkeys(t for _, ts in term_sets for t in ts))
    if stats is None:
        stats = bm25_oneshot_stats(
            docs, all_terms, id_col, text_col, tokenized=tokenized
        )
    idf, avgdl = stats["idf"], stats["avgdl"]
    union_terms = [t for t in all_terms if t in idf]

    # --- BM25 legs: one scan, one tf column per union term ----------
    if tokenized is not None:
        # the materialized (doc_id, toks, _dl) frame — identical
        # results by construction (same tokenize expr both sides)
        d = tokenized.select("doc_id", "toks", "_dl")
    else:
        d = docs.select(
            F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
        ).withColumn("_dl", F.size("toks").cast("double"))

    def _tf(term: str):
        return F.size(F.filter("toks", lambda x: x == F.lit(term))).cast("double")

    tf_cols = [_tf(t).alias(f"_tf{i}") for i, t in enumerate(union_terms)]
    d = d.select("doc_id", "_dl", *tf_cols)
    tf_of = {t: F.col(f"_tf{i}") for i, t in enumerate(union_terms)}
    norm = K1 * (1 - B + B * F.col("_dl") / F.lit(avgdl or 1.0))
    entries = []
    for qid, ts in term_sets:
        ts = [t for t in dict.fromkeys(ts) if t in idf]
        if not ts or avgdl == 0:
            continue  # absent-everywhere query: empty BM25 leg
        matched = sum((tf_of[t] for t in ts), F.lit(0.0))
        score = sum(
            (
                F.lit(idf[t]) * tf_of[t] * (K1 + 1) / (tf_of[t] + norm)
                for t in ts
            ),
            F.lit(0.0),
        )
        entries.append(
            F.struct(
                F.lit(qid).alias(query_id_col),
                F.round(score, 6).alias("score"),
                matched.alias("_m"),
            )
        )
    bw = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("doc_id"))
    if entries:
        return (
            d.select("doc_id", F.explode(F.array(*entries)).alias("e"))
            .select("doc_id", "e.*")
            .filter(F.col("_m") > 0)
            .withColumn("_rank_b", F.row_number().over(bw))
            .filter(F.col("_rank_b") <= n_leg)
            .select(query_id_col, "doc_id", "score", "_rank_b")
        )
    # inherit the real id types — a corpus with string chunk_ids
    # must not get a hardcoded-long empty frame that poisons the
    # fusion join
    from mcp_vector_search_spark.operators.topk import id_type

    return docs.sparkSession.createDataFrame(
        [],
        f"{query_id_col} {id_type(qid_type_src, query_id_col)}, "
        f"doc_id {id_type(docs, id_col)}, score double, _rank_b int",
    )


def _brute_vec_leg(
    vectors: DataFrame,
    query_vecs: DataFrame,
    n_leg: int,
    vec_col: str,
    vec_id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact vector leg: the Arrow batch kernel, one corpus scan for
    all queries → (query_id, doc_id, _rank_a ≤ n_leg)."""
    from mcp_vector_search_spark.operators.topk import topk_per_query_np

    return topk_per_query_np(
        vectors,
        query_vecs,
        n_leg,
        vec_col=vec_col,
        query_id_col=query_id_col,
        id_col=vec_id_col,
    ).select(
        query_id_col,
        F.col(vec_id_col).alias("doc_id"),
        F.col("rn").alias("_rank_a"),
    )


def batch_fuse(
    bm_leg: DataFrame,
    vec_leg: DataFrame,
    k: int,
    alpha: float,
    query_id_col: str,
) -> DataFrame:
    """Shared tail of the batch-hybrid pipelines: per-query RRF fusion
    with max-normalization. `bm_leg` = (query_id, doc_id, _rank_b ≤
    n_leg) from either the expression-compiled or the table-driven
    BM25 stage; `vec_leg` = (query_id, doc_id, _rank_a ≤ n_leg) from
    the exact Arrow kernel or a packed-IVF layout."""
    from pyspark.sql.window import Window

    fused = (
        vec_leg.join(bm_leg, [query_id_col, "doc_id"], "full_outer")
        .withColumn(
            "_raw",
            F.coalesce(F.lit(alpha) / (F.lit(RRF_K_BATCH) + F.col("_rank_a")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0 - alpha) / (F.lit(RRF_K_BATCH) + F.col("_rank_b")), F.lit(0.0)
            ),
        )
    )
    # Per-query max as a WINDOW over the same query_id partitioning the
    # ranking window below already establishes — the pre-r12 shape
    # (groupBy(query_id).max broadcast-joined back) planned the entire
    # fused subtree twice, so BOTH legs of every query in the batch
    # re-executed for the scalar branch (guide §7.2 duplicated
    # subtrees; the single-query twin had the same bug in rrf_fuse).
    # One exchange now feeds max-window + rank-window back to back.
    mw = Window.partitionBy(query_id_col)
    fw = Window.partitionBy(query_id_col).orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("_mx", F.max("_raw").over(mw))
        # per-query max can be exactly 0.0 (alpha extreme + a query
        # with an empty weighted leg): score 0 like rrf_fuse does, not
        # an ANSI DIVIDE_BY_ZERO that kills the whole batch
        # (r6 review #7)
        .withColumn(
            "rrf_score",
            F.round(
                F.when(
                    F.col("_mx") > 0, F.col("_raw") / F.col("_mx")
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn("rn", F.row_number().over(fw))
        .filter(F.col("rn") <= k)
        .select(query_id_col, "doc_id", "rrf_score", "rn")
    )


def hybrid_search_batch_indexed(
    postings: DataFrame,
    doc_stats: DataFrame,
    term_stats: DataFrame,
    vectors: DataFrame,
    term_sets: list[tuple[int, list[str]]],
    query_vecs: DataFrame,
    k: int = 10,
    over_retrieve: int = 2,
    alpha: float = 0.7,
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    query_id_col: str = "query_id",
    term_buckets: int | None = None,
) -> DataFrame:
    """`hybrid_search_batch` with the BM25 stage TABLE-DRIVEN
    (VERDICT r5 #2): the query set joins the persisted postings index
    (`operators/bm25.py:write_bm25_index` — postings/doc_stats/
    term_stats, the K3 sink; or the same frames built in-memory) as a
    broadcast (query_id, term) table instead of compiling one score
    expression per query into the scan. Plan width is now independent
    of |Q|·|terms| — the expression-compiled path's ~100-query
    envelope disappears, and the BM25 stage touches only the postings
    of the union of query terms (O(Σ df(q)), not O(corpus)).

    Output is row-identical to `hybrid_search_batch` (same oracle):
    per query, one-shot BM25 scoring round-6 → rank ≤ k·over_retrieve,
    Arrow-kernel kNN leg, RRF α/(60+rank) + per-query max-norm,
    round-6, top-k (ties → lower doc_id). The score algebra matches
    because the index semantics are the one-shot semantics: dl = Σtf,
    N = |docs with ≥1 token|, idf epsilon-floored over ALL corpus
    terms (`build_term_stats`), docs reach a query only through a
    matched posting (the `_m > 0` filter by construction).

    `term_buckets`: the bucket count of a term-bucketed postings
    index (`bm25_term_buckets`) — the union terms' buckets are then
    computed driver-side and the postings scan prunes whole
    partitions before the term join, exactly like `bm25_topk_indexed`
    on the single-query path. Score-neutral (a strict superset of the
    term equi-join's matches survives the filter).
    """
    n_leg = k * over_retrieve
    bm_leg = _indexed_bm_leg(
        postings, doc_stats, term_stats, term_sets, query_vecs, n_leg,
        query_id_col, term_buckets,
    )
    return batch_fuse(
        bm_leg,
        _brute_vec_leg(vectors, query_vecs, n_leg, vec_col, vec_id_col, query_id_col),
        k, alpha, query_id_col,
    )


def _indexed_bm_leg(
    postings: DataFrame,
    doc_stats: DataFrame,
    term_stats: DataFrame,
    term_sets: list[tuple[int, list[str]]],
    query_vecs: DataFrame,
    n_leg: int,
    query_id_col: str,
    term_buckets: int | None = None,
) -> DataFrame:
    """The table-driven BM25 stage → (query_id, doc_id, _rank_b ≤
    n_leg). Shared by the exact (`hybrid_search_batch_indexed`) and
    ANN-layout (`hybrid_search_batch_ann`) batch pipelines."""
    from pyspark.sql.window import Window

    from mcp_vector_search_spark.operators.bm25 import B, K1
    from mcp_vector_search_spark.operators.topk import id_type

    _require_unique_qids(term_sets)
    if term_buckets:
        # hard-fail on an unbucketed frame rather than silently skip:
        # a caller who passes a bucket count believes pruning (and its
        # cost profile) is in effect (r6 review). The count itself
        # MUST be the index's own — pass bm25_term_buckets(spark,
        # path); a wrong count computes wrong buckets and silently
        # drops matching postings, exactly like passing the wrong
        # postings frame.
        if "tbucket" not in postings.columns:
            raise ValueError(
                "term_buckets was given but the postings frame has no "
                "tbucket column — not a term-bucketed index"
            )
        from mcp_vector_search_spark.operators.bm25 import term_bucket

        buckets = sorted(
            {
                term_bucket(t, term_buckets)
                for _, ts in term_sets
                for t in ts
            }
        )
        postings = postings.filter(F.col("tbucket").isin(buckets))

    spark = postings.sparkSession
    # inherit the real query-id type (string chunk_ids etc.) — the
    # expr path supports them, and this path promises row-identity
    # with it (r6 review: int() coercion broke that contract)
    qt_rows = [(qid, t) for qid, ts in term_sets for t in dict.fromkeys(ts)]
    qt = spark.createDataFrame(
        qt_rows,
        f"{query_id_col} {id_type(query_vecs, query_id_col)}, term string",
    )

    avg = doc_stats.agg(F.avg("dl").alias("avgdl"))
    # broadcast only the union terms' idf rows, not the whole
    # vocabulary — term_stats is O(corpus vocab) and broadcasting it
    # would break this function's O(Σ df(q)) contract at scale
    # (r6 review); the isin filter prunes at the term_stats scan
    union_terms = list(dict.fromkeys(t for _, ts in term_sets for t in ts))
    q_idf = term_stats.filter(F.col("term").isin(union_terms)).select("term", "idf")
    scored = (
        postings.join(F.broadcast(qt), "term")
        .join(doc_stats, "doc_id")
        .join(F.broadcast(q_idf), "term")
        .join(F.broadcast(avg))
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy(query_id_col, "doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    bw = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("_rank_b", F.row_number().over(bw))
        .filter(F.col("_rank_b") <= n_leg)
        .select(query_id_col, "doc_id", "_rank_b")
    )


def hybrid_search_batch_ann(
    postings: DataFrame,
    doc_stats: DataFrame,
    term_stats: DataFrame,
    packed: DataFrame,
    centroids: DataFrame,
    term_sets: list[tuple[int, list[str]]],
    query_vecs: DataFrame,
    k: int = 10,
    over_retrieve: int = 2,
    alpha: float = 0.7,
    nprobes: int | None = None,
    vec_id_col: str = "vec_id",
    query_id_col: str = "query_id",
    term_buckets: int | None = None,
) -> DataFrame:
    """Batch hybrid where BOTH legs serve from persisted index
    artifacts — the shape that holds when neither the corpus text nor
    the vectors fit a scan budget: the BM25 stage is the table-driven
    postings-index join (`_indexed_bm_leg`, O(Σ df(q)) not O(corpus))
    and the vector stage probes a packed IVF layout
    (`operators/ivf.py:ivf_topk_batch_packed` over `ivf_pack` /
    `read_ivf_layout` blocks — non-probed clusters are never
    deserialized; on disk, never read).

    `nprobes=None` probes every cluster: the packed scan degenerates
    to exact brute force (float64 packs are bit-identical to the
    Arrow kernel), so the result is row-identical to
    `hybrid_search_batch_indexed` — that is this function's oracle
    contract. With `nprobes < num_clusters` the vector leg is
    approximate (recall per the IVF gates) and per-query cost drops to
    the probed fraction — the 100 TB serving configuration.

    Reference anchor: hybrid search over the LanceDB-backed ANN index
    + BM25 corpus (``core/search.py:1656-1768``); the reference's two
    sequential index lookups become two branches of one plan."""
    n_leg = k * over_retrieve
    bm_leg = _indexed_bm_leg(
        postings, doc_stats, term_stats, term_sets, query_vecs, n_leg,
        query_id_col, term_buckets,
    )
    from mcp_vector_search_spark.operators.ivf import ivf_topk_batch_packed

    # nprobes=None flows straight through: the packed kernel's probe
    # slice keeps every cluster, with no count() job here (r6 review)
    vec_leg = ivf_topk_batch_packed(
        packed, centroids, query_vecs, n_leg, nprobes=nprobes,
        query_id_col=query_id_col, id_col=vec_id_col,
    ).select(
        query_id_col,
        F.col(vec_id_col).alias("doc_id"),
        F.col("rn").alias("_rank_a"),
    )
    return batch_fuse(bm_leg, vec_leg, k, alpha, query_id_col)


class HybridServer:
    """Warm single-query hybrid serving (VERDICT r5 #6): the state
    that makes the interactive `hybrid_search` path sub-second,
    closing the one BASELINE row ("sub-second search", reference
    README) previously met only as batch throughput.

    A warm `search` runs two single-stage Spark jobs at the same time
    — the vector leg on the server's one worker thread, the BM25 leg
    on the calling thread — and fuses their ≤ k·over_retrieve rows on
    the driver, the way the reference fuses in Python over its
    in-memory index (``core/search.py:1656-1768``). Each leg is an
    order + limit at the plan root, which Spark runs as one
    TakeOrderedAndProject stage: no exchange, no Python worker, no
    broadcast, and no session conf to tune. The per-query work that
    does not depend on the query lives here, built once:

    1. stats state: `Bm25ServingStats` — corpus scalars and the idf of
       the highest-df vocabulary terms, loaded at construction; when
       the whole vocabulary fits, a call runs no stats job at all,
       otherwise a term outside it costs one tiny lookup job, once;
    2. shared scans: the BM25 leg reads the tokenized corpus and the
       vector leg the UNIT vectors (vec_id, _u), normalized once here
       instead of per call. Both are pinned over a local checkpoint
       (`io.pin`), so no leg plan inherits an exchange from the input
       frames' lineage and none is wrapped in an `AdaptiveSparkPlan`;
    3. the query as a literal: `search` unit-normalizes the query
       vector on the driver (`unit_vector`, bit-identical to the
       column path) and scores `dot(_u, array(<literals>))` through
       the same `cosine_topk` tail `knn_brute_force` uses.

    The worker thread runs the vector leg wrapped by
    `inheritable_thread_target`, so the caller's job group, job
    description and tags reach that job too. Fusion is
    `rrf_fuse_lists`: the same float operations as `rrf_fuse` and
    `F.round`'s rounding, so the rows are identical to
    `hybrid_search(...)` (pinned in tests/test_topk_fusion.py). The
    answer is a local DataFrame built from an Arrow table: reading it
    runs no job. `close()` stops the worker thread and releases every
    cache and checkpoint, as does a constructor that raises; a closed
    server refuses `search`. For query SETS use
    `hybrid_search_batch`/`_indexed`.
    """

    def __init__(
        self,
        docs: DataFrame,
        vectors: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        vec_col: str = "embedding",
        vec_id_col: str = "vec_id",
    ):
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql.types import DoubleType, StructField, StructType

        from mcp_vector_search_spark.functions.vectors import normalized
        from mcp_vector_search_spark.io import pin, unpin
        from mcp_vector_search_spark.operators.bm25 import Bm25ServingStats

        self._docs = docs
        self._cols = (id_col, text_col, vec_id_col)
        self._spark = docs.sparkSession
        self._units = pin(
            normalized(vectors.select(vec_id_col, vec_col), vec_col, "_u")
            .select(vec_id_col, "_u")
        )
        try:
            self._stats = Bm25ServingStats(docs, id_col=id_col, text_col=text_col)
        except BaseException:
            unpin(self._units)
            raise
        self._schema = StructType([
            StructField("doc_id", self._units.schema[vec_id_col].dataType),
            StructField("rrf_score", DoubleType()),
        ])
        self._pool = ThreadPoolExecutor(1, thread_name_prefix="hybrid-server-leg")
        self._closed = False

    def search(
        self,
        query_terms: list[str],
        query: Sequence[float] | DataFrame,
        k: int = 10,
        over_retrieve: int = 2,
        alpha: float = 0.7,
    ) -> DataFrame:
        """Top-k fused (doc_id, rrf_score). `query` is the query vector
        as a sequence of floats, or a 1-row (query_vec) DataFrame,
        which is read once with `.first()`."""
        import pyarrow as pa
        from pyspark.util import inheritable_thread_target

        from mcp_vector_search_spark.functions.literals import sql_array, sql_double
        from mcp_vector_search_spark.functions.vectors import unit_vector

        if self._closed:
            raise ValueError("HybridServer is closed: its caches are released")
        id_col, text_col, vec_id_col = self._cols
        n_leg = k * over_retrieve
        uq = sql_array(map(sql_double, unit_vector(query_values(query))))

        def vec_leg() -> list:
            return cosine_topk(self._units, uq, n_leg, vec_id_col).collect()

        vec_rows = self._pool.submit(inheritable_thread_target(self._spark)(vec_leg))
        bm_rows = bm25_topk(
            self._docs,
            query_terms,
            n_leg,
            id_col=id_col,
            text_col=text_col,
            stats=self._stats.stats_for(query_terms),
            tokenized=self._stats.tokenized,
        ).collect()
        fused = rrf_fuse_lists(
            [r[0] for r in vec_rows.result()], [r[0] for r in bm_rows], alpha
        )[:k]
        table = pa.table({
            "doc_id": [i for i, _ in fused],
            "rrf_score": pa.array([s for _, s in fused], pa.float64()),
        })
        return self._spark.createDataFrame(table, self._schema)

    def close(self) -> None:
        """Stop the worker thread and release every cache and
        checkpoint; a second call does nothing."""
        from mcp_vector_search_spark.io import unpin

        if self._closed:
            return
        self._closed = True
        self._pool.shutdown(wait=True)
        self._stats.unpersist()
        unpin(self._units)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def query_values(query: Sequence[float] | DataFrame) -> list[float]:
    """A query vector given as a sequence of floats or as a 1-row
    (query_vec) DataFrame → its floats (the frame is read once)."""
    if isinstance(query, DataFrame):
        row = query.select("query_vec").first()
        if row is None:
            raise ValueError("query frame has no rows")
        return list(row[0])
    return [float(x) for x in query]


def query_frame(spark, query: Sequence[float] | DataFrame) -> DataFrame:
    """A query vector given as a sequence of floats or as a 1-row
    (query_vec) DataFrame → the 1-row frame the cold paths join."""
    if isinstance(query, DataFrame):
        return query
    return spark.createDataFrame(
        [([float(x) for x in query],)], "query_vec array<double>"
    )
