"""Query registry: every implemented operator exposed as a
(spark_callable, oracle_sql) pair for the driver's correctness gate.

Each Spark callable takes (spark, sf_dir) and returns a DataFrame; the
matching oracle is ANSI/DuckDB SQL over the same parquet tables
(pre-registered views). Column names AND dtypes are aligned on both
sides: doubles are rounded (6dp for O(1) scores, 4dp for large sums),
integers are cast to BIGINT, so the driver's order-insensitive value
hash is reproducible bit-for-bit.

Cross-engine determinism rules used throughout (see FIXTURES.md):
- all hashing is md5/sha256 of explicit strings (no engine-native hash);
- float math is float64 with identical expression shape on both sides;
- every rank/limit has a total order (score desc, id asc);
- timestamps compare as integer epoch-µs.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_vector_search_spark import io
from mcp_vector_search_spark.functions.text import (
    doc_fingerprint,
    tokenize,
    word_ngrams,
)
from mcp_vector_search_spark.functions.vectors import l2_norm
from mcp_vector_search_spark.operators.analytics import (
    hotspots,
    lang_distribution,
    quality_score,
    source_rollup,
)
from mcp_vector_search_spark.operators.bm25 import bm25_topk
from mcp_vector_search_spark.operators.dedup import (
    exact_duplicates,
    jaccard_verify,
    minhash_candidates,
    neighbor_jaccard,
)
from mcp_vector_search_spark.operators.events import hourly_rollup, lag_delta, sessionize
from mcp_vector_search_spark.operators.graph import bfs_min_hops, call_graph, instability
from mcp_vector_search_spark.operators.incremental import changed_or_new, moved, unembedded
from mcp_vector_search_spark.operators.topk import knn_brute_force, topk_per_query
from mcp_vector_search_spark.plans.hybrid import hybrid_search
from mcp_vector_search_spark.sources.chunker import chunk_tokens

# ---------------------------------------------------------------- params

QUERY_TERMS = ["data", "query", "fast", "vector"]
KNN_QUERY_ID = 0
KNN_K = 20
BATCH_QUERIES = 8
BATCH_K = 10
EMB_DIM = 64  # testdata embeddings dimension (TESTDATA.md)
HYBRID_K = 10
MINHASH = dict(num_hashes=8, num_bands=4, shingle_n=3)
MINHASH_CAP = 200
JACCARD_T = 0.2
NEIGHBOR_WINDOW = 10
NEIGHBOR_T = 0.1
CHUNK_SIZE = 50
ALPHA = 0.7
SIMHASH_MAX_HAMMING = 20
EMB_DUP_T = 0.3
# batch-hybrid gate (VERDICT r4 #6): (query_id, terms, query vec_id) —
# BOTH the Spark gate and its oracle render from this one constant
HYBRID_BATCH_SPECS: list[tuple[int, list[str], int]] = [
    (0, QUERY_TERMS, KNN_QUERY_ID),
    (1, ["window", "merge", "sort"], 11),
    (2, ["stream", "filter", "data"], 42),
    (3, ["index", "hash", "join"], 7),
]

# ---------------------------------------------------------------- oracle SQL fragments

# Tokenizer — shared verbatim semantics with functions/text.py:tokenize.
_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')"

_DOT = (
    "list_sum(list_transform(list_zip(embedding, qv), p -> p[1]::DOUBLE * p[2]::DOUBLE))"
)
_NORMSQ = "list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))"
_NORM_E = f"sqrt({_NORMSQ})"
_NORM_Q = "sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))"
_COS = f"round({_DOT} / ({_NORM_E} * {_NORM_Q}), 6)"

_FP = f"md5(array_to_string({_TOKS}, ' '))"

# word 3-gram shingles, distinct — mirrors shingle_sets(n=3)
_SHINGLES3 = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),"
    " i -> array_to_string(toks[i:i+2], '_')))"
)
# word 3-grams, non-distinct — mirrors word_ngrams(tokens, 3)
_GRAMS3 = (
    "list_transform(range(1, greatest(len(toks) - 1, 1)),"
    " i -> array_to_string(toks[i:i+2], '_'))"
)
# word 2-grams, non-distinct — mirrors word_ngrams(tokens, 2)
_GRAMS2 = (
    "list_transform(range(1, greatest(len(toks), 1)),"
    " i -> array_to_string(toks[i:i+1], '_'))"
)
# non-empty trimmed lines — mirrors functions.text.doc_lines
_LINES = (
    "list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),"
    " x -> x != '')"
)


def _bm25_shared_over(src: str) -> str:
    """The BM25 index CTE chain over an arbitrary (doc_id, text)
    source relation — `bm25_incr` points it at the post-upsert/delete
    corpus, everything else at `documents`."""
    return f"""
toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM {src}),
postings AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY doc_id, term),
doc_stats AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM doc_stats),
dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM postings GROUP BY term),
idf_raw AS (SELECT term, ln((c.n_docs - df + 0.5) / (df + 0.5)) AS ir FROM dfreq, corpus c),
avg_idf AS (SELECT avg(ir) AS ai FROM idf_raw),
term_stats AS (SELECT term, CASE WHEN ir < 0 THEN 0.25 * ai ELSE ir END AS idf
               FROM idf_raw, avg_idf)"""


_BM25_SHARED = _bm25_shared_over("documents")


def _bm25_scored(terms: list[str], limit: int, name: str) -> str:
    """Per-query scored+top-k CTE pair over the shared BM25 index CTEs."""
    terms_in = ", ".join(f"'{t}'" for t in terms)
    return f"""
{name}_s AS (
  SELECT p.doc_id,
         sum(t.idf * p.tf * (1.5 + 1) / (p.tf + 1.5 * (1 - 0.75 + 0.75 * s.dl / c.avgdl))) AS s
  FROM postings p
  JOIN doc_stats s USING (doc_id)
  JOIN term_stats t USING (term), corpus c
  WHERE p.term IN ({terms_in})
  GROUP BY p.doc_id),
{name} AS (SELECT doc_id, round(s, 6) AS score FROM {name}_s
           ORDER BY score DESC, doc_id LIMIT {limit})"""


def _bm25_ctes(limit: int) -> str:
    """Shared index CTEs + the default-query top-N → CTE `bm`."""
    return _BM25_SHARED + "," + _bm25_scored(QUERY_TERMS, limit, "bm")


# one md5 per shingle parsed into two 40-bit halves (same family as
# functions/hashing.py:token_hash_pairs / minhash_from_pairs)
_HASH_PAIRS_SQL = (
    "list_transform(list_transform(shingles, x -> md5(x)),"
    " m -> [('0x' || substr(m, 1, 10))::BIGINT, ('0x' || substr(m, 11, 10))::BIGINT])"
)


def _minhash_sig_sql() -> str:
    nh = MINHASH["num_hashes"]
    parts = []
    for s in range(nh):
        parts.append(
            f"CASE WHEN len(hp) = 0 THEN {-(s + 1)} "
            f"ELSE list_min(list_transform(hp, p -> p[1] + {s} * p[2])) END"
        )
    return "[" + ", ".join(parts) + "]"


def _band_keys_sql() -> str:
    nb = MINHASH["num_bands"]
    rpb = MINHASH["num_hashes"] // nb
    keys = []
    for b in range(nb):
        # ':'-separated members — variable-length longs would alias
        # buckets if concatenated bare (mirrors hashing.band_keys)
        elems = " || ".join(f"':' || sig[{b * rpb + r + 1}]" for r in range(rpb))
        keys.append(f"'{b}' || {elems}")
    return "[" + ", ".join(keys) + "]"


# ---------------------------------------------------------------- spark callables


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return io.table(spark, sf_dir, "documents")


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_docs` repartitioned to the session's parallelism
    (`io.spread` — guide §2.5 input skew: a single parquet file under
    maxPartitionBytes is ONE scan partition, so per-row expression
    work runs on one core regardless of cluster size; the corpus
    fixtures here are exactly that shape, and so is any small-corpus
    ingest). Scale-adaptive by construction: the target is
    defaultParallelism, not a constant.

    Wired ONLY where an interleaved fresh-session A/B at sf0.1
    measured a win (r12 interleaved A/B; table in
    OPTIMIZATION_r12.md): expression-heavy scans (ngram folds,
    window-hashing, shingle/simhash fingerprints) win 1.3-2.7x;
    shuffle-dominated or sink-bound gates (bm25 lifecycle writes,
    scoring, lm_perplexity, ml_chunks) LOSE from the extra exchange
    and stay on the plain scan."""
    return io.spread(_docs(spark, sf_dir))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return io.table(spark, sf_dir, "embeddings")


def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == KNN_QUERY_ID)
        .select(F.col("embedding").alias("query_vec"))
    )


def _li_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.table(spark, sf_dir, "lineitem")
    return li.select(
        F.concat(F.lit("o"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(_docs(spark, sf_dir), QUERY_TERMS, KNN_K)


# bm25_incr query terms hit both original text and the upsert suffix
INCR_TERMS = ["data", "vector", "overlay", "segment"]


def _bm25_lifecycle_result(
    spark: SparkSession, sf_dir: str, **build_kwargs
) -> DataFrame:
    """Shared body of the K3 lifecycle gates: base build (doc_id%3!=0)
    → segment append of the rest → one combined upsert (%5 docs gain
    an ' incremental segment overlay' suffix) + delete (%7) batch →
    compact → query. `build_kwargs` select the index layout
    (term_buckets/doc_buckets) — score-neutral by contract, so every
    layout variant shares ONE oracle."""
    import shutil
    import tempfile

    from mcp_vector_search_spark.operators.bm25 import (
        bm25_topk_indexed,
        compact_bm25_index,
        update_bm25_index,
        write_bm25_index,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="bm25_incr_")
    try:
        idx = f"{tmp}/idx"
        write_bm25_index(docs.filter(F.col("doc_id") % 3 != 0), idx, **build_kwargs)
        # refresh_term_stats=False (r12; guide §1.2): nothing queries
        # the index between these updates, and `compact_bm25_index`
        # REBUILDS term_stats from its staged tables anyway — the two
        # intermediate idf rebuilds (each a segment-resolution join +
        # three aggregates + a swap) were computed only to be thrown
        # away. This is the operator's documented high-frequency-batch
        # knob, and the final index is bit-identical (same oracle).
        update_bm25_index(
            spark, idx, docs.filter(F.col("doc_id") % 3 == 0),
            refresh_term_stats=False,
        )
        upserts = docs.filter(
            (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 7 != 0)
        ).select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" incremental segment overlay")).alias("text"),
        )
        dels = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        update_bm25_index(
            spark, idx, upserts, deleted_ids=dels, refresh_term_stats=False,
        )
        compact_bm25_index(spark, idx)
        res = bm25_topk_indexed(spark, idx, INCR_TERMS, KNN_K)
        # materialize before the index dir is removed — the returned
        # frame must not depend on the temp files
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 incremental index lifecycle gate — the oracle scores the
    equivalent FINAL corpus from scratch, pinning the contract that
    segment appends + superseding doc_stats + compaction reproduce a
    full rebuild bit-for-bit (`operators/bm25.py:update_bm25_index`;
    reference incremental reindex, chunks_backend.py:269-551)."""
    return _bm25_lifecycle_result(spark, sf_dir)


def q_bm25_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same lifecycle over a term- AND doc-bucketed index (r6 —
    `write_bm25_index(term_buckets=8, doc_buckets=4)`): query-term
    partition pruning plus touched-bucket-only doc_stats updates must
    be invisible in the answers, so this gate shares `bm25_incr`'s
    oracle verbatim."""
    return _bm25_lifecycle_result(spark, sf_dir, term_buckets=8, doc_buckets=4)


def q_commit_dag_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 ancestry at monorepo scale: the DISTRIBUTED reflexive
    transitive closure (`sources/git_source.py:ancestry_closure`,
    pointer doubling — ⌈log2 depth⌉ shuffle rounds, no driver bitset)
    over a synthetic-but-deterministic commit DAG derived from
    doc_ids: three interleaved chains (parent = id-3) cross-linked by
    merge edges (parent = id-7 when id%5==0). The oracle is the same
    closure as an ANSI recursive CTE — reachability is exactly
    SQL-expressible, so this distributed iterative operator gets a
    full value-hash gate, not a rows-only check. (Reference ancestry
    semantics: ``knowledge_graph.py:3395-3572`` merge-base checks.)"""
    from mcp_vector_search_spark.sources.git_source import ancestry_closure

    ids = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 150)
    chain = ids.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").alias("child"), (F.col("doc_id") - 3).alias("parent")
    )
    merge = ids.filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") >= 7)).select(
        F.col("doc_id").alias("child"), (F.col("doc_id") - 7).alias("parent")
    )
    clo = ancestry_closure(chain.unionByName(merge), nodes=ids)
    return clo.select(
        F.col("node").cast("bigint").alias("commit_id"),
        F.col("ancestor").cast("bigint").alias("ancestor_id"),
    ).orderBy("commit_id", "ancestor_id")


def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_brute_force(_emb(spark, sf_dir), _query_vec(spark, sf_dir), KNN_K).select(
        "vec_id", F.col("label").cast("long").alias("label"), "cos_sim"
    )


def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return topk_per_query(emb, queries, BATCH_K).select(
        "query_id", "vec_id", "cos_sim", F.col("rn").cast("long").alias("rn")
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hybrid_search(
        _docs(spark, sf_dir),
        _emb(spark, sf_dir),
        QUERY_TERMS,
        _query_vec(spark, sf_dir),
        k=HYBRID_K,
        alpha=ALPHA,
    )


def _hybrid_batch_queries(emb: DataFrame) -> DataFrame:
    """The HYBRID_BATCH_SPECS query-vector frame — ONE definition for
    both batch gates: `hybrid_batch` and `hybrid_batch_tbl` are
    asserted row-identical against a shared oracle, so a drift between
    two copies of this construction would silently falsify that
    contract while both gates still pass their own plumbing
    (r6 review #3)."""
    vec_ids = [v for _, _, v in HYBRID_BATCH_SPECS]
    qid = None
    for q, _, v in HYBRID_BATCH_SPECS:
        qid = (
            F.when(F.col("vec_id") == v, F.lit(q))
            if qid is None
            else qid.when(F.col("vec_id") == v, F.lit(q))
        )
    return emb.filter(F.col("vec_id").isin(vec_ids)).select(
        qid.cast("long").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_hybrid_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 4-query hybrid batch through ONE DataFrame program
    (plans/hybrid.py:hybrid_search_batch — VERDICT r4 #6): per query,
    semantics identical to `hybrid_rrf` (one-shot BM25 + kNN legs,
    over-retrieve ×2, RRF α/(60+rank), per-query max-norm); the batch
    shares one stats scan and one scoring scan across every query."""
    from mcp_vector_search_spark.plans.hybrid import hybrid_search_batch

    emb = _emb(spark, sf_dir)
    qvecs = _hybrid_batch_queries(emb)
    return hybrid_search_batch(
        _docs(spark, sf_dir),
        emb,
        [(q, ts) for q, ts, _ in HYBRID_BATCH_SPECS],
        qvecs,
        k=HYBRID_K,
        alpha=ALPHA,
    ).select(
        "query_id", "doc_id", "rrf_score", F.col("rn").cast("long").alias("rn")
    )


def q_hybrid_batch_tbl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 4-query batch as `hybrid_batch`, but with the BM25
    stage TABLE-DRIVEN (plans/hybrid.py:hybrid_search_batch_indexed —
    VERDICT r5 #2): the query set joins the postings index as a
    broadcast (query_id, term) table instead of compiling per-query
    score expressions into the scan, so |Q| scales to thousands.
    Shares `hybrid_batch`'s oracle — the two paths are row-identical
    by contract (pinned in tests/test_topk_fusion.py too)."""
    from mcp_vector_search_spark.operators.bm25 import (
        build_postings,
        build_term_stats,
        doc_stats_from_postings,
    )
    from mcp_vector_search_spark.plans.hybrid import hybrid_search_batch_indexed

    emb = _emb(spark, sf_dir)
    qvecs = _hybrid_batch_queries(emb)
    postings = build_postings(_docs(spark, sf_dir))
    doc_stats = doc_stats_from_postings(postings)
    term_stats = build_term_stats(postings, doc_stats)
    return hybrid_search_batch_indexed(
        postings,
        doc_stats,
        term_stats,
        emb,
        [(q, ts) for q, ts, _ in HYBRID_BATCH_SPECS],
        qvecs,
        k=HYBRID_K,
        alpha=ALPHA,
    ).select(
        "query_id", "doc_id", "rrf_score", F.col("rn").cast("long").alias("rn")
    )


def q_hybrid_batch_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 4-query batch with BOTH legs served from index
    artifacts (plans/hybrid.py:hybrid_search_batch_ann — r6): the
    table-driven postings join for BM25 plus the packed-IVF block
    layout for vectors, built here on the deterministic first-16
    centroids the codec gates share. Every cluster is probed
    (nprobes=None), so the packed scan is exact brute force and the
    gate shares `hybrid_batch`'s oracle — proving the
    serving-from-artifacts plumbing changes no answer row; the
    probe-pruned approximation is gated separately (`ivf_packed`,
    `ann_recall`)."""
    from mcp_vector_search_spark.operators.bm25 import (
        build_postings,
        build_term_stats,
        doc_stats_from_postings,
    )
    from mcp_vector_search_spark.operators.ivf import ivf_pack
    from mcp_vector_search_spark.plans.hybrid import hybrid_search_batch_ann

    emb = _emb(spark, sf_dir)
    qvecs = _hybrid_batch_queries(emb)
    postings = build_postings(_docs(spark, sf_dir))
    doc_stats = doc_stats_from_postings(postings)
    term_stats = build_term_stats(postings, doc_stats)
    # keep the RAW embedding (not the SQL-normalized unit): ivf_pack
    # then np-normalizes exactly like the brute kernel the oracle's
    # vector leg uses, so cos_sim is bit-identical — a SQL-normalized
    # pack could drift a ulp and flip a round-6 value under the hash
    _, cents, assigned = _fixed_centroid_assignment(emb, keep=("embedding",))
    return hybrid_search_batch_ann(
        postings,
        doc_stats,
        term_stats,
        ivf_pack(assigned),
        cents.select("cluster_id", F.col("cu").alias("centroid")),
        [(q, ts) for q, ts, _ in HYBRID_BATCH_SPECS],
        qvecs,
        k=HYBRID_K,
        alpha=ALPHA,
    ).select(
        "query_id", "doc_id", "rrf_score", F.col("rn").cast("long").alias("rn")
    )


def q_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_docs(spark, sf_dir))


# Gate-local caches (shingle frames shared by signature+verify) are
# consumed by the RETURNED lazy plan, so they can't unpersist inside
# the gate. Rolling release: each registration frees the previous
# frame, bounding a long session (verify_local runs all 80 gates in
# one session) to ONE live gate cache instead of one per invocation.
_GATE_CACHE: list[DataFrame] = []


def _rolling_cache(df: DataFrame) -> DataFrame:
    while _GATE_CACHE:
        _GATE_CACHE.pop().unpersist()
    df = df.cache()
    _GATE_CACHE.append(df)
    return df


def q_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mcp_vector_search_spark.operators.dedup import shingle_index

    # spread (r12): the cache FILL — tokenize + md5 + xxhash64 per
    # shingle — otherwise runs on the single scan partition of the
    # one-file corpus fixture; measured 3.41 -> 2.39 s same-session A/B
    docs = _docs_spread(spark, sf_dir)
    # ONE shingle+md5 computation shared by signature and verify, in
    # the compact hash-pair form (the cache holds longs, not strings)
    hp = _rolling_cache(shingle_index(docs, MINHASH["shingle_n"]))
    cand = minhash_candidates(docs, max_bucket_size=MINHASH_CAP, shingles=hp, **MINHASH)
    return jaccard_verify(cand, hp, threshold=JACCARD_T)


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline TAIL: exact-dup star edges ∪ MinHash-LSH
    verified near-dup pairs → connected components (min-label
    propagation, operators/components.py) → one canonical keeper per
    duplicate CLUSTER. The transitive closure is what lets a pipeline
    drop N−1 of every N-way duplicate set even when only chained
    pairs (A~B, B~C) were detected; oracle replays it with a
    recursive CTE."""
    from mcp_vector_search_spark.operators.components import dup_clusters
    from mcp_vector_search_spark.operators.dedup import shingle_index

    # spread for the same reason as q_minhash_jaccard (r12): the
    # shingle cache fill and the fingerprint pass are expression-heavy
    # scans of the single-file corpus fixture
    docs = _docs_spread(spark, sf_dir)
    hp = _rolling_cache(shingle_index(docs, MINHASH["shingle_n"]))
    cand = minhash_candidates(docs, max_bucket_size=MINHASH_CAP, shingles=hp, **MINHASH)
    mh = jaccard_verify(cand, hp, threshold=JACCARD_T).select("doc_a", "doc_b")
    fp = docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))
    groups = (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("c"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("c") > 1)
    )
    ex = (
        fp.join(groups, "fingerprint")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select(F.col("keep_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return dup_clusters(mh.unionByName(ex))


def q_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neighbor_jaccard(
        _docs_spread(spark, sf_dir), window=NEIGHBOR_WINDOW, threshold=NEIGHBOR_T
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mcp_vector_search_spark.operators.dedup import simhash_fingerprints

    return simhash_fingerprints(_docs_spread(spark, sf_dir))


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mcp_vector_search_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(
        _docs_spread(spark, sf_dir), max_hamming=SIMHASH_MAX_HAMMING
    ).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mcp_vector_search_spark.operators.dedup import embedding_near_dups

    return embedding_near_dups(
        _emb(spark, sf_dir),
        window=NEIGHBOR_WINDOW,
        threshold=EMB_DUP_T,
        method="window",
    )


def _fixed_centroid_assignment(emb: DataFrame, keep: tuple = ()):
    """The deterministic first-`IVF_FIXED_CENTS`-centroid assignment —
    ONE pinned mechanism for every fixed-centroid gate (`ivf_fixed`,
    `ivf_packed`, `embedding_near_dups_clustered`, `_multiprobe`):
    unit-normalize (norm staged in its own projection, never inside
    the transform lambda — that re-evaluates it per element), take the
    first 16 unit vectors as centroids, assign each vector to its
    max-cosine centroid at round-9 with ties to the lower centroid id.
    Returns (eu, cents, assigned); `keep` lists extra eu columns (str
    or aliased Column) to carry in `assigned` beside
    (vec_id, cluster_id). Inlined copies of this block drifted across
    four gates — a tweak to one would silently desynchronize it from
    the shared oracle SQL while still passing its own plumbing
    (r6 review #3)."""
    from pyspark.sql.window import Window as W

    from mcp_vector_search_spark.functions.vectors import dot as _dot
    from mcp_vector_search_spark.functions.vectors import l2_norm, unit_expr

    eu = emb.withColumn("_nrm", l2_norm(F.col("embedding"))).select(
        "vec_id",
        "embedding",
        unit_expr(F.col("embedding"), F.col("_nrm")).alias("u"),
    )
    cents = eu.filter(F.col("vec_id") < IVF_FIXED_CENTS).select(
        F.col("vec_id").cast("int").alias("cluster_id"), F.col("u").alias("cu")
    )
    aw = W.partitionBy("vec_id").orderBy(F.desc("_cs"), F.asc("cluster_id"))
    assigned = (
        eu.join(F.broadcast(cents))
        .withColumn("_cs", F.round(_dot(F.col("u"), F.col("cu")), 9))
        .withColumn("_rn", F.row_number().over(aw))
        .filter(F.col("_rn") == 1)
        .select("vec_id", *keep, "cluster_id")
    )
    return eu, cents, assigned


def q_embedding_near_dups_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 scale path: embedding near-dup pairs blocked on IVF
    cluster_id — the default dispatch when a layout exists (VERDICT r3
    #3/#5). Deterministic first-16 centroids (the same mechanism
    pinning as `ivf_fixed`) make the assignment + intra-cluster pair
    join + cosine threshold fully hash-checkable in SQL."""
    from mcp_vector_search_spark.operators.dedup import embedding_near_dups

    emb = _emb(spark, sf_dir)
    _, _, assigned = _fixed_centroid_assignment(emb, keep=("embedding",))
    return embedding_near_dups(emb, threshold=EMB_DUP_T, assigned=assigned)


def q_embedding_near_dups_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 boundary recovery: top-2 multi-probe cluster blocking —
    pairs straddling a single-probe cluster boundary share their
    2nd-nearest cluster. Deterministic first-16 UNIT-vector centroids
    so assignment ranks, pair dedup, and the cosine threshold all
    hash-check in SQL."""
    from mcp_vector_search_spark.operators.dedup import (
        embedding_near_dups_multiprobe,
    )

    emb = _emb(spark, sf_dir)
    _, cents, _ = _fixed_centroid_assignment(emb)
    return embedding_near_dups_multiprobe(
        emb,
        cents.select("cluster_id", F.col("cu").alias("centroid")),
        threshold=EMB_DUP_T,
        nprobe=2,
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text metrics (S4/F1/LLM-pipeline) + the F15 quality score + the
    Gopher repetition/quality filter signals (Rae et al. 2021 Table
    A1) in one gate — the single-scan frame is now the package
    operator `analytics.text_quality_frame` (r9: `curate_corpus`'s
    quality_filter stage drops on the SAME definition, so the gate
    and the pipeline cannot drift); this gate scores it against the
    SQL replay unchanged."""
    from mcp_vector_search_spark.operators.analytics import text_quality_frame

    return text_quality_frame(_docs_spread(spark, sf_dir))


def q_ngram_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs_spread(spark, sf_dir)
        .select(F.explode(word_ngrams(tokenize("text"), 3)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(50)
    )


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_distribution(_docs(spark, sf_dir))


def q_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_rollup(_docs(spark, sf_dir)).withColumn(
        "health", F.col("health").cast("long")
    )


def q_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hotspots(_docs(spark, sf_dir), n=5).withColumn(
        "hotspot_rank", F.col("hotspot_rank").cast("long")
    )


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_tokens(_docs(spark, sf_dir), CHUNK_SIZE).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_rollup(io.table(spark, sf_dir, "events"))


def q_events_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lag_delta(io.table(spark, sf_dir, "events"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(io.table(spark, sf_dir, "events"))


def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", doc_fingerprint("text").alias("fingerprint")
    )


def q_changed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _fingerprints(spark, sf_dir)
    indexed = fp.filter(F.col("doc_id") % 5 != 0)
    return changed_or_new(fp, indexed)


def q_unembedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id")
    present = _emb(spark, sf_dir).filter(F.col("vec_id") % 3 == 0)
    return unembedded(docs, present)


def q_moved_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _fingerprints(spark, sf_dir)
    new_docs = fp.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "fingerprint"
    )
    return moved(new_docs, fp).select(
        "old_id", F.col("new_id").cast("long").alias("new_id"), "fingerprint"
    )


def q_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+J7+J8 in one gate: the three incremental anti-joins
    (changed-or-new, unembedded, file-move) label-normalized into one
    result — each operator's rows stay individually hash-checked
    through the `kind` discriminator."""
    changed = q_changed_docs(spark, sf_dir).select(
        F.lit("changed").alias("kind"),
        F.col("doc_id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        "fingerprint",
    )
    unemb = q_unembedded(spark, sf_dir).select(
        F.lit("unembedded").alias("kind"),
        F.col("doc_id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.lit(None).cast("string").alias("fingerprint"),
    )
    mv = q_moved_docs(spark, sf_dir).select(
        F.lit("moved").alias("kind"),
        F.col("old_id").alias("id_a"),
        F.col("new_id").alias("id_b"),
        "fingerprint",
    )
    return changed.unionByName(unemb).unionByName(mv)


def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    return instability(_li_edges(spark, sf_dir))


def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _li_edges(spark, sf_dir)
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    li = io.table(spark, sf_dir, "lineitem")
    start = li.agg(F.concat(F.lit("o"), F.min("l_orderkey")).alias("id"))
    return bfs_min_hops(edges, start, max_hops=3).select(
        "id", F.col("hop").cast("long").alias("hop")
    )


def q_call_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.table(spark, sf_dir, "lineitem")
    node = "p" + str(li.agg(F.min("l_partkey")).first()[0])
    return call_graph(_li_edges(spark, sf_dir), node)


IVF_FIXED_CENTS = 16
IVF_FIXED_PROBES = 4


def q_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF *mechanism* with deterministic centroids (the first 16
    vectors), fully oracle-checked: centroid assignment (max cosine,
    round-9, tie → lower centroid id), per-query probe ranking, the
    cluster-pruned candidate join, and the exact rerank are exactly
    `ivf_topk_batch`'s stages. Only the MLlib KMeans *fit* (an
    external solver, not our operator logic) stays outside SQL — the
    real index keeps its rows-only + recall gate."""
    from pyspark.sql.window import Window as W

    from mcp_vector_search_spark.functions.vectors import dot as _dot

    emb = _emb(spark, sf_dir)
    eu, cents, assigned = _fixed_centroid_assignment(emb, keep=("u",))
    queries = eu.filter(F.col("vec_id") < BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("uq")
    )
    pw = W.partitionBy("query_id").orderBy(F.desc("_qs"), F.asc("cluster_id"))
    probes = (
        queries.join(F.broadcast(cents))
        .withColumn("_qs", F.round(_dot(F.col("uq"), F.col("cu")), 9))
        .withColumn("_pr", F.row_number().over(pw))
        .filter(F.col("_pr") <= IVF_FIXED_PROBES)
        .select("query_id", "cluster_id", "uq")
    )
    cand_sim = F.round(_dot(F.col("u"), F.col("uq")), 6)
    rw = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        assigned.join(probes, "cluster_id")
        .withColumn("cos_sim", cand_sim)
        .withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") <= BATCH_K)
        .select("query_id", "vec_id", "cos_sim", F.col("rn").cast("long").alias("rn"))
    )


def q_ivf_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-block IVF serving layout (operators/ivf.py:ivf_pack +
    ivf_topk_batch_packed — VERDICT r4 #1), hash-gated end-to-end with
    the same deterministic first-16 centroids as `ivf_fixed`: the
    assignment window, probe ranking, and round-6 rerank are the same
    contract, so the SAME oracle SQL gates both — proving the layout
    change (per-cluster binary blocks instead of per-row Arrow cells)
    does not change a single answer row. The pack receives the
    SQL-normalized unit vectors, so the packed matrix is bit-identical
    to the `ivf_fixed` candidate side."""
    from mcp_vector_search_spark.operators.ivf import (
        ivf_pack,
        ivf_topk_batch_packed,
    )

    emb = _emb(spark, sf_dir)
    eu, cents, assigned = _fixed_centroid_assignment(
        emb, keep=(F.col("u").alias("unit"),)
    )
    packed = ivf_pack(assigned)
    centroids = cents.select("cluster_id", F.col("cu").alias("centroid"))
    queries = eu.filter(F.col("vec_id") < BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("query_vec")
    )
    return ivf_topk_batch_packed(
        packed, centroids, queries, BATCH_K, nprobes=IVF_FIXED_PROBES
    ).select("query_id", "vec_id", "cos_sim", F.col("rn").cast("long").alias("rn"))


def _layout_equal_row(codec, staged, fused, keys, payload_cols, serve):
    """(codec, has_blocks, blocks_equal, serve_equal) for one fused
    codec: full-outer join on the block keys, any payload inequality
    (or a one-sided block) is a mismatch; `serve` maps a layout frame
    → result frame for the serving-parity leg.

    r12 action-count cut (guide §1.2, §7.2): block mismatch + block
    count fold into ONE aggregate over the join (the staged-side
    presence indicator counts staged rows — the emitted booleans are
    unchanged even if a side ever carried duplicate keys), and the two
    exceptAll counts fold into ONE symmetric multiset difference (±1
    weights summed per distinct result row: all-zero iff the multisets
    match, the exact truth exceptAll×2 asserted). Each serve pipeline
    now executes exactly once inside one job — whose two sides are
    independent stages Spark runs concurrently — so the serve caches
    (r7) are obsolete: nothing consumes a side twice."""
    j = staged.withColumn("_pa", F.lit(1)).alias("a").join(
        fused.alias("b"), keys, "full_outer"
    )
    neq = F.col(f"a.{payload_cols[0]}").isNull() | F.col(
        f"b.{payload_cols[0]}"
    ).isNull()
    for c in payload_cols:
        neq = neq | (F.col(f"a.{c}") != F.col(f"b.{c}"))
    blocks = j.agg(
        F.count(F.when(neq, True)).alias("n_mismatch"),
        F.count("a._pa").alias("n_blocks"),
    ).collect()[0]
    a, b = serve(staged), serve(fused)
    serve_mismatch = (
        a.withColumn("_w", F.lit(1))
        .unionByName(b.withColumn("_w", F.lit(-1)))
        .groupBy(*a.columns)
        .agg(F.sum("_w").alias("_d"))
        .filter(F.col("_d") != 0)
        .count()
    )
    return (
        codec,
        bool(blocks["n_blocks"] > 0),
        bool(blocks["n_mismatch"] == 0),
        bool(serve_mismatch == 0),
    )


@contextmanager
def _cached(*frames: DataFrame):
    """Cache `frames` for the block and unpersist them on every exit,
    an exception included, so a failing gate leaves nothing cached."""
    frames = tuple(f.cache() for f in frames)
    try:
        yield frames
    finally:
        for f in frames:
            f.unpersist()


def _fused_family_rows(spark, sf_dir, codecs):
    """Equality rows for the requested fused codecs — the shared body
    of `q_ivf_fused` (in-window: "ivf" only) and `q_fused_family`
    (past-window: "ivfpq" + "sq"). One definition of the legs so a
    codec comparison change lands exactly once; split across two gates
    because the whole-family gate cost ~24 s of the driver's 50-gate
    window budget (VERDICT r7 #3) while each codec's equality claim is
    independent."""
    from mcp_vector_search_spark.operators.ivf import (
        ivf_build_sampled,
        ivf_pack,
        ivf_pack_fused,
        ivf_topk_batch_packed,
    )
    from mcp_vector_search_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_pack,
        ivfpq_pack_fused,
        ivfpq_topk_packed,
    )
    from mcp_vector_search_spark.operators.sq import (
        sq_encode,
        sq_pack,
        sq_pack_fused,
        sq_topk_packed,
        sq_train,
    )

    # cached for the gate's lifetime (r13, VERDICT r12 #5a; guide §5):
    # the quantizer fits, both pack builds per codec, and the sq train
    # each re-executed the parquet-scan+project lineage — ~10 actions
    # over the same tiny frame. Every row is fully computed (collected)
    # before this function returns, so releasing the caches is safe.
    # Warm best-of-3 A/B at sf0.1: 12.29 → 11.93 s (clean canaries);
    # the remaining ~12 s is the gate's documented floor — 2 pack
    # builds per codec + 2 comparison actions per codec + 3 driver
    # sample-fit collects, phase-timed in OPTIMIZATION_r13.md.
    with _cached(_emb(spark, sf_dir)) as (emb,):
        # pinned once (r12): every serve-parity leg collects
        # the query block driver-side for its LUT/GEMM prep, so an
        # unmaterialized lineage re-scans the vector table per leg
        queries = emb.filter(F.col("vec_id") % 37 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        ).transform(io.checkpoint)
        # caches: each codec's comparison runs 2 actions (merged block
        # aggregate, symmetric serve difference) — without them the
        # second action would re-execute the sample fit + corpus pack
        # end to end (r7 review; r12 cut the action count from ~5).
        # `_cached` releases every one on any exit, raise included.

        def _coarse_rows():
            """ivf and/or ivfpq legs — they share the coarse quantizer."""
            if "ivf" not in codecs and "ivfpq" not in codecs:
                return []
            out = []
            assigned, cents = ivf_build_sampled(emb, num_clusters=16)
            with _cached(assigned) as (assigned,):
                if "ivf" in codecs:
                    with _cached(ivf_pack(assigned), ivf_pack_fused(emb, cents)) as (two, fused):
                        out.append(_layout_equal_row(
                            "ivf", two, fused, ["cluster_id", "block_id"],
                            ["n", "dtype", "vec_ids", "mat"],
                            lambda p: ivf_topk_batch_packed(
                                p, cents, queries, BATCH_K, nprobes=4
                            ),
                        ))
                if "ivfpq" in codecs:
                    enc, _, cbs = ivfpq_build(
                        emb, m=16, k_codes=64, coarse=(assigned, cents)
                    )
                    with _cached(ivfpq_pack(enc), ivfpq_pack_fused(emb, cents, cbs)) as (
                        pq_two, pq_fused,
                    ):
                        out.append(_layout_equal_row(
                            "ivfpq", pq_two, pq_fused, ["cluster_id", "block_id"],
                            ["n", "dtype", "vec_ids", "codes"],
                            lambda p: ivfpq_topk_packed(
                                p, cents, cbs, queries, BATCH_K, nprobes=4
                            ),
                        ))
            return out

        def _sq_rows():
            if "sq" not in codecs:
                return []
            bounds = sq_train(emb)
            bounds = spark.createDataFrame(bounds.collect(), bounds.schema)
            with _cached(sq_pack(sq_encode(emb, bounds)), sq_pack_fused(emb, bounds)) as (
                sq_two, sq_fused_df,
            ):
                return [_layout_equal_row(
                    "sq", sq_two, sq_fused_df, ["bucket", "block_id"],
                    ["n", "vec_ids", "codes"],
                    lambda p: sq_topk_packed(p, bounds, queries, BATCH_K),
                )]

        if "sq" in codecs and ("ivf" in codecs or "ivfpq" in codecs):
            # the sq family is independent of the coarse-quantizer
            # family: overlap the two chains of blocking driver actions
            # so the sq leg back-fills executors idled by the other
            # leg's driver-side steps. Row order stays
            # deterministic — results are assembled [coarse..., sq]
            # regardless of finish order.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                f_coarse = pool.submit(_coarse_rows)
                f_sq = pool.submit(_sq_rows)
                rows = f_coarse.result() + f_sq.result()
        else:
            rows = _coarse_rows() + _sq_rows()

    return spark.createDataFrame(
        rows,
        "codec string, has_blocks boolean, blocks_equal boolean, "
        "serve_equal boolean",
    )


def q_ivf_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7 fused one-pass build gate, r8-split to the float-IVF codec
    only (~1/3 the window cost; the ivfpq/sq legs moved past the
    driver window into `q_fused_family` — VERDICT r7 #3): asserts
    IN-ENGINE that the fused map-side pack (normalize + assign +
    partial-pack in one corpus scan, only block blobs crossing the
    shuffle) produces the EXACT blocks (byte-for-byte) and the exact
    serving rows of the staged `ivf_pack(ivf_assign(...))` path it
    replaces. Score-neutral-layout gating pattern (like
    bm25_incr_bucketed); self-oracled like ann_recall because the
    claim is equality of in-engine artifacts, not reproducible values
    (the shared numpy assignment is not SQL-replayable)."""
    return _fused_family_rows(spark, sf_dir, ("ivf",))


def q_fused_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other two fused codecs, equality-gated past the driver
    window (verify_local scores every registry key each round):
    `ivfpq_pack_fused` vs `ivfpq_pack(encode)` (sampled coarse — the
    assignment-kernel contract) and `sq_pack_fused` vs
    `sq_pack(sq_encode(...))`. Same claim and comparison body as
    `q_ivf_fused` (shared `_fused_family_rows`)."""
    return _fused_family_rows(spark, sf_dir, ("ivfpq", "sq"))


IVF_RECALL_FLOOR = 0.975  # reference recall@10 band floor (97.5-100%)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans-IVF ANN, self-oracled: the KMeans quantizer is an
    external solver DuckDB can't replay, so this gate compares the IVF
    result against the exact brute-force top-k INSIDE Spark and emits
    the agreement as a deterministic row the oracle asserts —
    `recall_ok` flips false (hash mismatch → red row) if recall@k ever
    drops below the reference's published band floor. The IVF
    *mechanism* (assign → probe → pruned join → rerank) is separately
    hash-gated end-to-end by `ivf_fixed`.

    Probe ratio note: at this 500-vector test scale, clusters hold
    ~31 vectors each and true neighbors spread across them, so
    clearing the 0.975 band needs 15/16 probes (fixed KMeans seed →
    deterministic). At real scale the ratio drops (bench measures
    recall ≥ band at 128K vectors with 20/128 probes)."""
    from concurrent.futures import ThreadPoolExecutor

    from mcp_vector_search_spark.operators.ivf import ivf_build, ivf_topk_batch

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    # _recall_row references brute twice (hits join + totals), so the
    # full brute top-k lineage executed twice per action — same
    # defect q_ann_recall fixed in r8; ≤ |Q|·k slim rows (r12;
    # guide §7.2). The brute checkpoint and the MLlib KMeans fit are
    # independent blocking chains — phase-timed ~2 s and ~5-6 s of the
    # gate; overlapped with driver threads like q_ann_recall (r12;
    # guide §2.6). Deterministic: both results are exactly what the
    # sequential form computed.
    def _brute():
        return (
            topk_per_query(emb, queries, BATCH_K)
            .select("query_id", "vec_id")
            .transform(io.checkpoint)
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_brute = pool.submit(_brute)
        assigned, centroids = ivf_build(emb, num_clusters=16)
        brute = f_brute.result()

    ivf = ivf_topk_batch(assigned, centroids, queries, BATCH_K, nprobes=15).select(
        "query_id", "vec_id"
    )
    return _recall_row(ivf, brute, IVF_RECALL_FLOOR)


PQ_FIXED_M = 4  # subspaces (dim 64 → dsub 16)
PQ_FIXED_CODES = 16  # codebook entries per subspace
PQ_RECALL_FLOOR = 0.975  # same band floor as IVF (reference CHANGELOG.md:429-432)
PQ_GATE_M = 16
PQ_GATE_CODES = 64
# Reference refine_factor default is 5 (vectors_backend.py:1336); the
# gate uses 12 — on this synthetic weakly-clustered corpus the PQ codec
# floor sits right at the recall band edge at refine 5, and the wider
# exact-rerank shortlist is the principled recovery (refine_factor is
# the reference's own knob for exactly this).
PQ_GATE_RERANK = 12
# ADVICE r3: ALSO gate the codec at the reference's own refine=5, with
# an honestly lowered floor instead of hiding the shortfall behind the
# wider window. Measured recall@10 at refine 5: 1.0 at sf0.01, 0.925
# at sf0.1 (vs 0.975 at refine 12) — the deficit is the PQ codebook's
# quality on this weakly-clustered synthetic corpus, tracked in
# ISSUES.md #1, not a rerank-width problem.
PQ_REF5_RERANK = 5
PQ_REF5_FLOOR = 0.92


def q_pq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ *mechanism* (operators/pq.py) with deterministic
    codebooks — subvector slices of the first 16 unit vectors — so
    every stage is SQL-replayable and hash-checked: per-subspace
    round-9 L2 encoding (ties → lower code), the per-query ADC lookup
    table of round-9 partial inner products, the gather-sum ADC score
    (round 6), and the per-query rank window. Runs the REAL
    `pq_encode` + `pq_adc_topk` Arrow kernels with the fixed codebook
    DataFrame injected; only the Lloyd's fit (`pq_train`, an external
    solver) stays outside SQL — the trained index keeps its recall
    gate in `ann_recall`."""
    from mcp_vector_search_spark.functions.vectors import l2_norm, unit_expr
    from mcp_vector_search_spark.operators.pq import pq_adc_topk, pq_encode

    emb = _emb(spark, sf_dir)
    dsub = EMB_DIM // PQ_FIXED_M
    eu = (
        emb.withColumn("_nrm", l2_norm(F.col("embedding")))
        .select("vec_id", unit_expr(F.col("embedding"), F.col("_nrm")).alias("u"))
    )
    subs = spark.range(PQ_FIXED_M).select(F.col("id").cast("int").alias("sub_idx"))
    codebooks = (
        eu.filter(F.col("vec_id") < PQ_FIXED_CODES)
        .crossJoin(F.broadcast(subs))
        .select(
            "sub_idx",
            F.col("vec_id").cast("int").alias("code"),
            F.slice(F.col("u"), F.col("sub_idx") * dsub + 1, dsub).alias("centroid"),
        )
    )
    codes = pq_encode(emb, codebooks)
    queries = emb.filter(F.col("vec_id") < BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq_adc_topk(codes, codebooks, queries, BATCH_K)
    return out.select(
        "query_id", "vec_id", "adc_score", F.col("rn").cast("long").alias("rn")
    )


def q_sq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own codec — IVF_**SQ** scalar quantization
    (``vectors_backend.py:1264-1341``) — hash-checked END-TO-END:
    unlike the KMeans paths, the SQ fit itself (per-dim min/max over
    unit vectors) is SQL-expressible, so train → encode → decode →
    score → rank all replay in DuckDB. Runs the real `sq_train` +
    `sq_encode` + `sq_topk` distributed kernels (operators/sq.py)."""
    from mcp_vector_search_spark.operators.sq import sq_encode, sq_topk, sq_train

    emb = _emb(spark, sf_dir)
    bounds = sq_train(emb)
    # literal-ized once (r12; guide §1.2): BOTH sq_encode and sq_topk
    # collect the bounds for their kernels' numpy prep, and the lazy
    # bounds lineage (interpreted HigherOrderFunction normalization +
    # posexplode over the full corpus) re-executed per collect — the
    # same pin _fused_family_rows already used. Values unchanged.
    bounds = spark.createDataFrame(bounds.collect(), bounds.schema)
    codes = sq_encode(emb, bounds)
    queries = emb.filter(F.col("vec_id") < BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sq_topk(codes, bounds, queries, BATCH_K)
    return out.select(
        "query_id", "vec_id", "sq_score", F.col("rn").cast("long").alias("rn")
    )


def _recall_row(
    approx: DataFrame, brute: DataFrame, floor: float, tag: str | None = None
) -> DataFrame:
    """1-row ([path,] n_queries, n_results, recall_ok) agreement
    summary of an ANN result against the exact brute-force top-k —
    recall_ok flips false (hash mismatch → red row) if recall@k drops
    below the reference band floor. `tag=None` omits the path column
    (the single-path q_ivf_topk shape)."""
    hits = approx.join(brute, ["query_id", "vec_id"]).agg(
        F.count("*").alias("n_hits")
    )
    totals = brute.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count("*").alias("n_results"),
    )
    cols = [] if tag is None else [F.lit(tag).alias("path")]
    return totals.crossJoin(hits).select(
        *cols,
        F.col("n_queries").cast("long").alias("n_queries"),
        F.col("n_results").cast("long").alias("n_results"),
        (
            F.col("n_hits") >= F.ceil(F.lit(floor) * F.col("n_results"))
        ).alias("recall_ok"),
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-oracled recall gate for BOTH trained ANN paths — the
    quantizer fits (MLlib KMeans, numpy Lloyd's) are external solvers
    DuckDB can't replay, so each path is compared against the exact
    brute-force top-k INSIDE Spark and summarized as a deterministic
    row the oracle asserts:

    - `ivf`: KMeans-IVF probe path (`ivf_topk_batch`, nprobes=15/16 at
      this 500-vector scale — see the probe-ratio note in the r2
      registry history; bench measures 20/128 at 128K vectors);
    - `pq`: product-quantization ADC shortlist → exact rerank
      (`pq_topk_refined`, refine ×5 like the reference);
    - `ivfpq`: the combined IVFADC layout (`ivfpq_topk_refined`,
      operators/ivfpq.py — coarse probe → residual-PQ ADC scan →
      exact rerank), same probe count as the ivf row and the same
      refine ×5.

    The *mechanisms* are separately hash-gated end-to-end by
    `ivf_fixed` and `pq_fixed`."""
    from mcp_vector_search_spark.operators.ivf import ivf_build, ivf_topk_batch
    from mcp_vector_search_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_topk_refined,
    )
    from mcp_vector_search_spark.operators.pq import (
        pq_encode,
        pq_topk_refined,
        pq_train,
    )

    emb = _emb(spark, sf_dir)
    # pinned once (r12; guide §7.2): the brute kernel, both refined
    # paths and the probe join each collect/scan the query block —
    # ~6 re-scans of the vector table without this
    queries = emb.filter(F.col("vec_id") < BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).transform(io.checkpoint)

    # Three independent blocking materializations — the brute top-k
    # checkpoint (r8: the 4-path union references brute in every
    # branch's join AND totals), the KMeans fit + assignment scan
    # checkpoint (r12: feeds BOTH the ivf branch and ivfpq_build's
    # coarse reuse), and the PQ fit + encode checkpoint (shared by the
    # pq AND pq5 branches — one encode pass, not four). Sequentially
    # each leaves the cluster mostly idle during the others' driver
    # steps; overlap them (r12; guide §2.6).
    from concurrent.futures import ThreadPoolExecutor

    def _brute():
        return (
            topk_per_query(emb, queries, BATCH_K)
            .select("query_id", "vec_id")
            .transform(io.checkpoint)
        )

    def _coarse():
        a, c = ivf_build(emb, num_clusters=16)
        return a.transform(io.checkpoint), c

    def _pq():
        cb = pq_train(emb, m=PQ_GATE_M, k=PQ_GATE_CODES)
        return pq_encode(emb, cb).transform(io.checkpoint), cb

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_brute, f_coarse, f_pq = (
            pool.submit(_brute), pool.submit(_coarse), pool.submit(_pq)
        )
        brute = f_brute.result()
        assigned, centroids = f_coarse.result()
        codes, codebooks = f_pq.result()

    ivf = ivf_topk_batch(assigned, centroids, queries, BATCH_K, nprobes=15).select(
        "query_id", "vec_id"
    )
    pq = pq_topk_refined(
        emb, codes, codebooks, queries, BATCH_K, rerank_factor=PQ_GATE_RERANK
    ).select("query_id", "vec_id")
    # the codec at the REFERENCE's refine_factor=5, gated against its
    # own (honestly lowered) floor — see PQ_REF5_FLOOR note / ISSUES.md
    pq5 = pq_topk_refined(
        emb, codes, codebooks, queries, BATCH_K, rerank_factor=PQ_REF5_RERANK
    ).select("query_id", "vec_id")

    # share the coarse quantizer with the ivf row (r8): ivfpq_build
    # would otherwise refit an IDENTICAL MLlib KMeans (same corpus,
    # same k, same seed → same deterministic model) — one fewer fit,
    # bit-identical rows
    encoded, ip_cents, ip_cbs = ivfpq_build(
        emb, num_clusters=16, m=PQ_GATE_M, k_codes=PQ_GATE_CODES,
        coarse=(assigned, centroids),
    )
    ivfpq = ivfpq_topk_refined(
        emb,
        encoded,
        ip_cents,
        ip_cbs,
        queries,
        BATCH_K,
        nprobes=15,
        rerank_factor=PQ_GATE_RERANK,
    ).select("query_id", "vec_id")

    return (
        _recall_row(ivf, brute, IVF_RECALL_FLOOR, "ivf")
        .unionByName(_recall_row(ivfpq, brute, PQ_RECALL_FLOOR, "ivfpq"))
        .unionByName(_recall_row(pq, brute, PQ_RECALL_FLOOR, "pq"))
        .unionByName(_recall_row(pq5, brute, PQ_REF5_FLOOR, "pq_ref5"))
    )


def q_knn_batch_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized batch top-k — same semantics (and same oracle)
    as `knn_batch`; the numpy-matmul physical strategy."""
    from mcp_vector_search_spark.operators.topk import topk_per_query_np

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return topk_per_query_np(emb, queries, BATCH_K).select(
        "query_id", "vec_id", "cos_sim", F.col("rn").cast("long").alias("rn")
    )


EXPAND_QUERY = "stream query data"


def q_bm25_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/J5/U1: synonym-expanded variant fanout → per-variant BM25 →
    union → max-score merge → top-k (reference ``search.py:297-349``)."""
    from mcp_vector_search_spark.functions.query import expand_query
    from mcp_vector_search_spark.operators.bm25 import bm25_oneshot_stats
    from mcp_vector_search_spark.operators.fusion import max_score_merge

    docs = _docs(spark, sf_dir)
    variants = expand_query(EXPAND_QUERY)
    # corpus stats + idf for the UNION of variant terms: ONE build
    # shared by every leg (the per-leg scoring plans stay shuffle-free)
    # — and ONE tokenize pass for stats + every leg's scoring scan
    # (r12; guide §1.2): the materialized (doc_id, toks, _dl) frame is
    # the `Bm25ServingStats.tokenized` contract both consumers accept
    tok = (
        docs.select("doc_id", tokenize("text").alias("toks"))
        .withColumn("_dl", F.size("toks").cast("double"))
        .transform(io.checkpoint)
    )
    stats = bm25_oneshot_stats(
        docs, [t for v in variants for t in v.split()], tokenized=tok
    )
    # ONE scoring scan for every variant (r13, VERDICT r12 #4 applied
    # to the BM25-only fanout too; guide §1.2): the per-variant
    # `bm25_topk` legs each re-scanned the checkpointed tokenized
    # frame. Variants run as integer-id queries through the batch
    # pipeline's expression-compiled stage — per variant the rows with
    # `_rank_b ≤ k` are EXACTLY `bm25_topk`'s top-k (same round-6
    # score, same matched>0 filter, same doc_id tiebreak; old-vs-new
    # exceptAll = 0 both ways at sf0.001/0.01/0.1).
    from mcp_vector_search_spark.plans.hybrid import expr_bm_leg

    vids = spark.createDataFrame(
        [(i,) for i in range(len(variants))], "query_id int"
    )
    legs = expr_bm_leg(
        docs, [(i, v.split()) for i, v in enumerate(variants)], stats,
        KNN_K, "doc_id", "text", "query_id", qid_type_src=vids,
        tokenized=tok,
    ).select("doc_id", "score")
    return (
        max_score_merge(legs, "doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(KNN_K)
    )


def _kg_chunks(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """Chunk frame with a synthetic `calls` list (tokens 2-4) so the
    KG construction ops have a deterministic, oracle-reproducible
    input."""
    toks = tokenize("text")
    # spread base (guide §2.5): the edge-derivation consumers
    # (kg_edges/related/stats via call_edges) tokenize + explode this
    # frame into the name self-join; measured kg_edges 2.5 → 1.4 s,
    # kg_stats 2.8 → 1.9 s, kg_related 3.6 → 2.9 s (r12;
    # OPTIMIZATION_r12.md). `spread=False` for q_kg_boost, whose
    # broadcast-heavy multi-join plan measured a consistent 2x LOSS
    # with the extra exchange under it (3.9 → 7.9 s).
    if not spread:
        base = _docs(spark, sf_dir)
    else:
        base = _docs_spread(spark, sf_dir)
    return base.select(
        "doc_id",
        F.col("source"),
        F.get(toks, 0).alias("name"),
        F.slice(toks, 2, 3).alias("calls"),
    )


def q_kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10/J12: explode calls → name equi-join with cross-file
    predicate → distinct edge list."""
    from mcp_vector_search_spark.operators.kg import call_edges

    return call_edges(
        _kg_chunks(spark, sf_dir),
        id_col="doc_id",
        name_col="name",
        calls_col="calls",
        path_col="source",
    )


def q_kg_related(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 find_related: bounded BFS over the constructed call graph."""
    from mcp_vector_search_spark.operators.kg import call_edges

    edges = call_edges(
        _kg_chunks(spark, sf_dir),
        id_col="doc_id",
        name_col="name",
        calls_col="calls",
        path_col="source",
    )
    start = _docs(spark, sf_dir).filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("id")
    )
    return bfs_min_hops(edges, start, max_hops=2).select(
        "id", F.col("hop").cast("long").alias("hop")
    )


TAG_REQUIRED = ["data", "fast"]


def q_tag_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 tag AND-query: docs carrying ALL required tags."""
    from mcp_vector_search_spark.operators.kg import tag_query

    doc_tags = _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokenize("text")).alias("tag")
    )
    return tag_query(doc_tags, TAG_REQUIRED)


def _func_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic import-graph fixture for A8/A11: functional edges
    i → (3i+1) mod N plus mutual 2-cycle pairs every 101 keys (the
    functional cycles are long; the pairs guarantee short cycles the
    ≤4-length detector must find)."""
    part = io.table(spark, sf_dir, "part")
    n = part.agg(F.count("*").alias("_n"))
    base = part.crossJoin(F.broadcast(n))
    fwd = base.select(
        F.concat(F.lit("n"), F.col("p_partkey")).alias("src"),
        F.concat(F.lit("n"), (F.col("p_partkey") * 3 + 1) % F.col("_n")).alias("dst"),
    )
    pairs = base.filter(
        (F.col("p_partkey") % 101 == 0) & (F.col("p_partkey") + 1 < F.col("_n"))
    )
    mutual = pairs.select(
        F.concat(F.lit("n"), F.col("p_partkey")).alias("src"),
        F.concat(F.lit("n"), F.col("p_partkey") + 1).alias("dst"),
    ).unionByName(
        pairs.select(
            F.concat(F.lit("n"), F.col("p_partkey") + 1).alias("src"),
            F.concat(F.lit("n"), F.col("p_partkey")).alias("dst"),
        )
    )
    return fwd.unionByName(mutual)


def q_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mcp_vector_search_spark.operators.graph import cycle_nodes

    return cycle_nodes(_func_edges(spark, sf_dir), max_len=4)


def q_dead_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mcp_vector_search_spark.operators.graph import unreachable_nodes

    edges = _func_edges(spark, sf_dir)
    entries = spark.createDataFrame([("n0",), ("n1",)], "id string")
    return unreachable_nodes(edges, entries, max_hops=6)


def q_trace_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mcp_vector_search_spark.operators.graph import trace_paths

    e = _li_edges(spark, sf_dir)
    edges = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    li = io.table(spark, sf_dir, "lineitem")
    start = "o" + str(li.agg(F.min("l_orderkey")).first()[0])
    return trace_paths(edges, start, max_depth=3).select(
        "path", F.col("depth").cast("long").alias("depth")
    )


def q_kg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 KG stats: node counts + outgoing-edge totals by entity type."""
    nodes = _chunk_meta(spark, sf_dir).select("doc_id", "chunk_type")
    out_deg = q_kg_edges(spark, sf_dir).groupBy(F.col("src").alias("doc_id")).agg(
        F.count("*").alias("_out")
    )
    return (
        nodes.join(out_deg, "doc_id", "left")
        .groupBy(F.col("chunk_type").alias("entity_type"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.coalesce(F.col("_out"), F.lit(0))).alias("n_out_edges"),
        )
    )


def q_contextual_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 contextual text builder (reference
    ``core/context_builder.py:29-154``): metadata header prepended for
    embedding, stored content untouched."""
    m = _chunk_meta(spark, sf_dir)
    return m.select(
        "doc_id",
        F.concat(
            F.lit("File: "),
            F.col("file_path"),
            F.lit(" | Fn: "),
            F.coalesce(F.col("name"), F.lit("")),
            F.lit("\n---\n"),
            F.col("content"),
        ).alias("ctx_text"),
    )


def q_embed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 contextual text builder feeding F11 embedding in one gate —
    the reference's actual pipeline shape (metadata header prepended,
    then embedded; ``core/context_builder.py`` → ``core/embeddings.py``).
    The mapInPandas batch path produces identical embedding values —
    tests assert equality."""
    from mcp_vector_search_spark.functions.embed import fake_embed_expr

    ctx = q_contextual_text(spark, sf_dir)
    emb = fake_embed_expr("ctx_text", dim=4)
    return ctx.select(
        "doc_id", "ctx_text", *[emb[i].alias(f"e{i}") for i in range(4)]
    )


def _synth_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized file listing shared by the S1 discovery and
    codebase-profile gates (one path shape per doc_id residue)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit("node_modules/"), F.col("source"), F.lit("/x.js")))
        .when(F.col("doc_id") % 7 == 1, F.concat(F.lit("src/"), F.col("source"), F.lit(".py")))
        .when(F.col("doc_id") % 7 == 2, F.concat(F.lit("src/"), F.col("source"), F.lit(".min.js")))
        .when(F.col("doc_id") % 7 == 3, F.concat(F.lit(".git/"), F.col("source")))
        .when(F.col("doc_id") % 7 == 4, F.concat(F.lit("docs/"), F.col("source"), F.lit(".md")))
        .when(F.col("doc_id") % 7 == 5, F.concat(F.lit("src/"), F.col("source"), F.lit(".rs")))
        .otherwise(F.concat(F.lit("data/"), F.col("source"), F.lit(".txt")))
        .alias("path"),
    )


def q_file_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 discovery scan over a synthesized listing: ignore-pattern
    predicate + extension→language map."""
    from mcp_vector_search_spark.sources.discovery import discover

    return discover(_synth_listing(spark, sf_dir))


def q_codebase_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebase profiling → optimization preset
    (operators/analytics.py:codebase_profile — reference
    codebase_profiler.py:17-338): size band by file count, dominant
    language by extension mix, preset columns from the band."""
    from mcp_vector_search_spark.operators.analytics import codebase_profile

    return codebase_profile(_synth_listing(spark, sf_dir))


def q_subprojects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monorepo subproject detection + nearest-root assignment
    (sources/discovery.py — reference utils/monorepo.py:46-150,
    chunk_processor.py:269-273) over a synthesized workspace: one
    package per lang under packages/<lang>/, a NESTED package
    packages/en/sub/ exercising longest-prefix, and toplevel/ files
    outside every root."""
    from mcp_vector_search_spark.sources.discovery import (
        assign_subprojects,
        subproject_roots,
    )

    d = _docs(spark, sf_dir)
    files = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("toplevel/"), F.col("source"), F.lit(".txt")),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit("packages/en/sub/"), F.col("source"), F.lit(".txt")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("packages/"), F.col("lang"), F.lit("/src/"),
                F.col("source"), F.lit(".txt"),
            )
        )
        .alias("path"),
    )
    markers = (
        d.select("lang")
        .distinct()
        .select(
            F.concat(F.lit("packages/"), F.col("lang"), F.lit("/package.json")).alias(
                "path"
            )
        )
        .unionByName(
            spark.createDataFrame([("packages/en/sub/package.json",)], "path string")
        )
    )
    listing = files.select("path").unionByName(markers)
    roots = subproject_roots(listing)
    assigned = assign_subprojects(files, roots, key_cols=["doc_id", "path"])
    return assigned.groupBy(
        F.coalesce("subproject", F.lit("none")).alias("subproject")
    ).agg(F.count("*").cast("long").alias("n_files"))


def _code_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents rendered as synthetic python-ish source (every 3rd
    line from the 2nd is a `def `), so the S2 chunker has structured
    input reproducible in the oracle."""
    t = _docs(spark, sf_dir).select("doc_id", tokenize("text").alias("_toks"))
    n_lines = F.ceil(F.size("_toks") / 4).cast("int")

    def line(i):
        body = F.array_join(F.slice(F.col("_toks"), i * 4 + 1, 4), " ")
        return F.when(i % 3 == 1, F.concat(F.lit("def "), body)).otherwise(
            F.concat(F.lit("  "), body)
        )

    return t.filter(F.size("_toks") > 0).select(
        "doc_id",
        F.array_join(F.transform(F.sequence(F.lit(0), n_lines - 1), line), "\n").alias(
            "text"
        ),
    )


def q_result_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result quality rollup (functions/query.py:result_quality
    — reference query_analyzer.py:165-216) over the BM25 top-k
    max-normalized to 0-1 and joined back to the documents for file
    diversity and word coverage."""
    from pyspark.sql.window import Window

    from mcp_vector_search_spark.functions.query import result_quality

    hits = bm25_topk(_docs(spark, sf_dir), QUERY_TERMS, KNN_K)
    norm = hits.withColumn(
        "score", F.col("score") / F.max("score").over(Window.partitionBy())
    )
    joined = norm.join(
        _docs(spark, sf_dir).select("doc_id", "source", "text"), "doc_id"
    )
    return result_quality(joined, " ".join(QUERY_TERMS))


def q_halstead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Halstead complexity suite (sources/code_chunker.py:
    halstead_metrics — reference analysis/collectors/halstead.py)
    per synthesized code doc: lexical operator/operand counts and the
    full derived set (volume, difficulty, effort, time, bugs)."""
    from mcp_vector_search_spark.sources.code_chunker import halstead_metrics

    return halstead_metrics(
        _code_docs(spark, sf_dir), id_cols=["doc_id"], text_col="text"
    )


# languages + decl templates for the multilang typed-chunk gate —
# BOTH the Spark gate and its oracle render from these constants
# (the HYBRID_BATCH_SPECS pattern), so the synthesized sources and
# the regex rules can never drift between engines
ML_GATE_LANGS = ("go", "ruby", "php")
ML_GATE_DECLS = {
    # lang: ((prefix_a, suffix_a), (prefix_b, suffix_b)) — decl lines
    # alternate between an a-form (method-shaped) and b-form
    # (function-shaped) so both typing rules are exercised
    "go": (("func (r *T) ", "() {"), ("func ", "() {")),
    "ruby": (("  def self.", ""), ("  def ", "")),
    "php": (("  public function ", "() {"), ("function ", "() {")),
}


def _ml_code_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents rendered as synthetic go/ruby/php source (language by
    doc_id mod 3; every 3rd line from the 2nd is a declaration whose
    name is that line's first token, alternating method-shaped and
    function-shaped forms) — structured multi-language input
    reproducible in the oracle."""
    t = _docs(spark, sf_dir).select("doc_id", tokenize("text").alias("_toks"))
    n_lines = F.ceil(F.size("_toks") / 4).cast("int")
    lang = F.element_at(
        F.array(*[F.lit(x) for x in ML_GATE_LANGS]),
        (F.col("doc_id") % len(ML_GATE_LANGS) + 1).cast("int"),
    )

    def line(i):
        name = F.element_at(F.col("_toks"), (i * 4 + 1).cast("int"))
        body = F.concat(
            F.lit("  "), F.array_join(F.slice(F.col("_toks"), i * 4 + 1, 4), " ")
        )
        expr = None
        for lg in ML_GATE_LANGS:
            (pa, sa), (pb, sb) = ML_GATE_DECLS[lg]
            decl = F.when(
                i % 6 == 1, F.concat(F.lit(pa), name, F.lit(sa))
            ).otherwise(F.concat(F.lit(pb), name, F.lit(sb)))
            cond = F.col("_lang") == lg
            expr = F.when(cond, decl) if expr is None else expr.when(cond, decl)
        return F.when(i % 3 == 1, expr.otherwise(body)).otherwise(body)

    return (
        t.withColumn("_lang", lang)
        .filter(F.size("_toks") > 0)
        .select(
            "doc_id",
            F.col("_lang").alias("language"),
            F.array_join(
                F.transform(F.sequence(F.lit(0), n_lines - 1), line), "\n"
            ).alias("text"),
        )
    )


def q_ml_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 multilang chunker with r6 typing/naming: boundary, chunk
    type, and name all dispatched per-language from the registry's
    kind_rules in one pass (`code_chunks_multilang`)."""
    from mcp_vector_search_spark.sources.code_chunker import code_chunks_multilang

    src = _ml_code_docs(spark, sf_dir)
    return (
        code_chunks_multilang(src)
        .select(
            "doc_id",
            F.col("language").alias("lang"),
            F.col("chunk_no").cast("long").alias("chunk_no"),
            "chunk_type",
            F.coalesce("name", F.lit("")).alias("name"),
            F.col("n_lines").cast("long").alias("n_lines"),
        )
    )


def q_code_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 structure-aware chunker over synthesized source."""
    from mcp_vector_search_spark.sources.code_chunker import code_chunks

    return code_chunks(_code_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("chunk_no").cast("long").alias("chunk_no"),
        "chunk_type",
        "name",
        F.col("n_lines").cast("long").alias("n_lines"),
    )


COMPLEXITY_KEYWORDS = ["join", "filter", "group", "sort"]


def q_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 per-chunk complexity metrics over the S2 chunks."""
    from mcp_vector_search_spark.sources.code_chunker import (
        code_chunks,
        complexity_metrics,
    )

    chunks = code_chunks(_code_docs(spark, sf_dir))
    return complexity_metrics(
        chunks, COMPLEXITY_KEYWORDS, ["doc_id", "chunk_no"]
    ).withColumn("chunk_no", F.col("chunk_no").cast("long"))


def q_lcom4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 LCOM4 cohesion — union-find in applyInPandas, oracle-checked
    against a recursive-CTE min-label closure (integer-only hash)."""
    from mcp_vector_search_spark.operators.cohesion import lcom4

    toks = tokenize("text")
    usages = _docs(spark, sf_dir).select(
        F.col("source").alias("class_name"),
        F.get(toks, 0).alias("method"),
        F.get(toks, 1).alias("attr"),
    )
    return lcom4(usages)


ASOF_PROBES = ["2024-01-15 00:00:00", "2024-01-25 00:00:00"]


def q_asof_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6-style temporal as-of lookup: latest event per user at fixed
    probe times, via the union-window as-of join."""
    from mcp_vector_search_spark.operators.events import asof_join

    ev = io.table(spark, sf_dir, "events")
    pts = spark.createDataFrame([(p,) for p in ASOF_PROBES], "pts string").select(
        F.col("pts").cast("timestamp_ntz").alias("pt")
    )
    probes = ev.select("user_id").distinct().crossJoin(F.broadcast(pts))
    out = asof_join(probes, ev)
    return out.select(
        "user_id",
        F.unix_micros(F.col("pt").cast("timestamp")).alias("probe_us"),
        "last_event_id",
    )


def q_search_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full §3.1 pipeline end-to-end, oracle-checked: driver-side
    scalars are re-run at oracle-generation time and the relational +
    greedy-MMR stages replayed expression-for-expression in SQL."""
    from mcp_vector_search_spark.plans.search import full_search

    return full_search(
        _docs(spark, sf_dir),
        _chunk_meta(spark, sf_dir),
        _emb(spark, sf_dir),
        "stream query data",
        _query_vec(spark, sf_dir),
        k=10,
    ).withColumn("mmr_rank", F.col("mmr_rank").cast("long"))


def q_ontology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 document ontology: category-grouped hierarchy rollup
    (reference ``knowledge_graph.py:4887-5106``; the driver-side tree
    render consumes this aggregation). Children are emitted as a
    sorted joined string so the hash compare is order-free."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.col("lang").alias("category"))
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.array_join(F.sort_array(F.collect_set("source")), ",").alias("children"),
        )
    )


VIZ_PAGE_SIZE = 10
VIZ_PAGE = 2


def q_viz_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 visualization subgraph paging: 1-hop neighbors of a node,
    deterministically ordered, page `VIZ_PAGE` of size
    `VIZ_PAGE_SIZE` (reference get_node_neighbors paging,
    ``knowledge_graph.py:3676-4438``)."""
    from pyspark.sql.window import Window

    li = io.table(spark, sf_dir, "lineitem")
    node = "p" + str(li.agg(F.min("l_partkey")).first()[0])
    e = _li_edges(spark, sf_dir)
    neigh = e.filter(F.col("dst") == node).select(F.col("src").alias("id")).distinct()
    w = Window.orderBy("id")
    lo = (VIZ_PAGE - 1) * VIZ_PAGE_SIZE
    hi = VIZ_PAGE * VIZ_PAGE_SIZE
    return (
        neigh.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") > lo) & (F.col("rnk") <= hi))
        .select("id", F.col("rnk").cast("long").alias("rnk"))
    )


def q_kg_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8+G9 merged gate: the ontology rollup and the visualization
    subgraph page as one tagged union (schemas padded with typed
    nulls), so both registry-level KG views share a single driver
    window slot; the standalone `ontology`/`viz_neighbors` twins stay
    oracle-checked past the window."""
    ont = q_ontology(spark, sf_dir).select(
        F.lit("ontology").alias("view"),
        F.col("category").alias("node"),
        "n_docs",
        "n_sources",
        "children",
        F.lit(None).cast("long").alias("rnk"),
    )
    viz = q_viz_neighbors(spark, sf_dir).select(
        F.lit("viz").alias("view"),
        F.col("id").alias("node"),
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("n_sources"),
        F.lit(None).cast("string").alias("children"),
        "rnk",
    )
    return ont.unionByName(viz)


def q_kg_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 KG-boost lookup: BM25 hits get +0.02 when a 1-hop KG
    neighbor's name matches a query term (reference
    ``core/search.py:885-936``)."""
    from mcp_vector_search_spark.operators.kg import call_edges, kg_boost

    chunks = _kg_chunks(spark, sf_dir, spread=False)
    # callee_names pushdown (r12): kg_boost only consumes edges whose
    # dst name matches a query term — prefilter both edge-join sides
    # at the scan instead of building the full edge set and joining
    # it to the matched-name list afterwards. Identical boosted-id
    # set: edges ⨝ matched(dst) ≡ callers ⨝ (targets WHERE name
    # matches), and kg_boost's own matched join still runs (now over
    # the tiny pre-filtered edge set).
    edges = call_edges(
        chunks, id_col="doc_id", name_col="name", calls_col="calls",
        path_col="source", callee_names=list(QUERY_TERMS),
    )
    nodes = chunks.select(F.col("doc_id").alias("id"), "name")
    hits = bm25_topk(_docs(spark, sf_dir), QUERY_TERMS, KNN_K)
    return kg_boost(hits, edges, nodes, QUERY_TERMS).select(
        "doc_id", "score", "boosted_score"
    )


CODE_DIM = 32  # the reference's code space is lower-dim (CodeT5+ 256 vs 384)


def q_code_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 code-vectors enrichment: second ANN pass over the
    code-vector space (here: the first ``CODE_DIM`` dims as the
    deterministic stand-in space); ids in both top-k sets get +0.15
    (reference ``core/search.py:1069-1228``)."""
    from mcp_vector_search_spark.operators.fusion import enrichment_boost

    emb = _emb(spark, sf_dir)
    main = knn_brute_force(emb, _query_vec(spark, sf_dir), KNN_K)
    code_space = emb.select("vec_id", F.slice("embedding", 1, CODE_DIM).alias("embedding"))
    code_q = code_space.filter(F.col("vec_id") == KNN_QUERY_ID).select(
        F.col("embedding").alias("query_vec")
    )
    code_leg = knn_brute_force(code_space, code_q, KNN_K)
    return enrichment_boost(main, code_leg, "vec_id", "cos_sim").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        "cos_sim",
        "boosted_score",
    )


HUNK_SIZE = 13
N_COMMITS = 5


def q_blame_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 blame range join: synthetic commit hunks (width-13 token
    ranges, commit id a deterministic function of (doc, hunk))
    range-joined to S3 chunk windows; per chunk the blame rollup
    (touching-commit count + latest commit)."""
    from mcp_vector_search_spark.functions.text import token_count
    from mcp_vector_search_spark.operators.events import blame_range_join
    from mcp_vector_search_spark.sources.chunker import chunk_tokens

    docs = _docs(spark, sf_dir)
    chunks = chunk_tokens(docs, CHUNK_SIZE).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_key"),
        (F.col("chunk_idx") * CHUNK_SIZE).cast("long").alias("c_start"),
        (F.col("chunk_idx") * CHUNK_SIZE + F.col("n_tokens") - 1)
        .cast("long")
        .alias("c_end"),
    )
    nt = docs.select("doc_id", token_count("text").alias("n")).filter(F.col("n") > 0)
    hunks = nt.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), (F.ceil(F.col("n") / HUNK_SIZE) - 1).cast("int"))
        ).alias("h"),
    ).select(
        "doc_id",
        (F.col("h") * HUNK_SIZE).cast("long").alias("h_start"),
        (F.col("h") * HUNK_SIZE + HUNK_SIZE - 1).cast("long").alias("h_end"),
        F.concat(F.lit("c"), (F.col("doc_id") * 7 + F.col("h")) % N_COMMITS).alias(
            "commit_id"
        ),
    )
    return blame_range_join(hunks, chunks).select(
        "doc_id",
        "chunk_key",
        "c_start",
        "c_end",
        F.col("n_commits").cast("long").alias("n_commits"),
        "last_commit",
    )


def q_identifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 identifier-term extraction: camel/snake/ACRONYM regexes +
    backtick code refs over a deterministically case-mixed text
    (the corpus is lowercase word-salad, so the case structure the
    reference's docstrings carry is synthesized from the first six
    tokens — same construction in the oracle)."""
    from mcp_vector_search_spark.functions.text import (
        backtick_refs,
        extract_identifiers,
    )

    toks = tokenize("text")
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 6)
    )

    def t(i: int):
        return F.get(F.col("t"), i)

    cam2 = F.concat(
        F.upper(t(3).substr(F.lit(1), F.lit(1))),
        t(3).substr(F.lit(2), F.length(t(3))),
    )
    itext = F.concat_ws(
        " ",
        F.concat(t(0), F.lit("_"), t(1)),
        F.concat(t(2), cam2),
        F.upper(t(4)),
        F.concat(F.lit("`"), t(5), F.lit("`")),
    )
    ids = extract_identifiers("itext")
    return docs.select("doc_id", itext.alias("itext")).select(
        "doc_id",
        F.array_join(ids.getField("snake"), ",").alias("snake"),
        F.array_join(ids.getField("camel"), ",").alias("camel"),
        F.array_join(ids.getField("acronyms"), ",").alias("acronyms"),
        F.array_join(backtick_refs("itext"), ",").alias("refs"),
    )


def q_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 NLP entity extraction, both halves in one gate: YAKE-analog
    top-3 keywords (tf DESC, first-pos ASC) aggregated to an ordered
    string, joined with the camel/snake/ACRONYM/backtick identifier
    extraction."""
    from mcp_vector_search_spark.functions.text import top_keywords

    kw = (
        top_keywords(_docs(spark, sf_dir), n=3)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("kw_rank", "token"))),
                    lambda s: s.getField("token"),
                ),
                ",",
            ).alias("top_kw")
        )
    )
    return q_identifiers(spark, sf_dir).join(kw, "doc_id")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count("*").alias("count_order"),
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.table(spark, sf_dir, "lineitem")
    orders = io.table(spark, sf_dir, "orders")
    cust = io.table(spark, sf_dir, "customer")
    nation = io.table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def _chunk_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents dressed as code chunks (file_path/name/content/
    chunk_type) so the search-result operators (J2 lookup join, F10
    rescoring) run on the corpus."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("src/"), F.col("source"), F.lit(".py")).alias("file_path"),
        F.get(tokenize("text"), 0).alias("name"),
        F.col("text").alias("content"),
        F.when(F.col("doc_id") % 3 == 0, "function")
        .when(F.col("doc_id") % 3 == 1, "class")
        .otherwise("code")
        .alias("chunk_type"),
    )


def q_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (hits→metadata lookup join) + F10 (8-factor heuristic
    rescorer) over the BM25 top-k."""
    from mcp_vector_search_spark.functions.scoring import heuristic_rescore

    hits = bm25_topk(_docs(spark, sf_dir), QUERY_TERMS, KNN_K)
    joined = F.broadcast(hits).join(_chunk_meta(spark, sf_dir), "doc_id")
    return heuristic_rescore(joined, " ".join(QUERY_TERMS)).select(
        "doc_id", "score", "rescored"
    )


def q_decay_sigmoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 time decay + F9 sigmoid normalization over events."""
    from mcp_vector_search_spark.functions.scoring import sigmoid, time_decay

    ev = io.table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(
            time_decay(F.col("ts"), F.to_date(F.lit("2024-02-01")), 7.0), 6
        ).alias("decay"),
        F.round(sigmoid(F.col("value") / F.lit(100.0)), 6).alias("sig"),
    )


def q_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 8-factor rescore (over the J2 lookup join) + F9 sigmoid +
    F14 time-decay, label-normalized into one gate: rescore rows carry
    (part='rescore', id=doc_id, x=bm25 score, y=rescored), decay rows
    carry (part='decay', id=event_id, x=decay, y=sigmoid)."""
    rs = q_rescore(spark, sf_dir).select(
        F.lit("rescore").alias("part"),
        F.col("doc_id").alias("id"),
        F.col("score").alias("x"),
        F.col("rescored").alias("y"),
    )
    dc = q_decay_sigmoid(spark, sf_dir).select(
        F.lit("decay").alias("part"),
        F.col("event_id").alias("id"),
        F.col("decay").alias("x"),
        F.col("sig").alias("y"),
    )
    return rs.unionByName(dc)


def q_smells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mcp_vector_search_spark.operators.smells import detect_smells

    return detect_smells(_docs(spark, sf_dir))


def q_dir_smells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 smell detection composed with the A9 directory rollup: every
    ancestor directory gets file counts + char totals (the
    `directory_rollup` operator) plus the count of smells its files
    triggered (the `detect_smells` operator) — both run, one gate."""
    from mcp_vector_search_spark.operators.smells import (
        detect_smells,
        directory_rollup,
    )

    docs = _docs(spark, sf_dir)
    files = docs.select(
        "doc_id",
        F.concat(
            F.lit("src/"), F.col("lang"), F.lit("/"), F.col("source"), F.lit(".txt")
        ).alias("path"),
        "n_chars",
    )
    roll = directory_rollup(files)
    parts = F.split(F.col("path"), "/")
    ancestors = F.transform(
        F.sequence(F.lit(1), F.size(parts) - 1),
        lambda i: F.array_join(F.slice(parts, 1, i), "/"),
    )
    smell_dirs = (
        detect_smells(docs)
        .join(files.select("doc_id", "path"), "doc_id")
        .select(F.explode(ancestors).alias("dir"))
        .groupBy("dir")
        .agg(F.count("*").alias("n_smells"))
    )
    return roll.join(smell_dirs, "dir", "left").select(
        "dir",
        "n_files",
        F.col("total_chars").cast("long").alias("total_chars"),
        F.coalesce(F.col("n_smells"), F.lit(0)).cast("long").alias("n_smells"),
    )


DEBT_WEIGHTS = {"long_doc": 10, "high_punct": 5, "low_diversity": 2}


def q_debt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 debt scoring: weighted smell sum rolled up per source
    (reference ``analysis/debt.py``)."""
    from mcp_vector_search_spark.operators.smells import detect_smells

    docs = _docs(spark, sf_dir)
    expr = None
    for smell, w in DEBT_WEIGHTS.items():
        branch = F.when(F.col("smell") == smell, w)
        expr = branch if expr is None else expr.when(F.col("smell") == smell, w)
    smells = detect_smells(docs).withColumn("_w", expr.otherwise(0))
    return (
        smells.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("_w").cast("long").alias("debt_score"),
            F.count("*").alias("n_smells"),
        )
    )


def q_rrf_trimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: semantic ⊕ keyword ⊕ quality strategies fused with
    unweighted RRF + min-score floor."""
    from mcp_vector_search_spark.operators.fusion import rrf_multi
    from mcp_vector_search_spark.operators.topk import rank_by

    docs = _docs(spark, sf_dir)
    n = KNN_K
    bm = rank_by(bm25_topk(docs, QUERY_TERMS, n), "score", "doc_id")
    kn = rank_by(
        knn_brute_force(_emb(spark, sf_dir), _query_vec(spark, sf_dir), n)
        .withColumnRenamed("vec_id", "doc_id")
        .select("doc_id", "cos_sim"),
        "cos_sim",
        "doc_id",
    )
    ql = rank_by(
        quality_score(docs).orderBy(F.desc("quality"), F.asc("doc_id")).limit(n),
        "quality",
        "doc_id",
    )
    return rrf_multi([bm, kn, ql]).withColumn(
        "n_strategies", F.col("n_strategies").cast("long")
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → mapInPandas feature extraction (decode
    stubbed deterministically; the Arrow plumbing is real)."""
    from mcp_vector_search_spark.operators.multimodal import (
        attach_fake_media,
        extract_features,
    )

    feats = extract_features(attach_fake_media(_docs(spark, sf_dir)))
    meta = _docs(spark, sf_dir).select(
        "doc_id",
        F.ascii(F.substring("text", 1, 1)).cast("long").alias("first_byte"),
    )
    return feats.select(
        "doc_id",
        "n_bytes",
        *[F.round(F.col("feature")[i], 6).alias(f"f{i}") for i in range(4)],
    ).join(meta, "doc_id")


def q_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 MMR diversification over the kNN top-30. Oracle-checked:
    the greedy loop is unrolled into k chained SQL steps (see
    ``oracle_sql``); round-9 sims/scores keep both engines' argmax
    identical. Also numpy-golden-tested."""
    from mcp_vector_search_spark.operators.mmr import mmr_diversify

    emb = _emb(spark, sf_dir)
    cand = knn_brute_force(emb, _query_vec(spark, sf_dir), 30).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    return mmr_diversify(
        cand, k=10, diversity=0.3, id_col="vec_id", score_col="cos_sim"
    ).withColumn("mmr_rank", F.col("mmr_rank").cast("long"))


# synthesized doc paths exercising every classifier pass (extension,
# well-known filename, path directory, stem keyword, default) — shared
# verbatim by the Spark builder and the oracle CASE
DOC_PATH_TEMPLATES = [
    "README.md",
    "docs/api/{s}.md",
    "config/{s}.yaml",
    "scripts/{s}.sh",
    "docs/guides/{s}-guide.md",
    "CHANGELOG.md",
    "docs/{s}-migration.md",
    "docs/tests/{s}.md",
    "docs/research/{s}.md",
    "notes/{s}.md",
    "docs/troubleshooting-{s}.md",
    "ops/deploy/{s}.md",
    "docs/{s}-benchmark.md",
    "docs/examples/{s}.md",
    "src/internal/{s}-sprint.md",
    "docs/{s}-security.md",
    "docs/{s}-release.md",
    "docs/{s}-setup.md",
    "SPEC-{s}.md",
    "docs/reports/{s}.md",
    "LICENSE",
    "docs/{s}-faq.md",
    "CONTRIBUTING.md",
]


def q_doc_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document classification (reference 4-pass 23-category
    ``kg_builder.py:1757-2010``) over paths synthesized to exercise
    every pass; the `when`-ladder and the oracle CASE render from ONE
    rule table (functions/classify.py)."""
    from mcp_vector_search_spark.functions.classify import categorize_path

    def tpl_col(tpl: str):
        parts = tpl.split("{s}")
        if len(parts) == 1:
            return F.lit(tpl)
        return F.concat(F.lit(parts[0]), F.col("source"), F.lit(parts[1]))

    expr = None
    n = len(DOC_PATH_TEMPLATES)
    for i, tpl in enumerate(DOC_PATH_TEMPLATES):
        cond = F.col("doc_id") % n == i
        expr = F.when(cond, tpl_col(tpl)) if expr is None else expr.when(cond, tpl_col(tpl))
    return (
        _docs(spark, sf_dir)
        .select("doc_id", expr.alias("path"))
        .withColumn("category", categorize_path("path"))
    )


SPLIT_TRAIN, SPLIT_VAL = 0.8, 0.1
STRAT_FRACTIONS = {"en": 0.5, "zh": 0.25}  # thin the two biggest strata
SAMPLE_N = 100
SHARD_N = 8
PACK_CAP = 256


def q_sampling_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One gate over the deterministic-sampling surface
    (operators/sampling.py): per doc — its hash train/val/test split,
    its hash shard, and whether it survives the stratified, the
    quality-weighted, and the exact-n samples. Every decision is a
    pure function of (doc_id, salt) via md5, so DuckDB replays all
    five operators bit-for-bit."""
    from mcp_vector_search_spark.operators.sampling import (
        assign_shards,
        hash_split,
        sample_exact,
        stratified_sample,
        weighted_downsample,
    )

    docs = _docs(spark, sf_dir)
    base = assign_shards(
        hash_split(docs, train=SPLIT_TRAIN, val=SPLIT_VAL), SHARD_N
    ).select("doc_id", "split", "shard")
    strat = stratified_sample(docs, STRAT_FRACTIONS).select(
        "doc_id", F.lit(True).alias("kept_strat")
    )
    weight = F.least(F.lit(1.0), F.col("n_chars").cast("double") / F.lit(400.0))
    wkeep = weighted_downsample(docs, weight).select("doc_id", F.lit(True).alias("kept_weight"))
    take = sample_exact(docs, SAMPLE_N).select("doc_id", F.lit(True).alias("kept_exact"))
    return (
        base.join(strat, "doc_id", "left")
        .join(wkeep, "doc_id", "left")
        .join(take, "doc_id", "left")
        .select(
            "doc_id",
            "split",
            "shard",
            F.coalesce("kept_strat", F.lit(False)).alias("kept_strat"),
            F.coalesce("kept_weight", F.lit(False)).alias("kept_weight"),
            F.coalesce("kept_exact", F.lit(False)).alias("kept_exact"),
        )
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing to a 256-token context budget
    (operators/sampling.py:pack_sequences): docs hash-shard, then each
    shard folds in doc_id order. The oracle replays the fold as a
    recursive CTE, so bin assignment is hash-checked end-to-end."""
    from mcp_vector_search_spark.functions.text import token_count
    from mcp_vector_search_spark.operators.sampling import pack_sequences

    docs = _docs(spark, sf_dir).select(
        "doc_id", token_count("text").cast("long").alias("tok")
    )
    packed = pack_sequences(docs, PACK_CAP, n_shards=SHARD_N, token_col="tok")
    return packed.select("shard", "doc_id", "tok", "bin_id")


def q_packed_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's final artifact, hash-checked: packed bins
    assembled into training rows (operators/sampling.py:bin_texts) —
    per (shard, bin_id) the member count, token total, and an md5 over
    the id-ordered concatenated text (the exact jsonl payload)."""
    from mcp_vector_search_spark.functions.text import token_count
    from mcp_vector_search_spark.operators.sampling import bin_texts, pack_sequences

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", token_count("text").cast("long").alias("tok"))
    packed = pack_sequences(toks, PACK_CAP, n_shards=SHARD_N, token_col="tok")
    bins = bin_texts(packed, docs)
    return bins.select(
        "shard",
        "bin_id",
        F.col("n_docs").cast("long").alias("n_docs"),
        "total_tok",
        F.md5(F.col("text")).alias("text_hash"),
    )


def q_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both token-counting modes side by side (functions/text.py):
    whitespace-ish word count vs the BPE-style subword estimate
    (ceil(len/4) per alpha run + per-digit + per-symbol)."""
    from mcp_vector_search_spark.functions.text import bpe_token_estimate, token_count

    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count("text").cast("long").alias("n_ws_tokens"),
        bpe_token_estimate("text").cast("long").alias("n_bpe_est"),
    )


PII_MOD = 7  # every 7th doc gets synthesized PII for the gate


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (functions/text.py:redact_pii): the corpus text is
    PII-free word salad, so every `PII_MOD`-th doc gets a deterministic
    synthesized email + IPv4 + phone appended; the gate hash-checks the
    per-kind counts and the md5 of the redacted text."""
    from mcp_vector_search_spark.functions.text import pii_counts, redact_pii

    docs = _docs(spark, sf_dir)
    synth = F.concat(
        F.col("text"),
        F.lit(" contact bob"),
        F.col("doc_id"),
        F.lit("@example.com at 10.1.2."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" or +1-555-123-4567"),
    )
    with_pii = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % PII_MOD == 0, synth).otherwise(F.col("text")).alias("t"),
    )
    return with_pii.select(
        "doc_id",
        pii_counts("t").alias("c"),
        F.md5(redact_pii("t")).alias("redacted_hash"),
    ).select(
        "doc_id",
        F.col("c.n_email").cast("long").alias("n_email"),
        F.col("c.n_ip").cast("long").alias("n_ip"),
        F.col("c.n_phone").cast("long").alias("n_phone"),
        "redacted_hash",
    )


DECONTAM_N = 5
DECONTAM_MOD = 97  # every 97th doc stands in for the eval benchmark


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py:contaminated_docs):
    per-doc count of distinct 5-gram overlaps with a held-out eval
    stand-in (every 97th doc). The gram join shuffles gram strings +
    ids, never text."""
    from mcp_vector_search_spark.operators.dedup import contaminated_docs

    docs = _docs_spread(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % DECONTAM_MOD == 0)
    out = contaminated_docs(docs, bench, n=DECONTAM_N)
    return out.select(
        "doc_id", F.col("n_hits").cast("long").alias("n_hits"), "contaminated"
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram LM quality scoring (operators/lm.py): per-doc
    average interpolated-bigram log-prob — the CCNet-style perplexity
    filter signal. Gate emits avg_logp (round 6); ppl = exp(−avg_logp)
    is derived and excluded from the hash (libm exp parity)."""
    from mcp_vector_search_spark.operators.lm import lm_perplexity

    out = lm_perplexity(_docs(spark, sf_dir))
    return out.select(
        "doc_id", F.col("n_bigrams").cast("long").alias("n_bigrams"), "avg_logp"
    )


MIX_WEIGHTS = {"en": 0.5, "es": 0.2, "de": 0.2, "fr": 0.1}  # zh: weight 0
MIX_BUDGET = 10_000  # tokens


def q_token_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget domain mixing (operators/sampling.py:
    token_mixture_sample): downsample each lang so kept tokens match
    the target mixture. The keep fractions derive from per-domain
    token totals with the SAME float op order on both engines, so the
    md5-uniform membership — and therefore these per-lang counts —
    replay exactly."""
    from mcp_vector_search_spark.functions.text import token_count
    from mcp_vector_search_spark.operators.sampling import token_mixture_sample

    kept = token_mixture_sample(_docs(spark, sf_dir), MIX_WEIGHTS, MIX_BUDGET)
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("sum_tokens"),
    )


def q_token_mixture_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-budget mixing (token_mixture_sample_exact): per-domain
    uniform-ordered prefix under a running token sum — kept tokens
    never exceed the domain target (the fractional gate above only
    hits it in expectation)."""
    from mcp_vector_search_spark.functions.text import token_count
    from mcp_vector_search_spark.operators.sampling import (
        token_mixture_sample_exact,
    )

    kept = token_mixture_sample_exact(_docs(spark, sf_dir), MIX_WEIGHTS, MIX_BUDGET)
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("sum_tokens"),
    )


DUP_SPAN_K = 20  # window length for the dup-span gate (paper default
# is 50; the synthetic docs median 56 tokens, so 20 keeps signal)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (operators/dedup.py:
    duplicate_spans — Lee et al. 2022 style): maximal per-doc token
    ranges whose every k-window hash repeats corpus-wide."""
    from mcp_vector_search_spark.operators.dedup import duplicate_spans

    return duplicate_spans(_docs_spread(spark, sf_dir), k=DUP_SPAN_K)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-based language ID (functions/text.py:lang_id) —
    stopword-profile hit fractions + CJK codepoint fraction, fixed
    priority argmax. Gate output is the metadata-lang × detected-lang
    confusion matrix with mean confidence. On this corpus the text is
    English-vocabulary word-salad in every metadata lang (TESTDATA is
    synthetic), so the matrix collapses to en/unknown columns — the
    semantic behavior on real multilingual text is pinned by
    tests/test_text_functions.py fixtures instead."""
    from mcp_vector_search_spark.functions.text import lang_id

    d = _docs(spark, sf_dir).select(
        "lang", lang_id("text").alias("lid")
    )
    return d.groupBy(
        F.col("lang").alias("meta_lang"), F.col("lid.lang").alias("detected")
    ).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("lid.confidence"), 6).alias("avg_confidence"),
    )


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _emb(spark, sf_dir)
        .groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg(l2_norm(F.col("embedding"))), 6).alias("avg_norm"),
        )
    )


# ---------------------------------------------------------------- oracles


def _oracles() -> dict[str, str]:
    alpha = ALPHA
    beta = 1.0 - ALPHA  # repr() below keeps the exact float64 literal
    n_leg = HYBRID_K * 2
    o: dict[str, str] = {}

    o["bm25_topk"] = f"WITH {_bm25_ctes(KNN_K)} SELECT doc_id, score FROM bm"

    # bm25_incr: the incremental-index gate's oracle is a FULL rebuild
    # over the post-upsert/delete corpus — same %3/%5/%7 arithmetic as
    # q_bm25_incremental, same suffix literal
    o["bm25_incr"] = f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' incremental segment overlay'
              ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 0
),{_bm25_shared_over("docs2")},{_bm25_scored(INCR_TERMS, KNN_K, "bi")}
SELECT doc_id, score FROM bi"""
    # bm25_incr_bucketed: the bucketed layouts are score-neutral by
    # contract, so the lifecycle gate's oracle covers them verbatim
    o["bm25_incr_bucketed"] = o["bm25_incr"]

    # commit_dag_closure: reachability as a recursive CTE — the same
    # chain(-3)/merge(-7 on %5) DAG arithmetic as q_commit_dag_closure
    o["commit_dag_closure"] = """
WITH RECURSIVE anc AS (
  SELECT doc_id AS commit_id, doc_id AS ancestor_id
  FROM documents WHERE doc_id < 150
  UNION
  SELECT a.commit_id, e.parent AS ancestor_id
  FROM anc a JOIN (
    SELECT doc_id AS child, doc_id - 3 AS parent
    FROM documents WHERE doc_id < 150 AND doc_id >= 3
    UNION ALL
    SELECT doc_id AS child, doc_id - 7 AS parent
    FROM documents WHERE doc_id < 150 AND doc_id % 5 = 0 AND doc_id >= 7
  ) e ON a.ancestor_id = e.child
)
SELECT commit_id, ancestor_id FROM anc ORDER BY commit_id, ancestor_id"""

    # result_quality: the reference's calculate_result_quality rollup
    # composed over the bm25 oracle (max-normalized to 0-1, joined back
    # for file diversity + word coverage); the query-word set renders
    # from the same QUERY_TERMS constant the Spark gate uses
    _rq_words = ", ".join(
        f"'{w}'" for w in sorted({w for w in " ".join(QUERY_TERMS).lower().split()})
    )
    _rq_nq = len({w for w in " ".join(QUERY_TERMS).lower().split()})
    o["result_quality"] = f"""
WITH {_bm25_ctes(KNN_K)},
norm AS (SELECT doc_id, score / max(score) OVER () AS s FROM bm),
j AS (SELECT n.s, d.source, d.text FROM norm n JOIN documents d USING (doc_id))
SELECT round(avg(s), 3) AS average_score,
       sum(CASE WHEN s >= 0.8 THEN 1 ELSE 0 END)::BIGINT AS high_quality,
       sum(CASE WHEN s >= 0.6 AND s < 0.8 THEN 1 ELSE 0 END)::BIGINT
         AS medium_quality,
       sum(CASE WHEN s < 0.6 THEN 1 ELSE 0 END)::BIGINT AS low_quality,
       round(count(DISTINCT source)::DOUBLE / count(*), 3) AS diversity,
       round(len(list_distinct(flatten(list(
         list_intersect(regexp_split_to_array(lower(text), '\\s+'),
                        [{_rq_words}])))))::DOUBLE / {_rq_nq}.0, 3)
         AS coverage
FROM j"""

    # unit-normalize then dot — the same expression shape (and float-op
    # order) as the Spark top-k paths, so round-6 values bit-match
    _EU = f"""
en AS (SELECT vec_id, label, embedding, sqrt({_NORMSQ}) AS nrm FROM embeddings),
eu AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE / nrm) AS u
       FROM en)"""
    _UDOT = (
        "round(list_sum(list_transform(list_zip(u, uq),"
        " p -> p[1]::DOUBLE * p[2]::DOUBLE)), 6)"
    )

    o["knn_topk"] = f"""
WITH {_EU},
qn AS (SELECT embedding AS qv, sqrt({_NORMSQ}) AS nrm FROM embeddings
       WHERE vec_id = {KNN_QUERY_ID}),
qu AS (SELECT list_transform(qv, x -> x::DOUBLE / nrm) AS uq FROM qn)
SELECT vec_id, label::BIGINT AS label, {_UDOT} AS cos_sim
FROM eu, qu
ORDER BY cos_sim DESC, vec_id LIMIT {KNN_K}"""

    o["knn_batch"] = f"""
WITH {_EU},
qn AS (SELECT vec_id AS query_id, embedding AS qv, sqrt({_NORMSQ}) AS nrm
       FROM embeddings WHERE vec_id < {BATCH_QUERIES}),
qu AS (SELECT query_id, list_transform(qv, x -> x::DOUBLE / nrm) AS uq FROM qn),
scored AS (SELECT qu.query_id, eu.vec_id, {_UDOT} AS cos_sim FROM eu, qu),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos_sim DESC, vec_id) AS rn FROM scored)
SELECT query_id, vec_id, cos_sim, rn FROM ranked WHERE rn <= {BATCH_K}"""

    # the vectorized path computes the same round-6 scores (numpy f64
    # matmul vs sequential fold agree at 6dp; exact-set equality also
    # pytest-gated) — same oracle
    o["knn_batch_np"] = o["knn_batch"]

    _KN_LEG = f"""
hn AS (SELECT vec_id, embedding, sqrt({_NORMSQ}) AS nrm FROM embeddings),
hu AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE / nrm) AS u FROM hn),
hqn AS (SELECT embedding AS qv, sqrt({_NORMSQ}) AS nrm FROM embeddings
        WHERE vec_id = {KNN_QUERY_ID}),
hqu AS (SELECT list_transform(qv, x -> x::DOUBLE / nrm) AS uq FROM hqn)"""

    o["hybrid_rrf"] = f"""
WITH {_bm25_ctes(n_leg)},
bm_r AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM bm),
{_KN_LEG},
kn AS (SELECT vec_id AS doc_id, {_UDOT} AS cos_sim FROM hu, hqu
       ORDER BY cos_sim DESC, doc_id LIMIT {n_leg}),
kn_r AS (SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rnk FROM kn),
fused AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                 coalesce({alpha!r} / (60 + a.rnk), 0.0)
               + coalesce({beta!r} / (60 + b.rnk), 0.0) AS raw
          FROM kn_r a FULL JOIN bm_r b ON a.doc_id = b.doc_id),
mx AS (SELECT max(raw) AS m FROM fused)
SELECT doc_id, round(raw / m, 6) AS rrf_score FROM fused, mx
ORDER BY rrf_score DESC, doc_id LIMIT {HYBRID_K}"""

    # hybrid_batch: four hybrid_rrf pipelines sharing the corpus CTEs,
    # per-query max-norm + rank — rendered from HYBRID_BATCH_SPECS so
    # the Spark gate and the oracle can never drift
    _hb_parts, _hb_unions = [], []
    for _qid, _terms, _vid in HYBRID_BATCH_SPECS:
        _hb_parts.append(_bm25_scored(_terms, n_leg, f"hb{_qid}"))
        _hb_parts.append(f"""
hb{_qid}r AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
              FROM hb{_qid}),
q{_qid}n AS (SELECT embedding AS qv, sqrt({_NORMSQ}) AS nrm FROM embeddings
             WHERE vec_id = {_vid}),
q{_qid}u AS (SELECT list_transform(qv, x -> x::DOUBLE / nrm) AS uq FROM q{_qid}n),
kn{_qid} AS (SELECT vec_id AS doc_id, {_UDOT} AS cos_sim FROM hu, q{_qid}u
             ORDER BY cos_sim DESC, doc_id LIMIT {n_leg}),
kn{_qid}r AS (SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rnk
              FROM kn{_qid}),
f{_qid} AS (SELECT {_qid} AS query_id, coalesce(a.doc_id, b.doc_id) AS doc_id,
                   coalesce({alpha!r} / (60 + a.rnk), 0.0)
                 + coalesce({beta!r} / (60 + b.rnk), 0.0) AS raw
            FROM kn{_qid}r a FULL JOIN hb{_qid}r b ON a.doc_id = b.doc_id)""")
        _hb_unions.append(f"SELECT * FROM f{_qid}")
    o["hybrid_batch"] = f"""
WITH {_BM25_SHARED},
hn AS (SELECT vec_id, embedding, sqrt({_NORMSQ}) AS nrm FROM embeddings),
hu AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE / nrm) AS u FROM hn),
{",".join(_hb_parts)},
allf AS ({" UNION ALL ".join(_hb_unions)}),
mx AS (SELECT query_id, max(raw) AS m FROM allf GROUP BY query_id),
r AS (SELECT a.query_id, a.doc_id, round(a.raw / mx.m, 6) AS rrf_score,
             row_number() OVER (PARTITION BY a.query_id
                                ORDER BY round(a.raw / mx.m, 6) DESC, a.doc_id) AS rn
      FROM allf a JOIN mx USING (query_id))
SELECT query_id, doc_id, rrf_score, rn::BIGINT AS rn FROM r WHERE rn <= {HYBRID_K}"""
    # the table-driven batch path is row-identical by contract
    # (plans/hybrid.py:hybrid_search_batch_indexed) — one shared oracle
    # pins both, the ivf_packed/ivf_fixed pattern
    o["hybrid_batch_tbl"] = o["hybrid_batch"]
    # hybrid_batch_ann: the serving-from-artifacts path probes every
    # cluster (exact), so the three batch pipelines are row-identical
    # by contract and share one oracle
    o["hybrid_batch_ann"] = o["hybrid_batch"]

    o["exact_dups"] = f"""
WITH fp AS (SELECT doc_id, {_FP} AS fingerprint FROM documents)
SELECT fingerprint, count(*) AS dup_count, min(doc_id) AS keep_id
FROM fp GROUP BY fingerprint HAVING count(*) > 1"""

    o["minhash_jaccard"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SHINGLES3} AS shingles FROM t),
hps AS (SELECT doc_id, {_HASH_PAIRS_SQL} AS hp FROM sh),
sigs AS (SELECT doc_id, {_minhash_sig_sql()} AS sig FROM hps),
banded AS (SELECT doc_id, unnest({_band_keys_sql()}) AS band_key FROM sigs),
ok AS (SELECT band_key FROM banded GROUP BY band_key HAVING count(*) <= {MINHASH_CAP}),
b2 AS (SELECT banded.* FROM banded JOIN ok USING (band_key)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM b2 a JOIN b2 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
j AS (SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.shingles, sb.shingles))::DOUBLE AS i,
             (len(sa.shingles) + len(sb.shingles))::DOUBLE AS ab
      FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b)
SELECT doc_a, doc_b,
       round(CASE WHEN (ab - i) > 0 THEN i / (ab - i) ELSE 0.0 END, 6) AS jaccard
FROM j
WHERE round(CASE WHEN (ab - i) > 0 THEN i / (ab - i) ELSE 0.0 END, 6) >= {JACCARD_T}"""

    # dedup tail: same MinHash pair derivation as minhash_jaccard +
    # exact-dup star edges, then the transitive closure via a
    # recursive CTE (min reachable id = component label — unique, so
    # the iterative Spark propagation and the CTE agree exactly)
    o["dup_clusters"] = f"""
WITH RECURSIVE t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SHINGLES3} AS shingles FROM t),
hps AS (SELECT doc_id, {_HASH_PAIRS_SQL} AS hp FROM sh),
sigs AS (SELECT doc_id, {_minhash_sig_sql()} AS sig FROM hps),
banded AS (SELECT doc_id, unnest({_band_keys_sql()}) AS band_key FROM sigs),
ok AS (SELECT band_key FROM banded GROUP BY band_key HAVING count(*) <= {MINHASH_CAP}),
b2 AS (SELECT banded.* FROM banded JOIN ok USING (band_key)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM b2 a JOIN b2 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
j AS (SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.shingles, sb.shingles))::DOUBLE AS i,
             (len(sa.shingles) + len(sb.shingles))::DOUBLE AS ab
      FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b),
mh AS (SELECT doc_a, doc_b FROM j
       WHERE round(CASE WHEN (ab - i) > 0 THEN i / (ab - i) ELSE 0.0 END, 6)
             >= {JACCARD_T}),
fpp AS (SELECT doc_id, {_FP} AS fingerprint FROM documents),
gg AS (SELECT fingerprint, min(doc_id) AS keep_id
       FROM fpp GROUP BY fingerprint HAVING count(*) > 1),
ex AS (SELECT g.keep_id AS doc_a, f.doc_id AS doc_b
       FROM fpp f JOIN gg g USING (fingerprint) WHERE f.doc_id != g.keep_id),
pr AS (SELECT doc_a, doc_b FROM mh UNION SELECT doc_a, doc_b FROM ex),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pr UNION SELECT doc_b, doc_a FROM pr),
reach(node, lbl) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
comp AS (SELECT node, min(lbl) AS cluster_rep FROM reach GROUP BY node)
SELECT node AS doc_id, cluster_rep,
       (count(*) OVER (PARTITION BY cluster_rep))::BIGINT AS cluster_size,
       node = cluster_rep AS is_keeper
FROM comp"""

    o["neighbor_jaccard"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SHINGLES3} AS shingles,
              row_number() OVER (ORDER BY doc_id) AS pos FROM t),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.shingles, b.shingles))::DOUBLE AS i,
                 (len(a.shingles) + len(b.shingles))::DOUBLE AS ab
          FROM sh a JOIN sh b
            ON b.pos > a.pos AND b.pos <= a.pos + {NEIGHBOR_WINDOW})
SELECT doc_a, doc_b,
       round(CASE WHEN (ab - i) > 0 THEN i / (ab - i) ELSE 0.0 END, 6) AS jaccard
FROM pairs
WHERE round(CASE WHEN (ab - i) > 0 THEN i / (ab - i) ELSE 0.0 END, 6) >= {NEIGHBOR_T}"""

    o["text_quality"] = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       round(CASE WHEN length(text) > 0
             THEN length(regexp_replace(lower(text), '[a-z0-9 \\t\\n\\r]', '', 'g'))::DOUBLE
                  / length(text) ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN len(toks) > 0
             THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END, 6)
         AS distinct_ratio,
       md5(array_to_string(toks, ' ')) AS fingerprint
FROM t"""

    o["ngram_top50"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT unnest({_GRAMS3}) AS gram FROM t)
SELECT gram, count(*) AS cnt FROM g GROUP BY gram
ORDER BY cnt DESC, gram LIMIT 50"""

    o["lang_distribution"] = """
SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
       max(n_chars) AS max_chars
FROM documents GROUP BY lang"""

    o["source_rollup"] = """
WITH agg AS (SELECT source, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
                    max(n_chars) AS max_chars, min(n_chars) AS min_chars
             FROM documents GROUP BY source),
g AS (SELECT *, CASE WHEN avg_chars <= 150 THEN 'A' WHEN avg_chars <= 250 THEN 'B'
                     WHEN avg_chars <= 350 THEN 'C' WHEN avg_chars <= 450 THEN 'D'
                     ELSE 'F' END AS grade FROM agg)
SELECT *, greatest(0, 100 - 15 * (CASE grade WHEN 'A' THEN 0 WHEN 'B' THEN 1
                                  WHEN 'C' THEN 2 WHEN 'D' THEN 3 ELSE 4 END))::BIGINT
          AS health
FROM g"""

    o["hotspots"] = """
WITH r AS (SELECT doc_id, lang, n_chars,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY n_chars DESC, doc_id) AS hotspot_rank
           FROM documents)
SELECT doc_id, lang, n_chars, hotspot_rank FROM r WHERE hotspot_rank <= 5"""

    o["quality_score"] = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END AS dr,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(lower(text), '[a-z0-9 \\t\\n\\r]', '', 'g'))::DOUBLE
                       / length(text) ELSE 0.0 END AS pr,
             least(len(toks), 100)::DOUBLE AS tk
      FROM t)
SELECT doc_id,
       round(greatest(0.0, least(100.0, 50.0 + 30.0 * dr - 100.0 * pr + 0.2 * tk)), 4)
         AS quality
FROM s"""

    cs = CHUNK_SIZE
    o["chunk_windows"] = f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
w AS (SELECT doc_id, source, toks,
             unnest(range(0, cast(ceil(len(toks) / {cs}.0) AS INT))) AS ci
      FROM t WHERE len(toks) > 0),
c AS (SELECT doc_id, ci AS chunk_idx,
             array_to_string(toks[ci * {cs} + 1 : ci * {cs} + {cs}], ' ') AS chunk_text,
             least(len(toks) - ci * {cs}, {cs}) AS n_tokens, source
      FROM w)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
       substr(sha256(source || ':text::' || (chunk_idx * {cs}) || ':'
                     || (chunk_idx * {cs} + n_tokens) || ':'
                     || substr(sha256(substr(chunk_text, 1, 100)), 1, 8)), 1, 16)
         AS chunk_id,
       n_tokens::BIGINT AS n_tokens
FROM c"""

    o["events_hourly"] = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       count(*) AS n_events, round(sum(value), 4) AS value_sum
FROM events GROUP BY 1, 2"""

    o["events_lag_delta"] = """
SELECT event_id, user_id,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6)
         AS delta
FROM events"""

    o["sessionize"] = """
WITH w AS (SELECT user_id,
                  CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                            OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            > 1800000000 THEN 1 ELSE 0 END AS ns
           FROM events)
SELECT user_id, (sum(ns) + 1)::BIGINT AS n_sessions, count(*) AS n_events
FROM w GROUP BY user_id"""

    o["changed_docs"] = f"""
WITH fp AS (SELECT doc_id, {_FP} AS fingerprint FROM documents),
idx AS (SELECT * FROM fp WHERE doc_id % 5 <> 0)
SELECT f.doc_id, f.fingerprint FROM fp f
WHERE NOT EXISTS (SELECT 1 FROM idx i
                  WHERE i.doc_id = f.doc_id AND i.fingerprint = f.fingerprint)"""

    o["unembedded"] = """
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM embeddings e
                  WHERE e.vec_id % 3 = 0 AND e.vec_id = d.doc_id)"""

    o["moved_docs"] = f"""
WITH fp AS (SELECT doc_id, {_FP} AS fingerprint FROM documents),
new AS (SELECT doc_id + 10000 AS new_id, fingerprint FROM fp WHERE doc_id % 17 = 0)
SELECT f.doc_id AS old_id, n.new_id::BIGINT AS new_id, n.fingerprint
FROM new n JOIN fp f ON f.fingerprint = n.fingerprint AND n.new_id <> f.doc_id"""

    o["graph_degree"] = """
WITH e AS (SELECT 'o' || l_orderkey AS src, 'p' || l_partkey AS dst FROM lineitem),
od AS (SELECT src AS id, count(*) AS out_degree FROM e GROUP BY src),
ind AS (SELECT dst AS id, count(*) AS in_degree FROM e GROUP BY dst),
d AS (SELECT coalesce(od.id, ind.id) AS id, coalesce(out_degree, 0) AS out_degree,
             coalesce(in_degree, 0) AS in_degree
      FROM od FULL JOIN ind ON od.id = ind.id)
SELECT id, out_degree, in_degree,
       round(out_degree / greatest(1.0, (out_degree + in_degree)::DOUBLE), 6)
         AS instability
FROM d"""

    o["bfs"] = """
WITH RECURSIVE e AS (
  SELECT 'o' || l_orderkey AS src, 'p' || l_partkey AS dst FROM lineitem
  UNION ALL
  SELECT 'p' || l_partkey, 'o' || l_orderkey FROM lineitem),
s AS (SELECT 'o' || min(l_orderkey) AS id FROM lineitem),
bfs(id, hop) AS (
  SELECT id, 0 FROM s
  UNION
  SELECT e.dst, b.hop + 1 FROM bfs b JOIN e ON e.src = b.id WHERE b.hop < 3)
SELECT id, min(hop)::BIGINT AS hop FROM bfs GROUP BY id"""

    o["call_graph"] = """
WITH e AS (SELECT 'o' || l_orderkey AS src, 'p' || l_partkey AS dst FROM lineitem),
n AS (SELECT 'p' || min(l_partkey) AS node FROM lineitem)
SELECT DISTINCT e.dst AS id, 'callee' AS direction FROM e, n WHERE e.src = n.node
UNION
SELECT DISTINCT e.src AS id, 'caller' AS direction FROM e, n WHERE e.dst = n.node"""

    from mcp_vector_search_spark.functions.query import expand_query

    variants = expand_query(EXPAND_QUERY)
    variant_ctes = ",".join(
        _bm25_scored(v.split(), KNN_K, f"v{i}") for i, v in enumerate(variants)
    )
    union_all = " UNION ALL ".join(
        f"SELECT doc_id, score FROM v{i}" for i in range(len(variants))
    )
    o["bm25_expanded"] = f"""
WITH {_BM25_SHARED},{variant_ctes}
SELECT doc_id, max(score) AS score FROM ({union_all}) GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {KNN_K}"""

    _KG_EDGE_CTES = f"""
kt AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
kc AS (SELECT doc_id AS src, source, unnest(toks[2:4]) AS callee FROM kt),
kn AS (SELECT doc_id AS dst, list_extract(toks, 1) AS name, source AS dst_source FROM kt),
ke AS (SELECT DISTINCT src, dst FROM kc JOIN kn
       ON kc.callee = kn.name AND kc.source <> kn.dst_source)"""

    o["kg_edges"] = f"WITH {_KG_EDGE_CTES} SELECT src, dst FROM ke"

    o["kg_related"] = f"""
WITH RECURSIVE {_KG_EDGE_CTES},
bfs(id, hop) AS (
  SELECT 0::BIGINT AS id, 0 AS hop
  UNION
  SELECT ke.dst, b.hop + 1 FROM bfs b JOIN ke ON ke.src = b.id WHERE b.hop < 2)
SELECT id, min(hop)::BIGINT AS hop FROM bfs GROUP BY id"""

    tag_in = ", ".join(f"'{t}'" for t in TAG_REQUIRED)
    o["tag_query"] = f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tag FROM documents)
SELECT doc_id FROM t WHERE tag IN ({tag_in})
GROUP BY doc_id HAVING count(DISTINCT tag) = {len(TAG_REQUIRED)}"""

    _FUNC_EDGES = """
fn AS (SELECT count(*) AS c FROM part),
fe AS (
  SELECT 'n' || p_partkey AS src, 'n' || ((p_partkey * 3 + 1) % c) AS dst
  FROM part, fn
  UNION ALL
  SELECT 'n' || p_partkey, 'n' || (p_partkey + 1) FROM part, fn
  WHERE p_partkey % 101 = 0 AND p_partkey + 1 < c
  UNION ALL
  SELECT 'n' || (p_partkey + 1), 'n' || p_partkey FROM part, fn
  WHERE p_partkey % 101 = 0 AND p_partkey + 1 < c)"""

    o["cycles"] = f"""
WITH RECURSIVE {_FUNC_EDGES},
r(origin, node, hop) AS (
  SELECT src, dst, 1 FROM fe
  UNION
  SELECT r.origin, fe.dst, r.hop + 1 FROM r JOIN fe ON fe.src = r.node
  WHERE r.hop < 4)
SELECT DISTINCT origin AS id FROM r WHERE origin = node"""

    o["dead_code"] = f"""
WITH RECURSIVE {_FUNC_EDGES},
reach(id, hop) AS (
  SELECT unnest(['n0', 'n1']) AS id, 0 AS hop
  UNION
  SELECT fe.dst, r.hop + 1 FROM reach r JOIN fe ON fe.src = r.id WHERE r.hop < 6),
nodes AS (SELECT DISTINCT id
          FROM (SELECT src AS id FROM fe UNION ALL SELECT dst FROM fe))
SELECT id FROM nodes a
WHERE NOT EXISTS (SELECT 1 FROM reach WHERE reach.id = a.id)"""

    o["trace_paths"] = """
WITH RECURSIVE e AS (
  SELECT 'o' || l_orderkey AS src, 'p' || l_partkey AS dst FROM lineitem
  UNION ALL
  SELECT 'p' || l_partkey, 'o' || l_orderkey FROM lineitem),
s AS (SELECT 'o' || min(l_orderkey) AS sid FROM lineitem),
p(path, node, depth) AS (
  SELECT DISTINCT '|' || sid || '|' || e.dst || '|', e.dst, 1 FROM e, s
  WHERE e.src = s.sid
  UNION
  SELECT p.path || e.dst || '|', e.dst, p.depth + 1 FROM p JOIN e ON e.src = p.node
  WHERE p.depth < 3 AND NOT contains(p.path, '|' || e.dst || '|'))
SELECT path, depth::BIGINT AS depth FROM p"""

    o["kg_stats"] = f"""
WITH {_KG_EDGE_CTES},
meta AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'function'
              WHEN doc_id % 3 = 1 THEN 'class' ELSE 'code' END AS entity_type
         FROM documents),
od AS (SELECT src AS doc_id, count(*) AS o FROM ke GROUP BY src)
SELECT entity_type, count(*) AS n_nodes, sum(coalesce(o, 0))::BIGINT AS n_out_edges
FROM meta LEFT JOIN od USING (doc_id) GROUP BY entity_type"""

    o["contextual_text"] = f"""
SELECT doc_id,
       'File: src/' || source || '.py | Fn: '
       || coalesce(list_extract({_TOKS}, 1), '') || chr(10) || '---' || chr(10) || text
         AS ctx_text
FROM documents"""

    embed_dims = ", ".join(
        f"round((('0x' || substr(md5(text || '#emb{i}'), 1, 8))::BIGINT % 1000)"
        f" / 999.0, 6) AS e{i}"
        for i in range(4)
    )
    o["embed_text"] = f"SELECT doc_id, {embed_dims} FROM documents"

    from mcp_vector_search_spark.sources.discovery import (
        DEFAULT_IGNORE_REGEXES,
        EXTENSION_LANGUAGE,
    )

    ignore_ors = " OR ".join(
        f"regexp_matches(path, '{rx}')" for rx in DEFAULT_IGNORE_REGEXES
    )
    lang_cases = " ".join(
        f"WHEN '{e}' THEN '{lang}'" for e, lang in EXTENSION_LANGUAGE.items()
    )
    o["file_discovery"] = f"""
WITH f AS (SELECT doc_id,
  CASE doc_id % 7
    WHEN 0 THEN 'node_modules/' || source || '/x.js'
    WHEN 1 THEN 'src/' || source || '.py'
    WHEN 2 THEN 'src/' || source || '.min.js'
    WHEN 3 THEN '.git/' || source
    WHEN 4 THEN 'docs/' || source || '.md'
    WHEN 5 THEN 'src/' || source || '.rs'
    ELSE 'data/' || source || '.txt' END AS path
  FROM documents)
SELECT doc_id, path,
       CASE lower(string_split(path, '.')[-1]) {lang_cases} ELSE 'unknown' END
         AS language
FROM f WHERE NOT ({ignore_ors})"""

    _CODE_CTES = f"""
ct AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
cd AS (SELECT doc_id,
  array_to_string(list_transform(range(0, cast(ceil(len(toks) / 4.0) AS INT)),
    i -> CASE WHEN i % 3 = 1 THEN 'def ' || array_to_string(toks[i*4+1 : i*4+4], ' ')
         ELSE '  ' || array_to_string(toks[i*4+1 : i*4+4], ' ') END), chr(10)) AS text
  FROM ct WHERE len(toks) > 0),
cl AS (SELECT doc_id, l['pos'] AS pos, l['line'] AS line
       FROM (SELECT doc_id,
             unnest(list_transform(string_split(text, chr(10)),
                    (x, i) -> {{'pos': i, 'line': x}})) AS l
             FROM cd)),
cf AS (SELECT *, sum(CASE WHEN regexp_matches(line, '^(def |class )') THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_no
       FROM cl),
cg AS (SELECT doc_id, chunk_no, min_by(line, pos) AS first_line, count(*) AS n_lines,
              string_agg(line, chr(10) ORDER BY pos) AS chunk_text
       FROM cf GROUP BY doc_id, chunk_no)"""

    o["code_chunks"] = f"""
WITH {_CODE_CTES}
SELECT doc_id, chunk_no::BIGINT AS chunk_no,
       CASE WHEN first_line LIKE 'def %' THEN 'function'
            WHEN first_line LIKE 'class %' THEN 'class' ELSE 'module' END AS chunk_type,
       coalesce(regexp_extract(first_line, '^(?:def|class) ([A-Za-z0-9_]+)', 1), '')
         AS name,
       n_lines
FROM cg"""

    # multilang typed-chunk gate: synthesized go/ruby/php sources +
    # boundary + kind/name typing, ALL rendered from the same
    # constants the Spark gate uses (ML_GATE_LANGS/ML_GATE_DECLS and
    # the registry's boundary_re/kind_rules — Java and RE2 agree on
    # this regex subset: anchored alternations, non-capturing groups,
    # \w classes, no lookarounds)
    from mcp_vector_search_spark.sources.parser_registry import for_language

    _ml_lang_sql = (
        "['" + "', '".join(ML_GATE_LANGS) + f"'][(doc_id % {len(ML_GATE_LANGS)}) + 1]"
    )
    _ml_decl_cases = []
    for _lg in ML_GATE_LANGS:
        (_pa, _sa), (_pb, _sb) = ML_GATE_DECLS[_lg]
        _ml_decl_cases.append(
            f"WHEN lang = '{_lg}' THEN CASE WHEN i % 6 = 1 "
            f"THEN '{_pa}' || toks[i*4+1] || '{_sa}' "
            f"ELSE '{_pb}' || toks[i*4+1] || '{_sb}' END"
        )
    _ml_decl_sql = "CASE " + " ".join(_ml_decl_cases) + " END"
    _ml_boundary_sql = " OR ".join(
        f"(lang = '{lg}' AND regexp_matches(line, '{for_language(lg).boundary_re}'))"
        for lg in ML_GATE_LANGS
    )

    def _ml_kind_case(value: str) -> str:
        outer = []
        for lg in ML_GATE_LANGS:
            inner = []
            for kind, pat in for_language(lg).kind_rules:
                val = (
                    f"'{kind}'"
                    if value == "kind"
                    else f"regexp_extract(first_line, '{pat}', 1)"
                )
                inner.append(
                    f"WHEN regexp_matches(first_line, '{pat}') THEN {val}"
                )
            default = "'chunk'" if value == "kind" else "''"
            outer.append(
                f"WHEN lang = '{lg}' THEN CASE "
                + " ".join(inner)
                + f" ELSE {default} END"
            )
        return "CASE " + " ".join(outer) + " END"

    o["ml_chunks"] = f"""
WITH mt AS (SELECT doc_id, {_ml_lang_sql} AS lang, {_TOKS} AS toks FROM documents),
md AS (SELECT doc_id, lang,
  array_to_string(list_transform(range(0, cast(ceil(len(toks) / 4.0) AS INT)),
    i -> CASE WHEN i % 3 = 1 THEN {_ml_decl_sql}
         ELSE '  ' || array_to_string(toks[i*4+1 : i*4+4], ' ') END), chr(10)) AS text
  FROM mt WHERE len(toks) > 0),
ml AS (SELECT doc_id, lang, l['pos'] AS pos, l['line'] AS line
       FROM (SELECT doc_id, lang,
             unnest(list_transform(string_split(text, chr(10)),
                    (x, i) -> {{'pos': i, 'line': x}})) AS l
             FROM md)),
mf AS (SELECT *, sum(CASE WHEN {_ml_boundary_sql} THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_no
       FROM ml),
mg AS (SELECT doc_id, lang, chunk_no, min_by(line, pos) AS first_line,
              count(*) AS n_lines
       FROM mf GROUP BY doc_id, lang, chunk_no)
SELECT doc_id, lang, chunk_no::BIGINT AS chunk_no,
       CASE WHEN chunk_no = 0 THEN 'module'
            ELSE {_ml_kind_case("kind")} END AS chunk_type,
       CASE WHEN chunk_no = 0 THEN ''
            ELSE {_ml_kind_case("name")} END AS name,
       n_lines::BIGINT AS n_lines
FROM mg"""

    from mcp_vector_search_spark.sources.code_chunker import (
        HALSTEAD_KEYWORDS,
        IDENT_RE,
        NUMBER_RE,
        SYMBOL_OP_RE,
    )

    _hkw = ", ".join(f"'{k}'" for k in HALSTEAD_KEYWORDS)
    o["halstead"] = (
        "WITH " + _CODE_CTES + """,
h AS (SELECT doc_id,
  regexp_extract_all(text, '""" + IDENT_RE + """') AS idents,
  regexp_extract_all(text, '""" + NUMBER_RE + """') AS nums,
  regexp_extract_all(text, '""" + SYMBOL_OP_RE + """') AS syms
  FROM cd),
c AS (SELECT doc_id,
  list_concat(list_filter(idents, t -> list_contains([""" + _hkw + """], t)), syms)
    AS ops,
  list_concat(list_filter(idents, t -> NOT list_contains([""" + _hkw + """], t)), nums)
    AS opnds
  FROM h),
m AS (SELECT doc_id,
  len(list_distinct(ops))::BIGINT AS n1, len(list_distinct(opnds))::BIGINT AS n2,
  len(ops)::BIGINT AS t1, len(opnds)::BIGINT AS t2
  FROM c),
d AS (SELECT *, (n1 + n2) AS vocabulary, (t1 + t2) AS length,
  CASE WHEN (n1 + n2) > 0 AND (t1 + t2) > 0
       THEN (t1 + t2)::DOUBLE * log2((n1 + n2)::DOUBLE) ELSE 0.0 END AS _vol,
  CASE WHEN (n1 + n2) > 0 AND (t1 + t2) > 0 AND n2 > 0
       THEN n1::DOUBLE / 2.0 * (t2::DOUBLE / n2::DOUBLE) ELSE 0.0 END AS _diff
  FROM m)
SELECT doc_id, n1, n2, t1 AS total_operators, t2 AS total_operands,
       vocabulary, length,
       round(_vol, 6) AS volume, round(_diff, 6) AS difficulty,
       round(_diff * _vol, 6) AS effort,
       round(_diff * _vol / 18.0, 6) AS time_seconds,
       round(_vol / 3000.0, 6) AS estimated_bugs
FROM d"""
    )

    kw_in = ", ".join(f"'{k}'" for k in COMPLEXITY_KEYWORDS)
    # F13 MMR: the greedy selection unrolled into k chained CTE steps —
    # step i picks argmax of round(λ·rel − (1−λ)·max-sim-to-selected, 9)
    # with the operator's exact tie precedence (rel DESC, id ASC).
    # Round-9 sims/scores on both sides make fold-order differences
    # between numpy matmul and the SQL list-fold immaterial.
    def _mmr_unroll(prefix: str, cand_cte: str, k: int, lam: float) -> tuple[str, str]:
        """Greedy-MMR step CTEs over `cand_cte(id, rel, u)` →
        (cte_text, final_selection_cte). Every step CTE is MATERIALIZED
        — DuckDB inlines CTEs by default, and the chained references
        otherwise explode into exponential re-scans."""
        one_minus = 1.0 - lam
        steps = [
            f"""{prefix}sims AS MATERIALIZED (SELECT a.id AS va, b.id AS vb,
                 round(list_sum(list_transform(list_zip(a.u, b.u),
                       p -> p[1]::DOUBLE * p[2]::DOUBLE)), 9) AS sim
          FROM {cand_cte} a, {cand_cte} b),
{prefix}s1 AS (SELECT id FROM {cand_cte} ORDER BY rel DESC, id LIMIT 1),
{prefix}sel1 AS (SELECT id, 1 AS mmr_rank FROM {prefix}s1)"""
        ]
        for i in range(2, k + 1):
            steps.append(
                f"""{prefix}p{i} AS MATERIALIZED (
  SELECT c.id, c.rel, round(max(s.sim), 9) AS pen
  FROM {cand_cte} c
  JOIN {prefix}sims s ON s.va = c.id
  JOIN {prefix}sel{i - 1} q ON q.id = s.vb
  WHERE c.id NOT IN (SELECT id FROM {prefix}sel{i - 1})
  GROUP BY c.id, c.rel),
{prefix}s{i} AS (SELECT id FROM {prefix}p{i}
  ORDER BY round({lam!r} * rel - {one_minus!r} * pen, 9) DESC,
           rel DESC, id LIMIT 1),
{prefix}sel{i} AS MATERIALIZED (SELECT id, mmr_rank FROM {prefix}sel{i - 1}
  UNION ALL SELECT id, {i} AS mmr_rank FROM {prefix}s{i})"""
            )
        return ",".join(steps), f"{prefix}sel{k}"

    _MMR_K, _MMR_DIV, _MMR_CAND = 10, 0.3, 30
    _mmr_steps, _mmr_final = _mmr_unroll("m", "mcand", _MMR_K, 1.0 - _MMR_DIV)
    o["mmr"] = f"""
WITH {_EU},
qn AS (SELECT embedding AS qv, sqrt({_NORMSQ}) AS nrm FROM embeddings
       WHERE vec_id = {KNN_QUERY_ID}),
qu AS (SELECT list_transform(qv, x -> x::DOUBLE / nrm) AS uq FROM qn),
mcand AS MATERIALIZED (SELECT vec_id AS id, {_UDOT} AS rel, u FROM eu, qu
           ORDER BY rel DESC, id LIMIT {_MMR_CAND}),
{_mmr_steps}
SELECT s.id AS vec_id, c.rel AS cos_sim, s.mmr_rank::BIGINT AS mmr_rank
FROM {_mmr_final} s JOIN mcand c USING (id)"""

    # IVF mechanism with deterministic centroids: every ivf_topk_batch
    # stage (assign → probe → pruned join → exact rerank) replayed in
    # SQL; only the KMeans fit itself stays rows-only.
    _IVF_DOT9 = (
        "round(list_sum(list_transform(list_zip(u, cu),"
        " p -> p[1]::DOUBLE * p[2]::DOUBLE)), 9)"
    )
    o["ivf_fixed"] = f"""
WITH {_EU},
fc AS (SELECT vec_id::INT AS cluster_id, u AS cu FROM eu
       WHERE vec_id < {IVF_FIXED_CENTS}),
fa AS (SELECT vec_id, u, cluster_id, row_number() OVER (
         PARTITION BY vec_id ORDER BY cs DESC, cluster_id) AS rn
       FROM (SELECT e.vec_id, e.u, c.cluster_id, {_IVF_DOT9} AS cs
             FROM eu e, fc c)),
fassigned AS (SELECT vec_id, u, cluster_id FROM fa WHERE rn = 1),
fq AS (SELECT vec_id AS query_id, u AS uq FROM eu WHERE vec_id < {BATCH_QUERIES}),
fp AS (SELECT query_id, cluster_id, uq, row_number() OVER (
         PARTITION BY query_id ORDER BY qs DESC, cluster_id) AS pr
       FROM (SELECT q.query_id, c.cluster_id, q.uq,
                    round(list_sum(list_transform(list_zip(q.uq, c.cu),
                          p -> p[1]::DOUBLE * p[2]::DOUBLE)), 9) AS qs
             FROM fq q, fc c)),
fprobes AS (SELECT query_id, cluster_id, uq FROM fp WHERE pr <= {IVF_FIXED_PROBES}),
fcand AS (SELECT p.query_id, a.vec_id,
                 round(list_sum(list_transform(list_zip(a.u, p.uq),
                       p2 -> p2[1]::DOUBLE * p2[2]::DOUBLE)), 6) AS cos_sim
          FROM fassigned a JOIN fprobes p USING (cluster_id)),
fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rn FROM fcand)
SELECT query_id, vec_id, cos_sim, rn::BIGINT AS rn FROM fr WHERE rn <= {BATCH_K}"""

    # the packed-block layout must be answer-identical to the per-row
    # plan — one oracle gates both physical strategies
    o["ivf_packed"] = o["ivf_fixed"]

    # §3.1 flagship pipeline end-to-end: every stage of full_search
    # replayed in SQL. Driver-side scalars (preprocess, variant
    # expansion, α routing, adaptive threshold) are CALLED here at
    # generation time — same code path the Spark query uses — and
    # their results embedded as literals; the relational stages
    # (per-variant hybrid legs, RRF, max-merge, 8-factor rescore,
    # cross-encoder stand-in, threshold, MMR unroll) mirror the
    # DataFrame program expression-for-expression.
    from mcp_vector_search_spark.functions.query import (
        IDENTIFIER_ALPHA,
        adaptive_threshold,
        expand_query,
        is_identifier_query,
        preprocess_query,
    )

    SP_RAW = "stream query data"
    sp_q = preprocess_query(SP_RAW)
    sp_variants = expand_query(sp_q)[:3]
    sp_alpha = IDENTIFIER_ALPHA if is_identifier_query(sp_q) else 0.7
    sp_beta = 1.0 - sp_alpha
    sp_thresh = adaptive_threshold(sp_q, 0.1)
    sp_k = 10
    sp_hyb_k = sp_k * 3  # T4 over-retrieval into the MMR stage
    sp_leg_n = sp_hyb_k * 2  # per-leg over-retrieval inside hybrid
    sp_words = list(dict.fromkeys(sp_q.lower().split()))
    sp_qterms = sp_q.lower().split()

    def _cmw(col: str) -> str:
        return (
            "("
            + " + ".join(
                f"CASE WHEN contains({col}, '{w}') THEN 1 ELSE 0 END"
                for w in sp_words
            )
            + ")"
        )

    sp_bm_ctes = ",".join(
        _bm25_scored(v.split(), sp_leg_n, f"spb{i}")
        for i, v in enumerate(sp_variants)
    )
    sp_hyb = []
    for i in range(len(sp_variants)):
        sp_hyb.append(
            f"""spb{i}_r AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
           FROM spb{i}),
spf{i} AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                  coalesce({sp_alpha!r} / (60 + a.rnk), 0.0)
                + coalesce({sp_beta!r} / (60 + b.rnk), 0.0) AS raw
           FROM spkn_r a FULL JOIN spb{i}_r b ON a.doc_id = b.doc_id),
spmx{i} AS (SELECT max(raw) AS m FROM spf{i}),
sph{i} AS MATERIALIZED (SELECT doc_id, round(raw / m, 6) AS rrf_score
           FROM spf{i}, spmx{i}
           ORDER BY rrf_score DESC, doc_id LIMIT {sp_hyb_k})"""
        )
    sp_union = " UNION ALL ".join(
        f"SELECT doc_id, rrf_score FROM sph{i}" for i in range(len(sp_variants))
    )
    from mcp_vector_search_spark.functions.scoring import (
        PYTHON_BOILERPLATE as _SP_BP,
    )

    sp_bp = ", ".join(f"'{b.lower()}'" for b in _SP_BP)
    sp_qw = ", ".join(f"'{w}'" for w in sp_words)
    sp_ce_terms = ", ".join(f"'{t}'" for t in sp_qterms)
    sp_mmr_steps, sp_mmr_final = _mmr_unroll("sp", "spcand", sp_k, 1.0 - 0.3)
    o["search_pipeline"] = f"""
WITH {_BM25_SHARED},{sp_bm_ctes},
{_KN_LEG},
spkn AS (SELECT vec_id AS doc_id, {_UDOT} AS cos_sim FROM hu, hqu
         ORDER BY cos_sim DESC, doc_id LIMIT {sp_leg_n}),
spkn_r AS MATERIALIZED (SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rnk
         FROM spkn),
{",".join(sp_hyb)},
spmerge AS (SELECT doc_id, max(rrf_score) AS rrf_score FROM ({sp_union})
            GROUP BY doc_id),
spmeta AS (SELECT doc_id, 'src/' || source || '.py' AS file_path,
           list_extract({_TOKS}, 1) AS name, lower(text) AS content_l,
           CASE WHEN doc_id % 3 = 0 THEN 'function'
                WHEN doc_id % 3 = 1 THEN 'class' ELSE 'code' END AS chunk_type
           FROM documents),
spj AS (SELECT b.doc_id, b.rrf_score, coalesce(lower(m.name), '') AS name_l,
               lower(m.file_path) AS fp_l, m.content_l, m.chunk_type,
               lower(string_split(m.file_path, '/')[-1]) AS file_name,
               len(string_split(m.file_path, '/')) AS depth,
               {_cmw('m.content_l')} AS cm
        FROM spmerge b JOIN spmeta m USING (doc_id)),
sprs AS (SELECT doc_id, rrf_score, content_l,
  round(least(1.0,
    rrf_score
    + CASE WHEN contains(name_l, '{sp_q}') THEN 0.15 ELSE 0.0 END
    + {_cmw('name_l')}::DOUBLE * 0.05
    + CASE WHEN contains(file_name, '{sp_q}') THEN 0.08 ELSE 0.0 END
    + {_cmw('file_name')}::DOUBLE * 0.03
    + CASE WHEN cm > 0 THEN (cm::DOUBLE / {len(sp_words)}) * 0.1 ELSE 0.0 END
    + CASE WHEN chunk_type = 'function' THEN 0.05
           WHEN chunk_type = 'class' THEN 0.03 ELSE 0.0 END
    + CASE WHEN regexp_matches(fp_l, '\\.(py|js|ts|java|cpp|c|go|rs)$')
           THEN 0.02 ELSE 0.0 END
    + CASE WHEN contains(file_name, 'test') THEN -0.02 ELSE 0.0 END
    + CASE WHEN depth <= 3 THEN 0.02 WHEN depth > 5 THEN -0.01 ELSE 0.0 END
    + CASE WHEN name_l IN ({sp_bp}) AND name_l NOT IN ({sp_qw})
           THEN -0.15 ELSE 0.0 END), 6) AS rescored
  FROM spj),
spce AS (SELECT doc_id, rescored,
  round((1.0 / (1.0 + exp(-(
      len(list_intersect(
          list_distinct(list_filter(regexp_split_to_array(content_l, '[^a-z0-9]+'),
                                    x -> x != '')),
          [{sp_ce_terms}]))::DOUBLE / {len(sp_qterms)})))
    + rescored) / 2.0, 6) AS ce_score
  FROM sprs),
spcand AS MATERIALIZED (
  SELECT c.doc_id AS id, c.ce_score AS rel, hu.u
  FROM spce c JOIN hu ON hu.vec_id = c.doc_id
  WHERE c.ce_score >= {sp_thresh!r}
  ORDER BY rel DESC, id LIMIT {sp_hyb_k}),
{sp_mmr_steps}
SELECT s.id AS doc_id, c.rel AS ce_score, s.mmr_rank::BIGINT AS mmr_rank
FROM {sp_mmr_final} s JOIN spcand c USING (id)"""

    # A6 LCOM4: union-find replayed as a recursive-CTE min-label
    # closure over the per-class method↔attr bipartite graph —
    # component count among method nodes. Integer-only, so the hash
    # compare is float-free.
    o["lcom4"] = f"""
WITH RECURSIVE
lt AS (SELECT source AS class_name, {_TOKS} AS toks FROM documents),
lu AS (SELECT class_name, list_extract(toks, 1) AS method,
              list_extract(toks, 2) AS attr FROM lt),
lmn AS (SELECT DISTINCT class_name, 'm:' || method AS node FROM lu
        WHERE method IS NOT NULL),
le0 AS (SELECT DISTINCT class_name, 'm:' || method AS u, 'a:' || attr AS v
        FROM lu WHERE method IS NOT NULL AND attr IS NOT NULL AND attr != ''),
led AS (SELECT class_name, u, v FROM le0
        UNION ALL SELECT class_name, v AS u, u AS v FROM le0),
lall AS (SELECT DISTINCT class_name, node FROM
         (SELECT class_name, node FROM lmn
          UNION ALL SELECT class_name, u AS node FROM led)),
lreach(class_name, node, label) AS (
  SELECT class_name, node, node AS label FROM lall
  UNION
  SELECT e.class_name, e.v AS node, r.label
  FROM lreach r JOIN led e ON e.class_name = r.class_name AND e.u = r.node),
lcomp AS (SELECT class_name, node, min(label) AS cid
          FROM lreach GROUP BY class_name, node)
SELECT m.class_name, count(DISTINCT c.cid)::BIGINT AS lcom4,
       count(DISTINCT m.node)::BIGINT AS n_methods
FROM lmn m JOIN lcomp c ON c.class_name = m.class_name AND c.node = m.node
GROUP BY m.class_name"""

    o["complexity"] = f"""
WITH {_CODE_CTES},
toks2 AS (SELECT doc_id, chunk_no,
          list_filter(regexp_split_to_array(lower(chunk_text), '[^a-z0-9]+'),
                      x -> x != '') AS toks
          FROM cg)
SELECT doc_id, chunk_no::BIGINT AS chunk_no,
       (1 + len(list_filter(toks, t -> t IN ({kw_in}))))::BIGINT AS cyclomatic,
       len(toks)::BIGINT AS token_count
FROM toks2"""

    probe_ts = ", ".join(f"TIMESTAMP '{p}'" for p in ASOF_PROBES)
    o["asof_latest"] = f"""
WITH p AS (SELECT user_id, pt
           FROM (SELECT DISTINCT user_id FROM events),
                (SELECT unnest([{probe_ts}]) AS pt)),
b AS (SELECT p.user_id, p.pt, max(e.ts) AS bts
      FROM p LEFT JOIN events e ON e.user_id = p.user_id AND e.ts <= p.pt
      GROUP BY p.user_id, p.pt)
SELECT b.user_id, epoch_us(b.pt) AS probe_us, max(e.event_id) AS last_event_id
FROM b LEFT JOIN events e ON e.user_id = b.user_id AND e.ts = b.bts
GROUP BY b.user_id, b.pt"""

    o["ontology"] = """
SELECT lang AS category, count(*) AS n_docs, count(DISTINCT source) AS n_sources,
       array_to_string(list_sort(list(DISTINCT source)), ',') AS children
FROM documents GROUP BY lang"""

    o["viz_neighbors"] = f"""
WITH e AS (SELECT 'o' || l_orderkey AS src, 'p' || l_partkey AS dst FROM lineitem),
n AS (SELECT 'p' || min(l_partkey) AS node FROM lineitem),
neigh AS (SELECT DISTINCT e.src AS id FROM e, n WHERE e.dst = n.node),
r AS (SELECT id, row_number() OVER (ORDER BY id) AS rnk FROM neigh)
SELECT id, rnk FROM r
WHERE rnk > {(VIZ_PAGE - 1) * VIZ_PAGE_SIZE} AND rnk <= {VIZ_PAGE * VIZ_PAGE_SIZE}"""

    # merged G8+G9 gate: the two views above as one tagged union
    o["kg_views"] = f"""
WITH onto AS ({o['ontology']}), vz AS ({o['viz_neighbors']})
SELECT 'ontology' AS view, category AS node, n_docs, n_sources, children,
       CAST(NULL AS BIGINT) AS rnk
FROM onto
UNION ALL
SELECT 'viz' AS view, id AS node, CAST(NULL AS BIGINT) AS n_docs,
       CAST(NULL AS BIGINT) AS n_sources, CAST(NULL AS VARCHAR) AS children, rnk
FROM vz"""

    # lower() on both engine and oracle sides: kg_boost matches node
    # names case-insensitively (query terms are preprocess_query-
    # lowercased — r6 review #4)
    terms_in = ", ".join(f"'{t.lower()}'" for t in QUERY_TERMS)
    o["kg_boost"] = f"""
WITH {_bm25_ctes(KNN_K)},{_KG_EDGE_CTES},
kgm AS (SELECT DISTINCT ke.src AS doc_id FROM ke JOIN kn ON ke.dst = kn.dst
        WHERE lower(kn.name) IN ({terms_in}))
SELECT bm.doc_id, bm.score,
       round(bm.score + CASE WHEN m.doc_id IS NULL THEN 0.0 ELSE 0.02 END, 6)
         AS boosted_score
FROM bm LEFT JOIN kgm m USING (doc_id)"""

    o["code_enrichment"] = f"""
WITH {_EU},
qn AS (SELECT embedding AS qv, sqrt({_NORMSQ}) AS nrm FROM embeddings
       WHERE vec_id = {KNN_QUERY_ID}),
qu AS (SELECT list_transform(qv, x -> x::DOUBLE / nrm) AS uq FROM qn),
mainx AS (SELECT vec_id, label, {_UDOT} AS cos_sim FROM eu, qu
          ORDER BY cos_sim DESC, vec_id LIMIT {KNN_K}),
ce AS (SELECT vec_id, embedding[1:{CODE_DIM}] AS embedding FROM embeddings),
cen AS (SELECT vec_id, embedding, sqrt({_NORMSQ}) AS nrm FROM ce),
ceu AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE / nrm) AS u FROM cen),
cqn AS (SELECT embedding AS qv, sqrt({_NORMSQ}) AS nrm FROM ce
        WHERE vec_id = {KNN_QUERY_ID}),
cqu AS (SELECT list_transform(qv, x -> x::DOUBLE / nrm) AS uq FROM cqn),
codek AS (SELECT vec_id, {_UDOT} AS cos_sim FROM ceu, cqu
          ORDER BY cos_sim DESC, vec_id LIMIT {KNN_K}),
cids AS (SELECT DISTINCT vec_id FROM codek)
SELECT m.vec_id, m.label::BIGINT AS label, m.cos_sim,
       round(m.cos_sim + CASE WHEN c.vec_id IS NULL THEN 0.0 ELSE 0.15 END, 6)
         AS boosted_score
FROM mainx m LEFT JOIN cids c USING (vec_id)"""

    o["blame_ranges"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
nt AS (SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) > 0),
ch AS (SELECT doc_id, unnest(range(ceil(n / {CHUNK_SIZE}.0)::BIGINT)) AS chunk_key,
              n FROM nt),
ch2 AS (SELECT doc_id, chunk_key, chunk_key * {CHUNK_SIZE} AS c_start,
               least((chunk_key + 1) * {CHUNK_SIZE}, n) - 1 AS c_end FROM ch),
hu AS (SELECT doc_id, unnest(range(ceil(n / {HUNK_SIZE}.0)::BIGINT)) AS h FROM nt),
hu2 AS (SELECT doc_id, h * {HUNK_SIZE} AS h_start, h * {HUNK_SIZE} + {HUNK_SIZE - 1} AS h_end,
               'c' || ((doc_id * 7 + h) % {N_COMMITS}) AS commit_id FROM hu),
j AS (SELECT c.doc_id, c.chunk_key, c.c_start, c.c_end, h.commit_id
      FROM ch2 c JOIN hu2 h ON c.doc_id = h.doc_id
       AND h.h_start <= c.c_end AND h.h_end >= c.c_start)
SELECT doc_id, chunk_key::BIGINT AS chunk_key, c_start::BIGINT AS c_start,
       c_end::BIGINT AS c_end, count(DISTINCT commit_id)::BIGINT AS n_commits,
       max(commit_id) AS last_commit
FROM j GROUP BY doc_id, chunk_key, c_start, c_end"""

    o["keywords"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tp AS (SELECT doc_id, unnest(toks) AS token, unnest(range(len(toks))) AS pos FROM t),
tfc AS (SELECT doc_id, token, count(*)::BIGINT AS tf, min(pos)::BIGINT AS first_pos
        FROM tp GROUP BY doc_id, token),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tf DESC, first_pos, token) AS kw_rank
      FROM tfc)
SELECT doc_id, token, tf, first_pos, kw_rank::BIGINT AS kw_rank
FROM r WHERE kw_rank <= 3"""

    from mcp_vector_search_spark.functions.text import (
        ACRONYM_RE,
        CAMEL_RE,
        SNAKE_RE,
    )

    o["identifiers"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
t6 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 6),
it AS (SELECT doc_id,
  concat_ws(' ',
    toks[1] || '_' || toks[2],
    toks[3] || upper(substr(toks[4], 1, 1)) || substr(toks[4], 2, length(toks[4])),
    upper(toks[5]),
    '`' || toks[6] || '`') AS itext FROM t6)
SELECT doc_id,
  coalesce(array_to_string(regexp_extract_all(itext, '{SNAKE_RE}'), ','), '') AS snake,
  coalesce(array_to_string(regexp_extract_all(itext, '{CAMEL_RE}'), ','), '') AS camel,
  coalesce(array_to_string(regexp_extract_all(itext, '{ACRONYM_RE}'), ','), '') AS acronyms,
  coalesce(array_to_string(regexp_extract_all(itext, '`([^`]+)`', 1), ','), '') AS refs
FROM it"""

    o["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus"""

    o["revenue_by_nation"] = """
SELECT n_name,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name"""

    _HASHES = "list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)"
    simhash_terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, x -> (x & {1 << i}) != 0)) > len(hs)"
        f" THEN {1 << i} ELSE 0 END"
        for i in range(60)
    )
    _SIMHASH_CTES = f"""
t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, {_HASHES} AS hs FROM t),
fp AS (SELECT doc_id, ({simhash_terms})::BIGINT AS simhash FROM h)"""

    o["simhash"] = f"WITH {_SIMHASH_CTES} SELECT doc_id, simhash FROM fp"

    o["simhash_near_dups"] = f"""
WITH {_SIMHASH_CTES},
banded AS (SELECT doc_id, simhash, band_idx,
                  (simhash >> (band_idx * 15)) & 32767 AS band_val
           FROM fp, (SELECT unnest([0, 1, 2, 3]) AS band_idx)),
pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {SIMHASH_MAX_HAMMING}"""

    _COS_AB = (
        "round(list_sum(list_transform(list_zip(va, vb), p -> p[1]::DOUBLE * p[2]::DOUBLE))"
        " / (sqrt(list_sum(list_transform(va, x -> x::DOUBLE * x::DOUBLE)))"
        " * sqrt(list_sum(list_transform(vb, x -> x::DOUBLE * x::DOUBLE)))), 6)"
    )
    o["embedding_near_dups"] = f"""
WITH e AS (SELECT vec_id, embedding,
                  row_number() OVER (ORDER BY vec_id) AS pos FROM embeddings),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS va, b.embedding AS vb
      FROM e a JOIN e b ON b.pos > a.pos AND b.pos <= a.pos + {NEIGHBOR_WINDOW})
SELECT id_a, id_b, {_COS_AB} AS cos_sim FROM p WHERE {_COS_AB} >= {EMB_DUP_T}"""

    # the clustered (scale-path) variant: deterministic first-16
    # centroid assignment (same fc/fa shape as ivf_fixed), pairs only
    # within a cluster
    o["embedding_near_dups_clustered"] = f"""
WITH cen AS (SELECT vec_id, embedding, sqrt({_NORMSQ}) AS nrm FROM embeddings),
ceu AS (SELECT vec_id, embedding,
               list_transform(embedding, x -> x::DOUBLE / nrm) AS u FROM cen),
cfc AS (SELECT vec_id::INT AS cluster_id, u AS cu FROM ceu
        WHERE vec_id < {IVF_FIXED_CENTS}),
cfa AS (SELECT vec_id, embedding, cluster_id, row_number() OVER (
          PARTITION BY vec_id ORDER BY cs DESC, cluster_id) AS rn
        FROM (SELECT e.vec_id, e.embedding, c.cluster_id,
                     round(list_sum(list_transform(list_zip(e.u, c.cu),
                           p -> p[1]::DOUBLE * p[2]::DOUBLE)), 9) AS cs
              FROM ceu e, cfc c)),
cassigned AS (SELECT vec_id, embedding, cluster_id FROM cfa WHERE rn = 1),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS va, b.embedding AS vb
      FROM cassigned a JOIN cassigned b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
SELECT id_a, id_b, {_COS_AB} AS cos_sim FROM p WHERE {_COS_AB} >= {EMB_DUP_T}"""

    # multi-probe variant: top-2 probe assignments per vector, pairs
    # sharing ANY probe cluster, deduped before the cosine
    o["embedding_near_dups_multiprobe"] = f"""
WITH cen AS (SELECT vec_id, embedding, sqrt({_NORMSQ}) AS nrm FROM embeddings),
ceu AS (SELECT vec_id, embedding,
               list_transform(embedding, x -> x::DOUBLE / nrm) AS u FROM cen),
cfc AS (SELECT vec_id::INT AS cluster_id, u AS cu FROM ceu
        WHERE vec_id < {IVF_FIXED_CENTS}),
cfa AS (SELECT vec_id, cluster_id, row_number() OVER (
          PARTITION BY vec_id ORDER BY cs DESC, cluster_id) AS rn
        FROM (SELECT e.vec_id, c.cluster_id,
                     round(list_sum(list_transform(list_zip(e.u, c.cu),
                           p -> p[1]::DOUBLE * p[2]::DOUBLE)), 9) AS cs
              FROM ceu e, cfc c)),
probes AS (SELECT vec_id, cluster_id FROM cfa WHERE rn <= 2),
prs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM probes a JOIN probes b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id),
p AS (SELECT id_a, id_b, ea.embedding AS va, eb.embedding AS vb
      FROM prs JOIN ceu ea ON prs.id_a = ea.vec_id
               JOIN ceu eb ON prs.id_b = eb.vec_id)
SELECT id_a, id_b, {_COS_AB} AS cos_sim FROM p WHERE {_COS_AB} >= {EMB_DUP_T}"""

    q_full = " ".join(QUERY_TERMS)

    def _cm(col: str) -> str:
        """sum of per-word substring-match indicators on `col`."""
        return (
            "("
            + " + ".join(
                f"CASE WHEN contains({col}, '{w}') THEN 1 ELSE 0 END"
                for w in QUERY_TERMS
            )
            + ")"
        )

    from mcp_vector_search_spark.functions.scoring import PYTHON_BOILERPLATE

    bp_list = ", ".join(f"'{b.lower()}'" for b in PYTHON_BOILERPLATE)
    qw_list = ", ".join(f"'{w}'" for w in QUERY_TERMS)
    o["rescore"] = f"""
WITH {_bm25_ctes(KNN_K)},
meta AS (SELECT doc_id, 'src/' || source || '.py' AS file_path,
         list_extract({_TOKS}, 1) AS name, lower(text) AS content_l,
         CASE WHEN doc_id % 3 = 0 THEN 'function'
              WHEN doc_id % 3 = 1 THEN 'class' ELSE 'code' END AS chunk_type
         FROM documents),
j AS (SELECT b.doc_id, b.score, coalesce(lower(m.name), '') AS name_l,
             lower(m.file_path) AS fp_l, m.content_l, m.chunk_type,
             lower(string_split(m.file_path, '/')[-1]) AS file_name,
             len(string_split(m.file_path, '/')) AS depth,
             {_cm('m.content_l')} AS cm
      FROM bm b JOIN meta m USING (doc_id)),
s AS (SELECT doc_id, score,
  score
  + CASE WHEN contains(name_l, '{q_full}') THEN 0.15 ELSE 0.0 END
  + {_cm('name_l')}::DOUBLE * 0.05
  + CASE WHEN contains(file_name, '{q_full}') THEN 0.08 ELSE 0.0 END
  + {_cm('file_name')}::DOUBLE * 0.03
  + CASE WHEN cm > 0 THEN (cm::DOUBLE / {len(QUERY_TERMS)}) * 0.1 ELSE 0.0 END
  + CASE WHEN chunk_type = 'function' THEN 0.05
         WHEN chunk_type = 'class' THEN 0.03 ELSE 0.0 END
  + CASE WHEN regexp_matches(fp_l, '\\.(py|js|ts|java|cpp|c|go|rs)$')
         THEN 0.02 ELSE 0.0 END
  + CASE WHEN contains(file_name, 'test') THEN -0.02 ELSE 0.0 END
  + CASE WHEN depth <= 3 THEN 0.02 WHEN depth > 5 THEN -0.01 ELSE 0.0 END
  + CASE WHEN name_l IN ({bp_list}) AND name_l NOT IN ({qw_list})
         THEN -0.15 ELSE 0.0 END AS raw
  FROM j)
SELECT doc_id, score, round(least(1.0, raw), 6) AS rescored FROM s"""

    o["decay_sigmoid"] = """
SELECT event_id,
       round(least(1.0, pow(0.5, date_diff('day', ts::DATE, DATE '2024-02-01')::DOUBLE
                                 / 7.0)), 6) AS decay,
       round(1.0 / (1.0 + exp(-(value / 100.0))), 6) AS sig
FROM events"""

    o["smells"] = f"""
WITH t AS (SELECT doc_id, n_chars, text, {_TOKS} AS toks FROM documents),
m AS (SELECT doc_id, n_chars, len(toks) AS nt,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END AS dr,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(lower(text), '[a-z0-9 \\t\\n\\r]', '', 'g'))::DOUBLE
                       / length(text) ELSE 0.0 END AS pr
      FROM t)
SELECT doc_id, 'long_doc' AS smell, 'warning' AS severity FROM m WHERE n_chars > 400
UNION ALL
SELECT doc_id, 'low_diversity', 'info' FROM m WHERE nt > 0 AND dr < 0.5
UNION ALL
SELECT doc_id, 'high_punct', 'warning' FROM m WHERE pr > 0.1"""

    weight_cases = " ".join(f"WHEN '{s}' THEN {w}" for s, w in DEBT_WEIGHTS.items())
    o["debt"] = f"""
WITH t AS (SELECT doc_id, n_chars, text, {_TOKS} AS toks FROM documents),
m AS (SELECT doc_id, n_chars, len(toks) AS nt,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END AS dr,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(lower(text), '[a-z0-9 \\t\\n\\r]', '', 'g'))::DOUBLE
                       / length(text) ELSE 0.0 END AS pr
      FROM t),
sm AS (SELECT doc_id, 'long_doc' AS smell FROM m WHERE n_chars > 400
       UNION ALL SELECT doc_id, 'low_diversity' FROM m WHERE nt > 0 AND dr < 0.5
       UNION ALL SELECT doc_id, 'high_punct' FROM m WHERE pr > 0.1)
SELECT d.source,
       sum(CASE sm.smell {weight_cases} ELSE 0 END)::BIGINT AS debt_score,
       count(*) AS n_smells
FROM sm JOIN documents d USING (doc_id)
GROUP BY d.source"""

    o["dir_rollup"] = """
WITH f AS (SELECT 'src/' || lang || '/' || source || '.txt' AS path, n_chars
           FROM documents),
a AS (SELECT unnest(list_transform(range(1, len(string_split(path, '/'))),
                    i -> array_to_string(string_split(path, '/')[1:i], '/'))) AS dir,
             n_chars
      FROM f)
SELECT dir, count(*) AS n_files, sum(n_chars)::BIGINT AS total_chars
FROM a GROUP BY dir"""

    o["rrf_trimodal"] = f"""
WITH {_bm25_ctes(KNN_K)},
{_KN_LEG},
bm_r AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM bm),
kn AS (SELECT vec_id AS doc_id, {_UDOT} AS cos_sim FROM hu, hqu
       ORDER BY cos_sim DESC, doc_id LIMIT {KNN_K}),
kn_r AS (SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rnk FROM kn),
tq AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
qs AS (SELECT doc_id,
       round(greatest(0.0, least(100.0,
         50.0 + 30.0 * (CASE WHEN len(toks) > 0
                        THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END)
         - 100.0 * (CASE WHEN length(text) > 0
                    THEN length(regexp_replace(lower(text), '[a-z0-9 \\t\\n\\r]', '', 'g'))::DOUBLE
                         / length(text) ELSE 0.0 END)
         + 0.2 * least(len(toks), 100)::DOUBLE)), 4) AS quality
       FROM tq),
ql AS (SELECT doc_id, quality FROM qs ORDER BY quality DESC, doc_id LIMIT {KNN_K}),
ql_r AS (SELECT doc_id, row_number() OVER (ORDER BY quality DESC, doc_id) AS rnk FROM ql),
u AS (SELECT doc_id, rnk FROM bm_r UNION ALL SELECT doc_id, rnk FROM kn_r
      UNION ALL SELECT doc_id, rnk FROM ql_r),
g AS (SELECT doc_id, sum(1.0 / (60 + rnk)) AS raw, count(*) AS n_strategies
      FROM u GROUP BY doc_id)
SELECT doc_id, round(raw, 6) AS rrf_score, n_strategies FROM g WHERE raw >= 0.01"""

    o["multimodal_features"] = """
WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n, text FROM documents)
SELECT doc_id, n::BIGINT AS n_bytes,
       round(CASE WHEN n > 0 THEN ascii(substr(text, 1, 1)) / 255.0 ELSE 0.0 END, 6) AS f0,
       round(CASE WHEN n > 0 THEN ascii(substr(text, n // 2 + 1, 1)) / 255.0 ELSE 0.0 END, 6) AS f1,
       round(CASE WHEN n > 0 THEN ascii(substr(text, n, 1)) / 255.0 ELSE 0.0 END, 6) AS f2,
       round(CASE WHEN n > 0 THEN (n % 256) / 255.0 ELSE 0.0 END, 6) AS f3,
       ascii(substr(text, 1, 1))::BIGINT AS first_byte
FROM b"""

    o["multimodal_meta"] = """
SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
       ascii(substr(text, 1, 1))::BIGINT AS first_byte
FROM documents"""

    _dk = DUP_SPAN_K
    o["dup_spans"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
w AS (SELECT doc_id, unnest(range(1, len(toks) - {_dk} + 2)) AS pos, toks
      FROM t WHERE len(toks) >= {_dk}),
h AS (SELECT doc_id, pos,
             md5(array_to_string(toks[pos:pos + {_dk - 1}], ' ')) AS wh
      FROM w),
p AS (SELECT doc_id, pos FROM h
      WHERE wh IN (SELECT wh FROM h GROUP BY wh HAVING count(*) >= 2)),
i AS (SELECT doc_id, pos,
        CASE WHEN max(pos + {_dk - 1}) OVER
               (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             OR pos > max(pos + {_dk - 1}) OVER
               (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
        THEN 1 ELSE 0 END AS ni
      FROM p),
s AS (SELECT doc_id, pos,
        sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS island
      FROM i)
SELECT doc_id, min(pos)::BIGINT AS span_start,
       (max(pos) + {_dk - 1})::BIGINT AS span_end,
       count(*)::BIGINT AS n_windows
FROM s GROUP BY doc_id, island"""

    # lang_id: the stopword profiles / threshold / priority order are
    # rendered from the SAME constants the Spark expression uses, so
    # the two sides cannot drift.
    from mcp_vector_search_spark.functions.text import (
        CJK_RANGE,
        LANG_ID_MIN_SCORE,
        LANG_ID_PRIORITY,
        LANG_STOPWORDS,
    )

    def _sw_list(lang: str) -> str:
        return "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]) + "]"

    _score_cols = ",\n  ".join(
        f"CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> "
        f"list_contains({_sw_list(lang)}, x)))::DOUBLE / len(toks) "
        f"ELSE 0.0 END AS s_{lang}"
        for lang in LANG_STOPWORDS
    )
    _pred_cascade = " ".join(
        f"WHEN s_{lang} = m THEN '{lang}'" for lang in LANG_ID_PRIORITY
    )
    o["lang_id"] = f"""
WITH t AS (SELECT lang, text, {_TOKS} AS toks FROM documents),
s AS (SELECT lang,
  {_score_cols},
  CASE WHEN length(text) > 0 THEN
    length(regexp_replace(text, '[^{CJK_RANGE}]', '', 'g'))::DOUBLE
      / length(text) ELSE 0.0 END AS s_zh
 FROM t),
p AS (SELECT lang,
  greatest(s_en, s_es, s_fr, s_de, s_zh) AS m,
  CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) < {LANG_ID_MIN_SCORE}
       THEN 'unknown' {_pred_cascade} END AS detected
 FROM s)
SELECT lang AS meta_lang, detected, count(*) AS n_docs,
       round(avg(round(m, 6)), 6) AS avg_confidence
FROM p GROUP BY lang, detected"""

    o["embedding_stats"] = """
SELECT label::BIGINT AS label, count(*) AS n_vecs,
       round(avg(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))), 6)
         AS avg_norm
FROM embeddings GROUP BY label"""

    # ---------------------------------------------------- merged gates
    # Each consolidated gate composes the absorbed oracles verbatim
    # (subquery-wrapped), so the per-operator SQL stays auditable while
    # one registry key gates several §2 rows.

    # Gopher-style repetition/quality signals (Rae et al. 2021 Table
    # A1) — composed into the text_quality gate below; the list-lambda
    # expressions mirror functions/text.py's column exprs 1:1
    _gopher_sql = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks, {_LINES} AS lns FROM documents),
m AS (SELECT doc_id,
       len(toks) AS nt,
       round(CASE WHEN len(lns) > 0
             THEN 1.0 - len(list_distinct(lns))::DOUBLE / len(lns)
             ELSE 0.0 END, 6) AS dup_line_frac,
       round(CASE WHEN len(lns) > 0
             THEN len(list_filter(lns, x -> starts_with(x, '-')
                                         OR starts_with(x, '*')))::DOUBLE / len(lns)
             ELSE 0.0 END, 6) AS bullet_line_frac,
       round(CASE WHEN len(lns) > 0
             THEN len(list_filter(lns, x -> ends_with(x, '...')))::DOUBLE / len(lns)
             ELSE 0.0 END, 6) AS ellipsis_line_frac,
       round(CASE WHEN len(toks) > 0
             THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
             ELSE 0.0 END, 6) AS mean_word_len,
       round(CASE WHEN len(toks) > 0
             THEN len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE
                  / len(toks)
             ELSE 0.0 END, 6) AS alpha_word_frac,
       round(CASE WHEN len(toks) > 0
             THEN ((length(text) - length(replace(text, '#', '')))
                   + (length(text) - length(replace(text, '...', ''))) / 3.0)
                  / len(toks)
             ELSE 0.0 END, 6) AS symbol_word_ratio
      FROM t),
g AS (SELECT doc_id, unnest({_GRAMS2}) AS gram FROM t),
gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
tg AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS top_2gram_frac FROM gc
       GROUP BY doc_id)
SELECT m.doc_id, m.dup_line_frac, m.bullet_line_frac, m.ellipsis_line_frac,
       m.mean_word_len, m.alpha_word_frac, m.symbol_word_ratio,
       coalesce(tg.top_2gram_frac, 0.0) AS top_2gram_frac,
       (m.nt BETWEEN 50 AND 100000
        AND m.mean_word_len BETWEEN 3.0 AND 10.0
        AND m.symbol_word_ratio <= 0.1
        AND m.bullet_line_frac <= 0.9
        AND m.ellipsis_line_frac <= 0.3
        AND m.alpha_word_frac >= 0.8
        AND m.dup_line_frac <= 0.3
        AND coalesce(tg.top_2gram_frac, 0.0) <= 0.2) AS passes_gopher
FROM m LEFT JOIN tg USING (doc_id)"""

    o["text_quality"] = f"""
SELECT a.*, g.dup_line_frac, g.bullet_line_frac, g.ellipsis_line_frac,
       g.mean_word_len, g.alpha_word_frac, g.symbol_word_ratio,
       g.top_2gram_frac, g.passes_gopher, b.quality
FROM ({o['text_quality']}) a
JOIN ({_gopher_sql}) g USING (doc_id)
JOIN ({o['quality_score']}) b USING (doc_id)"""

    o["incremental_delta"] = f"""
SELECT 'changed' AS kind, doc_id AS id_a, NULL::BIGINT AS id_b, fingerprint
FROM ({o['changed_docs']})
UNION ALL
SELECT 'unembedded' AS kind, doc_id AS id_a, NULL::BIGINT AS id_b, NULL::VARCHAR AS fingerprint
FROM ({o['unembedded']})
UNION ALL
SELECT 'moved' AS kind, old_id AS id_a, new_id AS id_b, fingerprint
FROM ({o['moved_docs']})"""

    embed_dims_ctx = ", ".join(
        f"round((('0x' || substr(md5(ctx_text || '#emb{i}'), 1, 8))::BIGINT % 1000)"
        f" / 999.0, 6) AS e{i}"
        for i in range(4)
    )
    o["embed_text"] = (
        f"SELECT doc_id, ctx_text, {embed_dims_ctx} FROM ({o['contextual_text']})"
    )

    o["entities"] = f"""
SELECT i.*, k.top_kw
FROM ({o['identifiers']}) i
JOIN (SELECT doc_id, string_agg(token, ',' ORDER BY kw_rank) AS top_kw
      FROM ({o['keywords']}) GROUP BY doc_id) k USING (doc_id)"""

    o["scoring"] = f"""
SELECT 'rescore' AS part, doc_id AS id, score AS x, rescored AS y
FROM ({o['rescore']})
UNION ALL
SELECT 'decay' AS part, event_id AS id, decay AS x, sig AS y
FROM ({o['decay_sigmoid']})"""

    o["dir_smells"] = f"""
WITH f AS (SELECT doc_id, 'src/' || lang || '/' || source || '.txt' AS path, n_chars
           FROM documents),
a AS (SELECT doc_id,
             unnest(list_transform(range(1, len(string_split(path, '/'))),
                    i -> array_to_string(string_split(path, '/')[1:i], '/'))) AS dir,
             n_chars
      FROM f),
roll AS (SELECT dir, count(*) AS n_files, sum(n_chars)::BIGINT AS total_chars
         FROM a GROUP BY dir),
sd AS (SELECT a.dir, count(*) AS n_smells
       FROM ({o['smells']}) sm JOIN a USING (doc_id) GROUP BY a.dir)
SELECT roll.dir, roll.n_files, roll.total_chars,
       coalesce(sd.n_smells, 0)::BIGINT AS n_smells
FROM roll LEFT JOIN sd USING (dir)"""

    # self-oracle: the Spark side computes IVF-vs-brute agreement and
    # emits recall_ok; the oracle asserts the deterministic shape (and
    # that recall_ok must be true — a recall regression hash-mismatches)
    o["ivf_topk"] = f"""
SELECT count(*)::BIGINT AS n_queries, (count(*) * {BATCH_K})::BIGINT AS n_results,
       true AS recall_ok
FROM embeddings WHERE vec_id < {BATCH_QUERIES}"""

    # r7 fused-build equality gate: the claim is artifact equality, so
    # the oracle asserts the three booleans; any block-byte or serving
    # divergence between the fused and two-step builds flips a flag
    # and hash-mismatches
    o["ivf_fused"] = (
        "SELECT 'ivf' AS codec, true AS has_blocks, true AS blocks_equal,"
        " true AS serve_equal"
    )
    # the r8 window split's past-window half (VERDICT r7 #3): the
    # ivfpq/sq fused-build equality rows, same asserted-boolean shape
    o["fused_family"] = (
        "SELECT 'ivfpq' AS codec, true AS has_blocks, true AS blocks_equal,"
        " true AS serve_equal"
        " UNION ALL SELECT 'sq', true, true, true"
    )
    # merged self-oracle for both trained ANN paths (IVF + PQ-refined):
    # one asserted row per path; any recall regression flips recall_ok
    # and hash-mismatches
    o["ann_recall"] = f"""
WITH q AS (SELECT count(*)::BIGINT AS n_queries,
                  (count(*) * {BATCH_K})::BIGINT AS n_results
           FROM embeddings WHERE vec_id < {BATCH_QUERIES})
SELECT 'ivf' AS path, n_queries, n_results, true AS recall_ok FROM q
UNION ALL
SELECT 'ivfpq' AS path, n_queries, n_results, true AS recall_ok FROM q
UNION ALL
SELECT 'pq' AS path, n_queries, n_results, true AS recall_ok FROM q
UNION ALL
SELECT 'pq_ref5' AS path, n_queries, n_results, true AS recall_ok FROM q"""

    # PQ mechanism with deterministic codebooks (subvector slices of
    # the first 16 unit vectors): every pq_encode/pq_adc_topk stage
    # replayed in SQL — round-9 per-subspace L2 encode (ties → lower
    # code), round-9 ADC lookup table, round-6 gather-sum score, rank
    # window with id tiebreak. Only the Lloyd's fit stays rows-only
    # (gated by ann_recall).
    _pq_dsub = EMB_DIM // PQ_FIXED_M
    o["pq_fixed"] = f"""
WITH {_EU},
subs AS (SELECT unnest(range({PQ_FIXED_M}))::INT AS sub_idx),
cb AS (SELECT s.sub_idx, e.vec_id::INT AS code,
              list_slice(e.u, s.sub_idx*{_pq_dsub}+1, s.sub_idx*{_pq_dsub}+{_pq_dsub}) AS cvec
       FROM eu e, subs s WHERE e.vec_id < {PQ_FIXED_CODES}),
sv AS (SELECT e.vec_id, s.sub_idx,
              list_slice(e.u, s.sub_idx*{_pq_dsub}+1, s.sub_idx*{_pq_dsub}+{_pq_dsub}) AS svec
       FROM eu e, subs s),
d AS (SELECT sv.vec_id, sv.sub_idx, cb.code,
             round(list_sum(list_transform(list_zip(sv.svec, cb.cvec),
                   p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))), 9) AS d2
      FROM sv JOIN cb USING (sub_idx)),
enc AS (SELECT vec_id, sub_idx, code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, sub_idx
                                       ORDER BY d2, code) AS ern FROM d)
        WHERE ern = 1),
fq AS (SELECT vec_id AS query_id, u FROM eu WHERE vec_id < {BATCH_QUERIES}),
qs AS (SELECT q.query_id, s.sub_idx,
              list_slice(q.u, s.sub_idx*{_pq_dsub}+1, s.sub_idx*{_pq_dsub}+{_pq_dsub}) AS qvec
       FROM fq q, subs s),
lut AS (SELECT qs.query_id, qs.sub_idx, cb.code,
               round(list_sum(list_transform(list_zip(qs.qvec, cb.cvec),
                     p -> p[1]::DOUBLE * p[2]::DOUBLE)), 9) AS ip
        FROM qs JOIN cb USING (sub_idx)),
sc AS (SELECT l.query_id, e.vec_id, round(sum(l.ip), 6) AS adc_score
       FROM enc e JOIN lut l ON l.sub_idx = e.sub_idx AND l.code = e.code
       GROUP BY l.query_id, e.vec_id),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_score DESC, vec_id) AS rn FROM sc)
SELECT query_id, vec_id, adc_score, rn::BIGINT AS rn FROM rk WHERE rn <= {BATCH_K}"""

    from mcp_vector_search_spark.functions.classify import category_case_sql

    def _sql_tpl(tpl: str) -> str:
        parts = tpl.split("{s}")
        if len(parts) == 1:
            return f"'{parts[0]}'"
        return f"'{parts[0]}' || source || '{parts[1]}'"

    n_tpl = len(DOC_PATH_TEMPLATES)
    tpl_cases = " ".join(
        f"WHEN {i} THEN {_sql_tpl(t)}" for i, t in enumerate(DOC_PATH_TEMPLATES)
    )
    o["doc_categories"] = f"""
WITH f AS (SELECT doc_id, CASE doc_id % {n_tpl} {tpl_cases} END AS path FROM documents),
l AS (SELECT doc_id, path, lower(path) AS pl FROM f)
SELECT doc_id, path, {category_case_sql('pl')} AS category FROM l"""

    o["sq_fixed"] = f"""
WITH {_EU},
ed AS (SELECT vec_id, unnest(u) AS v, generate_subscripts(u, 1) AS dim FROM eu),
b AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ed GROUP BY dim),
enc AS (SELECT vec_id, dim,
               CASE WHEN mx > mn THEN
                 least(255, greatest(0, floor((v - mn) * 255 / (mx - mn) + 0.5)))::INT
               ELSE 0 END AS code
        FROM ed JOIN b USING (dim)),
rec AS (SELECT vec_id, dim, mn + code * ((mx - mn) / 255.0) AS rv
        FROM enc JOIN b USING (dim)),
fq AS (SELECT vec_id AS query_id, u FROM eu WHERE vec_id < {BATCH_QUERIES}),
qd AS (SELECT query_id, unnest(u) AS qv, generate_subscripts(u, 1) AS dim FROM fq),
sc AS (SELECT q.query_id, r.vec_id, round(sum(q.qv * r.rv), 6) AS sq_score
       FROM qd q JOIN rec r USING (dim)
       GROUP BY q.query_id, r.vec_id),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY sq_score DESC, vec_id) AS rn FROM sc)
SELECT query_id, vec_id, sq_score, rn::BIGINT AS rn FROM rk WHERE rn <= {BATCH_K}"""

    o["token_estimate"] = f"""
SELECT doc_id, len({_TOKS})::BIGINT AS n_ws_tokens,
       (coalesce(list_sum(list_transform(regexp_extract_all(text, '[A-Za-z]+'),
                                         w -> ceil(length(w) / 4.0))), 0)::BIGINT
        + length(regexp_replace(text, '[^0-9]', '', 'g'))
        + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')))::BIGINT
         AS n_bpe_est
FROM documents"""

    from mcp_vector_search_spark.functions.text import PII_PATTERNS as _PII

    _red = "t"
    for _, _pat, _mask in _PII:
        _red = f"regexp_replace({_red}, '{_pat}', '{_mask}', 'g')"
    _cnt = ", ".join(
        f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS n_{name}"
        for name, pat, _ in _PII
    )
    o["redact_pii"] = f"""
WITH s AS (SELECT doc_id,
  CASE WHEN doc_id % {PII_MOD} = 0 THEN
    text || ' contact bob' || doc_id::VARCHAR || '@example.com at 10.1.2.'
         || (doc_id % 250)::VARCHAR || ' or +1-555-123-4567'
  ELSE text END AS t FROM documents)
SELECT doc_id, {_cnt}, md5({_red}) AS redacted_hash FROM s"""

    _g5 = (
        f"list_transform(range(1, greatest(len(toks) - {DECONTAM_N - 2}, 1)),"
        f" i -> array_to_string(toks[i:i+{DECONTAM_N - 1}], '_'))"
    )
    o["decontaminate"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, unnest(list_distinct({_g5})) AS gram
      FROM t WHERE len(toks) >= {DECONTAM_N}),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % {DECONTAM_MOD} = 0),
h AS (SELECT g.doc_id, count(DISTINCT g.gram)::BIGINT AS n_hits
      FROM g JOIN b USING (gram) GROUP BY g.doc_id)
SELECT d.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN h USING (doc_id)"""

    from mcp_vector_search_spark.operators.lm import LM_ALPHA as _LMA

    o["lm_perplexity"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
uc AS (SELECT term, count(*)::BIGINT AS c1
       FROM (SELECT unnest(toks) AS term FROM t) GROUP BY term),
tot AS (SELECT sum(c1)::DOUBLE AS total FROM uc),
bg AS (SELECT doc_id, unnest({_GRAMS2}) AS gram FROM t),
bc AS (SELECT gram, count(*)::BIGINT AS c2 FROM bg GROUP BY gram),
ev AS (SELECT doc_id, gram, string_split(gram, '_')[1] AS prev,
              string_split(gram, '_')[2] AS cur FROM bg),
j AS (SELECT e.doc_id,
             (CASE WHEN bc.c2 IS NOT NULL AND up.c1 IS NOT NULL
                   THEN {_LMA!r} * bc.c2 / up.c1 ELSE 0.0 END)
             + {1.0 - _LMA!r} * coalesce(ucur.c1, 1) / tot.total AS p
      FROM ev e
      LEFT JOIN bc ON bc.gram = e.gram
      LEFT JOIN uc up ON up.term = e.prev
      LEFT JOIN uc ucur ON ucur.term = e.cur, tot)
SELECT doc_id, count(*)::BIGINT AS n_bigrams, round(avg(ln(p)), 6) AS avg_logp
FROM j GROUP BY doc_id"""

    # 24-bit md5 uniform — the exact expression hash_uniform() renders
    # (integer / 2^24 is exact in float64, so thresholds agree)
    def _u(salt: str) -> str:
        return (
            f"('0x' || substr(md5(doc_id::VARCHAR || '#{salt}'), 1, 6))::BIGINT"
            " / 16777216.0"
        )

    strat_cases = " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in sorted(STRAT_FRACTIONS.items())
    )
    o["sampling_splits"] = f"""
WITH s AS (
  SELECT doc_id,
         CASE WHEN {_u('split')} < {SPLIT_TRAIN!r} THEN 'train'
              WHEN {_u('split')} < {SPLIT_TRAIN + SPLIT_VAL!r} THEN 'val'
              ELSE 'test' END AS split,
         (('0x' || substr(md5(doc_id::VARCHAR || '#shard'), 1, 6))::BIGINT
          % {SHARD_N})::INT AS shard,
         {_u('strat')} < (CASE lang {strat_cases} ELSE 1.0 END) AS kept_strat,
         {_u('wsample')} < least(1.0, n_chars / 400.0) AS kept_weight,
         doc_id IN (SELECT doc_id FROM documents
                    ORDER BY md5(doc_id::VARCHAR || '#take') LIMIT {SAMPLE_N})
           AS kept_exact
  FROM documents)
SELECT * FROM s"""

    from mcp_vector_search_spark.operators.analytics import (
        DOC_EXTS,
        DOC_PCT,
        DOMINANT_PCT,
        JS_EXTS,
        PRESETS,
        SIZE_BANDS,
        SIZE_TOP,
    )

    _pf_docs = ", ".join(f"'{e}'" for e in DOC_EXTS)
    _pf_js = ", ".join(f"'{e}'" for e in JS_EXTS)
    _pf_size = (
        "CASE "
        + " ".join(
            f"WHEN n_files < {bound} THEN '{name}'" for bound, name in SIZE_BANDS
        )
        + f" ELSE '{SIZE_TOP}' END"
    )

    def _preset_case(idx: int, cast: str) -> str:
        return (
            "CASE size_category "
            + " ".join(
                f"WHEN '{name}' THEN {vals[idx]}" for name, vals in PRESETS.items()
            )
            + f" END::{cast}"
        ).replace("True", "true").replace("False", "false")

    o["codebase_profile"] = f"""
WITH f AS (SELECT CASE doc_id % 7
    WHEN 0 THEN 'node_modules/' || source || '/x.js'
    WHEN 1 THEN 'src/' || source || '.py'
    WHEN 2 THEN 'src/' || source || '.min.js'
    WHEN 3 THEN '.git/' || source
    WHEN 4 THEN 'docs/' || source || '.md'
    WHEN 5 THEN 'src/' || source || '.rs'
    ELSE 'data/' || source || '.txt' END AS path
  FROM documents),
e AS (SELECT CASE WHEN regexp_matches(path, '\\.[A-Za-z0-9]+$')
                  THEN lower(string_split(path, '.')[-1]) ELSE '' END AS ext
      FROM f),
a AS (SELECT count(*)::BIGINT AS n_files,
        round(sum(CASE WHEN ext IN ({_pf_docs}) THEN 1 ELSE 0 END)::DOUBLE
              * 100.0 / count(*), 6) AS doc_pct,
        round(sum(CASE WHEN ext = 'py' THEN 1 ELSE 0 END)::DOUBLE
              * 100.0 / count(*), 6) AS py_pct,
        round(sum(CASE WHEN ext IN ({_pf_js}) THEN 1 ELSE 0 END)::DOUBLE
              * 100.0 / count(*), 6) AS js_pct,
        round(sum(CASE WHEN ext = 'java' THEN 1 ELSE 0 END)::DOUBLE
              * 100.0 / count(*), 6) AS java_pct
      FROM e),
b AS (SELECT *, {_pf_size} AS size_category,
        CASE WHEN doc_pct > {DOC_PCT!r} THEN 'documentation'
             WHEN py_pct > {DOMINANT_PCT!r} THEN 'python'
             WHEN js_pct > {DOMINANT_PCT!r} THEN 'javascript'
             WHEN java_pct > {DOMINANT_PCT!r} THEN 'java'
             ELSE 'mixed' END AS codebase_type
      FROM a)
SELECT n_files, doc_pct, py_pct, js_pct, java_pct, size_category,
       codebase_type,
       {_preset_case(0, "BIGINT")} AS batch_size,
       {_preset_case(1, "BOOLEAN")} AS parallel_embeddings,
       {_preset_case(2, "BIGINT")} AS max_cache_size,
       {_preset_case(3, "BOOLEAN")} AS code_only
FROM b"""

    from mcp_vector_search_spark.sources.discovery import (
        EXCLUDED_SUBPROJECT_DIRS,
        SUBPROJECT_MARKERS,
    )

    _sp_markers = ", ".join(f"'{mk}'" for mk in SUBPROJECT_MARKERS)
    _sp_excl = ", ".join(f"'{d}'" for d in EXCLUDED_SUBPROJECT_DIRS)
    o["subprojects"] = f"""
WITH files AS (SELECT doc_id,
  CASE WHEN doc_id % 5 = 0 THEN 'toplevel/' || source || '.txt'
       WHEN doc_id % 7 = 0 THEN 'packages/en/sub/' || source || '.txt'
       ELSE 'packages/' || lang || '/src/' || source || '.txt' END AS path
  FROM documents),
markers AS (SELECT DISTINCT 'packages/' || lang || '/package.json' AS path
            FROM documents
            UNION ALL SELECT 'packages/en/sub/package.json'),
listing AS (SELECT path FROM files UNION ALL SELECT path FROM markers),
m AS (SELECT path, string_split(path, '/') AS sp FROM listing),
roots AS (SELECT DISTINCT array_to_string(sp[1:len(sp)-1], '/') AS root_dir
          FROM m
          WHERE sp[-1] IN ({_sp_markers})
            AND len(list_intersect(sp[1:len(sp)-1], [{_sp_excl}])) = 0
            AND len(sp) > 1),
r2 AS (SELECT root_dir, string_split(root_dir, '/')[-1] AS spname
       FROM roots WHERE root_dir != ''),
cand AS (SELECT f.doc_id, f.path, r2.root_dir, r2.spname
         FROM files f LEFT JOIN r2 ON f.path LIKE r2.root_dir || '/%'),
pick AS (SELECT doc_id, path, spname,
                row_number() OVER (PARTITION BY doc_id, path
                  ORDER BY length(coalesce(root_dir, '')) DESC, root_dir ASC)
                  AS rn
         FROM cand)
SELECT coalesce(spname, 'none') AS subproject, count(*)::BIGINT AS n_files
FROM pick WHERE rn = 1 GROUP BY 1"""

    _mix_vals = ", ".join(
        f"('{k}', {v!r})" for k, v in MIX_WEIGHTS.items()
    )
    _mix_wsum = repr(sum(MIX_WEIGHTS.values()))
    o["token_mixture"] = f"""
WITH tot AS (SELECT lang, sum(len({_TOKS}))::DOUBLE AS t
             FROM documents GROUP BY lang),
f AS (SELECT lang,
        CASE WHEN t > 0
             THEN least(1.0, ({MIX_BUDGET} * w / {_mix_wsum}) / t)
             ELSE 0.0 END AS frac
      FROM tot JOIN (VALUES {_mix_vals}) AS wt(lang, w) USING (lang)),
k AS (SELECT d.doc_id, d.lang, len({_TOKS}) AS ntok
      FROM documents d JOIN f USING (lang)
      WHERE {_u('mix')} < frac)
SELECT lang, count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS sum_tokens
FROM k GROUP BY lang"""

    _mix_wsum_f = sum(MIX_WEIGHTS.values())
    _mix_tcases = " ".join(
        f"WHEN '{k}' THEN {MIX_BUDGET * v / _mix_wsum_f!r}"
        for k, v in sorted(MIX_WEIGHTS.items())
    )
    o["token_mixture_exact"] = f"""
WITH d AS (SELECT doc_id, lang, len({_TOKS}) AS ntok, {_u('mix')} AS u
           FROM documents),
c AS (SELECT doc_id, lang, ntok,
        sum(ntok) OVER (PARTITION BY lang ORDER BY u, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS cum
      FROM d)
SELECT lang, count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS sum_tokens
FROM c
WHERE cum <= CASE lang {_mix_tcases} ELSE -1.0 END
GROUP BY lang"""

    _pack_ctes = f"""WITH RECURSIVE
pt AS (SELECT doc_id, len({_TOKS})::BIGINT AS tok,
              (('0x' || substr(md5(doc_id::VARCHAR || '#pack'), 1, 6))::BIGINT
               % {SHARD_N})::INT AS shard
       FROM documents),
pr AS (SELECT shard, doc_id, tok,
              row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
       FROM pt),
fold(shard, rn, doc_id, tok, bin_id, fill) AS (
  SELECT shard, rn, doc_id, tok, 1::BIGINT, tok FROM pr WHERE rn = 1
  UNION ALL
  SELECT p.shard, p.rn, p.doc_id, p.tok,
         CASE WHEN f.fill + p.tok > {PACK_CAP} THEN f.bin_id + 1
              ELSE f.bin_id END,
         CASE WHEN f.fill + p.tok > {PACK_CAP} THEN p.tok
              ELSE f.fill + p.tok END
  FROM fold f JOIN pr p ON p.shard = f.shard AND p.rn = f.rn + 1)"""

    o["pack_sequences"] = f"""
{_pack_ctes}
SELECT shard, doc_id, tok, bin_id FROM fold"""

    o["packed_shards"] = f"""
{_pack_ctes}
SELECT shard, bin_id, count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS total_tok,
       md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS text_hash
FROM fold JOIN documents USING (doc_id)
GROUP BY shard, bin_id"""

    # repetition_signals: per-doc n-gram multiplicity replayed the SQL
    # way (explode + GROUP BY) against the engine's sorted-fold form
    _g = lambda span, last: (  # noqa: E731 — local SQL template
        f"SELECT doc_id, unnest(list_transform("
        f"range(1, greatest(len(toks) - {last}, 1)), "
        f"i -> array_to_string(toks[i:i+{span}], '_'))) AS gram FROM t"
    )
    o["repetition_signals"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g3 AS ({_g(2, 1)}), g5 AS ({_g(4, 3)}), g10 AS ({_g(9, 8)}),
c3 AS (SELECT doc_id, max(cnt)::DOUBLE / sum(cnt) AS f
       FROM (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY doc_id, gram)
       GROUP BY doc_id),
c5 AS (SELECT doc_id,
              coalesce(sum(cnt) FILTER (WHERE cnt >= 2), 0)::DOUBLE / sum(cnt) AS f
       FROM (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY doc_id, gram)
       GROUP BY doc_id),
c10 AS (SELECT doc_id,
               coalesce(sum(cnt) FILTER (WHERE cnt >= 2), 0)::DOUBLE / sum(cnt) AS f
        FROM (SELECT doc_id, gram, count(*) AS cnt FROM g10 GROUP BY doc_id, gram)
        GROUP BY doc_id)
SELECT d.doc_id,
       round(coalesce(c3.f, 0.0), 6) AS top_3gram_frac,
       round(coalesce(c5.f, 0.0), 6) AS dup_5gram_frac,
       round(coalesce(c10.f, 0.0), 6) AS dup_10gram_frac
FROM documents d
LEFT JOIN c3 USING (doc_id) LEFT JOIN c5 USING (doc_id)
LEFT JOIN c10 USING (doc_id)"""

    # corpus_jsonl / corpus_csv: the oracle reads the parquet the
    # shards were written from — equality proves the write→read cycle
    # lossless (same aggregate for both formats; empty-string texts
    # read back NULL from CSV, which these sums treat identically)
    o["corpus_jsonl"] = """
SELECT lang, count(*)::BIGINT AS n_docs,
       count(DISTINCT doc_id)::BIGINT AS n_ids,
       sum(doc_id)::BIGINT AS id_sum,
       sum(length(text))::BIGINT AS text_chars,
       sum(n_chars)::BIGINT AS meta_chars
FROM documents GROUP BY lang"""
    o["corpus_csv"] = o["corpus_jsonl"]

    # absorbed into the merged gates above — drop the standalone keys
    # so queries()/oracle_sql() stay exactly key-aligned
    for absorbed in (
        "quality_score",
        "changed_docs",
        "unembedded",
        "moved_docs",
        "contextual_text",
        "keywords",
        "identifiers",
        "rescore",
        "decay_sigmoid",
        "dir_rollup",
        "multimodal_meta",
    ):
        del o[absorbed]

    return o


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table A1 repetition filters beyond the in-window bigram
    mode (`text_quality.top_2gram_frac`): per-doc top-3-gram fraction
    and duplicate-5/10-gram fractions (occurrence-weighted — Gopher
    drops docs above ~0.10-0.15 on the dup-n-gram family). Zero
    shuffle: each signal is a sorted-array linear fold
    (functions/text.py:_run_fold), so the scan stays one pass per doc
    at any corpus size; the oracle replays via explode+GROUP BY."""
    from mcp_vector_search_spark.functions.text import (
        dup_ngram_fraction,
        top_ngram_fraction,
        tokenize,
        word_ngrams,
    )

    d = _docs_spread(spark, sf_dir).select(
        "doc_id", tokenize("text").alias("_toks")
    )
    return d.select(
        "doc_id",
        top_ngram_fraction(word_ngrams(F.col("_toks"), 3)).alias("top_3gram_frac"),
        dup_ngram_fraction(word_ngrams(F.col("_toks"), 5)).alias("dup_5gram_frac"),
        dup_ngram_fraction(word_ngrams(F.col("_toks"), 10)).alias("dup_10gram_frac"),
    )


def q_corpus_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion round-trip (sources/corpus.py:read_corpus, the
    SURVEY §2.1 S1/S3 training-pipeline extension): documents → gzipped
    JSONL shards under /tmp → read back (schema inferred) → per-lang
    fidelity aggregate. Matching the oracle computed on the PARQUET
    the shards came from proves the whole write→read cycle preserves
    ids, text (newline/quote/unicode escaping), and metadata through
    gzip framing. Overflow gate: writes a temp dir keyed by sf_dir
    AND pid (r10 ADVICE low: two concurrent gate runs against the same
    sf_dir — verify_local alongside the driver — must not overwrite
    each other's shards mid-read; per-pid dirs are overwrite-idempotent
    within a run and a few MB of /tmp debris across runs)."""
    import hashlib
    import os
    import tempfile

    from mcp_vector_search_spark.sources.corpus import read_corpus, write_corpus

    docs = _docs(spark, sf_dir)
    dst = os.path.join(
        tempfile.gettempdir(),
        "msvs_corpus_gate_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        + f"_p{os.getpid()}",
    )
    write_corpus(docs, dst, "jsonl", compression="gzip", shards=4)
    back = read_corpus(spark, dst, "jsonl")
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("doc_id").cast("long").alias("n_ids"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum(F.length("text")).cast("long").alias("text_chars"),
        F.sum("n_chars").cast("long").alias("meta_chars"),
    )


def q_corpus_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion round-trip (VERDICT r9 #5) — the riskiest ingest
    path: real documents carry embedded newlines/quotes/commas, so
    the reader runs multiLine with RFC-4180 quote-as-escape
    (sources/corpus.py write/read defaults). Matching the oracle on
    the source parquet proves the quoting survives. Schema is passed
    explicitly (the production shape — CSV inference would read every
    column as string and silently change the aggregate types).
    Overflow gate: writes a temp dir keyed by sf_dir AND pid (see
    q_corpus_jsonl — the concurrent-runner collision, r10 ADVICE)."""
    import hashlib
    import os
    import tempfile

    from mcp_vector_search_spark.sources.corpus import read_corpus, write_corpus

    docs = _docs(spark, sf_dir)
    dst = os.path.join(
        tempfile.gettempdir(),
        "msvs_corpus_csv_gate_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        + f"_p{os.getpid()}",
    )
    write_corpus(docs, dst, "csv", shards=4)
    back = read_corpus(spark, dst, "csv", schema=docs.schema)
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("doc_id").cast("long").alias("n_ids"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum(F.length("text")).cast("long").alias("text_chars"),
        F.sum("n_chars").cast("long").alias("meta_chars"),
    )


# ---------------------------------------------------------------- public registry

# Ordering contract: the driver's CORRECTNESS window records the FIRST
# 50 entries, so positions 1-50 hold exactly one primary gate per
# SURVEY §2 operator (merged gates cover several rows each). Entries
# past 50 are redundant twins (same oracle as an in-window gate) and
# TPC-H demos — still fully oracle-checked by tools/verify_local.py,
# never the only gate for any operator.
SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- §2 primary gates (driver window, first 50) ---
    # r6 rotation (VERDICT r5 #5): the round-5/6 serving operators
    # enter the scored window — hybrid_batch + hybrid_batch_tbl (the
    # expression-compiled and table-driven batch pipelines),
    # sq_fixed (the SQ codec gate, back in per verdict), and
    # embedding_near_dups_multiprobe (the r5 auto-dedup path), and —
    # later in r6 — commit_dag_closure (the distributed pointer-
    # doubling ancestry closure, replacing bfs in-window: single-
    # source reachability is a special case of the full closure, and
    # bfs stays oracle-checked in overflow). Four
    # redundant twins rotate to overflow: pq_fixed (twins ann_recall's
    # PQ row and ivf_packed's codec-gate shape), events_hourly
    # (overlaps sessionize's event windowing), ivf_fixed (same oracle
    # rows as ivf_packed — o["ivf_packed"] = o["ivf_fixed"]), and
    # lang_distribution (lang groupBy covered by lang_id +
    # source_rollup). All rotated-out gates stay oracle-checked every
    # round via tools/verify_local.py.
    # (r4/r5 rotation notes preserved in git history.)
    # r7 rotation: ivf_fused (the one-pass fused build that now powers
    # the bench's 4M index build — equality-gated against the two-step
    # layout) rotates IN; embedding_near_dups_clustered rotates to
    # overflow (its sibling embedding_near_dups_multiprobe, the r5
    # auto-path, stays in-window and exercises the same cluster-blocked
    # candidate generation plus multiprobe boundary recovery).
    # r8: ivf_fused slimmed to the float-IVF leg only (~1/3 its former
    # ~24 s window cost — VERDICT r7 #3); the ivfpq+sq equality legs
    # moved to `fused_family` past the window, scored every round by
    # tools/verify_local.py. All three codecs stay equality-gated.
    # r9 rotation (VERDICT r8 #5): fused_family (the ivfpq+sq fused-
    # build equality legs — the 100 TB build path's other two codecs)
    # takes its driver-window tour; the true twin ivf_packed rotates
    # to overflow (IDENTICAL oracle rows to ivf_fixed —
    # o["ivf_packed"] = o["ivf_fixed"] — both still scored every
    # round by verify_local). sq_fixed STAYS in-window: its scoring
    # oracle (SQ top-k vs SQL) is not what fused_family's layout-
    # equality booleans assert. bm25_incr_bucketed stays overflow on
    # window-cost grounds (~40 s at sf0.01 — it writes, updates, and
    # compacts real segment dirs; the r8 window-slimming work keeps
    # paying only if heavy lifecycle gates live past the window).
    # r10 rotation (VERDICT r9 #6): corpus_jsonl (the gzipped-JSONL
    # ingestion round-trip, new in r9) and repetition_signals (the
    # Gopher dup-n-gram family) take their driver-window tours.
    # Rotated out: hybrid_batch — its expr-compiled pipeline twins
    # hybrid_batch_tbl's SQL oracle exactly and is the weaker serving
    # path (the table-driven batch is what serves past ~100 queries);
    # and fused_family — its r9 tour is complete (green in
    # CORRECTNESS_r09), its float sibling ivf_fused stays in-window,
    # and its ivfpq+sq equality legs remain scored every round by
    # tools/verify_local.py like every overflow gate.
    # r11 rotation (VERDICT r10 #7): corpus_csv (the multiLine
    # quoted-newline CSV round-trip, new in r10 — the riskiest ingest
    # path) takes its driver-window tour. Rotated out:
    # hybrid_batch_tbl — its SQL oracle is shared verbatim by BOTH
    # overflow batch gates (o["hybrid_batch"] and
    # o["hybrid_batch_ann"] reuse it), so the window loses no oracle
    # coverage; all three stay scored every round by
    # tools/verify_local.py. sq_fixed STAYS in-window (the r9 note
    # holds: its SQ-top-k-vs-SQL oracle is not what fused_family's
    # layout-equality booleans assert).
    # r12 rotation (VERDICT r11 #8): hybrid_batch_tbl returns after
    # its one-round rest (the table-driven batch is the serving path
    # past ~100 queries — the strongest batch gate belongs in-window),
    # and redact_pii takes its FIRST driver-window tour (never
    # windowed before; the PII regex ladder is a first-class
    # LLM-pipeline op). Rotated out to overflow: corpus_jsonl (toured
    # r10-r11, its riskier csv sibling stays in-window) and
    # repetition_signals (toured r10-r11; its fold kernels are also
    # exercised by text_quality's signal frame, which stays). All
    # rotated-out gates remain oracle-scored every round by
    # tools/verify_local.py.
    # r13 rotation (VERDICT r12 #3 + the correctness-gate note): the
    # driver's oracle tours this round's deepest r12 rewrites —
    # neighbor_jaccard (hashed shingles: semantics-up-to-collision),
    # simhash (the Arrow bit-majority kernel; its near-dups sibling
    # was already in-window), bm25_incr (deferred term-stats across
    # lifecycle updates), ivf_topk (overlapped fit/brute chains) —
    # and corpus_jsonl + repetition_signals return from their r12
    # rest (the verdict asked both back so the rotated-out pair is
    # driver-oracled again). Rotated out to overflow, six stable
    # gates untouched by any r12/r13 optimization, each with its
    # operator family still covered: lm_perplexity (count-table
    # shape twinned by token_estimate, overflow; text_quality stays
    # in-window), source_rollup (rollup aggregates covered in-window
    # by dir_smells, overflow codebase_profile), packed_shards
    # (per-stratum packing windows = pack_sequences' shape, overflow;
    # token_mixture_exact stays in-window), tag_query (KG lookups
    # covered in-window by kg_edges + kg_boost; kg_views/kg_stats
    # overflow), doc_categories (regex-ladder classification covered
    # in-window by redact_pii + entities), asof_latest (union-window
    # as-of join; blame_ranges' range join stays in-window,
    # events_lag_delta overflow). All six stay oracle-scored every
    # round by tools/verify_local.py.
    "bm25_topk": q_bm25_topk,
    "knn_topk": q_knn_topk,
    "hybrid_rrf": q_hybrid_rrf,
    "hybrid_batch_tbl": q_hybrid_batch_tbl,
    "corpus_csv": q_corpus_csv,
    "sq_fixed": q_sq_fixed,
    "embedding_near_dups_multiprobe": q_embedding_near_dups_multiprobe,
    "dup_clusters": q_dup_clusters,
    "minhash_jaccard": q_minhash_jaccard,
    "neighbor_jaccard": q_neighbor_jaccard,
    "simhash": q_simhash,
    "decontaminate": q_decontaminate,
    "simhash_near_dups": q_simhash_near_dups,
    "ivf_fused": q_ivf_fused,
    "text_quality": q_text_quality,
    "chunk_windows": q_chunk_windows,
    "corpus_jsonl": q_corpus_jsonl,
    "repetition_signals": q_repetition_signals,
    "redact_pii": q_redact_pii,
    "sessionize": q_sessionize,
    "bm25_incr": q_bm25_incremental,
    "ivf_topk": q_ivf_topk,
    "incremental_delta": q_incremental_delta,
    "ann_recall": q_ann_recall,
    "dup_spans": q_dup_spans,
    "token_mixture_exact": q_token_mixture_exact,
    "lang_id": q_lang_id,
    "sampling_splits": q_sampling_splits,
    "bm25_expanded": q_bm25_expanded,
    "kg_edges": q_kg_edges,
    "graph_degree": q_graph_degree,
    "commit_dag_closure": q_commit_dag_closure,
    "call_graph": q_call_graph,
    "cycles": q_cycles,
    "dead_code": q_dead_code,
    "embed_text": q_embed_text,
    "file_discovery": q_file_discovery,
    "search_pipeline": q_search_pipeline,
    "code_chunks": q_code_chunks,
    "complexity": q_complexity,
    "lcom4": q_lcom4,
    "kg_boost": q_kg_boost,
    "code_enrichment": q_code_enrichment,
    "blame_ranges": q_blame_ranges,
    "entities": q_entities,
    "scoring": q_scoring,
    "dir_smells": q_dir_smells,
    "rrf_trimodal": q_rrf_trimodal,
    "multimodal_features": q_multimodal_features,
    "mmr": q_mmr,
    # --- overflow: oracle-checked past the driver's 50-query window;
    # tools/verify_local.py runs them on every round ---
    # hybrid_batch_ann twins hybrid_batch's oracle by design (all-
    # clusters-probed packed IVF = exact), so it lives in overflow —
    # the in-window batch gates already score the pipeline's algebra
    "hybrid_batch_ann": q_hybrid_batch_ann,
    "embedding_near_dups_clustered": q_embedding_near_dups_clustered,
    "bfs": q_bfs,
    "pq_fixed": q_pq_fixed,
    "events_hourly": q_events_hourly,
    "ivf_fixed": q_ivf_fixed,
    "lang_distribution": q_lang_distribution,
    "pack_sequences": q_pack_sequences,
    "trace_paths": q_trace_paths,
    "kg_stats": q_kg_stats,
    "embedding_near_dups": q_embedding_near_dups,
    "hotspots": q_hotspots,
    "events_lag_delta": q_events_lag_delta,
    "kg_views": q_kg_views,
    "token_estimate": q_token_estimate,
    "knn_batch_np": q_knn_batch_np,
    "ngram_top50": q_ngram_top50,
    "exact_dups": q_exact_dups,
    "ontology": q_ontology,
    "viz_neighbors": q_viz_neighbors,
    "knn_batch": q_knn_batch,
    "smells": q_smells,
    "kg_related": q_kg_related,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "debt": q_debt,
    "embedding_stats": q_embedding_stats,
    "token_mixture": q_token_mixture,
    "subprojects": q_subprojects,
    "codebase_profile": q_codebase_profile,
    "halstead": q_halstead,
    "result_quality": q_result_quality,
    "ml_chunks": q_ml_chunks,
    "bm25_incr_bucketed": q_bm25_incremental_bucketed,
    # r9: the rotated-out twin — still oracle-scored every round by
    # tools/verify_local.py (identical oracle rows to ivf_fixed)
    "ivf_packed": q_ivf_packed,
    # r10 rotation (see the window comment): hybrid_batch's expr-mode
    # twin and fused_family (r9 tour complete) live here now
    "hybrid_batch": q_hybrid_batch,
    "fused_family": q_fused_family,
    # r12 rotation (see the window comment): corpus_jsonl and
    # repetition_signals rest here after their r10-r11 tours — still
    # oracle-scored every round by tools/verify_local.py
    # r13 rotation (see the window comment): six stable untouched
    # gates rest here — still oracle-scored every round by
    # tools/verify_local.py
    "lm_perplexity": q_lm_perplexity,
    "source_rollup": q_source_rollup,
    "packed_shards": q_packed_shards,
    "tag_query": q_tag_query,
    "doc_categories": q_doc_categories,
    "asof_latest": q_asof_latest,
}

ORACLE_SQL: dict[str, str] = _oracles()
