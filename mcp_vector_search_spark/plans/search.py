"""The full search pipeline (reference §3.1, ``core/search.py:215-432``)
as one composed DataFrame program:

  preprocess (F2) → synonym variants (F3) → identifier-α routing (F4)
  → per-variant hybrid legs (BM25 ⊕ kNN → RRF, J3) at over-retrieval
  limits (T4) → variant max-merge (J5/U1) → metadata lookup join (J2)
  → 8-factor heuristic rescoring (F10) → cross-encoder rerank stage
  (F12, deterministic stand-in) → adaptive threshold filter (P2/P3)
  → MMR diversification (F13) → final top-k.

The reference runs these as sequential Python steps; here steps up to
MMR are ONE logical plan (Catalyst sees the whole tree), and MMR is
the single tiny non-relational stage at the end (≤ k·3 rows by the T4
schedule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcp_vector_search_spark.functions.query import (
    IDENTIFIER_ALPHA,
    adaptive_threshold,
    expand_query,
    is_identifier_query,
    preprocess_query,
)
from mcp_vector_search_spark.functions.scoring import heuristic_rescore, sigmoid
from mcp_vector_search_spark.operators.fusion import max_score_merge
from mcp_vector_search_spark.operators.mmr import mmr_diversify
from mcp_vector_search_spark.io import checkpoint


import functools


@functools.lru_cache(maxsize=4)
def load_cross_encoder(model_name: str):
    """Guarded loader: a sentence-transformers CrossEncoder when the
    library is available, else None (reference ``core/reranker.py:
    22-174``, default ms-marco-MiniLM). lru_cached: the driver-side
    availability probe in `cross_encoder_rescore` would otherwise pay
    a full model construction per query, and each worker stream
    reloads at most once per process (r6 review #6)."""
    try:
        from sentence_transformers import CrossEncoder

        return CrossEncoder(model_name)
    except Exception:
        return None


def cross_encoder_rescore(
    candidates: DataFrame,
    query: str,
    score_col: str = "rescored",
    content_col: str = "content",
    model_name: str | None = None,
) -> DataFrame:
    """F12 rerank stage. With `model_name` set and sentence-transformers
    importable, (query, content) pairs are scored by a real
    cross-encoder over Arrow batches (model loaded once per worker);
    otherwise a deterministic pairwise signal (query-token overlap
    rate) runs through the same staging — sigmoid-normalized and
    averaged with the incoming score, so the oracle stays exact in
    this container and the swap-in is one config value."""
    from mcp_vector_search_spark.functions.text import tokenize

    q_terms = [t for t in query.lower().split() if t]
    if not q_terms:
        return candidates.withColumn("ce_score", F.col(score_col))

    if model_name is not None and load_cross_encoder(model_name) is not None:
        import pandas as pd
        from pyspark.sql.types import DoubleType

        # COPY the schema: StructType.add mutates in place, and
        # candidates.schema is the input frame's cached object — the
        # phantom column would corrupt later collects on the input
        from pyspark.sql.types import StructType

        out_schema = StructType(list(candidates.schema.fields)).add(
            "ce_score", DoubleType()
        )

        def rerank(batches):
            import numpy as np

            model = load_cross_encoder(model_name)  # once per worker stream
            for pdf in batches:
                raw = np.asarray(
                    model.predict([(query, c) for c in pdf[content_col].tolist()]),
                    dtype="float64",
                )
                sig = 1.0 / (1.0 + np.exp(-raw))  # vectorized sigmoid
                pdf = pdf.copy()
                pdf["ce_score"] = pd.Series(
                    (sig + pdf[score_col].to_numpy()) / 2.0
                ).round(6)
                yield pdf

        return candidates.mapInPandas(rerank, out_schema)

    toks = tokenize(content_col)
    overlap = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(t) for t in q_terms])))
    raw = overlap.cast("double") / len(q_terms)
    return candidates.withColumn(
        "ce_score", F.round((sigmoid(raw) + F.col(score_col)) / 2.0, 6)
    )


def full_search(
    docs: DataFrame,
    chunk_meta: DataFrame,
    vectors: DataFrame,
    query: str,
    query_vec: DataFrame,
    k: int = 10,
    diversity: float = 0.3,
    base_threshold: float = 0.1,
    max_variants: int = 3,
    alpha: float = 0.7,
) -> DataFrame:
    """→ (doc_id, score, mmr_rank). See module docstring for stages."""
    # route and threshold on the RAW query, like the reference: the
    # identifier classifier's camelCase/CapWord patterns need original
    # case (preprocess lowercases), and the adaptive ladder counts the
    # user's words, not the abbreviation-expanded ones — computing both
    # post-preprocess left the camelCase branch unreachable and made
    # short expandable queries 10x stricter (r6 review #6)
    if is_identifier_query(query):
        alpha = IDENTIFIER_ALPHA
    threshold = adaptive_threshold(query, base_threshold)
    q = preprocess_query(query)
    variants = expand_query(q)[:max_variants]

    # ONE corpus stats scan for every variant leg: the idf/avgdl
    # constants come from the union of variant terms, so each
    # bm25_topk leg is pure per-row scoring (the reference's
    # query-expansion path re-uses its in-memory BM25 object the same
    # way; rebuilding stats per variant re-tokenized the corpus
    # max_variants times per call).
    from mcp_vector_search_spark.operators.bm25 import bm25_oneshot_stats
    from mcp_vector_search_spark.functions.text import tokenize as _tok

    union_terms = list(dict.fromkeys(t for v in variants for t in v.split()))
    # ONE tokenize pass for the whole call (r12; guide §1.2): the
    # stats scan and every variant's scoring scan previously each
    # re-tokenized the corpus (1 + max_variants passes). Materialize
    # the (doc_id, toks, _dl) frame once — the exact
    # `Bm25ServingStats.tokenized` contract — and feed both.
    # ONE vector leg for every variant leg, same reasoning as the
    # shared stats above: the knn subtree depends only on the query
    # VECTOR, not the term variant, so per-variant legs re-scanned the
    # embeddings with an identical plan (r12; guide §7.2). Materialize
    # the ≤ k·3·2-row ranked list once and fuse it into each variant.
    # The vector-leg checkpoint and the tokenize+stats chain touch
    # different tables and block sequentially for no reason — overlap
    # them with a driver thread (r12; guide §2.6), results identical.
    from concurrent.futures import ThreadPoolExecutor

    from mcp_vector_search_spark.operators.topk import knn_brute_force
    from mcp_vector_search_spark.plans.hybrid import rank_vec_leg

    def _vec_leg():
        return rank_vec_leg(
            knn_brute_force(vectors, query_vec, k * 3 * 2)
        ).transform(checkpoint)

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_vec = pool.submit(_vec_leg)
        tok = (
            docs.select(F.col("doc_id"), _tok("text").alias("toks"))
            .withColumn("_dl", F.size("toks").cast("double"))
            .transform(checkpoint)
        )
        stats = bm25_oneshot_stats(docs, union_terms, tokenized=tok)
        vec_ranked = f_vec.result()
    # ONE scoring scan for every variant (r13, VERDICT r12 #4; guide
    # §1.2): the per-variant `hybrid_search` legs each re-scanned the
    # checkpointed tokenized frame (max_variants scoring scans + rank
    # jobs). Variants are queries with integer ids through the batch
    # pipeline's expression-compiled stage — per variant the semantics
    # are EXACTLY `rank_by(bm25_topk(...))` ⊕ RRF ⊕ top-k·3 (the
    # 1-query batch-vs-single identity pinned in
    # tests/test_topk_fusion.py and the full_search old-vs-new
    # equality checked at three SFs), and the shared ranked vector leg
    # replicates per variant as a ≤k·3·2-row crossJoin instead of
    # max_variants identical knn subtrees.
    from mcp_vector_search_spark.plans.hybrid import batch_fuse, expr_bm_leg

    term_sets = [(i, v.split()) for i, v in enumerate(variants)]
    n_leg = k * 3 * 2
    vids = docs.sparkSession.createDataFrame(
        [(i,) for i in range(len(variants))], "query_id int"
    )
    bm_leg = expr_bm_leg(
        docs, term_sets, stats, n_leg, "doc_id", "text", "query_id",
        qid_type_src=vids, tokenized=tok,
    )
    rep_vec_leg = vids.crossJoin(
        vec_ranked.select("doc_id", F.col("rank").alias("_rank_a"))
    )
    fused = batch_fuse(bm_leg, rep_vec_leg, k * 3, alpha, "query_id")
    legs = fused.select("doc_id", "rrf_score")
    merged = max_score_merge(legs, "doc_id", "rrf_score")

    enriched = merged.join(chunk_meta, "doc_id")
    rescored = heuristic_rescore(enriched, q, score_col="rrf_score")
    reranked = cross_encoder_rescore(rescored, q)
    # embeddings join BEFORE the k*3 cut: a BM25-only hit without an
    # embedding (the `unembedded` work-queue scenario) must not occupy
    # an over-retrieval slot and then vanish in the join, starving MMR
    # below k while embedded candidates just under the cut were
    # discarded (r6 review #6)
    candidates = (
        reranked.filter(F.col("ce_score") >= threshold)
        .join(vectors.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id")
        .orderBy(F.desc("ce_score"), F.asc("doc_id"))
        .limit(k * 3)  # T4: over-retrieve for the diversification stage
    )
    return mmr_diversify(
        candidates, k=k, diversity=diversity, id_col="doc_id", score_col="ce_score"
    )
