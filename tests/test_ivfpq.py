"""IVF-PQ (operators/ivfpq.py): residual-encode validity, probe-set
parity with the plain-IVF path, refined recall on real testdata, and
string-id agnosticism of the grouped ADC kernel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

K = 10
NQ = 4


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _queries(emb, n=NQ):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.fixture(scope="module")
def index(emb):
    from mcp_vector_search_spark.operators.ivfpq import ivfpq_build

    encoded, centroids, codebooks = ivfpq_build(
        emb, num_clusters=8, m=16, k_codes=64
    )
    return encoded.cache(), centroids.cache(), codebooks.cache()


def test_build_shapes(emb, index):
    encoded, centroids, codebooks = index
    n = emb.count()
    assert encoded.count() == n
    assert set(encoded.columns) == {"vec_id", "cluster_id", "codes"}
    assert centroids.count() == 8
    assert codebooks.count() == 16 * 64
    row = encoded.first()
    assert len(row.codes) == 16 and all(0 <= c < 64 for c in row.codes)


def test_refined_recall_on_testdata(emb, index):
    """ADC shortlist + exact rerank must stay inside the reference
    recall band (>=0.975 @ k=10, CHANGELOG.md:429-432) even on this
    weakly-clustered synthetic corpus with all clusters probed; with
    fewer probes it may only degrade gracefully."""
    from mcp_vector_search_spark.operators.ivfpq import ivfpq_topk_refined
    from mcp_vector_search_spark.operators.topk import topk_per_query

    q = _queries(emb)
    brute = {
        (r.query_id, r.vec_id)
        for r in topk_per_query(emb, q, K).select("query_id", "vec_id").collect()
    }
    encoded, centroids, codebooks = index
    got = {
        (r.query_id, r.vec_id)
        for r in ivfpq_topk_refined(
            emb, encoded, centroids, codebooks, q, K, nprobes=8, rerank_factor=5
        ).collect()
    }
    recall = len(got & brute) / len(brute)
    assert recall >= 0.975, recall


def test_partial_probe_subsets_full(emb, index):
    """Probing fewer clusters returns a subset of the all-probe ADC
    candidate universe — monotonicity of the probe filter."""
    from mcp_vector_search_spark.operators.ivfpq import ivfpq_pack, ivfpq_topk_packed

    q = _queries(emb, 2)
    encoded, centroids, codebooks = index
    packed = ivfpq_pack(encoded)
    full = ivfpq_topk_packed(packed, centroids, codebooks, q, 50, nprobes=8)
    part = ivfpq_topk_packed(packed, centroids, codebooks, q, 50, nprobes=2)
    fs = {(r.query_id, r.vec_id, r.adc_score) for r in full.collect()}
    # every partial-probe hit must appear in the full scoring with the
    # same ADC score (scores are probe-set independent)
    ps = {(r.query_id, r.vec_id, r.adc_score) for r in part.collect()}
    assert {s[:2] for s in ps} <= {s[:2] for s in fs} or all(
        s in fs for s in ps if s[:2] in {t[:2] for t in fs}
    )
    for s in ps:
        if s[:2] in {t[:2] for t in fs}:
            assert s in fs


def test_string_ids(spark, emb):
    """The per-row ADC source derives id dtypes from the input schema
    (ADVICE r2) — a string-keyed corpus must work end-to-end."""
    from mcp_vector_search_spark.operators.ivfpq import ivfpq_build, ivfpq_topk_refined

    s = emb.limit(64).select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    encoded, centroids, codebooks = ivfpq_build(s, num_clusters=4, m=8, k_codes=8)
    q = emb.filter(F.col("vec_id") < 2).select(
        F.concat(F.lit("q-"), F.col("vec_id")).alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = ivfpq_topk_refined(s, encoded, centroids, codebooks, q, 5, nprobes=4).collect()
    assert len(out) == 10
    assert all(r.vec_id.startswith("doc-") and r.query_id.startswith("q-") for r in out)


def test_ivfpq_packed_codes_parity(spark):
    """`ivfpq_pack` + `ivfpq_topk_packed` return BIT-IDENTICAL rows to
    the kernel's per-row ADC source (r5: codes packing is a layout
    change, never an answer change), and the refined path accepts
    either layout for its shortlist."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators import kernel
    from mcp_vector_search_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_pack,
        ivfpq_topk_packed,
        ivfpq_topk_refined,
    )
    from mcp_vector_search_spark.operators.pq import _collect_codebooks

    emb = io.table(spark, SF_DIR, "embeddings")
    enc, cents, cbs = ivfpq_build(emb, num_clusters=8, m=16, k_codes=64)
    enc = enc.cache()
    packed = ivfpq_pack(enc).cache()
    import numpy as np

    rows = packed.collect()
    assert sum(r.n for r in rows) == emb.count()
    assert all(r.dtype == "uint8" for r in rows)  # k_codes=64 < 256

    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    qs = kernel.collect_queries(queries, centroids=cents, nprobes=6)
    per_row = kernel.score_topk(
        enc, kernel.rows("vec_id", "codes", "cluster_id"), qs, 10,
        kernel.pq_codec(qs, _collect_codebooks(cbs)), "adc_score",
    )
    a = sorted(map(tuple, per_row.collect()))
    b = sorted(
        map(tuple, ivfpq_topk_packed(packed, cents, cbs, queries, 10, nprobes=6).collect())
    )
    assert a == b

    r1 = sorted(
        map(tuple, ivfpq_topk_refined(
            emb, enc, cents, cbs, queries, 10, nprobes=6, rerank_factor=3
        ).collect())
    )
    r2 = sorted(
        map(tuple, ivfpq_topk_refined(
            emb, enc, cents, cbs, queries, 10, nprobes=6, rerank_factor=3,
            packed_codes=packed,
        ).collect())
    )
    assert r1 == r2
    enc.unpersist()
    packed.unpersist()


def test_ivfpq_pack_fused_bit_identical_to_three_step(emb, index):
    """r7: the fused one-pass encode+pack (`ivfpq_pack_fused`) must
    produce the EXACT block layout of
    ivfpq_pack(ivfpq_encode(vectors, cents, cbs)) — same assignment
    kernel, same IEEE residual, pq_encode's argmin verbatim, dtype
    resolution through repack upcast — and serve identical ADC rows."""
    from mcp_vector_search_spark.operators.ivfpq import (
        ivfpq_encode,
        ivfpq_pack,
        ivfpq_pack_fused,
        ivfpq_topk_packed,
    )

    _, cents, cbs = index
    three = ivfpq_pack(ivfpq_encode(emb, cents, cbs))
    fused = ivfpq_pack_fused(emb, cents, cbs)

    def key(df):
        return sorted(
            (r.cluster_id, r.block_id, r.n, r.m, r.dtype, tuple(r.vec_ids), r.codes)
            for r in df.collect()
        )

    want = key(three)
    assert key(fused) == want
    # forced multi-block split parity
    assert key(ivfpq_pack(ivfpq_encode(emb, cents, cbs), rows_per_block=64)) == key(
        ivfpq_pack_fused(emb, cents, cbs, rows_per_block=64)
    )
    # serving parity over the fused layout
    q = _queries(emb)
    a = sorted(map(tuple, ivfpq_topk_packed(three, cents, cbs, q, 5, nprobes=8).collect()))
    b = sorted(map(tuple, ivfpq_topk_packed(fused, cents, cbs, q, 5, nprobes=8).collect()))
    assert a == b


def test_ivfpq_build_packed_matches_staged_build(emb, index):
    """r7: `ivfpq_build_packed` (codebook fit + one fused encode+pack
    pass) returns the exact packed layout of
    ivfpq_pack(ivfpq_build(...)[0]) given the same coarse state."""
    from mcp_vector_search_spark.operators.ivf import ivf_build_sampled
    from mcp_vector_search_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_build_packed,
        ivfpq_pack,
    )

    assigned, cents = ivf_build_sampled(emb, num_clusters=8)
    assigned = assigned.cache()
    enc, c1, cb1 = ivfpq_build(emb, m=16, k_codes=64, coarse=(assigned, cents))
    pk, c2, cb2 = ivfpq_build_packed(
        emb, m=16, k_codes=64, coarse=(assigned, cents)
    )
    assert sorted(map(tuple, cb1.collect())) == sorted(map(tuple, cb2.collect()))

    def key(df):
        return sorted(
            (r.cluster_id, r.block_id, r.n, r.m, r.dtype, tuple(r.vec_ids), r.codes)
            for r in df.collect()
        )

    assert key(ivfpq_pack(enc)) == key(pk)
    # default coarse is the SAMPLED fit (r7 review: an MLlib ivf_build
    # coarse would mix assignment kernels — fastSquaredDistance ties
    # vs the exact half-norm argmin the fused pack re-assigns with):
    # no-coarse fused == staged-with-sampled-coarse, block for block
    pk_def, c3, cb3 = ivfpq_build_packed(emb, num_clusters=8, m=16, k_codes=64)
    assert sorted(map(tuple, c3.collect())) == sorted(map(tuple, cents.collect()))
    assert sorted(map(tuple, cb3.collect())) == sorted(map(tuple, cb1.collect()))
    assert key(pk_def) == key(pk)
    assigned.unpersist()


def test_ivfpq_build_packed_custom_id_col_default_coarse(emb):
    """r7 advice: with a non-default id_col and NO explicit coarse,
    the default sampled coarse fit must receive that id_col —
    previously _fit_residual_codebooks dropped it and ivf_build_sampled
    failed selecting the missing 'vec_id' column."""
    from mcp_vector_search_spark.operators.ivfpq import ivfpq_build_packed

    renamed = emb.withColumnRenamed("vec_id", "doc_id")
    pk, cents, cbs = ivfpq_build_packed(
        renamed, id_col="doc_id", num_clusters=8, m=16, k_codes=64
    )
    ids = [v for r in pk.select("vec_ids").collect() for v in r.vec_ids]
    assert len(ids) == len(set(ids)) == emb.count()
    assert cents.count() == 8 and cbs.count() == 16 * 64

    # identical fit rule as the default-name path: same centroids
    pk0, cents0, _ = ivfpq_build_packed(emb, num_clusters=8, m=16, k_codes=64)
    assert sorted(map(tuple, cents0.collect())) == sorted(
        map(tuple, cents.collect())
    )
