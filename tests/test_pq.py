"""Product-quantization kernels (operators/pq.py): encode
determinism, ADC vs exact agreement on quantization-free input,
refined recall on real testdata, and id-type agnosticism of the
Arrow kernels."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _queries(emb, n=4):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_encode_is_deterministic_and_in_range(spark, emb):
    from mcp_vector_search_spark.operators.pq import pq_encode, pq_train

    cb = pq_train(emb, m=8, k=16)
    a = {r.vec_id: r.codes for r in pq_encode(emb, cb).collect()}
    b = {r.vec_id: r.codes for r in pq_encode(emb, cb).collect()}
    assert a == b
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in a.values())


def test_adc_exact_when_corpus_is_its_own_codebook(spark):
    """If every subvector IS a codebook entry, quantization error is
    zero and the ADC score equals the exact round-6 cosine — the
    identity that pins the ADC math to the exact path."""
    from mcp_vector_search_spark.operators.pq import pq_adc_topk, pq_encode
    from mcp_vector_search_spark.operators.topk import topk_per_query

    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(16, 8)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    # codebook = the unit corpus itself, m=2 subspaces of 4 dims
    cb_rows = []
    V = vecs.astype(np.float64)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    for s in range(2):
        for c in range(16):
            cb_rows.append((s, c, [float(x) for x in V[c, s * 4 : (s + 1) * 4]]))
    cb = spark.createDataFrame(cb_rows, "sub_idx int, code int, centroid array<double>")
    codes = pq_encode(df, cb)
    q = _queries(df, 3)
    adc = {
        (r.query_id, r.vec_id): r.adc_score
        for r in pq_adc_topk(codes, cb, q, 5).collect()
    }
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in topk_per_query(df, q, 5).collect()
    }
    assert set(adc) == set(exact)
    for key, s in adc.items():
        assert abs(s - exact[key]) < 2e-6


def test_refined_recall_meets_reference_band(spark, emb):
    from mcp_vector_search_spark.operators.pq import (
        pq_encode,
        pq_topk_refined,
        pq_train,
    )
    from mcp_vector_search_spark.operators.topk import topk_per_query

    cb = pq_train(emb, m=16, k=64)
    codes = pq_encode(emb, cb).cache()
    q = _queries(emb, 8)
    brute = {(r.query_id, r.vec_id) for r in topk_per_query(emb, q, 10).collect()}
    ref = {
        (r.query_id, r.vec_id)
        for r in pq_topk_refined(emb, codes, cb, q, 10, rerank_factor=5).collect()
    }
    assert len(brute & ref) / len(brute) >= 0.975


def test_string_ids_survive_the_arrow_kernels(spark):
    """Same ADVICE-r2 contract as topk_per_query_np: corpora keyed by
    16-hex chunk_id strings must not hit an Arrow cast error."""
    from mcp_vector_search_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    import numpy as np

    rng = np.random.default_rng(11)
    df = spark.createDataFrame(
        [
            (f"id{i:02x}", [float(x) for x in rng.normal(size=8)])
            for i in range(32)
        ],
        "vec_id string, embedding array<float>",
    )
    cb = pq_train(df, m=2, k=8)
    codes = pq_encode(df, cb)
    q = df.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq_adc_topk(codes, cb, q, 3).collect()
    assert len(out) == 6
    assert all(isinstance(r.vec_id, str) and isinstance(r.query_id, str) for r in out)
