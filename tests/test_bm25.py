from __future__ import annotations

import math

from mcp_vector_search_spark.operators.bm25 import (
    B,
    EPSILON,
    K1,
    bm25_topk,
    build_postings,
    doc_stats_from_postings,
)


def _okapi_reference(corpus: list[list[str]], query: list[str]) -> dict[int, float]:
    """Pure-python BM25Okapi (public formula, rank_bm25 semantics) used
    as the golden oracle for the Spark implementation."""
    n = len(corpus)
    avgdl = sum(len(d) for d in corpus) / n
    df: dict[str, int] = {}
    for d in corpus:
        for t in set(d):
            df[t] = df.get(t, 0) + 1
    idf_raw = {t: math.log((n - f + 0.5) / (f + 0.5)) for t, f in df.items()}
    avg_idf = sum(idf_raw.values()) / len(idf_raw)
    idf = {t: (v if v >= 0 else EPSILON * avg_idf) for t, v in idf_raw.items()}
    scores = {}
    for i, d in enumerate(corpus):
        s = 0.0
        matched = False
        for t in set(query):
            tf = d.count(t)
            if tf == 0:
                continue
            matched = True
            s += idf[t] * tf * (K1 + 1) / (tf + K1 * (1 - B + B * len(d) / avgdl))
        if matched:  # engine returns every doc containing ≥1 query term
            scores[i] = round(s, 6)
    return scores


def test_bm25_matches_okapi_reference(spark, docs):
    texts = [r.text for r in docs.orderBy("doc_id").collect()]
    # token-less docs never reach the index (the reference's chunker
    # skips empty chunks before BM25Okapi ever sees them)
    corpus = [t.lower().split() for t in texts if t.strip()]
    query = ["quick", "fox", "queries"]
    want = _okapi_reference(corpus, query)

    got = {
        r.doc_id: r.score
        for r in bm25_topk(docs, query, k=10).collect()
    }
    assert got == dict(sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10])


def test_postings_and_doc_stats(spark, docs):
    p = build_postings(docs).filter("doc_id = 0 and term = 'the'").first()
    assert p.tf == 2
    dl = {r.doc_id: r.dl for r in doc_stats_from_postings(build_postings(docs)).collect()}
    assert dl[0] == 9.0 and 5 not in dl  # token-less docs have no postings


def test_bm25_sql_literals_round_trip(spark):
    """bm25_topk writes its scoring expressions as SQL text, so every
    idf, avgdl and BM25 constant passes through a SQL double literal
    and every term through a string literal: each must parse back to
    exactly the Python value (exponent forms, negatives, subnormals,
    quotes and backslashes included)."""
    from mcp_vector_search_spark.operators.bm25 import _sql_double, _sql_string

    doubles = [0.0, -0.0, 0.1 + 0.2, -0.2843965333530472, 1e-05, 2.5e20,
               5e-324, 1.7976931348623157e308, 55.878, K1, 1 - B]
    strings = ["data", "don't", "back\\slash", "'", "ünï"]
    row = spark.range(1).selectExpr(
        *(f"{_sql_double(x)} AS d{i}" for i, x in enumerate(doubles)),
        *(f"{_sql_string(s)} AS s{i}" for i, s in enumerate(strings)),
    ).first()
    for i, x in enumerate(doubles):
        assert row[f"d{i}"] == x and math.copysign(1, row[f"d{i}"]) == math.copysign(1, x)
    assert [row[f"s{i}"] for i in range(len(strings))] == strings
