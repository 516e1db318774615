from __future__ import annotations

import math

from pyspark.sql import functions as F

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
    """bm25_topk and cosine_topk write their scoring expressions as SQL
    text, so every idf, avgdl, BM25 constant and query-vector element
    passes through a SQL double literal and every term through a string
    literal: each must parse back to exactly the Python value (exponent
    forms, negatives, subnormals, non-finite values, quotes and
    backslashes included)."""
    from mcp_vector_search_spark.functions.literals import sql_double, sql_string

    doubles = [0.0, -0.0, 0.1 + 0.2, -0.2843965333530472, 1e-05, 2.5e20,
               5e-324, 1.7976931348623157e308, 55.878, K1, 1 - B,
               float("inf"), float("-inf")]
    strings = ["data", "don't", "back\\slash", "'", "ünï"]
    row = spark.range(1).selectExpr(
        *(f"{sql_double(x)} AS d{i}" for i, x in enumerate(doubles)),
        f"{sql_double(float('nan'))} AS nan",
        *(f"{sql_string(s)} AS s{i}" for i, s in enumerate(strings)),
    ).first()
    for i, x in enumerate(doubles):
        assert row[f"d{i}"] == x and math.copysign(1, row[f"d{i}"]) == math.copysign(1, x)
    assert math.isnan(row["nan"])
    assert [row[f"s{i}"] for i in range(len(strings))] == strings


def _tf(term: str):
    return F.size(F.filter("toks", lambda x: x == F.lit(term))).cast("double")


def _tf_sum_topk(tokenized, terms, k, idf, avgdl):
    """bm25_topk's scoring with the filter it had before `arrays_overlap`
    (Σ tf > 0), written with the Column API in the same operation
    order, so the scores are the same doubles."""
    ts = [t for t in dict.fromkeys(terms) if t in idf]
    d = tokenized.select(
        "doc_id", "_dl", *(_tf(t).alias(f"_tf{i}") for i, t in enumerate(ts))
    )
    d = d.filter(sum((F.col(f"_tf{i}") for i in range(len(ts))), F.lit(0.0)) > F.lit(0.0))
    norm = ((F.col("_dl") * F.lit(B)) / F.lit(avgdl) + F.lit(1 - B)) * F.lit(K1)
    score = F.lit(0.0)
    for i, t in enumerate(ts):
        tf = F.col(f"_tf{i}")
        score = score + ((F.lit(idf[t]) * tf) * F.lit(K1 + 1)) / (tf + norm)
    return (
        d.select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _rows(df):
    return [(r.doc_id, r.score) for r in df.collect()]


def test_bm25_topk_overlap_filter_matches_tf_sum_filter(spark):
    """bm25_topk keeps a doc iff it shares a term with the query
    (`arrays_overlap`) and sums its terms in `aggregate`; on seeded
    random cases its rows (every matching doc, ranked, with its score)
    equal those of the Σ tf > 0 filter and the inline score sum it
    replaced: repeated and absent query terms,
    empty and null text, and tokens and terms with quotes and
    backslashes (which reach the scan only through a caller-built
    tokenized frame, since `tokenize` splits on them)."""
    import random

    from mcp_vector_search_spark.functions.text import tokenize
    from mcp_vector_search_spark.operators.bm25 import bm25_oneshot_stats

    words = ["alpha", "Beta", "gamma", "delta", "don't", "back\\slash"]
    for seed in range(4):
        rng = random.Random(seed)
        texts = [None, ""] + [
            " ".join(rng.choice(words) for _ in range(rng.randint(0, 6)))
            for _ in range(14)
        ]
        docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        terms = [rng.choice(["alpha", "beta", "gamma", "delta", "don", "zzz"])
                 for _ in range(rng.randint(1, 5))]
        stats = bm25_oneshot_stats(docs, terms)
        tokenized = docs.select(
            "doc_id", tokenize("text").alias("toks")
        ).withColumn("_dl", F.size("toks").cast("double"))
        want = _rows(_tf_sum_topk(tokenized, terms, 100, stats["idf"], stats["avgdl"]))
        assert _rows(bm25_topk(docs, terms, 100, stats=stats)) == want, (seed, terms)

    vocab = ["a", "b", "don't", "x\\y", "it''s", "\\'"]
    for seed in range(4):
        rng = random.Random(100 + seed)
        rows = [(0, None, None), (1, [], 0.0)]
        for i in range(2, 16):
            toks = [rng.choice(vocab) for _ in range(rng.randint(0, 5))]
            rows.append((i, toks, float(len(toks))))
        tokenized = spark.createDataFrame(rows, "doc_id long, toks array<string>, _dl double")
        terms = [rng.choice(vocab + ["absent"]) for _ in range(rng.randint(1, 5))]
        idf = {t: rng.uniform(0.1, 3.0) for t in terms if t != "absent"}
        stats = {"idf": idf, "avgdl": 2.5}
        want = _rows(_tf_sum_topk(tokenized, terms, 100, idf, 2.5))
        got = _rows(bm25_topk(tokenized, terms, 100, stats=stats, tokenized=tokenized))
        assert got == want, (seed, terms)


def _jobs(spark, fn) -> int:
    """The number of Spark jobs `fn()` runs."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_serving_stats_preload_survives_memo_overflow(spark, monkeypatch):
    """Bm25ServingStats loads the idf of the MEMO_MAX highest-df terms
    at construction. Below the vocabulary size, a term outside the
    preload costs one lookup job, once; when the lookup memo would
    overflow it starts over, but the preloaded terms survive it and
    never run a job. When the whole vocabulary fits, a term missing
    from it is known absent and runs no job. Every answer equals
    bm25_oneshot_stats."""
    from mcp_vector_search_spark.operators.bm25 import (
        Bm25ServingStats,
        bm25_oneshot_stats,
    )

    # df: a 5, b 4, c 3, d 2, e 1, f 1 — six terms over five docs
    texts = ["a b c d e", "a b c d f", "a b c", "a b", "a", ""]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    def check(stats, terms, jobs):
        got = {}
        assert _jobs(spark, lambda: got.update(stats.stats_for(terms))) == jobs, terms
        want = bm25_oneshot_stats(docs, terms)
        assert got["n_docs"] == want["n_docs"] and got["avgdl"] == want["avgdl"]
        assert abs(got["avg_idf"] - want["avg_idf"]) < 1e-12
        assert set(got["idf"]) == set(want["idf"])
        for t in got["idf"]:
            assert abs(got["idf"][t] - want["idf"][t]) < 1e-12

    monkeypatch.setattr(Bm25ServingStats, "MEMO_MAX", 3)
    stats = Bm25ServingStats(docs)
    try:
        check(stats, ["a", "b", "c"], 0)
        check(stats, ["d", "a"], 1)
        check(stats, ["d", "b"], 0)
        check(stats, ["e", "zz"], 1)   # memo now d, e, zz: full
        check(stats, ["f", "c"], 1)    # overflow: the memo starts over
        check(stats, ["a", "b", "c"], 0)
        check(stats, ["f"], 0)
        check(stats, ["d", "a"], 1)    # d went with the overflow
    finally:
        stats.unpersist()

    monkeypatch.setattr(Bm25ServingStats, "MEMO_MAX", 6)
    stats = Bm25ServingStats(docs)
    try:
        check(stats, ["zz", "f", "a", "zz"], 0)
        check(stats, ["yy"], 0)
    finally:
        stats.unpersist()
