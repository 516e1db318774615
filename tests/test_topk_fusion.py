from __future__ import annotations

from pyspark.sql import functions as F

from mcp_vector_search_spark.operators.fusion import max_score_merge, rrf_fuse
from mcp_vector_search_spark.operators.topk import (
    knn_brute_force,
    rank_by,
    topk_per_query,
)
from tests.conftest import SF_DIR


def _vectors(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 1.0]),
        (3, [-1.0, 0.0]),
        (4, [1.0, 0.0]),  # ties with 0 — id tiebreak
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_knn_brute_force_order_and_tiebreak(spark):
    v = _vectors(spark)
    q = spark.createDataFrame([([1.0, 0.0],)], "query_vec array<float>")
    got = [(r.vec_id, r.cos_sim) for r in knn_brute_force(v, q, 4).collect()]
    assert got[0] == (0, 1.0) and got[1] == (4, 1.0)  # tie → lower id first
    assert got[2][0] == 2 and abs(got[2][1] - 0.707107) < 1e-6
    assert got[3] == (1, 0.0)


def test_topk_per_query(spark):
    v = _vectors(spark)
    q = v.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = topk_per_query(v, q, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rn, r.vec_id))
    assert sorted(by_q[0]) == [(1, 0), (2, 4)]
    assert sorted(by_q[1])[0] == (1, 1)


def test_rrf_fuse_exact_values(spark):
    a = spark.createDataFrame([(10, 1), (11, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(11, 1), (12, 2)], "doc_id long, rank int")
    got = {r.doc_id: r.rrf_score for r in rrf_fuse(a, b, alpha=0.5, round_to=6).collect()}
    raw = {
        10: 0.5 / 61,            # rank 1 in a only
        11: 0.5 / 62 + 0.5 / 61,  # rank 2 in a, rank 1 in b
        12: 0.5 / 62,            # rank 2 in b only
    }
    m = max(raw.values())
    assert got == {k: round(v / m, 6) for k, v in raw.items()}


def test_max_score_merge(spark):
    df = spark.createDataFrame(
        [(1, 0.5), (1, 0.9), (2, 0.3)], "doc_id long, score double"
    )
    got = {r.doc_id: r.score for r in max_score_merge(df, "doc_id", "score").collect()}
    assert got == {1: 0.9, 2: 0.3}


def test_rank_by_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 0.5), (2, 0.5), (3, 0.9)], "doc_id long, score double"
    )
    got = {r.doc_id: r.rank for r in rank_by(df, "score", "doc_id").collect()}
    assert got == {3: 1, 1: 2, 2: 3}


def test_hybrid_batch_matches_single_query_pipeline(spark):
    """A 1-query batch through hybrid_search_batch returns the same
    fused top-k as hybrid_search (VERDICT r4 #6: the batch program is
    an amortization, not a semantics change); a 2-query batch keeps
    per-query max-normalization independent (each query's top row
    scores 1.0)."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.plans.hybrid import (
        hybrid_search,
        hybrid_search_batch,
    )

    sf = "/root/testdata/sf0.01"
    docs = io.table(spark, sf, "documents")
    emb = io.table(spark, sf, "embeddings")
    terms = ["data", "query", "fast", "vector"]
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    single = {
        (r.doc_id, r.rrf_score) for r in hybrid_search(docs, emb, terms, qv).collect()
    }
    qvb = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).cast("long").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    batch = hybrid_search_batch(docs, emb, [(0, terms)], qvb).collect()
    assert {(r.doc_id, r.rrf_score) for r in batch} == single

    qvb2 = emb.filter(F.col("vec_id").isin([0, 11])).select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    two = hybrid_search_batch(
        docs, emb, [(0, terms), (11, ["window", "merge", "sort"])], qvb2
    ).collect()
    tops = {r.query_id: r.rrf_score for r in two if r.rn == 1}
    assert tops == {0: 1.0, 11: 1.0}


def test_hybrid_batch_indexed_matches_expression_path(spark):
    """The table-driven batch (query set joined against the postings
    index — plans/hybrid.py:hybrid_search_batch_indexed, VERDICT r5
    #2) is row-identical to the expression-compiled batch at an N
    where the two BM25 stages genuinely differ in plan shape (8
    queries, overlapping term sets, one query with corpus-absent
    terms). Also: duplicate query_ids raise."""
    import pytest
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.bm25 import (
        build_postings,
        build_term_stats,
        doc_stats_from_postings,
    )
    from mcp_vector_search_spark.plans.hybrid import (
        hybrid_search_batch,
        hybrid_search_batch_indexed,
    )

    sf = "/root/testdata/sf0.01"
    docs = io.table(spark, sf, "documents")
    emb = io.table(spark, sf, "embeddings")
    pool = [
        ["data", "query", "fast", "vector"],
        ["window", "merge", "sort"],
        ["stream", "filter", "data"],
        ["index", "hash", "join"],
        ["cache", "memory", "fast"],
        ["search", "rank", "score"],
        ["zzzznotaterm", "qqqqmissing"],  # absent everywhere: empty BM25 leg
        ["graph", "node", "edge"],
    ]
    term_sets = list(enumerate(pool))
    qvecs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    expr = {
        (r.query_id, r.doc_id, r.rrf_score, r.rn)
        for r in hybrid_search_batch(docs, emb, term_sets, qvecs).collect()
    }
    postings = build_postings(docs)
    doc_stats = doc_stats_from_postings(postings)
    term_stats = build_term_stats(postings, doc_stats)
    idx = {
        (r.query_id, r.doc_id, r.rrf_score, r.rn)
        for r in hybrid_search_batch_indexed(
            postings, doc_stats, term_stats, emb, term_sets, qvecs
        ).collect()
    }
    assert idx == expr

    with pytest.raises(ValueError, match="duplicate query_ids"):
        hybrid_search_batch_indexed(
            postings, doc_stats, term_stats, emb,
            [(0, ["data"]), (0, ["query"])], qvecs,
        )
    with pytest.raises(ValueError, match="duplicate query_ids"):
        hybrid_search_batch(docs, emb, [(0, ["data"]), (0, ["query"])], qvecs)


def test_hybrid_batch_ann_matches_exact_paths(spark):
    """hybrid_search_batch_ann (both legs from index artifacts — the
    postings tables + a packed IVF layout) with every cluster probed
    is row-identical to the exact batch pipelines (float64 packs are
    bit-identical to the Arrow brute kernel); with nprobes <
    num_clusters it still returns a full ranked top-k per query."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.bm25 import (
        build_postings,
        build_term_stats,
        doc_stats_from_postings,
    )
    from mcp_vector_search_spark.operators.ivf import ivf_build_sampled, ivf_pack
    from mcp_vector_search_spark.plans.hybrid import (
        hybrid_search_batch,
        hybrid_search_batch_ann,
    )

    sf = "/root/testdata/sf0.01"
    docs = io.table(spark, sf, "documents")
    emb = io.table(spark, sf, "embeddings")
    term_sets = [
        (0, ["data", "query", "fast"]),
        (1, ["window", "merge", "sort"]),
        (2, ["zzzznotaterm"]),  # absent everywhere: empty BM25 leg
        (3, ["graph", "node", "edge"]),
    ]
    qvecs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    postings = build_postings(docs)
    doc_stats = doc_stats_from_postings(postings)
    term_stats = build_term_stats(postings, doc_stats)
    assigned, cents = ivf_build_sampled(emb, num_clusters=8)
    packed = ivf_pack(assigned)

    expr = {
        (r.query_id, r.doc_id, r.rrf_score, r.rn)
        for r in hybrid_search_batch(docs, emb, term_sets, qvecs).collect()
    }
    ann_exact = {
        (r.query_id, r.doc_id, r.rrf_score, r.rn)
        for r in hybrid_search_batch_ann(
            postings, doc_stats, term_stats, packed, cents, term_sets, qvecs
        ).collect()  # nprobes=None: all clusters probed = exact
    }
    assert ann_exact == expr

    approx = hybrid_search_batch_ann(
        postings, doc_stats, term_stats, packed, cents, term_sets, qvecs,
        nprobes=2,
    )
    per_q = {
        r["query_id"]: r["cnt"]
        for r in approx.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(per_q) == {0, 1, 2, 3} and all(c == 10 for c in per_q.values())


def test_hybrid_batch_indexed_term_bucket_pruning(spark, tmp_path):
    """The batch paths prune a term-bucketed postings index the same
    way the single-query path does: score-neutral (row-identical to
    the expression-compiled batch) with the union terms' buckets as a
    PartitionFilter on the postings scan."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.bm25 import (
        read_bm25_index,
        write_bm25_index,
    )
    from mcp_vector_search_spark.plans.hybrid import (
        hybrid_search_batch,
        hybrid_search_batch_indexed,
    )

    sf = "/root/testdata/sf0.01"
    docs = io.table(spark, sf, "documents")
    emb = io.table(spark, sf, "embeddings")
    term_sets = [(0, ["data", "query", "fast"]), (1, ["window", "merge"])]
    qvecs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    idx = str(tmp_path / "idx")
    write_bm25_index(docs, idx, term_buckets=8)
    postings, ds, ts = read_bm25_index(spark, idx)
    want = {
        (r.query_id, r.doc_id, r.rrf_score, r.rn)
        for r in hybrid_search_batch(docs, emb, term_sets, qvecs).collect()
    }
    pruned = hybrid_search_batch_indexed(
        postings, ds, ts, emb, term_sets, qvecs, term_buckets=8
    )
    got = {(r.query_id, r.doc_id, r.rrf_score, r.rn) for r in pruned.collect()}
    assert got == want
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert any(
        "tbucket" in seg.split("]")[0]
        for seg in plan.split("PartitionFilters")[1:]
    )


def test_hybrid_server_matches_hybrid_search(spark):
    """HybridServer (warm single-query serving, VERDICT r5 #6) returns
    exactly hybrid_search's rows, in order — the legs run as two
    collects fused on the driver — and leaves every session conf as it
    was, also while serving. Bm25ServingStats.stats_for matches
    bm25_oneshot_stats for the same terms, absent ones included."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.bm25 import (
        Bm25ServingStats,
        bm25_oneshot_stats,
    )
    from mcp_vector_search_spark.plans.hybrid import HybridServer, hybrid_search

    sf = "/root/testdata/sf0.01"
    docs = io.table(spark, sf, "documents")
    emb = io.table(spark, sf, "embeddings")

    stats = Bm25ServingStats(docs)

    def check(terms):
        a = stats.stats_for(terms)
        b = bm25_oneshot_stats(docs, terms)
        assert a["n_docs"] == b["n_docs"] and a["avgdl"] == b["avgdl"]
        assert abs(a["avg_idf"] - b["avg_idf"]) < 1e-12
        assert set(a["idf"]) == set(b["idf"])
        for t in a["idf"]:
            assert abs(a["idf"][t] - b["idf"][t]) < 1e-12

    for terms in (["data", "query"], ["window", "merge", "zzzznotaterm"],
                  ["query", "zzzznotaterm", "window"]):
        check(terms)
    stats.unpersist()

    confs = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = [spark.conf.get(c) for c in confs]
    with HybridServer(docs, emb) as srv:
        assert [spark.conf.get(c) for c in confs] == before
        for vid, terms in ((3, ["window", "merge"]), (7, ["stream", "filter"])):
            qv = emb.filter(F.col("vec_id") == vid).select(
                F.col("embedding").alias("query_vec")
            )
            served = [(r.doc_id, r.rrf_score) for r in srv.search(terms, qv).collect()]
            plain = [
                (r.doc_id, r.rrf_score)
                for r in hybrid_search(docs, emb, terms, qv).collect()
            ]
            assert served == plain
            assert [spark.conf.get(c) for c in confs] == before
    assert [spark.conf.get(c) for c in confs] == before


def _edge_corpus(spark, id_type: str):
    """12 short docs and 3-d vectors with score ties in both legs; ids
    are longs or zero-padded strings of the same numbers."""
    words = ["alpha", "beta", "gamma", "delta"]
    ids = list(range(12))
    if id_type == "string":
        ids = [f"d{i:02d}" for i in ids]
    docs = spark.createDataFrame(
        [(d, " ".join(words[j] for j in range(4) if (i >> j) & 1) or "omega")
         for i, d in enumerate(ids)],
        f"doc_id {id_type}, text string",
    )
    vecs = spark.createDataFrame(
        [(d, [float(i % 3), float(i % 2), 1.0]) for i, d in enumerate(ids)],
        f"vec_id {id_type}, embedding array<double>",
    )
    return docs, vecs


def test_hybrid_server_edge_cases_match_hybrid_search(spark):
    """Served rows equal cold `hybrid_search` rows, in order, at the
    edges: empty terms, only absent terms, a zero query vector, k
    above the corpus size, alpha 0 and 1, and string ids — the served
    frame keeps the id type."""
    from mcp_vector_search_spark.plans.hybrid import (
        HybridServer,
        hybrid_search,
        query_frame,
    )

    cases = [
        ([], [1.0, 0.0, 1.0], 5, 0.7),
        (["zzz", "yyy"], [1.0, 0.0, 1.0], 5, 0.7),
        (["alpha", "gamma"], [0.0, 0.0, 0.0], 5, 0.7),
        (["beta"], [2.0, 1.0, 1.0], 40, 0.7),
        (["alpha", "delta"], [1.0, 1.0, 1.0], 6, 0.0),
        (["alpha", "delta"], [1.0, 1.0, 1.0], 6, 1.0),
        (["zzz"], [1.0, 1.0, 1.0], 6, 1.0),
    ]
    for id_type in ("long", "string"):
        docs, vecs = _edge_corpus(spark, id_type)
        with HybridServer(docs, vecs) as srv:
            for terms, q, k, alpha in cases:
                out = srv.search(terms, q, k=k, alpha=alpha)
                assert out.schema.simpleString() == (
                    f"struct<doc_id:{'bigint' if id_type == 'long' else id_type},"
                    "rrf_score:double>"
                )
                served = [tuple(r) for r in out.collect()]
                cold = [tuple(r) for r in hybrid_search(
                    docs, vecs, terms, query_frame(spark, q), k=k, alpha=alpha
                ).collect()]
                assert served == cold, (id_type, terms, q, k, alpha)
                assert len(served) == min(k, 12)


def test_driver_rrf_rounding_matches_f_round(spark):
    """`sql_round`, the driver fusion's 6-dp rounding, equals F.round
    on every max-normalized RRF score a 20-row-per-leg fusion can
    produce: each (rank_a, rank_b) ∈ {1..20, missing}² divided by each
    possible max, for alpha 0.3, 0.5 and 0.7. Spark computes the grid
    with rrf_fuse's expressions in one job; the driver recomputes the
    same floats and must round each one to F.round's value. The JDK's
    Double.toString, which F.round's decimal comes from, is not always
    the shortest repr before JDK 19, so only this grid shows that
    `repr` spells the same decimal here."""
    from mcp_vector_search_spark.operators.fusion import RRF_K, sql_round

    alphas = (0.3, 0.5, 0.7)
    n = 21  # index 20 = missing from that leg

    def rank(i):
        return F.when(i < 20, i + 1)

    def raw(alpha, ra, rb):
        return F.coalesce(F.lit(alpha) / (F.lit(RRF_K) + ra), F.lit(0.0)) + F.coalesce(
            (F.lit(1.0) - alpha) / (F.lit(RRF_K) + rb), F.lit(0.0)
        )

    i = F.col("id")
    alpha = F.element_at(F.array(*map(F.lit, alphas)), (i / n**4).cast("int") + 1)
    r_raw = raw(alpha, rank(i % n), rank((i / n).cast("long") % n))
    m_raw = raw(alpha, rank((i / n**2).cast("long") % n), rank((i / n**3).cast("long") % n))
    grid = (
        spark.range(len(alphas) * n**4, numPartitions=4)
        .select(r_raw.alias("r"), m_raw.alias("m"))
        .filter((F.col("m") > 0) & (F.col("r") <= F.col("m")))
        .select((F.col("r") / F.col("m")).alias("x"))
        .select("x", F.round("x", 6).alias("rounded"))
        .toArrow()
    )

    def py_raw(a, ra, rb):
        return (a / (RRF_K + ra + 1) if ra < 20 else 0.0) + (
            (1.0 - a) / (RRF_K + rb + 1) if rb < 20 else 0.0
        )

    want_x = []
    for a in alphas:
        raws = [py_raw(a, ra, rb) for rb in range(n) for ra in range(n)]
        want_x += [r / m for m in raws for r in raws if m > 0 and r <= m]
    got_x = grid.column("x").to_pylist()
    assert got_x == want_x
    bad = [
        (x, got, sql_round(x))
        for x, got in zip(got_x, grid.column("rounded").to_pylist())
        if sql_round(x) != got
    ]
    assert not bad, bad[:10]


def test_hybrid_server_refuses_search_after_close(spark):
    """A closed HybridServer has released its caches and stopped its
    worker thread: `search` raises a ValueError naming the closed
    server instead of running on unpersisted frames, and a second
    `close()` is a no-op. No session conf changes at any point."""
    import threading

    import pytest

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.plans.hybrid import HybridServer

    def leg_threads():
        return [t for t in threading.enumerate() if t.name.startswith("hybrid-server-leg")]

    docs = io.table(spark, SF_DIR, "documents")
    emb = io.table(spark, SF_DIR, "embeddings")
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    srv = HybridServer(docs, emb)
    qv = list(emb.first()["embedding"])
    assert srv.search(["data"], qv, k=3).count() == 3
    assert leg_threads()
    srv.close()
    assert not leg_threads()
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
    with pytest.raises(ValueError, match="HybridServer is closed"):
        srv.search(["data"], qv, k=3)
    srv.close()
    assert not leg_threads()
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0



def test_serving_releases_every_pinned_rdd(spark, monkeypatch):
    """Every cache and checkpoint that serving pins is released: no
    persistent RDD is left that was not there before start_serving,
    after stop_serving and after a construction that raises, whether
    it fails before the BM25 state exists (a docs frame with no text
    column) or while that state loads its term stats. (Ids, not a
    count: the context cleaner may drop other tests' RDDs meanwhile.)"""
    import pytest
    from pyspark.errors import AnalysisException

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.api import SparkProject
    from mcp_vector_search_spark.operators.bm25 import Bm25ServingStats

    def persistent() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    docs = io.table(spark, SF_DIR, "documents")
    emb = io.table(spark, SF_DIR, "embeddings")
    before = persistent()
    p = SparkProject(spark, docs, emb)
    p.start_serving()
    assert persistent() - before
    assert p.search_hybrid("data", list(emb.first()["embedding"]), limit=3).count() == 3
    p.stop_serving()
    assert not persistent() - before

    no_text = SparkProject(spark, docs.drop("text"), emb)
    with pytest.raises(AnalysisException):
        no_text.start_serving()
    assert not persistent() - before

    def fail(self, df):
        raise RuntimeError("term stats failed")

    monkeypatch.setattr(Bm25ServingStats, "_idf_of", fail)
    with pytest.raises(RuntimeError, match="term stats failed"):
        p.start_serving()
    assert not persistent() - before

def test_rrf_fuse_zero_max_guard(spark):
    """alpha=1.0 with an empty weighted leg makes every raw score 0 —
    normalize to 0, don't raise ANSI DIVIDE_BY_ZERO (r6 review)."""
    from mcp_vector_search_spark.operators.fusion import rrf_fuse

    empty = spark.createDataFrame([], "doc_id long, rank int")
    bm = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    got = {r.doc_id: r.rrf_score for r in rrf_fuse(empty, bm, alpha=1.0).collect()}
    assert got == {1: 0.0, 2: 0.0}


def test_round_half_up_matches_sql_round():
    """The np kernels round like F.round / DuckDB (half away from
    zero), not np.round's half-to-even (r6 review)."""
    import numpy as np

    from mcp_vector_search_spark.operators.nputil import round_half_up

    grid = np.array([0.0078125, -0.0078125, 0.0000005, 1.2345675])
    got = round_half_up(grid, 6)
    assert got[0] == 0.007813 and got[1] == -0.007813
    assert got[2] == 1e-06
    # np.round would give 0.007812 (half to even) on the first value
    assert np.round(grid, 6)[0] == 0.007812


def test_hybrid_batch_zero_max_query(spark):
    """A batch query whose weighted leg is empty (alpha=0.0, no term
    hits) normalizes to 0.0 instead of ANSI DIVIDE_BY_ZERO killing the
    whole batch (r6 review)."""
    from mcp_vector_search_spark.plans.hybrid import hybrid_search_batch

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    vectors = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    qvecs = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    out = hybrid_search_batch(
        docs, vectors, [(0, ["zzz"])], qvecs, k=2, alpha=0.0
    ).collect()
    assert out and all(r.rrf_score == 0.0 for r in out)
