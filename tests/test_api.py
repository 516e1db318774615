"""§2.11 public API façade + parser registry + config surfaces."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _project(spark):
    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.api import SparkProject

    return SparkProject(
        spark,
        io.table(spark, SF_DIR, "documents"),
        io.table(spark, SF_DIR, "embeddings"),
    )


def test_api_search_surface(spark):
    p = _project(spark)
    hits = p.search_code("data query", limit=5).collect()
    assert 0 < len(hits) <= 5
    sim = p.search_similar(0, limit=3).collect()
    assert len(sim) == 3 and all(r["vec_id"] != 0 for r in sim)


def test_api_analytics_and_kg(spark):
    from mcp_vector_search_spark.functions.text import tokenize

    p = _project(spark)
    assert p.get_project_status().count() > 0
    assert p.analyze_project().count() > 0
    toks = tokenize("text")
    chunks = p.docs.select(
        "doc_id",
        "source",
        F.get(toks, 0).alias("name"),
        F.slice(toks, 2, 3).alias("calls"),
    )
    edges = p.kg_build(chunks)
    assert set(edges.columns) == {"src", "dst"}
    assert p.kg_stats().count() >= 0
    first_edge = edges.orderBy("src").first()
    if first_edge:
        related = p.find_related(first_edge["src"], max_hops=1).collect()
        assert any(r["id"] == first_edge["src"] for r in related)


def test_parser_registry_dispatch(spark):
    from mcp_vector_search_spark.sources.code_chunker import code_chunks_multilang
    from mcp_vector_search_spark.sources.parser_registry import registered_languages

    assert len(registered_languages()) >= 13

    rows = [
        (1, "def a():\n  pass\ndef b():\n  pass", "python"),
        (2, "func main() {\n}\nfunc helper() {\n}", "go"),
        (3, "plain\nlines\nonly", "unknown-lang"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, language string")
    got = {
        (r["doc_id"], r["chunk_no"]): r["n_lines"]
        for r in code_chunks_multilang(df).collect()
    }
    # python: two def-boundaries → chunks 1 and 2; go: two func chunks;
    # unknown falls back to text spec (no boundaries → one chunk 0)
    assert {k[0] for k in got} == {1, 2, 3}
    assert max(c for d, c in got if d == 1) == 2
    assert max(c for d, c in got if d == 2) == 2
    assert set(c for d, c in got if d == 3) == {0}


def test_config_surfaces(tmp_path):
    from mcp_vector_search_spark.config import (
        MODEL_SPECIFICATIONS,
        THRESHOLD_PRESETS,
        load_custom_synonyms,
        threshold_preset,
    )

    assert threshold_preset("strict") > threshold_preset("lenient")
    assert set(THRESHOLD_PRESETS) == {"strict", "standard", "lenient"}
    assert MODEL_SPECIFICATIONS["all-MiniLM-L6-v2"]["dim"] == 384

    from mcp_vector_search_spark.functions.query import CODE_SYNONYMS

    before = {k: list(v) for k, v in CODE_SYNONYMS.items()}
    syn = tmp_path / "synonyms.json"
    syn.write_text(json.dumps({"fetch": ["retrieve", "zz_custom"], "NEW": ["fresh"]}))
    merged = load_custom_synonyms(str(syn))
    assert "retrieve" in merged["fetch"] and "zz_custom" in merged["fetch"]
    assert merged["new"] == ["fresh"]
    assert {k: list(v) for k, v in CODE_SYNONYMS.items()} == before  # untouched


def test_api_dedup_and_quality(spark):
    p = _project(spark)
    pairs = p.find_duplicates("minhash").select("doc_a", "doc_b")
    clusters = p.dedup_clusters(pairs)
    if clusters.count() > 0:
        per = clusters.groupBy("cluster_rep").agg(
            F.sum(F.col("is_keeper").cast("int")).alias("k")
        )
        assert per.filter(F.col("k") != 1).count() == 0
    sig = p.quality_signals()
    assert sig.count() == p.docs.count()
    row = sig.first()
    assert 0.0 <= row.dup_line_frac <= 1.0 and row.mean_word_len >= 0.0


def test_api_ivfpq_batch_search(spark):
    p = _project(spark)
    p.build_ann_index(num_clusters=8, kind="ivfpq", m=16, k_codes=64)
    q = p.vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = p.search_batch(q, limit=5).collect()
    assert len(out) == 15
    assert {r.query_id for r in out} == {0, 1, 2}


def test_api_ivfsq_batch_search(spark):
    p = _project(spark)
    p.build_ann_index(num_clusters=8, kind="ivfsq")
    q = p.vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = p.search_batch(q, limit=5).collect()
    assert len(out) == 15
    assert {r.query_id for r in out} == {0, 1, 2}


def test_api_corpus_curation_and_repo_graph(spark):
    p = _project(spark)
    split = p.split_corpus()
    assert {r["split"] for r in split.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }
    packed = p.pack_corpus(256, n_shards=4)
    assert packed.count() == p.docs.count()
    nodes, edges = p.build_repo_graph("/root/repo", "proj")
    types = {r["entity_type"] for r in nodes.select("entity_type").distinct().collect()}
    assert {"Person", "Commit", "Project", "Repository", "Branch"} <= types
    assert edges.filter(F.col("rel") == "AUTHORED").count() > 0


def test_api_curate_corpus_end_to_end(spark, tmp_path):
    """The full curation pipeline: exact dedup -> near-dedup ->
    decontaminate -> rebalance -> split -> pack."""
    from mcp_vector_search_spark.api import SparkProject

    base = [
        (i, f"doc number {i} talks about topic {i % 7} in some detail here", "en")
        for i in range(60)
    ]
    base += [(100, base[0][1], "en")]  # exact dup of doc 0
    base += [(101, base[1][1] + " extra", "de")]  # near dup of doc 1
    docs = spark.createDataFrame(base, "doc_id long, text string, lang string")
    bench = spark.createDataFrame(
        [(9000, base[2][1])], "doc_id long, text string"
    )
    p = SparkProject(spark, docs, docs.limit(0))
    bins, report = p.curate_corpus(
        max_tokens=64, benchmark=bench, lang_fractions={"de": 0.0}, n_shards=4
    )
    rep = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert rep["exact_dedup"] == rep["input"] - 1  # doc 100 dropped
    assert rep["near_dedup"] <= rep["exact_dedup"] - 1  # doc 101 dropped
    assert rep["decontaminated"] <= rep["near_dedup"] - 1  # doc 2 dropped
    assert rep["rebalanced"] <= rep["decontaminated"]
    assert 0 < rep["train_split"] <= rep["rebalanced"]
    rows = bins.collect()
    assert sum(r["n_docs"] for r in rows) == rep["train_split"]
    assert all(r["text"] for r in rows)


def test_api_curate_semantic_dedup_stage(spark):
    """semantic_threshold drops the higher id of near-identical
    embedding pairs via IVF-cluster blocking."""
    import numpy as np

    from mcp_vector_search_spark.api import SparkProject

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 16))
    vecs[1] = vecs[0] + 1e-4  # doc 1 is a semantic dup of doc 0
    rows = [
        (i, f"document body {i} with several distinct words " + " ".join(
            f"w{i}x{j}" for j in range(6)), [float(x) for x in vecs[i]])
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(i, v) for i, _, v in rows], "vec_id long, embedding array<double>"
    )
    p = SparkProject(spark, docs, emb)
    _, report = p.curate_corpus(
        max_tokens=64, semantic_threshold=0.999, n_shards=2
    )
    rep = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert rep["semantic_dedup"] == rep["near_dedup"] - 1  # doc 1 dropped


def test_api_curate_lang_filter_stage(spark):
    """lang_allow keeps only docs whose CONTENT-detected language is
    allowed, independent of the metadata lang column."""
    from mcp_vector_search_spark.api import SparkProject

    rows = [
        (1, "the cat is on the mat and it is happy with this", "xx"),
        (2, "el gato que corre por el parque con los perros es feliz", "xx"),
        (3, "zzz qqq xyzzy glorp", "en"),  # unknown content
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    p = SparkProject(spark, docs, docs.limit(0))
    _, report = p.curate_corpus(max_tokens=64, lang_allow=["en"], n_shards=1)
    rep = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert rep["lang_filtered"] == 1  # only doc 1 survives


def test_api_curate_strip_dup_spans_stage(spark):
    """strip_dup_spans_k rewrites survivors' text with cross-doc
    duplicated spans removed before packing."""
    from mcp_vector_search_spark.api import SparkProject

    shared = " ".join(f"boiler{i}" for i in range(25))
    rows = [
        (1, shared + " " + " ".join(f"aa{i}" for i in range(10)), "en"),
        (2, shared + " " + " ".join(f"bb{i}" for i in range(10)), "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    p = SparkProject(spark, docs, docs.limit(0))
    bins, report = p.curate_corpus(
        max_tokens=64, strip_dup_spans_k=20, n_shards=1
    )
    rep = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert rep["near_dedup"] == 2  # nothing dropped, text rewritten
    # whichever docs reach the train split carry only their unique
    # tail — the shared boilerplate span is gone from every text
    text = " ".join(r["text"] for r in bins.collect())
    assert text and "boiler0" not in text
    assert all(t.startswith(("aa", "bb")) for t in text.split())


def test_api_curate_redacts_before_span_strip(spark):
    """ADVICE r4 (medium): redaction must run BEFORE span stripping —
    the stripper rewrites flagged docs from the tokenize() stream
    (punctuation gone), so a later redact pass could no longer match
    'user@example.com' in any doc that had a duplicated span."""
    from mcp_vector_search_spark.api import SparkProject

    shared = " ".join(f"boiler{i}" for i in range(25))
    rows = [
        (1, shared + " mail user1@example.com " + " ".join(f"aa{i}" for i in range(8)), "en"),
        (2, shared + " mail user2@example.com " + " ".join(f"bb{i}" for i in range(8)), "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    p = SparkProject(spark, docs, docs.limit(0))
    bins, _ = p.curate_corpus(
        max_tokens=64, strip_dup_spans_k=20, redact=True, n_shards=1
    )
    text = " ".join(r["text"] for r in bins.collect())
    # every doc carried an address in its unique tail; with the old
    # strip-then-redact order the stripped doc's 'user1 example com'
    # tokens survived redaction verbatim
    assert text
    assert "example" not in text and "user1" not in text and "user2" not in text


def test_api_curate_decontaminates_before_redaction(spark):
    """Review r5: decontamination must see ORIGINAL text — if redaction
    ran first, a doc sharing a benchmark 5-gram that contains an email
    would be rewritten to '<EMAIL>' on the doc side only and escape
    the unredacted benchmark gram join."""
    from mcp_vector_search_spark.api import SparkProject

    leak = "contact john@x.com for the held out eval answers today"
    rows = [
        (1, leak + " plus " + " ".join(f"aa{i}" for i in range(10)), "en"),
        (2, " ".join(f"bb{i}" for i in range(15)), "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    bench = spark.createDataFrame([(leak,)], "text string")
    p = SparkProject(spark, docs, docs.limit(0))
    _, report = p.curate_corpus(
        max_tokens=64, benchmark=bench, redact=True, n_shards=1
    )
    rep = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert rep["decontaminated"] == 1  # doc 1 dropped despite redact=True


def test_api_rebuild_ann_index_clears_previous_kind(spark):
    """Rebuilding with a different kind must route search_batch to the
    NEW index, not whatever layout happened to be built first."""
    import numpy as np

    from mcp_vector_search_spark.api import SparkProject

    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    p = SparkProject(spark, emb.selectExpr("vec_id as doc_id", "'t' as text"), emb)
    p.build_ann_index(kind="ivfpq", m=4, k_codes=16)
    assert p._ivfpq_layout is not None
    p.build_ann_index(kind="ivf")
    assert p._ivfpq_layout is None and p._sq_layout is None
    assert p._ivf_layout is not None
    q = emb.limit(2).selectExpr("vec_id as query_id", "embedding as query_vec")
    out = p.search_batch(q, limit=3)
    assert "cos_sim" in out.columns  # IVF path, not ADC scores


def test_api_find_duplicates_threshold_and_columns(spark):
    """minhash pairs are Jaccard-verified at the threshold; embedding
    pairs come back as doc_a/doc_b so dedup_clusters consumes them."""
    import numpy as np

    from mcp_vector_search_spark.api import SparkProject

    text = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, text), (2, text + " tail"), (3, "completely different words here")],
        "doc_id long, text string",
    )
    rng = np.random.default_rng(3)
    base = rng.normal(size=8)
    emb = spark.createDataFrame(
        [
            (1, [float(x) for x in base]),
            (2, [float(x) for x in base + 1e-6]),
            (3, [float(x) for x in rng.normal(size=8)]),
        ],
        "vec_id long, embedding array<double>",
    )
    p = SparkProject(spark, docs, emb)
    pairs = p.find_duplicates("minhash", threshold=0.8)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got == {(1, 2)}  # 3 never passes the verify threshold

    epairs = p.find_duplicates("embedding", threshold=0.999)
    assert {"doc_a", "doc_b"} <= set(epairs.columns)
    clusters = p.dedup_clusters(epairs)  # must not raise on columns
    assert clusters.count() >= 1


def test_api_search_hybrid_batch(spark):
    """The batch-serving facade: per-query results equal the
    single-query search_hybrid surface for the same (preprocessed)
    query, with independent per-query normalization."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.api import SparkProject

    sf = "/root/testdata/sf0.01"
    docs = io.table(spark, sf, "documents")
    emb = io.table(spark, sf, "embeddings")
    p = SparkProject(spark, docs, emb)
    qv = emb.filter(F.col("vec_id").isin([0, 11])).select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = p.search_hybrid_batch(
        [(0, "Data Query Fast Vector"), (11, "Window Merge Sort")], qv, limit=5
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.doc_id, r.rrf_score))
    assert set(by_q) == {0, 11} and all(len(v) == 5 for v in by_q.values())
    single = p.search_hybrid(
        "Data Query Fast Vector",
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("query_vec")
        ),
        limit=5,
    ).collect()
    assert sorted(by_q[0]) == sorted((r.doc_id, r.rrf_score) for r in single)


def test_api_serving_mode_and_indexed_batch(spark):
    """r6 facade surface: start_serving routes search_hybrid through
    the warm HybridServer with identical results (and stop_serving
    restores confs); search_hybrid_batch(method=...) dispatches to the
    table-driven path with identical results, and auto picks indexed
    past EXPR_BATCH_MAX."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.api import SparkProject

    sf = "/root/testdata/sf0.01"
    docs = io.table(spark, sf, "documents")
    emb = io.table(spark, sf, "embeddings")
    p = SparkProject(spark, docs, emb)
    qv1 = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    cold = {(r.doc_id, r.rrf_score) for r in p.search_hybrid(
        "Data Query Fast Vector", qv1, limit=5).collect()}
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    p.start_serving()
    try:
        warm = {(r.doc_id, r.rrf_score) for r in p.search_hybrid(
            "Data Query Fast Vector", qv1, limit=5).collect()}
        assert warm == cold
    finally:
        p.stop_serving()
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0

    qvb = emb.filter(F.col("vec_id").isin([0, 11])).select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    qs = [(0, "Data Query Fast Vector"), (11, "Window Merge Sort")]
    expr = {(r.query_id, r.doc_id, r.rrf_score, r.rn)
            for r in p.search_hybrid_batch(qs, qvb, limit=5, method="expr").collect()}
    idx = {(r.query_id, r.doc_id, r.rrf_score, r.rn)
           for r in p.search_hybrid_batch(qs, qvb, limit=5, method="indexed").collect()}
    assert idx == expr

    import pytest

    with pytest.raises(ValueError, match="unknown method"):
        p.search_hybrid_batch(qs, qvb, method="nope")

    # method='ann' (r6): serves the vector leg from the project's
    # packed IVF layout; needs one built/loaded, and with every
    # cluster probed (nprobes=None) it is row-identical to the exact
    # paths
    with pytest.raises(ValueError, match="packed IVF layout"):
        p.search_hybrid_batch(qs, qvb, limit=5, method="ann")
    p.build_ann_index(num_clusters=8, kind="ivf")
    ann = {(r.query_id, r.doc_id, r.rrf_score, r.rn)
           for r in p.search_hybrid_batch(qs, qvb, limit=5, method="ann").collect()}
    assert ann == expr
    approx = p.search_hybrid_batch(qs, qvb, limit=5, method="ann", nprobes=2)
    assert approx.groupBy("query_id").count().filter("count = 5").count() == 2
    # nprobes on an exact method would be silently ignored — raise;
    # nprobes=0 would produce an empty probe map (BM25-only results
    # masquerading as hybrid) — raise (r6 review)
    with pytest.raises(ValueError, match="applies only to method='ann'"):
        p.search_hybrid_batch(qs, qvb, limit=5, method="indexed", nprobes=4)
    with pytest.raises(ValueError, match="nprobes must be >= 1"):
        p.search_hybrid_batch(qs, qvb, limit=5, method="ann", nprobes=0).collect()


def test_api_curate_corpus_quality_filter(spark):
    """Stage 0 drops on the gated text_quality_frame definition:
    'gopher' uses the canonical bands; a custom Column composes from
    the same signal columns; a typo'd string is loud."""
    import pytest
    from pyspark.sql import functions as F

    from mcp_vector_search_spark.api import SparkProject

    base = [
        (i, f"doc number {i} talks about topic {i % 7} in some detail here", "en")
        for i in range(20)
    ]
    base += [(50, "x y", "en")]  # 2 tokens — fails any length rule
    docs = spark.createDataFrame(base, "doc_id long, text string, lang string")
    p = SparkProject(spark, docs, docs.limit(0))

    # custom predicate: these 11-token docs can't pass gopher's
    # n_tokens >= 50, so thresholds compose from the signal columns
    bins, report = p.curate_corpus(
        max_tokens=64, n_shards=2, quality_filter=F.col("n_tokens") >= 5
    )
    rep = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert rep["quality_filter"] == rep["input"] - 1  # doc 50 dropped
    assert rep["exact_dedup"] == rep["quality_filter"]

    # gopher bands drop every tiny doc here — pipeline stays sound
    _, report2 = p.curate_corpus(
        max_tokens=64, n_shards=2, quality_filter="gopher"
    )
    rep2 = {r["stage"]: r["n_docs"] for r in report2.collect()}
    assert rep2["quality_filter"] == 0

    with pytest.raises(ValueError, match="quality_filter"):
        p.curate_corpus(quality_filter="gopherr")
