"""J9 kg_boost, J10 enrichment_boost, J13 blame_range_join, F6
keyword/identifier extraction, K4 KG persist."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_kg_boost(spark):
    hits = spark.createDataFrame(
        [(1, 0.5), (2, 0.4), (3, 0.3)], "doc_id long, score double"
    )
    edges = spark.createDataFrame([(1, 10), (2, 20)], "src long, dst long")
    nodes = spark.createDataFrame(
        [(10, "query"), (20, "zzz")], "id long, name string"
    )
    from mcp_vector_search_spark.operators.kg import kg_boost

    out = {
        r["doc_id"]: r["boosted_score"]
        for r in kg_boost(hits, edges, nodes, ["query"]).collect()
    }
    # doc 1 links to a node named 'query' → +0.02; docs 2, 3 unchanged
    assert out == {1: 0.52, 2: 0.4, 3: 0.3}


def test_enrichment_boost(spark):
    from mcp_vector_search_spark.operators.fusion import enrichment_boost

    main = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.7)], "vec_id long, cos_sim double"
    )
    code = spark.createDataFrame([(2,), (9,)], "vec_id long")
    out = {
        r["vec_id"]: r["boosted_score"]
        for r in enrichment_boost(main, code, "vec_id", "cos_sim").collect()
    }
    assert out == {1: 0.9, 2: 0.95, 3: 0.7}
    # the code leg only contributes the boost — id 9 is not added
    assert 9 not in out


def test_blame_range_join(spark):
    from mcp_vector_search_spark.operators.events import blame_range_join

    chunks = spark.createDataFrame(
        [(0, 0, 0, 9), (0, 1, 10, 19)],
        "doc_id long, chunk_key long, c_start long, c_end long",
    )
    hunks = spark.createDataFrame(
        [(0, 0, 4, "c1"), (0, 5, 14, "c2"), (0, 15, 24, "c0")],
        "doc_id long, h_start long, h_end long, commit_id string",
    )
    rows = {
        r["chunk_key"]: (r["n_commits"], r["last_commit"])
        for r in blame_range_join(hunks, chunks).collect()
    }
    # chunk 0 [0,9] overlaps c1 [0,4] and c2 [5,14]
    # chunk 1 [10,19] overlaps c2 [5,14] and c0 [15,24]; max = c2
    assert rows == {0: (2, "c2"), 1: (2, "c2")}


def test_top_keywords(spark):
    from mcp_vector_search_spark.functions.text import top_keywords

    docs = spark.createDataFrame(
        [(0, "b a b c a b")], "doc_id long, text string"
    )
    rows = [
        (r["token"], r["tf"], r["first_pos"], r["kw_rank"])
        for r in top_keywords(docs, n=3).orderBy("kw_rank").collect()
    ]
    # b: tf=3 pos0 · a: tf=2 pos1 · c: tf=1 pos3
    assert rows == [("b", 3, 0, 1), ("a", 2, 1, 2), ("c", 1, 3, 3)]


def test_extract_identifiers(spark):
    from mcp_vector_search_spark.functions.text import (
        backtick_refs,
        extract_identifiers,
    )

    df = spark.createDataFrame(
        [("do_thing and getValue with HTTP2 and `ref_x`",)], "s string"
    )
    r = df.select(
        extract_identifiers("s").alias("ids"), backtick_refs("s").alias("refs")
    ).first()
    assert r["ids"]["snake"] == ["do_thing", "ref_x"]
    assert r["ids"]["camel"] == ["getValue"]
    assert r["ids"]["acronyms"] == ["HTTP2"]
    assert r["refs"] == ["ref_x"]
