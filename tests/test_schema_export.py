"""Schema versioning (§1.3 / reference core/schema.py) and the guarded
real-model paths (F11/F12) — each provable in this container even
without the model wheels."""

from __future__ import annotations

from mcp_vector_search_spark import io


def test_schema_version_marker_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    assert io.read_schema_version(path) is None
    assert io.check_schema_version(path)  # pre-versioning table counts as current
    io.write_schema_version(path)
    assert io.read_schema_version(path) == io.SCHEMA_VERSION
    assert io.check_schema_version(path)
    # version mismatch → caller must rebuild (reference resets)
    io.write_schema_version(path, io.SCHEMA_VERSION + 1)
    assert not io.check_schema_version(path)
    # the marker must not break the parquet scan
    assert spark.read.parquet(path).count() == 1


def test_embed_batch_fallback_and_guarded_model(spark):
    """With the model library absent (this container), embed_batch with
    a model_name must FALL BACK to the deterministic fake — proving the
    guard; with the library present it would load the real encoder
    (skip-if-absent branch below)."""
    from mcp_vector_search_spark.functions.embed import (
        embed_batch,
        fake_embed_expr,
        load_sentence_transformer,
    )

    docs = spark.createDataFrame([(1, "alpha beta"), (2, "gamma")], "doc_id long, text string")
    expected = {
        r.doc_id: r.e for r in docs.select("doc_id", fake_embed_expr("text", 4).alias("e")).collect()
    }
    got = {r.doc_id: r.embedding for r in embed_batch(docs, dim=4, model_name="all-MiniLM-L6-v2").collect()}
    if load_sentence_transformer("all-MiniLM-L6-v2") is None:
        assert got == expected  # guard fell back to the fake
    else:  # pragma: no cover - env with wheels
        assert all(len(v) > 4 for v in got.values())


def test_cross_encoder_guarded_fallback(spark):
    from mcp_vector_search_spark.plans.search import (
        cross_encoder_rescore,
        load_cross_encoder,
    )

    cand = spark.createDataFrame(
        [(1, 0.5, "data fast word"), (2, 0.4, "nothing relevant")],
        "doc_id long, rescored double, content string",
    )
    base = {r.doc_id: r.ce_score for r in cross_encoder_rescore(cand, "data fast").collect()}
    guarded = {
        r.doc_id: r.ce_score
        for r in cross_encoder_rescore(
            cand, "data fast", model_name="cross-encoder/ms-marco-MiniLM-L-6-v2"
        ).collect()
    }
    if load_cross_encoder("cross-encoder/ms-marco-MiniLM-L-6-v2") is None:
        assert guarded == base  # guard fell back to the deterministic path
    assert base[1] > base[2]  # overlapping content outranks non-overlapping


def test_embed_batch_string_ids(spark):
    from mcp_vector_search_spark.functions.embed import embed_batch

    docs = spark.createDataFrame([("c1", "alpha")], "doc_id string, text string")
    got = embed_batch(docs, dim=4).collect()
    assert got[0].doc_id == "c1" and len(got[0].embedding) == 4
