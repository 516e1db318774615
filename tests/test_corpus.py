"""Multi-format corpus ingestion (sources/corpus.py): every format
round-trips to the documents contract, ids synthesize
deterministically, and the shard count is honored."""

from __future__ import annotations

import os

import pytest

from mcp_vector_search_spark.sources.corpus import (
    CORPUS_FORMATS,
    _infer_format,
    read_corpus,
    write_corpus,
)

# documents with the hostile content a round-trip must survive:
# embedded newlines, CSV quotes/commas, JSON escapes, unicode
TRICKY = [
    (1, 'line one\nline two\n"quoted", with, commas', "en", "web"),
    (2, "tabs\tand backslash \\ and {json: \"braces\"}", "en", "web"),
    (3, "ünïcödé — em-dash, 中文, emoji \U0001f600", "zh", "books"),
    (4, "", "en", "web"),
    (5, "plain single line", "de", "code"),
]
SCHEMA = "doc_id long, text string, lang string, source string"


def _tricky(spark):
    return spark.createDataFrame(TRICKY, SCHEMA)


def _as_sorted_tuples(df):
    return sorted(
        (r["doc_id"], r["text"], r["lang"], r["source"])
        for r in df.select("doc_id", "text", "lang", "source").collect()
    )


@pytest.mark.parametrize("fmt,compression", [
    ("jsonl", None),
    ("jsonl", "gzip"),
    ("csv", None),
    ("parquet", None),
    ("orc", None),
])
def test_roundtrip_lossless(spark, tmp_path, fmt, compression):
    src = _tricky(spark)
    dst = str(tmp_path / f"corpus_{fmt}_{compression}")
    write_corpus(src, dst, fmt, compression=compression, shards=2)
    back = read_corpus(spark, dst, fmt, schema=SCHEMA)
    assert back.columns[:2] == ["doc_id", "text"]
    got = _as_sorted_tuples(back)
    want = _as_sorted_tuples(src)
    if fmt == "csv":
        # CSV cannot distinguish empty string from NULL; normalize
        got = [(i, t or "", lg, s) for i, t, lg, s in got]
        want = [(i, t or "", lg, s) for i, t, lg, s in want]
    assert got == want


def test_jsonl_schema_inference_matches_explicit(spark, tmp_path):
    src = _tricky(spark)
    dst = str(tmp_path / "corpus_infer")
    write_corpus(src, dst, "jsonl")
    inferred = read_corpus(spark, dst, "jsonl")
    explicit = read_corpus(spark, dst, "jsonl", schema=SCHEMA)
    assert _as_sorted_tuples(inferred) == _as_sorted_tuples(explicit)
    assert dict(inferred.dtypes)["doc_id"] == "bigint"


def test_text_lines_synthesize_ids(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("alpha beta\ngamma delta\nalpha beta\n")
    df = read_corpus(spark, str(p), "text")
    rows = df.collect()
    assert len(rows) == 3
    # content-hash ids: identical lines share an id (exact dups by
    # construction), distinct lines differ
    ids = {r["text"]: r["doc_id"] for r in rows}
    assert len(ids) == 2
    by_text = [r["doc_id"] for r in rows if r["text"] == "alpha beta"]
    assert by_text[0] == by_text[1]
    # deterministic across reads
    again = {r["text"]: r["doc_id"] for r in read_corpus(spark, str(p), "text").collect()}
    assert again == ids


def test_text_tree_one_doc_per_file(spark, tmp_path):
    d = tmp_path / "tree"
    (d / "sub").mkdir(parents=True)
    (d / "a.txt").write_text("doc a\nhas two lines")
    (d / "sub" / "b.txt").write_text("doc b")
    df = read_corpus(spark, str(d), "text_tree")
    rows = {r["text"]: r["source"] for r in df.collect()}
    assert set(rows) == {"doc a\nhas two lines", "doc b"}
    assert rows["doc a\nhas two lines"].endswith("a.txt")
    assert rows["doc b"].endswith("sub/b.txt")
    assert df.columns[:2] == ["doc_id", "text"]


def test_format_inference():
    assert _infer_format("/data/shard-0001.jsonl.gz") == "jsonl"
    assert _infer_format("/data/dump.csv") == "csv"
    assert _infer_format("/data/x.parquet") == "parquet"
    assert _infer_format("s3://bucket/corpus.ndjson") == "jsonl"
    with pytest.raises(ValueError, match="cannot infer"):
        _infer_format("/data/corpus_dir")


def test_missing_text_col_is_loud(spark, tmp_path):
    src = _tricky(spark).withColumnRenamed("text", "body")
    dst = str(tmp_path / "nobody")
    src.write.mode("overwrite").parquet(dst)
    with pytest.raises(ValueError, match="no 'text' column"):
        read_corpus(spark, dst, "parquet")
    ok = read_corpus(spark, dst, "parquet", text_col="body")
    assert ok.columns[:2] == ["doc_id", "body"]


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unknown corpus format"):
        read_corpus(spark, "/nope", "avro")
    with pytest.raises(ValueError, match="unknown corpus write format"):
        write_corpus(_tricky(spark), "/nope", "avro")
    assert "jsonl" in CORPUS_FORMATS


def test_shard_counts(spark, tmp_path):
    src = _tricky(spark)
    dst = str(tmp_path / "sharded")
    write_corpus(src, dst, "jsonl", shards=3)
    parts = [f for f in os.listdir(dst) if f.startswith("part-")]
    assert len(parts) == 3


def test_gzip_members_written(spark, tmp_path):
    dst = str(tmp_path / "gz")
    write_corpus(_tricky(spark), dst, "jsonl", compression="gzip", shards=2)
    parts = [f for f in os.listdir(dst) if f.startswith("part-")]
    assert parts and all(f.endswith(".gz") for f in parts)


def test_corrupt_jsonl_handling(spark, tmp_path):
    """A mangled record must not become a silent all-null row."""
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good one"}\n'
        "{this is not json at all\n"
        '{"doc_id": 2, "text": "good two"}\n'
    )
    schema = "doc_id long, text string"
    dropped = read_corpus(spark, str(p), "jsonl", schema=schema)
    assert sorted(r["text"] for r in dropped.collect()) == ["good one", "good two"]
    with pytest.raises(Exception):  # FAILFAST surfaces as a Spark error
        read_corpus(spark, str(p), "jsonl", schema=schema, on_corrupt="fail").collect()
    with pytest.raises(ValueError, match="on_corrupt"):
        read_corpus(spark, str(p), "jsonl", on_corrupt="ignore")


def test_from_corpus_docs_only(spark, tmp_path):
    """Docs-only project over a JSONL corpus: the curation surface
    works; exact dedup sees the content-hash id collision semantics."""
    from mcp_vector_search_spark.api import SparkProject

    dst = str(tmp_path / "proj_corpus")
    write_corpus(_tricky(spark), dst, "jsonl")
    proj = SparkProject.from_corpus(spark, dst, "jsonl")
    assert proj.docs.columns[:2] == ["doc_id", "text"]
    assert proj.docs.count() == 5
    assert proj.vectors.count() == 0
    # the BM25 leg needs no vectors: a docs-only project serves
    # keyword search out of the box
    hits = proj.search_code("plain single line", limit=3).collect()
    assert hits and hits[0]["doc_id"] == 5  # the "plain single line" doc


def test_from_corpus_embedded(spark, tmp_path):
    from mcp_vector_search_spark.api import SparkProject

    dst = str(tmp_path / "proj_embed")
    write_corpus(_tricky(spark), dst, "jsonl")
    proj = SparkProject.from_corpus(spark, dst, "jsonl", embed=True)
    vecs = proj.vectors
    assert vecs.columns == ["vec_id", "embedding"]
    assert vecs.count() == 5
    # ids line up with the corpus
    ids = {r["vec_id"] for r in vecs.select("vec_id").collect()}
    assert ids == {r["doc_id"] for r in proj.docs.select("doc_id").collect()}


def test_from_corpus_custom_columns(spark, tmp_path):
    """ADVICE r9 medium: custom text_col/id_col must be normalized to
    the doc_id/text contract at the project boundary — every
    SparkProject method hard-codes those names."""
    from mcp_vector_search_spark.api import SparkProject

    src = spark.createDataFrame(
        [(10, "alpha beta gamma", "en"), (11, "delta epsilon", "de")],
        "ident long, body string, lang string",
    )
    dst = str(tmp_path / "proj_custom")
    write_corpus(src, dst, "jsonl")
    proj = SparkProject.from_corpus(
        spark, dst, "jsonl", text_col="body", id_col="ident"
    )
    assert proj.docs.columns[:2] == ["doc_id", "text"]
    # the hard-coded-name surface actually works now
    hits = proj.search_code("delta epsilon", limit=1).collect()
    assert hits and hits[0]["doc_id"] == 11
    curated, _ = proj.curate_corpus(collect_report=False)
    assert curated.count() == 2


def test_from_corpus_custom_columns_collision(spark, tmp_path):
    """A corpus carrying BOTH the custom name and the reserved
    contract name must fail loudly, not silently shadow."""
    from mcp_vector_search_spark.api import SparkProject

    src = spark.createDataFrame(
        [(1, "body text", "shadow")], "ident long, body string, text string"
    )
    dst = str(tmp_path / "proj_clash")
    write_corpus(src, dst, "jsonl")
    with pytest.raises(ValueError, match="reserves 'text'"):
        SparkProject.from_corpus(
            spark, dst, "jsonl", text_col="body", id_col="ident"
        )


def test_json_suffix_auto_infer_warns(spark, tmp_path):
    """ADVICE r9 low: '.json' + auto-infer + DROPMALFORMED can vanish
    multi-line JSON records silently — the auto path must warn."""
    import warnings

    p = tmp_path / "corpus.json"
    p.write_text('{"doc_id": 1, "text": "one line"}\n')
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        read_corpus(spark, str(p), "auto").collect()
    assert any("JSONL" in str(w.message) for w in caught)
    # an explicit fmt is trusted — no warning
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        read_corpus(spark, str(p), "jsonl").collect()
    assert not any("JSONL" in str(w.message) for w in caught)


def test_malformed_count(spark, tmp_path):
    """The attrition counter: reports exactly how many records the
    default drop-mode read discards."""
    from mcp_vector_search_spark.sources.corpus import malformed_count

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good one"}\n'
        "{broken json\n"
        '{"doc_id": 2, "text": "good two"}\n'
        "also not json\n"
    )
    assert malformed_count(spark, str(p), "jsonl") == 2
    assert malformed_count(
        spark, str(p), "jsonl", schema="doc_id long, text string"
    ) == 2
    # formats without a parse step have no malformed notion
    assert malformed_count(spark, str(p), "parquet") == 0
    kept = read_corpus(spark, str(p), "jsonl")
    assert kept.count() == 2


def test_malformed_count_csv_schema_applies_reader_defaults(spark, tmp_path):
    """r10 ADVICE medium: the csv+explicit-schema branch must audit
    with the SAME header/multiLine/quote defaults read_corpus applies —
    a header row and a quoted-newline document are not attrition."""
    from mcp_vector_search_spark.sources.corpus import malformed_count

    p = tmp_path / "docs.csv"
    p.write_text(
        'doc_id,text\n'
        '1,"line one\nstill doc one"\n'
        '2,plain doc two\n'
    )
    schema = "doc_id long, text string"
    # clean file: zero attrition under BOTH schema modes, and the
    # audited read keeps both documents
    assert malformed_count(spark, str(p), "csv", schema=schema) == 0
    assert malformed_count(spark, str(p), "csv") == 0
    assert read_corpus(spark, str(p), "csv", schema=schema).count() == 2
    # a genuinely corrupt row (too many unquoted columns) still counts
    bad = tmp_path / "bad.csv"
    bad.write_text(
        'doc_id,text\n'
        'notanumber_with,extra,columns,here\n'
        '2,fine\n'
    )
    assert malformed_count(spark, str(bad), "csv", schema=schema) == 1


def test_quality_signal_collision(spark):
    """ADVICE r9 low: a metadata column named like a signal column
    must raise a clear error, not an ambiguous-reference failure deep
    in curate_corpus."""
    from mcp_vector_search_spark.operators.analytics import text_quality_frame

    docs = spark.createDataFrame(
        [(1, "some text here", 0.5)], "doc_id long, text string, quality double"
    )
    with pytest.raises(ValueError, match="quality"):
        text_quality_frame(docs, signals_only=False)
    # signals_only=True projects doc_id/text only — no collision
    assert text_quality_frame(docs, signals_only=True).columns[0] == "doc_id"


def test_registry_gate_runs(spark):
    """The corpus_jsonl overflow gate at sf0.001 — same shape the
    driver/verify_local scores at sf0.01."""
    from mcp_vector_search_spark.registry import q_corpus_jsonl

    out = q_corpus_jsonl(spark, "/root/testdata/sf0.001")
    rows = {r["lang"]: r for r in out.collect()}
    assert rows
    total = sum(r["n_docs"] for r in rows.values())
    assert total == 500
    for r in rows.values():
        assert r["text_chars"] is not None and r["id_sum"] is not None
