from __future__ import annotations

import json
import os

from mcp_vector_search_spark.streaming.incremental import (
    read_state,
    start_incremental_index,
)


def _write_batch(input_dir: str, name: str, docs: list[dict]):
    os.makedirs(input_dir, exist_ok=True)
    with open(os.path.join(input_dir, name), "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")


def _run(spark, input_dir, state_dir, ckpt):
    q = start_incremental_index(spark, input_dir, state_dir, ckpt)
    q.awaitTermination(120)


def test_incremental_stream_end_to_end(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(state_dir)

    _write_batch(
        input_dir,
        "b1.jsonl",
        [
            {"doc_id": 1, "text": "alpha beta gamma", "source": "a.txt"},
            {"doc_id": 2, "text": "delta epsilon zeta", "source": "b.txt"},
        ],
    )
    _run(spark, input_dir, state_dir, ckpt)
    state = {r.doc_id: r.fingerprint for r in read_state(spark, state_dir).collect()}
    assert set(state) == {1, 2}
    chunks1 = spark.read.parquet(os.path.join(state_dir, "chunks.parquet"))
    assert chunks1.count() == 2  # one chunk per short doc

    # batch 2: doc 1 changed, doc 2 unchanged re-delivered, doc 3 new
    _write_batch(
        input_dir,
        "b2.jsonl",
        [
            {"doc_id": 1, "text": "alpha beta CHANGED", "source": "a.txt"},
            {"doc_id": 2, "text": "delta epsilon zeta", "source": "b.txt"},
            {"doc_id": 3, "text": "eta theta iota", "source": "c.txt"},
        ],
    )
    _run(spark, input_dir, state_dir, ckpt)
    state2 = {r.doc_id: r.fingerprint for r in read_state(spark, state_dir).collect()}
    assert set(state2) == {1, 2, 3}
    assert state2[1] != state[1]  # changed doc re-fingerprinted
    assert state2[2] == state[2]  # unchanged doc untouched
    chunks2 = spark.read.parquet(os.path.join(state_dir, "chunks.parquet"))
    # only the delta (docs 1 and 3) was re-chunked: 2 + 2 new rows
    assert chunks2.count() == 4

    # the LIVE view supersedes doc 1's old chunk with the batch-2 text:
    # consumers must never see both the old and new text of a changed
    # doc (r6 review)
    from mcp_vector_search_spark.streaming.incremental import latest_chunks

    live = latest_chunks(spark, state_dir)
    assert live.count() == 3  # docs 1 (new text), 2, 3 — stale row gone
    doc1 = [r.chunk_text for r in live.filter("doc_id = 1").collect()]
    # chunk_text is tokenized (lowercased) — check the new word, and
    # that the superseded batch-1 text is gone
    assert doc1 and all("changed" in t and "gamma" not in t for t in doc1)


def test_process_batch_replay_and_tie_coherence(spark, tmp_path):
    """Replaying the same micro-batch (same batch_id) must not
    duplicate chunk rows, and intra-batch redeliveries of one doc_id
    must keep text and fingerprint from the SAME winning row."""
    from mcp_vector_search_spark.functions.text import doc_fingerprint
    from mcp_vector_search_spark.streaming.incremental import (
        process_batch,
        read_state,
    )

    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    batch = spark.createDataFrame(
        [
            (1, "first delivery words", "a.txt"),
            (1, "second delivery other words", "a.txt"),  # same source: tie
            (2, "unique text", "b.txt"),
        ],
        "doc_id long, text string, source string",
    )
    n = process_batch(spark, batch, state_dir, batch_id=0)
    assert n == 2
    # simulate a crash AFTER the chunk write but BEFORE the state swap:
    # wipe the committed state, then replay the identical micro-batch —
    # the batch_id partition is overwritten in place, not appended
    import shutil

    import pyspark.sql.functions as F

    shutil.rmtree(os.path.join(state_dir, "state.parquet"))
    n2 = process_batch(spark, batch, state_dir, batch_id=0)
    assert n2 == 2
    chunks = spark.read.parquet(os.path.join(state_dir, "chunks.parquet"))
    assert chunks.filter(F.col("doc_id") == 1).count() == 1
    assert chunks.count() == 2
    # fingerprint in state matches the fingerprint of the winning text
    state = read_state(spark, state_dir)
    winner = chunks.filter(F.col("doc_id") == 1).collect()[0]
    fp = {r.doc_id: r.fingerprint for r in state.collect()}
    recomputed = (
        spark.createDataFrame([(winner.chunk_text,)], "text string")
        .select(doc_fingerprint("text").alias("fp"))
        .collect()[0]
        .fp
    )
    assert fp[1] == recomputed


def test_versioned_sink_exactly_once_on_replay(spark, tmp_path):
    """ST4/ST5 + the versioned table: a replayed foreachBatch id must
    NOT produce a new version or duplicate rows; distinct batch ids
    upsert normally; the whole run is readable via time travel."""
    import json
    import os

    from mcp_vector_search_spark.io import latest_version, read_versioned
    from mcp_vector_search_spark.streaming.incremental import (
        versioned_upsert_sink,
    )

    table = str(tmp_path / "vtab")
    sink = versioned_upsert_sink(spark, table, ["doc_id"], scope="manual")

    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    sink(b0, 0)
    assert latest_version(table) == 1
    sink(b0, 0)  # replay — must be a no-op
    assert latest_version(table) == 1

    b1 = spark.createDataFrame([(2, "B"), (3, "c")], "doc_id long, text string")
    sink(b1, 1)
    assert latest_version(table) == 2
    rows = {(r.doc_id, r.text) for r in read_versioned(spark, table).collect()}
    assert rows == {(1, "a"), (2, "B"), (3, "c")}

    # drive it through a REAL stream too (availableNow drain)
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "docs.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 4, "text": "d"}) + "\n")
    # a fresh checkpoint restarts batch ids at 0 — a distinct scope
    # keeps replay detection from eating the new query's batch 0
    stream_sink = versioned_upsert_sink(spark, table, ["doc_id"], scope="ckpt-a")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = (
        stream.writeStream.foreachBatch(stream_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {(r.doc_id, r.text) for r in read_versioned(spark, table).collect()}
    assert (4, "d") in rows and len(rows) == 4
    # manifest metadata carries every committed (scope, batch id)
    from mcp_vector_search_spark.io import committed_metas

    assert [(m.get("scope"), m.get("batch_id")) for m in committed_metas(table)] == [
        ("manual", 0), ("manual", 1), ("ckpt-a", 0),
    ]


def test_ann_layout_sink_appends_and_replays_idempotently(spark, tmp_path):
    """Streaming ANN indexing (r5): bootstrap a packed layout, append
    two micro-batches through the foreachBatch sink, REPLAY one of
    them, and verify the layout holds every vector exactly once and
    serves the appended ones."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.ivf import (
        ivf_topk_batch_packed,
        read_ivf_layout,
    )
    from mcp_vector_search_spark.streaming.incremental import (
        ann_layout_sink,
        bootstrap_ann_layout,
    )

    emb = io.table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 400)
    b0 = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    b1 = emb.filter(F.col("vec_id") >= 450)

    path = str(tmp_path / "ann_layout")
    bootstrap_ann_layout(base, path, num_clusters=16)
    sink = ann_layout_sink(spark, path)
    sink(b0, 0)
    sink(b1, 1)
    sink(b0, 0)  # replay: must overwrite its own partitions, not append

    packed, cents = read_ivf_layout(spark, path)
    assert packed.agg(F.sum("n")).first()[0] == emb.count()
    ids = [v for r in packed.select("vec_ids").collect() for v in r.vec_ids]
    assert len(ids) == len(set(ids)) == emb.count()

    self_q = b1.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hit = ivf_topk_batch_packed(packed, cents, self_q, 1, nprobes=16).first()
    assert hit.vec_id == hit.query_id and hit.cos_sim >= 0.999999


def test_ann_layout_sink_through_real_stream(spark, tmp_path):
    """The ANN sink driven by an actual Structured Streaming query
    (availableNow file source → foreachBatch), not a direct call:
    vectors arriving as JSONL micro-batches land in the layout and a
    restarted stream (same checkpoint) does not re-append them."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.ivf import (
        ivf_topk_batch_packed,
        read_ivf_layout,
    )
    from mcp_vector_search_spark.streaming.incremental import (
        ann_layout_sink,
        bootstrap_ann_layout,
    )

    emb = io.table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 450)
    new_rows = emb.filter(F.col("vec_id") >= 450).collect()

    layout = str(tmp_path / "layout")
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    bootstrap_ann_layout(base, layout, num_clusters=16)
    _write_batch(
        in_dir,
        "v1.jsonl",
        [{"vec_id": r.vec_id, "embedding": list(r.embedding)} for r in new_rows],
    )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def _run_stream():
        q = (
            spark.readStream.schema(schema)
            .json(in_dir)
            .writeStream.foreachBatch(ann_layout_sink(spark, layout))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run_stream()
    packed, cents = read_ivf_layout(spark, layout)
    assert packed.agg(F.sum("n")).first()[0] == emb.count()

    # restart with the SAME checkpoint: the already-processed file is
    # not replayed, the layout stays exactly-once
    _run_stream()
    packed2, cents2 = read_ivf_layout(spark, layout)
    assert packed2.agg(F.sum("n")).first()[0] == emb.count()
    self_q = spark.createDataFrame(
        [(new_rows[0].vec_id, list(new_rows[0].embedding))],
        "query_id long, query_vec array<double>",
    )
    hit = ivf_topk_batch_packed(packed2, cents2, self_q, 1, nprobes=16).first()
    assert hit.vec_id == hit.query_id


def test_compact_ann_layout_merges_blocks_identically(spark, tmp_path):
    """Layout compaction (VERDICT r5 #3): after N streamed appends a
    cluster serves from one block-set per batch; `compact_ann_layout`
    rewrites each cluster into full-size id-sorted blocks. Serving
    results are hash-identical before/after, the block count drops to
    Σ_c ceil(rows_c/step) (= one block per cluster here), and a
    stream can keep appending afterwards."""
    import math

    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.ivf import (
        ivf_topk_batch_packed,
        read_ivf_layout,
    )
    from mcp_vector_search_spark.streaming.incremental import (
        ann_layout_sink,
        bootstrap_ann_layout,
        compact_ann_layout,
    )

    emb = io.table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 300)
    path = str(tmp_path / "layout")
    bootstrap_ann_layout(base, path, num_clusters=8)
    sink = ann_layout_sink(spark, path)
    for i, lo in enumerate(range(300, 500, 50)):
        sink(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 50)), i
        )

    packed, cents = read_ivf_layout(spark, path)
    n_before = packed.count()
    queries = emb.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    before = {
        (r.query_id, r.vec_id, r.cos_sim, r.rn)
        for r in ivf_topk_batch_packed(packed, cents, queries, 5, nprobes=8).collect()
    }

    got_before, got_after = compact_ann_layout(spark, path)
    assert got_before == n_before

    packed2, cents2 = read_ivf_layout(spark, path)
    # fragmented: ≥1 block per (cluster, batch) touched; compacted:
    # exactly ceil(rows_c / step) per cluster (step ≫ rows here → 1)
    per_cluster = {
        r.cluster_id: r.rows
        for r in packed2.groupBy("cluster_id").agg(F.sum("n").alias("rows")).collect()
    }
    expected_blocks = sum(math.ceil(n / 65536) for n in per_cluster.values())
    assert got_after == packed2.count() == expected_blocks < n_before
    assert sum(per_cluster.values()) == 500
    after = {
        (r.query_id, r.vec_id, r.cos_sim, r.rn)
        for r in ivf_topk_batch_packed(packed2, cents2, queries, 5, nprobes=8).collect()
    }
    assert after == before

    # the stream keeps appending into the compacted layout
    sink(emb.filter(F.col("vec_id") >= 500), 99)
    packed3, _ = read_ivf_layout(spark, path)
    assert packed3.agg(F.sum("n")).first()[0] == emb.count()

    # not-a-layout path refuses
    import pytest

    with pytest.raises(ValueError, match="centroid"):
        compact_ann_layout(spark, str(tmp_path / "nope"))


def test_bootstrap_refuses_existing_layout(spark, tmp_path):
    """bootstrap_ann_layout must never clobber a standing layout (r6
    review: the write_ivf_layout delegation would otherwise inherit
    overwrite and silently destroy streamed partitions + quantizer)."""
    import pytest
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.streaming.incremental import bootstrap_ann_layout

    emb = io.table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "layout")
    bootstrap_ann_layout(emb, path, num_clusters=4)
    with pytest.raises(ValueError, match="already holds a layout"):
        bootstrap_ann_layout(emb.filter(F.col("vec_id") < 10), path, num_clusters=4)


def test_bm25_index_sink_through_real_stream(spark, tmp_path):
    """The lexical leg of watch → reindex: a JSONL doc stream drives
    `bm25_index_sink` (upserts + CDC-style deletes in one batch), and
    the resulting segmented index scores identically to a fresh full
    build over the final corpus — including after a checkpoint-based
    restart (no re-apply) and a compaction."""
    from pyspark.sql import types as T

    from mcp_vector_search_spark.operators.bm25 import (
        bm25_topk_indexed,
        compact_bm25_index,
        write_bm25_index,
    )
    from mcp_vector_search_spark.streaming.incremental import bm25_index_sink

    base = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "spark sql runs relational queries at scale"),
        (2, "pack my box with five dozen liquor jugs"),
    ]
    idx = str(tmp_path / "idx")
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    write_bm25_index(
        spark.createDataFrame(base, "doc_id long, text string"), idx
    )
    _write_batch(
        in_dir,
        "b1.jsonl",
        [
            {"doc_id": 1, "text": "spark streaming runs quick merges", "op": "upsert"},
            {"doc_id": 3, "text": "a quick segmented spark index", "op": "upsert"},
            {"doc_id": 2, "text": "", "op": "delete"},
        ],
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("op", T.StringType()),
        ]
    )

    def _run_stream():
        q = (
            spark.readStream.schema(schema)
            .json(in_dir)
            .writeStream.foreachBatch(bm25_index_sink(spark, idx, op_col="op"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    terms = ["quick", "spark", "merges"]
    final = [
        base[0],
        (1, "spark streaming runs quick merges"),
        (3, "a quick segmented spark index"),
    ]
    full = str(tmp_path / "full")
    write_bm25_index(
        spark.createDataFrame(final, "doc_id long, text string"), full
    )
    want = sorted(
        (r["doc_id"], r["score"])
        for r in bm25_topk_indexed(spark, full, terms, 10).collect()
    )

    _run_stream()
    got = sorted(
        (r["doc_id"], r["score"])
        for r in bm25_topk_indexed(spark, idx, terms, 10).collect()
    )
    assert got == want

    # restart on the same checkpoint: the processed file is NOT
    # re-applied (no new segment, same scores)
    _run_stream()
    assert sorted(
        (r["doc_id"], r["score"])
        for r in bm25_topk_indexed(spark, idx, terms, 10).collect()
    ) == want

    # compaction folds the streamed segments; scores unchanged
    segs_before, segs_after = compact_bm25_index(spark, idx)
    assert segs_before >= 2 and segs_after == 1
    assert sorted(
        (r["doc_id"], r["score"])
        for r in bm25_topk_indexed(spark, idx, terms, 10).collect()
    ) == want


def test_bm25_index_sink_absorbs_at_least_once_duplicates(spark, tmp_path):
    """An at-least-once CDC upstream re-delivers rows WITHIN one
    micro-batch: repeated deletes of one id and (id, text)-identical
    repeated upserts must be absorbed (r6 review — they used to hit
    update_bm25_index's dupe check, and foreachBatch replays the batch
    forever: an unrecoverable poison pill). Bootstrapping from an
    EMPTY index with a delete-carrying first batch must also work."""
    import pytest

    from mcp_vector_search_spark.operators.bm25 import (
        bm25_topk_indexed,
        write_bm25_index,
    )
    from mcp_vector_search_spark.streaming.incremental import bm25_index_sink

    idx = str(tmp_path / "idx")
    write_bm25_index(
        spark.createDataFrame([], "doc_id long, text string"), idx
    )
    sink = bm25_index_sink(spark, idx, op_col="op")
    batch = spark.createDataFrame(
        [
            (1, "spark runs quick queries", "upsert"),
            (1, "spark runs quick queries", "upsert"),  # re-delivered
            (2, "", "delete"),
            (2, "", "delete"),                          # re-delivered
        ],
        "doc_id long, text string, op string",
    )
    sink(batch, 0)
    got = {r["doc_id"] for r in bm25_topk_indexed(spark, idx, ["spark"], 10).collect()}
    assert got == {1}

    # a genuinely conflicting batch (one id, two texts) is an upstream
    # data bug with no defined winner — still raises, documented
    conflict = spark.createDataFrame(
        [(5, "version one", "upsert"), (5, "version two", "upsert")],
        "doc_id long, text string, op string",
    )
    with pytest.raises(ValueError, match="duplicated"):
        sink(conflict, 1)

    # delete-only and fully-empty batches are cheap no-ops
    sink(
        spark.createDataFrame([(1, "", "delete")], "doc_id long, text string, op string"),
        2,
    )
    assert bm25_topk_indexed(spark, idx, ["spark"], 10).count() == 0
    sink(spark.createDataFrame([], "doc_id long, text string, op string"), 3)


def test_artifact_serving_loop_end_to_end(spark, tmp_path):
    """r6 capstone — the full watch → maintain → serve loop across
    BOTH index families: bootstrap a segmented BM25 index and a packed
    IVF layout, apply streamed micro-batches through their sinks (doc
    upsert + new-doc vectors), compact both, then serve
    `hybrid_search_batch_ann` ENTIRELY from the persisted artifacts
    with every cluster probed — row-identical to the in-memory exact
    batch over the equivalent final corpus. (Per-sink streaming
    mechanics — checkpoint restarts, replay idempotency — are pinned
    by the dedicated tests above; this drives the sink closures
    directly.)"""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark.operators.bm25 import (
        compact_bm25_index,
        read_bm25_index,
        write_bm25_index,
    )
    from mcp_vector_search_spark.operators.ivf import read_ivf_layout
    from mcp_vector_search_spark.plans.hybrid import (
        hybrid_search_batch,
        hybrid_search_batch_ann,
    )
    from mcp_vector_search_spark.streaming.incremental import (
        ann_layout_sink,
        bm25_index_sink,
        bootstrap_ann_layout,
        compact_ann_layout,
    )

    words = ["spark", "stream", "index", "merge", "query", "vector", "scan", "rank"]
    base_docs = [
        (i, " ".join(words[j % len(words)] for j in range(i, i + 4)))
        for i in range(8)
    ]

    def _vec(i):
        return [float(i + 1), float((i * 7) % 5), float((i * 3) % 11), 1.0]

    base_vecs = [(i, _vec(i)) for i in range(8)]
    bm25_p = str(tmp_path / "bm25_idx")
    ann_p = str(tmp_path / "ann_layout")
    write_bm25_index(
        spark.createDataFrame(base_docs, "doc_id long, text string"), bm25_p
    )
    bootstrap_ann_layout(
        spark.createDataFrame(base_vecs, "vec_id long, embedding array<double>"),
        ann_p,
        num_clusters=2,
    )

    # two micro-batches: docs 8-9 arrive (text + vector), doc 1's text
    # is revised (vector unchanged — only the lexical side re-indexes)
    doc_sink = bm25_index_sink(spark, bm25_p, op_col="op")
    vec_sink = ann_layout_sink(spark, ann_p)
    doc_sink(
        spark.createDataFrame(
            [(8, "fresh spark vector stream", "upsert")],
            "doc_id long, text string, op string",
        ),
        0,
    )
    vec_sink(
        spark.createDataFrame([(8, _vec(8))], "vec_id long, embedding array<double>"),
        0,
    )
    doc_sink(
        spark.createDataFrame(
            [
                (9, "merge rank scan query", "upsert"),
                (1, "revised spark merge text", "upsert"),
            ],
            "doc_id long, text string, op string",
        ),
        1,
    )
    vec_sink(
        spark.createDataFrame([(9, _vec(9))], "vec_id long, embedding array<double>"),
        1,
    )
    compact_bm25_index(spark, bm25_p)
    compact_ann_layout(spark, ann_p)

    final_docs = [d for d in base_docs if d[0] != 1] + [
        (1, "revised spark merge text"),
        (8, "fresh spark vector stream"),
        (9, "merge rank scan query"),
    ]
    final_vecs = base_vecs + [(8, _vec(8)), (9, _vec(9))]
    docs_df = spark.createDataFrame(final_docs, "doc_id long, text string")
    vecs_df = spark.createDataFrame(
        final_vecs, "vec_id long, embedding array<double>"
    )
    term_sets = [(0, ["spark", "merge"]), (8, ["vector", "scan"])]
    qvecs = vecs_df.filter(F.col("vec_id").isin([0, 8])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    want = {
        (r.query_id, r.doc_id, r.rrf_score, r.rn)
        for r in hybrid_search_batch(docs_df, vecs_df, term_sets, qvecs, k=5).collect()
    }

    postings, doc_stats, term_stats = read_bm25_index(spark, bm25_p)
    packed, cents = read_ivf_layout(spark, ann_p)
    got = {
        (r.query_id, r.doc_id, r.rrf_score, r.rn)
        for r in hybrid_search_batch_ann(
            postings, doc_stats, term_stats, packed, cents, term_sets, qvecs, k=5
        ).collect()
    }
    assert got == want and len(want) == 10


def test_process_batch_refuses_unpartitioned_chunks_table(spark, tmp_path):
    """batch_id synthesis must not treat read errors as 'first write':
    an existing chunks table WITHOUT the batch_id partition column
    (pre-partitioning layout) must raise instead of writing partitioned
    files into the unpartitioned directory — the mixed-partition-depth
    corruption the sink comment warns about (r7, ADVICE low). A
    genuinely missing path still synthesizes batch_id=0."""
    import pytest

    from mcp_vector_search_spark.streaming.incremental import process_batch

    batch = spark.createDataFrame(
        [(1, "some words here", "a.txt")],
        "doc_id long, text string, source string",
    )

    state_dir = str(tmp_path / "legacy")
    os.makedirs(state_dir)
    # a chunks table written by an unpartitioned append: no batch_id
    spark.createDataFrame(
        [(9, 0, "old chunk")], "doc_id long, chunk_idx int, chunk_text string"
    ).write.parquet(os.path.join(state_dir, "chunks.parquet"))
    with pytest.raises(ValueError, match="no batch_id partition column"):
        process_batch(spark, batch, state_dir, batch_id=None)
    # refused BEFORE writing: the legacy table is intact and unmixed
    legacy = spark.read.parquet(os.path.join(state_dir, "chunks.parquet"))
    assert legacy.count() == 1 and "batch_id" not in legacy.columns

    fresh = str(tmp_path / "fresh")
    os.makedirs(fresh)
    assert process_batch(spark, batch, fresh, batch_id=None) == 1
    chunks = spark.read.parquet(os.path.join(fresh, "chunks.parquet"))
    assert set(r.batch_id for r in chunks.select("batch_id").collect()) == {0}


def test_ann_layout_sink_inherits_float32_dtype(spark, tmp_path):
    """r7 review: appends must inherit the STANDING layout's pack
    dtype. A float32 layout appended with the float64 default mixed
    dtypes, and the next compaction's widest-present upcast silently
    rewrote the whole layout as float64 — losing the halved bytes the
    builder opted into."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.ivf import (
        ivf_topk_batch_packed,
        read_ivf_layout,
    )
    from mcp_vector_search_spark.streaming.incremental import (
        ann_layout_sink,
        bootstrap_ann_layout,
        compact_ann_layout,
    )

    emb = io.table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)

    path = str(tmp_path / "ann_f32")
    bootstrap_ann_layout(base, path, num_clusters=8, dtype="float32")
    sink = ann_layout_sink(spark, path)
    sink(extra, 0)

    packed, cents = read_ivf_layout(spark, path)
    assert {r.dtype for r in packed.select("dtype").distinct().collect()} == {
        "float32"
    }
    # compaction keeps the codec (nothing to upcast)
    compact_ann_layout(spark, path)
    packed2, cents2 = read_ivf_layout(spark, path)
    assert {r.dtype for r in packed2.select("dtype").distinct().collect()} == {
        "float32"
    }
    # and the layout serves every vector exactly once
    ids = [v for r in packed2.select("vec_ids").collect() for v in r.vec_ids]
    assert len(ids) == len(set(ids)) == emb.count()
    self_q = extra.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hit = ivf_topk_batch_packed(packed2, cents2, self_q, 1, nprobes=8).first()
    assert hit.vec_id == hit.query_id

def test_process_batch_torn_chunks_dir_is_corruption(spark, tmp_path):
    """r7 advice: a chunks dir with batch_id= partition dirs but NO
    readable parquet files (torn copy / manual truncation) must raise,
    not silently restart batch numbering at 0 — downstream batch-id-
    keyed state may already have consumed those ids. A dir with only
    _SUCCESS (zero-row bootstrap batch) is still a legitimate first
    write."""
    import pytest

    from mcp_vector_search_spark.streaming.incremental import process_batch

    batch = spark.createDataFrame(
        [(1, "some words here", "a.txt")],
        "doc_id long, text string, source string",
    )

    torn = str(tmp_path / "torn")
    chunks = os.path.join(torn, "chunks.parquet")
    os.makedirs(os.path.join(chunks, "batch_id=0"))  # dir, no files
    with pytest.raises(ValueError, match="corrupt chunks table"):
        process_batch(spark, batch, torn, batch_id=None)
    # refused before writing anything into the torn table
    assert os.listdir(os.path.join(chunks, "batch_id=0")) == []

    empty = str(tmp_path / "empty")
    chunks2 = os.path.join(empty, "chunks.parquet")
    os.makedirs(chunks2)
    open(os.path.join(chunks2, "_SUCCESS"), "w").close()
    assert process_batch(spark, batch, empty, batch_id=None) == 1
    got = spark.read.parquet(chunks2)
    assert {r.batch_id for r in got.select("batch_id").collect()} == {0}


def test_ann_layout_sink_refuses_zero_block_layout(spark, tmp_path):
    """r7 advice: the sink's dtype-inheritance probe on a blocks table
    with zero rows returned None and raised an opaque TypeError at
    sink construction — now a clear 'bootstrap first' error."""
    import pytest
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.streaming.incremental import (
        ann_layout_sink,
        bootstrap_ann_layout,
    )

    emb = io.table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ann_zero")
    bootstrap_ann_layout(emb.filter(F.col("vec_id") < 200), path, num_clusters=4)
    blocks_path = f"{path}/blocks"
    schema = spark.read.parquet(blocks_path).schema
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(blocks_path)
    with pytest.raises(ValueError, match="no blocks"):
        ann_layout_sink(spark, path)
