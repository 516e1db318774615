"""Segmented BM25 index lifecycle (K3 incremental): upsert/delete
segments must score identically to a fresh full build over the
equivalent final corpus (reference incremental reindex,
chunks_backend.py:269-551 — delete-by-key + append)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mcp_vector_search_spark.operators.bm25 import (
    bm25_topk_indexed,
    compact_bm25_index,
    read_bm25_index,
    update_bm25_index,
    write_bm25_index,
)

TERMS = ["quick", "spark", "merge", "queries"]


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "spark sql runs relational queries at scale"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "the quick onyx goblin jumps over the lazy dwarf"),
]
ADDED = [
    (4, "incremental merge of spark postings segments"),
    (5, "quick queries over a merged segmented index"),
]
REPLACED = [(1, "spark streaming merge runs quick incremental queries")]


def _topk(spark, path, k=10):
    return sorted(
        (r["doc_id"], r["score"])
        for r in bm25_topk_indexed(spark, path, TERMS, k).collect()
    )


def _full_equiv(spark, tmp, rows, k=10):
    p = os.path.join(tmp, "full_idx")
    write_bm25_index(_corpus(spark, rows), p)
    return _topk(spark, p, k)


def test_update_equals_full_rebuild(spark, tmp_path):
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx)

    seg1 = update_bm25_index(spark, idx, _corpus(spark, ADDED))
    assert seg1 == 1
    # upsert (doc 1 replaced) + delete (doc 2) in one batch
    seg2 = update_bm25_index(
        spark, idx, _corpus(spark, REPLACED), deleted_ids=[2]
    )
    assert seg2 == 2

    final_rows = [BASE[0], REPLACED[0], BASE[3]] + ADDED
    assert _topk(spark, idx) == _full_equiv(spark, tmp, final_rows)


def test_deleted_ids_dataframe_path(spark, tmp_path):
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx)
    dels = spark.createDataFrame([(2,), (3,)], "doc_id long")
    update_bm25_index(spark, idx, None, deleted_ids=dels)
    assert _topk(spark, idx) == _full_equiv(spark, tmp, [BASE[0], BASE[1]])


def test_empty_text_upsert_supersedes(spark, tmp_path):
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx)
    update_bm25_index(spark, idx, _corpus(spark, [(1, "")]))
    # doc 1 must vanish ENTIRELY — from results AND from doc_stats:
    # write_bm25_index over the equivalent final corpus derives
    # doc_stats from postings (token-less docs absent), so a dl=0 row
    # here would shift n_docs/avgdl and every idf off the full-rebuild
    # contract (r6 review). Scores must equal the rebuild exactly.
    _, doc_stats, _ = read_bm25_index(spark, idx)
    assert doc_stats.filter(F.col("doc_id") == 1).count() == 0
    assert _topk(spark, idx) == _full_equiv(
        spark, tmp, [r for r in BASE if r[0] != 1]
    )


def _manifest_file(idx):
    from mcp_vector_search_spark.io import latest_version

    return os.path.join(idx, "_manifests", f"v{latest_version(idx)}.json")


def _manifest_meta(idx):
    import json

    with open(_manifest_file(idx)) as f:
        return json.load(f)["meta"]


def test_torn_manifest_raises_corrupt(spark, tmp_path):
    # the commit is one atomic link of a fully written manifest, so a
    # torn one only comes from outside damage (a partial copy): every
    # entry point must refuse it rather than guess a layout
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx, term_buckets=4)
    mf = _manifest_file(idx)
    with open(mf) as f:
        body = f.read()
    with open(mf, "w") as f:
        f.write(body[: len(body) // 2])
    with pytest.raises(ValueError, match="corrupt BM25 index"):
        _topk(spark, idx)
    with pytest.raises(ValueError, match="corrupt BM25 index"):
        update_bm25_index(spark, idx, _corpus(spark, ADDED))
    with pytest.raises(ValueError, match="corrupt BM25 index"):
        compact_bm25_index(spark, idx)
    # a rebuild is the way out, and it retires the torn manifest
    write_bm25_index(_corpus(spark, BASE), idx)
    assert _topk(spark, idx) == _full_equiv(spark, tmp, BASE)
    assert os.listdir(os.path.join(idx, "_manifests")) == [os.path.basename(_manifest_file(idx))]


def test_uncastable_deleted_ids_raise(spark, tmp_path):
    # string ids against a long-keyed index cast to NULL and the
    # deletion would silently no-op — must raise instead (r6 review)
    idx = os.path.join(str(tmp_path), "idx")
    write_bm25_index(_corpus(spark, BASE), idx)
    bad = spark.createDataFrame([("doc-2",)], "doc_id string")
    with pytest.raises(ValueError, match="castable"):
        update_bm25_index(spark, idx, None, deleted_ids=bad)
    with pytest.raises(ValueError, match="castable"):
        update_bm25_index(spark, idx, None, deleted_ids=[None])


def test_compact_repairs_stale_term_stats(spark, tmp_path):
    # an update with refresh_term_stats=False leaves idf one update
    # stale, and the manifest says so; compact must rebuild term_stats
    # from the fold, not carry the stale table forward
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx)
    update_bm25_index(spark, idx, _corpus(spark, ADDED), refresh_term_stats=False)
    stale = _manifest_meta(idx)
    assert stale["term_stats_current"] is False
    compact_bm25_index(spark, idx)
    fresh = _manifest_meta(idx)
    assert fresh["term_stats_current"] is True
    assert fresh["term_stats"] != stale["term_stats"]
    assert _topk(spark, idx) == _full_equiv(spark, tmp, BASE + ADDED)


def test_orphan_segment_is_invisible_and_replay_idempotent(spark, tmp_path):
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx)
    before = _topk(spark, idx)

    # simulate a crash after the postings write: seg 1 exists on disk
    # but no doc_stats row references it
    from mcp_vector_search_spark.operators.bm25 import build_postings

    orphan = build_postings(_corpus(spark, ADDED)).withColumn("seg", F.lit(1))
    (
        orphan.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("seg")
        .mode("overwrite")
        .parquet(f"{idx}/postings")
    )
    assert _topk(spark, idx) == before  # serves the pre-update corpus

    # replaying the same update lands on the same seg and repairs all
    seg = update_bm25_index(spark, idx, _corpus(spark, ADDED))
    assert seg == 1
    assert _topk(spark, idx) == _full_equiv(spark, tmp, BASE + ADDED)


def test_compact_preserves_results_and_folds_segments(spark, tmp_path):
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx)
    update_bm25_index(spark, idx, _corpus(spark, ADDED))
    update_bm25_index(spark, idx, _corpus(spark, REPLACED), deleted_ids=[2])
    before = _topk(spark, idx)

    segs_before, segs_after = compact_bm25_index(spark, idx)
    assert (segs_before, segs_after) == (3, 1)
    assert _topk(spark, idx) == before
    # stale rows are physically gone: doc 1's replaced postings held
    # 'relational', which no live doc contains after compaction
    postings, _, _ = read_bm25_index(spark, idx)
    assert postings.filter(F.col("term") == "relational").count() == 0
    # and the compacted index keeps accepting updates
    update_bm25_index(spark, idx, _corpus(spark, [(9, "fresh doc after compact")]))
    final = [BASE[0], REPLACED[0], BASE[3]] + ADDED + [(9, "fresh doc after compact")]
    assert _topk(spark, idx) == _full_equiv(spark, tmp, final)


def test_flat_v1_index_rejected(spark, tmp_path):
    idx = str(tmp_path / "flat")
    docs = _corpus(spark, BASE)
    from mcp_vector_search_spark.operators.bm25 import (
        build_postings,
        build_term_stats,
        doc_stats_from_postings,
    )

    postings = build_postings(docs)
    ds = doc_stats_from_postings(postings)
    postings.write.parquet(f"{idx}/postings")
    ds.write.parquet(f"{idx}/doc_stats")
    build_term_stats(postings, ds).write.parquet(f"{idx}/term_stats")
    # a layout without a manifest is refused by every entry point ...
    for call in (
        lambda: _topk(spark, idx),
        lambda: update_bm25_index(spark, idx, _corpus(spark, ADDED)),
        lambda: compact_bm25_index(spark, idx),
    ):
        with pytest.raises(ValueError, match="rebuild it with write_bm25_index"):
            call()
    # ... and a rebuild over it is the migration path
    write_bm25_index(_corpus(spark, BASE), idx)
    update_bm25_index(spark, idx, _corpus(spark, ADDED))
    assert _topk(spark, idx) == _full_equiv(spark, str(tmp_path), BASE + ADDED)
    assert sorted(os.listdir(idx)) == ["_manifests", "doc_stats", "postings", "term_stats"]


def test_empty_corpus_bootstrap(spark, tmp_path):
    # the documented streaming bootstrap: write_bm25_index over a
    # ZERO-doc corpus. partitionBy writes no postings files for zero
    # rows, so every read used to die with UNABLE_TO_INFER_SCHEMA on
    # the first delete-only batch or any pre-first-batch query
    # (r6 review) — the schema now falls back to doc_stats' id type.
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, []), idx)
    assert _topk(spark, idx) == []                      # query before any batch
    update_bm25_index(spark, idx, None, deleted_ids=[7])  # delete-only first batch
    assert _topk(spark, idx) == []
    assert compact_bm25_index(spark, idx)[1] == 1       # compacting empty is a no-op
    update_bm25_index(spark, idx, _corpus(spark, BASE))
    assert _topk(spark, idx) == _full_equiv(spark, tmp, BASE)


def test_deferred_refresh_staleness_contract(spark, tmp_path):
    # refresh_term_stats=False: deletes and existing-term updates serve
    # immediately, but a doc matching ONLY a brand-new term is ABSENT
    # (bm25_scores inner-joins term_stats) until the refresh repairs it
    from mcp_vector_search_spark.operators.bm25 import refresh_bm25_term_stats

    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx)
    update_bm25_index(
        spark, idx,
        _corpus(spark, [(6, "zephyr zephyr zephyr")]),
        deleted_ids=[2],
        refresh_term_stats=False,
    )
    # delete visible immediately: 'liquor' lived only in doc 2
    assert bm25_topk_indexed(spark, idx, ["liquor"], 10).count() == 0
    # brand-new term invisible until refresh — the documented staleness
    assert bm25_topk_indexed(spark, idx, ["zephyr"], 10).count() == 0
    refresh_bm25_term_stats(spark, idx)
    hits = bm25_topk_indexed(spark, idx, ["zephyr"], 10).collect()
    assert [r["doc_id"] for r in hits] == [6]
    # and after the repair the whole index matches a full rebuild
    final = [r for r in BASE if r[0] != 2] + [(6, "zephyr zephyr zephyr")]
    assert _topk(spark, idx) == _full_equiv(spark, tmp, final)


def test_term_bucketed_index_lifecycle(spark, tmp_path):
    # the 100 TB postings layout: term-hash partition buckets. Scores
    # must be identical to the unbucketed build, the scheme must
    # thread through update/compact unchanged (mixed partition depths
    # under one root break discovery — ADVICE r5 class), and the query
    # path's bucket IN-filter must prune PARTITIONS, not rows.
    from mcp_vector_search_spark.operators.bm25 import (
        bm25_term_buckets,
        term_bucket,
    )

    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx, term_buckets=8)
    assert bm25_term_buckets(spark, idx) == 8
    assert _topk(spark, idx) == _full_equiv(spark, tmp, BASE)
    segdir = os.path.join(idx, "postings", "seg=0")
    assert any(d.startswith("tbucket=") for d in os.listdir(segdir))

    # updates land in the same scheme and keep full-rebuild parity
    update_bm25_index(spark, idx, _corpus(spark, ADDED))
    update_bm25_index(spark, idx, _corpus(spark, REPLACED), deleted_ids=[2])
    final = [BASE[0], REPLACED[0], BASE[3]] + ADDED
    assert _topk(spark, idx) == _full_equiv(spark, tmp, final)

    # the SQL and driver bucket functions are arithmetic twins
    raw = spark.read.parquet(f"{idx}/postings").select("term", "tbucket").distinct()
    assert all(term_bucket(r["term"], 8) == r["tbucket"] for r in raw.collect())

    # query-term buckets appear as a PartitionFilter on the scan
    q = bm25_topk_indexed(spark, idx, TERMS, 10)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert any(
        "tbucket" in seg.split("]")[0]
        for seg in plan.split("PartitionFilters")[1:]
    )

    # compaction preserves the scheme in its manifest, and the fold
    # is the one segment left
    compact_bm25_index(spark, idx)
    assert bm25_term_buckets(spark, idx) == 8
    [folded] = os.listdir(os.path.join(idx, "postings"))
    assert any(
        d.startswith("tbucket=")
        for d in os.listdir(os.path.join(idx, "postings", folded))
    )
    assert _topk(spark, idx) == _full_equiv(spark, tmp, final)

    # a rebuild without buckets retires the old bucket count
    write_bm25_index(_corpus(spark, BASE), idx)
    assert bm25_term_buckets(spark, idx) is None
    assert _topk(spark, idx) == _full_equiv(spark, tmp, BASE)


def test_empty_bucketed_bootstrap(spark, tmp_path):
    # streaming bootstrap × bucketed layout: the first real segment
    # must pick up the bucket scheme recorded at (empty) build time
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, []), idx, term_buckets=4)
    update_bm25_index(spark, idx, None, deleted_ids=[7])
    update_bm25_index(spark, idx, _corpus(spark, BASE))
    seg1 = os.path.join(idx, "postings", "seg=1")
    assert any(d.startswith("tbucket=") for d in os.listdir(seg1))
    assert _topk(spark, idx) == _full_equiv(spark, tmp, BASE)


def test_doc_bucketed_index_lifecycle(spark, tmp_path):
    # doc_buckets=M (the extreme-doc-count layout): doc_stats
    # maintenance becomes a dynamic partition overwrite of ONLY the
    # id-hash buckets the delta touches — untouched buckets' files
    # must not be rewritten, a bucket whose every doc is deleted must
    # be dropped (dynamic overwrite can't write an empty partition),
    # and scores must equal the full rebuild at every step.
    import hashlib

    def dbucket(i, m=4):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % m

    def bucket_files(idx):
        root = os.path.join(idx, _manifest_meta(idx)["doc_stats"])
        return {
            d: sorted(os.listdir(os.path.join(root, d)))
            for d in os.listdir(root)
            if d.startswith("dbucket=")
        }

    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx, term_buckets=4, doc_buckets=4)
    assert _topk(spark, idx) == _full_equiv(spark, tmp, BASE)
    before = bucket_files(idx)
    assert before  # partitioned layout exists

    # upsert ADDED (ids 4,5) + delete 2: only those ids' buckets move
    update_bm25_index(spark, idx, _corpus(spark, ADDED), deleted_ids=[2])
    final = [BASE[0], BASE[1], BASE[3]] + ADDED
    assert _topk(spark, idx) == _full_equiv(spark, tmp, final)
    touched = {f"dbucket={dbucket(i)}" for i in (4, 5, 2)}
    after = bucket_files(idx)
    for d, files in before.items():
        if d not in touched:
            assert after[d] == files, f"untouched bucket {d} was rewritten"

    # delete every doc in one bucket → its partition dir must vanish
    by_bucket = {}
    for i, _ in final:
        by_bucket.setdefault(dbucket(i), []).append(i)
    victim_bucket, victims = sorted(by_bucket.items())[0]
    update_bm25_index(spark, idx, None, deleted_ids=victims)
    remaining = [d for d in final if d[0] not in set(victims)]
    assert f"dbucket={victim_bucket}" not in bucket_files(idx)
    assert _topk(spark, idx) == _full_equiv(spark, tmp, remaining)

    # compaction preserves both schemes; scores unchanged
    compact_bm25_index(spark, idx)
    assert bucket_files(idx)
    assert _topk(spark, idx) == _full_equiv(spark, tmp, remaining)


class _Crash(RuntimeError):
    pass


def _crash_after(mp, part):
    """Make the next write of `part` (postings, doc_stats or term_stats
    — a parquet write under that directory — or the manifest commit)
    raise once it has finished."""
    if part == "manifest":
        from mcp_vector_search_spark import io

        real_commit = io._commit_manifest

        def commit(*a, **kw):
            real_commit(*a, **kw)
            raise _Crash(part)

        mp.setattr(io, "_commit_manifest", commit)
        return
    from pyspark.sql import DataFrameWriter

    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        real_parquet(self, path, *a, **kw)
        if f"/{part}/" in path:
            raise _Crash(part)

    mp.setattr(DataFrameWriter, "parquet", parquet)


def test_doc_bucketed_crash_replay_repairs(spark, tmp_path, monkeypatch):
    # the documented bucketed crash window: a crash mid-way through
    # the in-place per-bucket overwrite leaves touched buckets at mixed
    # versions. Take the worst partial state — postings seg=N fully
    # written, NO doc_stats bucket updated (the whole delta invisible)
    # — then replay the same update and require full-rebuild parity.
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx, doc_buckets=4)
    with monkeypatch.context() as mp:
        _crash_after(mp, "postings")
        with pytest.raises(_Crash):
            update_bm25_index(spark, idx, _corpus(spark, ADDED), deleted_ids=[2])
    # the index serves the PRE-update corpus (orphan segment invisible)
    assert _topk(spark, idx) == _full_equiv(spark, tmp, BASE)
    # replaying the same delta repairs everything
    update_bm25_index(spark, idx, _corpus(spark, ADDED), deleted_ids=[2])
    final = [b for b in BASE if b[0] != 2] + ADDED
    assert _topk(spark, idx) == _full_equiv(spark, tmp, final)


@pytest.mark.parametrize("op", ["update", "compact"])
@pytest.mark.parametrize("part", ["postings", "doc_stats", "term_stats", "manifest"])
def test_crash_after_each_part_write_serves_one_snapshot(spark, tmp_path, monkeypatch, op, part):
    # a writer that dies after any one of its part writes leaves the
    # index serving exactly the old snapshot (before the manifest
    # commit) or exactly the new one (after it), never a mix; replaying
    # the call then scores like a fresh build
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, BASE), idx)
    final = [BASE[0], REPLACED[0], BASE[3]] + ADDED
    if op == "update":
        update_bm25_index(spark, idx, _corpus(spark, ADDED))

        def run():
            update_bm25_index(spark, idx, _corpus(spark, REPLACED), deleted_ids=[2])
    else:
        # a deferred refresh makes compaction write all three parts
        update_bm25_index(spark, idx, _corpus(spark, ADDED))
        update_bm25_index(
            spark, idx, _corpus(spark, REPLACED), deleted_ids=[2],
            refresh_term_stats=False,
        )

        def run():
            compact_bm25_index(spark, idx)
    old = _topk(spark, idx)
    with monkeypatch.context() as mp:
        _crash_after(mp, part)
        with pytest.raises(_Crash):
            run()
    new = _full_equiv(spark, tmp, final)
    assert old != new
    assert _topk(spark, idx) == (new if part == "manifest" else old)
    run()
    assert _topk(spark, idx) == new


def test_empty_doc_bucketed_bootstrap(spark, tmp_path):
    # empty bootstrap × doc buckets: the partitioned doc_stats write
    # produces no files, so reads reconstruct the schema from the meta
    # record's doc_id type
    tmp = str(tmp_path)
    idx = os.path.join(tmp, "idx")
    write_bm25_index(_corpus(spark, []), idx, doc_buckets=4)
    assert _topk(spark, idx) == []
    update_bm25_index(spark, idx, _corpus(spark, BASE))
    assert _topk(spark, idx) == _full_equiv(spark, tmp, BASE)


def test_uri_path_index_lifecycle(spark, tmp_path):
    # storage-agnostic swap (r6 review): scheme-qualified paths route
    # through the Hadoop FileSystem API — os.rename cannot address
    # them, so the staged build/update/compact swaps used to strand
    # the .tmp layout on hdfs://-like storage. file:// (Hadoop
    # LocalFileSystem) exercises that branch end-to-end locally.
    tmp = str(tmp_path)
    idx = f"file://{tmp}/idx"
    write_bm25_index(_corpus(spark, BASE), idx, term_buckets=4)
    assert _topk(spark, idx) == _full_equiv(spark, tmp, BASE)
    update_bm25_index(spark, idx, _corpus(spark, ADDED), deleted_ids=[2])
    final = [b for b in BASE if b[0] != 2] + ADDED
    assert _topk(spark, idx) == _full_equiv(spark, tmp, final)
    compact_bm25_index(spark, idx)
    assert _topk(spark, idx) == _full_equiv(spark, tmp, final)


def test_update_batch_validation(spark, tmp_path):
    idx = str(tmp_path / "idx")
    write_bm25_index(_corpus(spark, BASE), idx)
    with pytest.raises(ValueError, match="duplicated"):
        update_bm25_index(
            spark, idx, _corpus(spark, [(7, "a doc"), (7, "same id twice")])
        )
    with pytest.raises(ValueError, match="duplicated"):
        update_bm25_index(spark, idx, _corpus(spark, [(0, "both")]), deleted_ids=[0])


def test_empty_manifest_raises_corrupt(spark, tmp_path):
    """A zero-byte manifest, or one whose meta lacks the index fields,
    is corruption: no entry point may fall back to guessing a bucket
    scheme or a doc_id type."""
    from mcp_vector_search_spark.operators.bm25 import bm25_term_buckets

    idx = str(tmp_path / "idx")
    write_bm25_index(_corpus(spark, BASE), idx, term_buckets=4)
    mf = _manifest_file(idx)
    for body in ("", '{"version": 1, "files": [], "meta": {}}'):
        with open(mf, "w") as f:
            f.write(body)
        with pytest.raises(ValueError, match="corrupt BM25 index"):
            bm25_term_buckets(spark, idx)
        with pytest.raises(ValueError, match="corrupt BM25 index"):
            update_bm25_index(spark, idx, None, deleted_ids=[0])


def test_update_errors_release_caches(spark, tmp_path):
    # every error exit of update_bm25_index releases what it pinned
    idx = str(tmp_path / "idx")
    write_bm25_index(_corpus(spark, BASE), idx)

    def persistent() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persistent()
    bad_calls = [
        dict(new_docs=_corpus(spark, [(7, "a doc"), (7, "same id twice")])),
        dict(new_docs=_corpus(spark, [(0, "both")]), deleted_ids=[0]),
        dict(new_docs=_corpus(spark, ADDED), deleted_ids=[None]),
        dict(new_docs=_corpus(spark, ADDED),
             deleted_ids=spark.createDataFrame([("doc-2",)], "doc_id string")),
    ]
    for kw in bad_calls:
        with pytest.raises(ValueError):
            update_bm25_index(spark, idx, **kw)
        assert not persistent() - before, kw


def test_deleted_id_list_is_checked_without_a_job(spark):
    # a deleted-id list becomes a literal array in the plan: NULLs and
    # uncastable values are refused on the driver, and no Python-worker
    # frame is built for it
    import uuid

    from mcp_vector_search_spark.operators.bm25 import _ids_frame

    sc = spark.sparkContext
    group = f"ids-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "deleted-id literals")
    try:
        out = _ids_frame(spark, [3, "4", 2**40], "bigint")
        for bad in ([None], ["doc-2"], [2**63], [True], [1.5]):
            with pytest.raises(ValueError, match="castable"):
                _ids_frame(spark, bad, "bigint")
        assert _ids_frame(spark, [7, "x'y"], "string").dtypes == [("doc_id", "string")]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert out.dtypes == [("doc_id", "bigint")]
    assert sorted(r.doc_id for r in out.collect()) == [3, 4, 2**40]
