"""Durable codec-layout lifecycle (r6, operators/layout.py): the
PQ/SQ packed layouts round-trip through disk with serve-result
equality, appends are guarded by metadata equality, and mixed
quantizer state is refused."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def test_ivfpq_layout_roundtrip_append_and_guard(spark, tmp_path):
    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_pack,
        ivfpq_topk_packed,
    )
    from mcp_vector_search_spark.operators.layout import (
        read_ivfpq_layout,
        write_ivfpq_layout,
    )

    emb = io.table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)
    enc, cents, cbs = ivfpq_build(base, num_clusters=8, m=16, k_codes=64)
    enc = enc.cache()
    packed = ivfpq_pack(enc)

    path = str(tmp_path / "ivfpq")
    write_ivfpq_layout(packed, cents, cbs, path)
    pk, c2, cb2 = read_ivfpq_layout(spark, path)
    queries = emb.filter(F.col("vec_id") % 11 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    mem = sorted(
        map(tuple, ivfpq_topk_packed(packed, cents, cbs, queries, 5, nprobes=8).collect())
    )
    disk = sorted(
        map(tuple, ivfpq_topk_packed(pk, c2, cb2, queries, 5, nprobes=8).collect())
    )
    assert disk == mem

    # append: encode NEW vectors against the SAME coarse+codebook state
    from mcp_vector_search_spark.operators.ivfpq import ivfpq_encode

    extra_enc = ivfpq_encode(extra, cents, cbs)
    write_ivfpq_layout(ivfpq_pack(extra_enc), cents, cbs, path, mode="append")
    pk3, _, _ = read_ivfpq_layout(spark, path)
    ids = [v for r in pk3.select("vec_ids").collect() for v in r.vec_ids]
    assert len(ids) == len(set(ids)) == emb.count()

    # guard: refit state refuses to append
    _, cents_b, cbs_b = ivfpq_build(extra, num_clusters=8, m=16, k_codes=64)
    with pytest.raises(ValueError, match="differ from the persisted layout"):
        write_ivfpq_layout(ivfpq_pack(extra_enc), cents_b, cbs_b, path, mode="append")
    with pytest.raises(ValueError, match="no readable"):
        write_ivfpq_layout(
            ivfpq_pack(extra_enc), cents, cbs, str(tmp_path / "nope"), mode="append"
        )


def test_sq_layout_roundtrip(spark, tmp_path):
    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.layout import (
        read_sq_layout,
        write_sq_layout,
    )
    from mcp_vector_search_spark.operators.sq import (
        sq_encode,
        sq_pack,
        sq_topk_packed,
        sq_train,
    )

    emb = io.table(spark, SF_DIR, "embeddings")
    bounds = sq_train(emb)
    packed = sq_pack(sq_encode(emb, bounds))
    path = str(tmp_path / "sq")
    write_sq_layout(packed, bounds, path)
    pk, b2 = read_sq_layout(spark, path)
    queries = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    mem = sorted(map(tuple, sq_topk_packed(packed, bounds, queries, 5).collect()))
    disk = sorted(map(tuple, sq_topk_packed(pk, b2, queries, 5).collect()))
    assert disk == mem


def test_api_save_load_ann_index_roundtrip(spark, tmp_path):
    """Facade persistence (r6): build → save → load in a fresh
    SparkProject → identical search_batch results, for all three
    codec kinds."""
    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.api import SparkProject

    emb = io.table(spark, SF_DIR, "embeddings")
    docs = emb.selectExpr("vec_id as doc_id", "'t' as text")
    queries = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for kind in ("ivf", "ivfpq", "ivfsq"):
        p1 = SparkProject(spark, docs, emb)
        p1.build_ann_index(kind=kind, num_clusters=8)
        built = sorted(map(tuple, p1.search_batch(queries, 5).collect()))
        path = str(tmp_path / f"idx_{kind}")
        p1.save_ann_index(path)
        p2 = SparkProject(spark, docs, emb)
        p2.load_ann_index(path, kind=kind)
        loaded = sorted(map(tuple, p2.search_batch(queries, 5).collect()))
        assert loaded == built, kind

    import pytest

    p3 = SparkProject(spark, docs, emb)
    with pytest.raises(ValueError, match="no ANN index built"):
        p3.save_ann_index(str(tmp_path / "none"))


def _compact_sq(spark, path):
    from mcp_vector_search_spark.operators.layout import compact_codec_layout

    return compact_codec_layout(
        spark, path, "bucket", "d", "codes",
        dtype_col=None, fixed_dtype="uint8", require_meta=("bounds",),
    )


def test_ivfpq_streaming_sink_and_compaction(spark, tmp_path):
    """r6 codec lifecycle symmetry: micro-batches encoded against the
    standing quantizer pair land as per-batch block fragments
    (replay-idempotent via dynamic partition overwrite), then
    compaction merges the fragments with bit-identical serving."""
    import math

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_pack,
        ivfpq_pack_fused,
        ivfpq_topk_packed,
    )
    from mcp_vector_search_spark.operators.layout import (
        compact_codec_layout,
        read_ivfpq_layout,
        write_ivfpq_layout,
        write_stream_blocks,
    )

    emb = io.table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    enc, cents, cbs = ivfpq_build(base, num_clusters=8, m=16, k_codes=64)
    path = str(tmp_path / "pq_stream")
    write_ivfpq_layout(ivfpq_pack(enc), cents, cbs, path)

    def sink(batch, batch_id):
        packed = ivfpq_pack_fused(batch, cents, cbs)
        write_stream_blocks(packed, path, "cluster_id", batch_id)

    for i, lo in enumerate(range(300, 500, 50)):
        sink(emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 50)), i)
    sink(emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 350)), 0)  # replay

    pk, c2, cb2 = read_ivfpq_layout(spark, path)
    ids = [v for r in pk.select("vec_ids").collect() for v in r.vec_ids]
    assert len(ids) == len(set(ids)) == emb.count()
    n_before = pk.count()

    queries = emb.filter(F.col("vec_id") % 19 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    before = sorted(
        map(tuple, ivfpq_topk_packed(pk, c2, cb2, queries, 5, nprobes=8).collect())
    )

    got_before, got_after = compact_codec_layout(
        spark, path, "cluster_id", "m", "codes",
        require_meta=("centroids", "codebooks"),
    )
    assert got_before == n_before
    pk2, c3, cb3 = read_ivfpq_layout(spark, path)
    per_part = {
        r.cluster_id: r.rows
        for r in pk2.groupBy("cluster_id").agg(F.sum("n").alias("rows")).collect()
    }
    assert got_after == pk2.count() == sum(
        math.ceil(n / (1 << 20)) for n in per_part.values()
    ) < n_before
    after = sorted(
        map(tuple, ivfpq_topk_packed(pk2, c3, cb3, queries, 5, nprobes=8).collect())
    )
    assert after == before


def test_sq_streaming_sink_and_compaction(spark, tmp_path):
    """SQ half of the codec streaming lifecycle: micro-batches encode
    against the layout's pinned bounds (replay-idempotent), compaction
    merges per-batch bucket fragments with serve-result equality."""
    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators.layout import (
        compact_codec_layout,
        read_sq_layout,
        write_sq_layout,
        write_stream_blocks,
    )
    from mcp_vector_search_spark.operators.sq import (
        sq_encode,
        sq_pack,
        sq_pack_fused,
        sq_topk_packed,
        sq_train,
    )

    emb = io.table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    bounds = sq_train(emb)  # bounds over the FULL corpus: appends stay in-range
    path = str(tmp_path / "sq_stream")
    write_sq_layout(sq_pack(sq_encode(base, bounds)), bounds, path)

    def sink(batch, batch_id):
        write_stream_blocks(sq_pack_fused(batch, bounds), path, "bucket", batch_id)

    for i, lo in enumerate(range(300, 500, 100)):
        sink(emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)), i)
    sink(emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), 0)  # replay

    pk, b2 = read_sq_layout(spark, path)
    ids = [v for r in pk.select("vec_ids").collect() for v in r.vec_ids]
    assert len(ids) == len(set(ids)) == emb.count()
    q = emb.filter(F.col("vec_id") % 23 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    before = sorted(map(tuple, sq_topk_packed(pk, b2, q, 5).collect()))
    nb, na = _compact_sq(spark, path)
    pk2, b3 = read_sq_layout(spark, path)
    after = sorted(map(tuple, sq_topk_packed(pk2, b3, q, 5).collect()))
    assert after == before and na < nb


def test_load_manifest_and_failed_load_preserves_index(spark, tmp_path):
    """r6 review fixes: save writes a kind manifest (load infers it;
    a contradictory kind raises), and a failed load leaves the
    standing index serving instead of silently degrading to brute."""
    import pytest

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.api import SparkProject

    emb = io.table(spark, SF_DIR, "embeddings")
    docs = emb.selectExpr("vec_id as doc_id", "'t' as text")
    q = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    p = SparkProject(spark, docs, emb)
    p.build_ann_index(kind="ivfpq", num_clusters=8)
    path = str(tmp_path / "idx")
    p.save_ann_index(path)

    p2 = SparkProject(spark, docs, emb)
    p2.load_ann_index(path)  # kind inferred from the manifest
    assert p2._ivfpq_layout is not None
    with pytest.raises(ValueError, match="kind='ivfpq'"):
        p2.load_ann_index(path, kind="ivf")

    served = sorted(map(tuple, p2.search_batch(q, 5).collect()))
    with pytest.raises(Exception):
        p2.load_ann_index(str(tmp_path / "missing"), kind="ivf")
    # the standing ivfpq index survived the failed load
    assert p2._ivfpq_layout is not None
    assert sorted(map(tuple, p2.search_batch(q, 5).collect())) == served


def test_repack_upcasts_mixed_code_dtypes(spark):
    """r6 review fix: a stream-maintained IVF-PQ layout with
    k_codes>256 can mix uint8/uint16 blocks within a cluster (the
    pack picks the width per batch); repack upcasts to the widest
    instead of refusing to compact."""
    import numpy as np

    from mcp_vector_search_spark.operators.layout import repack_codec_blocks

    rows = [
        (1, 0, 2, 4, "uint16",
         [10, 11], np.array([[300, 1, 2, 3], [4, 5, 6, 7]], dtype=np.uint16).tobytes()),
        (1, 0, 2, 4, "uint8",
         [12, 13], np.array([[8, 9, 10, 11], [12, 13, 14, 15]], dtype=np.uint8).tobytes()),
    ]
    df = spark.createDataFrame(
        rows,
        "cluster_id int, block_id int, n int, m int, dtype string, "
        "vec_ids array<bigint>, codes binary",
    )
    out = repack_codec_blocks(df, "cluster_id", "m", "codes").collect()
    assert len(out) == 1 and out[0].dtype == "uint16" and out[0].n == 4
    M = np.frombuffer(out[0].codes, dtype=np.uint16).reshape(4, 4)
    assert M[0, 0] == 300 and M[2, 0] == 8 and list(out[0].vec_ids) == [10, 11, 12, 13]


def test_overwrite_layout_is_staged_and_leaves_no_tmp(spark, tmp_path):
    """Overwriting a standing layout swaps a fully-staged copy in:
    blocks and metadata change together (no mixed-quantizer window)
    and no .tmp residue survives (r6 review)."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from mcp_vector_search_spark.operators.ivf import (
        ivf_pack,
        read_ivf_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "layout")
    rng = np.random.default_rng(7)

    def mk(tag):
        rows = [
            (i, int(i % 2), [float(x) for x in rng.normal(size=4)])
            for i in range(10)
        ]
        assigned = spark.createDataFrame(
            rows, "vec_id long, cluster_id int, unit array<double>"
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, float(tag)]), (1, [0.0, 1.0, 0.0, float(tag)])],
            "cluster_id int, centroid array<double>",
        )
        return ivf_pack(assigned), cents

    p1, c1 = mk(1)
    write_ivf_layout(p1, c1, path)
    p2, c2 = mk(2)
    write_ivf_layout(p2, c2, path)  # overwrite over the standing layout

    packed, cents = read_ivf_layout(spark, path)
    got = {r.centroid[3] for r in cents.collect()}
    assert got == {2.0}  # metadata is the NEW quantizer, not a mix
    assert packed.count() > 0
    assert not os.path.exists(path + ".tmp")


def test_compact_abort_cleans_staged_tmp_on_uri_path(spark, tmp_path, monkeypatch):
    """The concurrent-append abort path must clean blocks.tmp through
    the FS API: shutil.rmtree on a scheme-qualified path silently
    cannot address the URI and left staged debris (r7, ADVICE low)."""
    import glob
    import shutil

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.operators import layout as layout_mod
    from mcp_vector_search_spark.operators.layout import write_sq_layout
    from mcp_vector_search_spark.operators.sq import sq_encode, sq_pack, sq_train

    emb = io.table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 200)
    bounds = sq_train(emb)
    packed = sq_pack(sq_encode(emb, bounds))
    local = tmp_path / "sq"
    path = f"file://{local}"
    write_sq_layout(packed, bounds, path)

    real = layout_mod.repack_codec_blocks

    def racing(*a, **k):
        # a concurrent appender lands a block between the pre-count and
        # the pre-swap recheck: duplicate an existing data file
        part = glob.glob(
            str(local / "blocks" / "bucket=*" / "batch_id=*" / "part-*.parquet")
        )[0]
        shutil.copy(part, part.replace("part-", "race-part-"))
        return real(*a, **k)

    monkeypatch.setattr(layout_mod, "repack_codec_blocks", racing)
    with pytest.raises(RuntimeError, match="quiesce"):
        _compact_sq(spark, path)
    # staged dir cleaned through the FS API, not a silent rmtree no-op
    assert not (local / "blocks.tmp").exists()
    # the standing layout is untouched and still serves
    assert spark.read.parquet(f"{path}/blocks").count() > 0


def test_api_build_ann_index_sampled_fit(spark):
    """r7: `build_ann_index(fit="sampled")` routes kind="ivf" through
    the fused one-pass build and serves rows identical to the manual
    `ivf_build_sampled_packed` path; kind="ivfpq" accepts the sampled
    coarse fit; kind="ivfsq" refuses the inapplicable argument."""
    import pytest

    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.api import SparkProject
    from mcp_vector_search_spark.operators.ivf import (
        ivf_build_sampled_packed,
        ivf_topk_batch_packed,
    )

    emb = io.table(spark, SF_DIR, "embeddings")
    docs = emb.selectExpr("vec_id as doc_id", "'t' as text")
    queries = emb.filter(F.col("vec_id") % 19 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    p = SparkProject(spark, docs, emb)
    p.build_ann_index(kind="ivf", num_clusters=8, fit="sampled")
    got = sorted(map(tuple, p.search_batch(queries, 5).collect()))
    packed, cents = ivf_build_sampled_packed(emb, num_clusters=8)
    want_df = ivf_topk_batch_packed(packed, cents, queries, 5)
    # project to the facade's output columns before comparing
    want = sorted(map(tuple, want_df.select(*p.search_batch(queries, 5).columns).collect()))
    assert got == want

    p2 = SparkProject(spark, docs, emb)
    p2.build_ann_index(kind="ivfpq", num_clusters=8, fit="sampled")
    assert p2.search_batch(queries, 5).count() > 0

    # a REJECTED call must not destroy the standing layout (r7 review:
    # the ivfsq+fit validation used to run after the invalidation loop,
    # silently reverting every later search to brute force)
    with pytest.raises(ValueError, match="does not apply"):
        p.build_ann_index(kind="ivfsq", fit="sampled")
    with pytest.raises(ValueError, match="unknown ANN fit"):
        p.build_ann_index(kind="ivf", fit="bogus")
    with pytest.raises(ValueError, match="only applies to kind='ivf'"):
        p.build_ann_index(kind="ivfpq", dtype="float32")
    assert p._ivf_layout is not None
    assert sorted(map(tuple, p.search_batch(queries, 5).collect())) == got

    # float32 pack through the facade: same answer set at this scale
    p4 = SparkProject(spark, docs, emb)
    p4.build_ann_index(kind="ivf", num_clusters=8, fit="sampled", dtype="float32")
    assert p4._ivf_layout[0].first().dtype == "float32"
    got32 = {(r[0], r[1]) for r in p4.search_batch(queries, 5).collect()}
    assert got32 == {(r[0], r[1]) for r in got}
