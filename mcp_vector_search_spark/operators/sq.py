"""Scalar quantization (SQ) — the reference's own ANN codec.

The reference's LanceDB index is IVF_**SQ**: vectors are scalar-
quantized to int8 before the probed-cluster scan
(``vectors_backend.py:1264-1341``, ``CHANGELOG.md:429-432``). SQ keeps
one byte per *dimension* (vs PQ's one byte per *subspace*): a 64-dim
float32 row shrinks 4× (768-dim: 3 KB → 768 B), with far simpler math
than PQ — per-dimension affine codes against global per-dim [min, max]
bounds.

Spark-first shape:

- bounds are a per-dimension aggregate — ``posexplode → groupBy(dim)
  → min/max`` — a real distributed fit (unlike KMeans, it is also
  exactly SQL-replayable, so the WHOLE index build is oracle-checked,
  not just the mechanism);
- codes are an ``array<int>`` column next to the id, co-partitionable
  with an IVF ``cluster_id`` layout (IVF_SQ = write this table
  partitioned by cluster, prune partitions on probe);
- encode is an Arrow ``mapInPandas`` pass; scoring is the shared
  Arrow kernel (`operators/kernel.py`) with the SQ codec: decode per
  batch or block (``recon = mn + code·step``, a (b×d) float64
  intermediate bounded by the unit size), one GEMM against the query
  block and a partial top-k, so the rank-window shuffle carries
  O(units·nq·k), never |V|×|Q|.

Determinism contract (shared with ``registry.q_sq_fixed``'s DuckDB
replay): unit-normalize in float64; code = clip(floor(x + 0.5), 0,
255) — floor(x+0.5) instead of round() sidesteps numpy's banker
rounding vs SQL half-away; degenerate dims (mx == mn) code to 0 and
reconstruct to mn; final score rounded to 6; rank ties → lower id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcp_vector_search_spark.functions.vectors import normalized
from mcp_vector_search_spark.operators.ivf import block_step

SQ_LEVELS = 255  # code range [0, 255] — int8-equivalent


def sq_train(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    normalize: bool = True,
) -> DataFrame:
    """Per-dimension bounds over the (unit) corpus → (dim int,
    mn double, mx double). One posexplode + one groupBy(dim): the
    shuffle carries (dim, partial min/max) only — at any corpus size
    this is d rows out."""
    v = vectors
    if normalize:
        v = normalized(v, vec_col, "_u", drop_norm=False)
        src = F.col("_u")
    else:
        src = F.col(vec_col)
    return (
        v.select(F.posexplode(src).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )


def _collect_bounds(bounds: DataFrame):
    """(dim, mn, mx) rows → numpy (d,) mn and step arrays; step = 0 on
    degenerate dims so decode lands exactly on mn."""
    import numpy as np

    pdf = bounds.orderBy("dim").toPandas()
    mn = pdf["mn"].to_numpy(dtype=np.float64)
    mx = pdf["mx"].to_numpy(dtype=np.float64)
    rng = mx - mn
    step = np.where(rng > 0, rng / SQ_LEVELS, 0.0)
    return mn, step, rng


def _sq_code_rows(V, mn, rng, ok):
    """THE SQ quantization kernel:
    code_d = clip(floor((v_d − mn_d)·255/(mx_d − mn_d) + 0.5), 0, 255),
    degenerate dims (rng == 0) → 0. Exactly the oracle's op order so
    identical inputs give identical IEEE results. One definition
    shared by `sq_encode` and `sq_pack_fused` — a rounding or
    degenerate-dim fix must land exactly once or the staged and fused
    SQ layouts silently encode the same vector differently
    (r7 review). Returns int32 codes in [0, 255]."""
    import numpy as np

    x = np.zeros_like(V)
    x[:, ok] = (V[:, ok] - mn[ok]) * SQ_LEVELS / rng[ok]
    codes = np.clip(np.floor(x + 0.5), 0, SQ_LEVELS).astype(np.int32)
    codes[:, ~ok] = 0
    return codes


def sq_encode(
    vectors: DataFrame,
    bounds: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    normalize: bool = True,
) -> DataFrame:
    """Compress the corpus → (id, codes array<int>),
    code_d = clip(floor((v_d − mn_d)·255/(mx_d − mn_d) + 0.5), 0, 255). Map-side
    only; the output inherits the input partitioning, so an
    IVF-partitioned corpus stays IVF-partitioned (= IVF_SQ)."""
    import numpy as np
    import pandas as pd

    from mcp_vector_search_spark.operators.pq import _unit_rows
    from mcp_vector_search_spark.operators.topk import id_type

    mn, step, rng = _collect_bounds(bounds)
    ok = rng > 0

    def encode(batches):
        for pdf in batches:
            if normalize:
                V = _unit_rows(pdf[vec_col])
            else:
                V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = _sq_code_rows(V, mn, rng, ok)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} {id_type(vectors, id_col)}, codes array<int>"
    )


def sq_topk(
    codes: DataFrame,
    bounds: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
    batch_buffer: int = 4,
) -> DataFrame:
    """Batch top-k over the per-row code table → (query_id, id,
    sq_score, rn); sq_score ≈ cosine against the quantized corpus."""
    from mcp_vector_search_spark.operators import kernel

    mn, step, _ = _collect_bounds(bounds)
    qs = kernel.collect_queries(queries, query_id_col, query_vec_col)
    return kernel.score_topk(
        codes, kernel.rows(id_col, "codes"), qs, k, kernel.sq_codec(qs.Q, mn, step),
        "sq_score", round_to, batch_buffer,
    )


def sq_topk_refined(
    vectors: DataFrame,
    codes: DataFrame | None,
    bounds: DataFrame,
    queries: DataFrame,
    k: int,
    rerank_factor: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
    packed_codes: DataFrame | None = None,
) -> DataFrame:
    """SQ shortlist (k·rerank_factor) → exact rerank → (query_id, id,
    cos_sim, rn); scans `packed_codes` when given, else `codes`."""
    from mcp_vector_search_spark.operators.kernel import exact_rerank

    if codes is None and packed_codes is None:
        raise ValueError(
            "sq_topk_refined needs a code layout: pass `codes` "
            "(per-row) or `packed_codes` (sq_pack blocks)"
        )
    shortlist_fn, layout = (
        (sq_topk_packed, packed_codes) if packed_codes is not None else (sq_topk, codes)
    )
    shortlist = shortlist_fn(
        layout, bounds, queries, k * rerank_factor, id_col=id_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )
    return exact_rerank(
        vectors, shortlist, queries, k, vec_col, id_col, query_id_col,
        query_vec_col, round_to,
    )


def sq_pack(
    codes: DataFrame,
    id_col: str = "vec_id",
    n_buckets: int = 64,
    rows_per_block: int = 1 << 20,
    max_block_bytes: int = 32 << 20,
) -> DataFrame:
    """Collapse the per-row SQ code table into PACKED blocks (r5 —
    the SQ analogue of `ivf_pack`/`ivfpq_pack`):

        (bucket, block_id, n, d, vec_ids, codes)

    with `codes` = the block's (n × d) uint8 matrix as one binary
    cell. SQ has no cluster structure (the scan is flat), so rows are
    hash-bucketed on the id (xxhash64 mod `n_buckets` — deterministic
    across runs and partitionings) purely to bound block size and
    keep pack/score parallelism; the win is the same as the other
    packs: one `np.frombuffer` per block instead of per-row Arrow
    array cells."""
    import numpy as np
    import pandas as pd

    from mcp_vector_search_spark.operators.topk import id_type

    idt = id_type(codes, id_col)
    out_schema = (
        "bucket int, block_id int, n int, d int, "
        f"vec_ids array<{idt}>, codes binary"
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bkt = int(key[0])
        pdf = pdf.sort_values(id_col)
        Cm = np.ascontiguousarray(np.stack(pdf["codes"].to_numpy()).astype(np.uint8))
        d = Cm.shape[1]
        step = block_step(d, rows_per_block, max_block_bytes)
        rows = []
        for b, s in enumerate(range(0, len(pdf), step)):
            blk = Cm[s : s + step]
            rows.append(
                (
                    bkt, b, blk.shape[0], d,
                    pdf[id_col].iloc[s : s + step].tolist(),
                    blk.tobytes(),
                )
            )
        return pd.DataFrame(
            rows, columns=["bucket", "block_id", "n", "d", "vec_ids", "codes"]
        )

    bucketed = codes.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int").alias("bucket"),
        id_col,
        "codes",
    )
    return bucketed.groupBy("bucket").applyInPandas(pack, out_schema)


def sq_pack_fused(
    vectors: DataFrame,
    bounds: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    normalize: bool = True,
    n_buckets: int = 64,
    rows_per_block: int = 1 << 20,
    max_block_bytes: int = 32 << 20,
) -> DataFrame:
    """`sq_pack(sq_encode(vectors, bounds))` in ONE corpus pass (r7 —
    completing the fused-build family: `ivf_pack_fused`,
    `ivfpq_pack_fused`). The id→bucket hash is computed JVM-side with
    the SAME `xxhash64 % n_buckets` expression `sq_pack` uses (layout
    compatibility — never re-implement an engine hash in Python), then
    each input partition encodes + packs its rows into partial
    per-bucket blocks map-side; only block blobs cross the shuffle and
    `repack_codec_blocks` merges them. Bit-identical to the staged
    path (pinned in tests/test_sq.py): the encode is `sq_encode`'s
    kernel op-for-op, int32→uint8 truncation matches `sq_pack`'s
    astype, and repack re-sorts/re-splits by the shared rules."""
    import numpy as np
    import pandas as pd

    from mcp_vector_search_spark.operators.ivf import _cluster_groups
    from mcp_vector_search_spark.operators.layout import repack_codec_blocks
    from mcp_vector_search_spark.operators.pq import _unit_rows
    from mcp_vector_search_spark.operators.topk import id_type

    mn, _, rng = _collect_bounds(bounds)
    ok = rng > 0
    idt = id_type(vectors, id_col)
    out_schema = (
        "bucket int, block_id int, n int, d int, "
        f"vec_ids array<{idt}>, codes binary"
    )
    cols = ["bucket", "block_id", "n", "d", "vec_ids", "codes"]
    bucketed = vectors.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
        .cast("int")
        .alias("_bucket"),
        id_col,
        vec_col,
    )

    def pack_pass(batches):
        code_parts, id_parts, bkt_parts = [], [], []
        for pdf in batches:
            if not len(pdf):
                continue
            if normalize:
                V = _unit_rows(pdf[vec_col])
            else:
                V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # uint8 per batch: values are already in [0, 255], and
            # holding the partition's codes as int32 quadrupled
            # task-resident memory for nothing (r7 review)
            code_parts.append(_sq_code_rows(V, mn, rng, ok).astype(np.uint8))
            id_parts.append(pdf[id_col].to_numpy())
            bkt_parts.append(pdf["_bucket"].to_numpy())
        if not code_parts:
            return
        Cm = np.concatenate(code_parts) if len(code_parts) > 1 else code_parts[0]
        pid = np.concatenate(id_parts) if len(id_parts) > 1 else id_parts[0]
        bkt = np.concatenate(bkt_parts) if len(bkt_parts) > 1 else bkt_parts[0]
        M = np.ascontiguousarray(Cm)  # already uint8 per batch
        d = M.shape[1]
        step = block_step(d, rows_per_block, max_block_bytes)
        rows = []
        for first_bkt, grp in _cluster_groups(bkt):
            b_val = int(first_bkt)
            for b_i, s in enumerate(range(0, len(grp), step)):
                sel = grp[s : s + step]
                blk = np.ascontiguousarray(M[sel])
                rows.append(
                    (
                        b_val,
                        b_i,
                        blk.shape[0],
                        d,
                        pid[sel].tolist(),
                        blk.tobytes(),
                    )
                )
        yield pd.DataFrame(rows, columns=cols)

    partials = bucketed.mapInPandas(pack_pass, out_schema)
    return repack_codec_blocks(
        partials,
        part_col="bucket",
        width_col="d",
        blob_col="codes",
        dtype_col=None,
        fixed_dtype="uint8",
        rows_per_block=rows_per_block,
        max_block_bytes=max_block_bytes,
    )


def sq_topk_packed(
    packed_codes: DataFrame,
    bounds: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
    batch_buffer: int = 4,
) -> DataFrame:
    """`sq_topk` over an `sq_pack` layout, identical results."""
    from mcp_vector_search_spark.operators import kernel

    mn, step, _ = _collect_bounds(bounds)
    qs = kernel.collect_queries(queries, query_id_col, query_vec_col)
    return kernel.score_topk(
        packed_codes, kernel.blocks(id_col, "codes", "d", None), qs, k,
        kernel.sq_codec(qs.Q, mn, step), "sq_score", round_to, batch_buffer,
    )
