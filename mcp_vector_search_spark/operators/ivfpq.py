"""IVF-PQ — coarse quantizer + product-quantized residuals, the
billion-scale ANN layout (Jégou et al. 2011 §IV "IVFADC"; the FAISS
``IVFx,PQy`` index; reference parity: the IVF_SQ two-stage
shape of ``vectors_backend.py:1264-1341`` with PQ replacing scalar
quantization).

Why this exists on top of `operators/ivf.py` and `operators/pq.py`:

- IVF alone prunes the scan to ~nprobes/num_clusters of the corpus
  but still reads full-precision floats inside probed clusters — at
  100 TB the probed slice is still TBs of float I/O.
- PQ alone compresses ~48× but scans ALL codes for every query.
- IVF-PQ does both: probe a few clusters, ADC-scan only their
  *codes* (bytes, not floats), exact-rerank a tiny shortlist. The
  scan cost per query is (nprobes/num_clusters) · |V| · m byte
  gathers; the float corpus is touched only for k·rerank_factor rows.

Spark-first shape:

- the encoded corpus is one parquet table ``(id, cluster_id,
  codes array<int>)`` partitioned by ``cluster_id`` — probe filters
  become partition pruning, exactly like the plain-IVF layout;
- PQ codebooks are trained on RESIDUALS (unit − centroid), the
  detail IVFADC adds over independent IVF+PQ: residuals concentrate
  near 0 so a k-entry codebook spends its entries on the part of the
  vector the coarse quantizer didn't explain;
- for the inner-product (cosine-on-unit-sphere) metric the ADC table
  is CLUSTER-INDEPENDENT: q·(c + r) = q·c + q·r, so scoring needs
  one (m × k) LUT per query plus a per-(query, probed-cluster)
  scalar offset — both driver-computed, both tiny, both shipped in
  the task closure;
- scoring is the shared Arrow kernel (`operators/kernel.py`) with the
  PQ-ADC codec: each probed cluster run or block ADC-scores only the
  queries probing it, with a partial top-k, so the rank-window
  shuffle carries O(clusters · probing-queries · shortlist) rows —
  never |V|×|Q|.

Determinism contract (same as ivf.py / pq.py): float64 everywhere,
round-9 probe ranking and LUT entries, round-6 final scores, ties →
lower cluster_id / lower id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcp_vector_search_spark.operators.ivf import NPROBES, block_step, ivf_build
from mcp_vector_search_spark.operators.pq import _collect_codebooks


def ivfpq_build(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_clusters: int | None = None,
    m: int = 8,
    k_codes: int = 256,
    sample_rows: int = 16384,
    seed: int = 42,
    coarse: tuple[DataFrame, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit both quantizers and encode the corpus.

    Returns ``(encoded, centroids, codebooks)``:

    - encoded   = (id, cluster_id, codes array<int>) — the table to
                  persist partitioned by cluster_id;
    - centroids = (cluster_id, centroid) — coarse quantizer, tiny;
    - codebooks = (sub_idx, code, centroid) — residual PQ codebooks,
                  m·k rows, tiny.

    The residual PQ fit samples the lowest-`sample_rows` ids (same
    deterministic-sample contract as ``pq_train``/``ivf_build``), and
    `pq_encode`'s kernel is reused on the residual column so the
    round-9 argmin tie-breaking is bit-identical to the plain-PQ path.
    Pass `coarse=(assigned, centroids)` from a prior ``ivf_build`` to
    add PQ codes to an existing IVF layout without refitting KMeans.
    """
    resid, centroids, codebooks = _fit_residual_codebooks(
        vectors, vec_col, id_col, num_clusters, m, k_codes, sample_rows,
        seed, coarse, builder=ivf_build,
    )
    # cluster_id rides through the encode kernel: a join-back would
    # execute the assignment/residual lineage twice and add an id
    # shuffle just to re-attach a column the kernel's input already had
    encoded = _encode_residuals(resid, codebooks, id_col)
    return encoded, centroids, codebooks


def _fit_residual_codebooks(
    vectors, vec_col, id_col, num_clusters, m, k_codes, sample_rows, seed,
    coarse, builder,
):
    """THE residual-codebook fit, shared by `ivfpq_build` and
    `ivfpq_build_packed` — one definition of the coarse fallback,
    residual lineage, and pq_train arguments, so a fit-rule change
    lands exactly once (r7 review). Returns (resid, centroids,
    codebooks)."""
    from mcp_vector_search_spark.operators.pq import pq_train

    if coarse is not None:
        assigned, centroids = coarse
    else:
        # forward id_col / sample_rows when the builder takes them
        # (ivf_build_sampled does, MLlib ivf_build doesn't) — without
        # this, a non-default id_col with no explicit coarse failed in
        # _fit_sample selecting the missing 'vec_id' column (r7 advice)
        import inspect

        kwargs = {"vec_col": vec_col, "num_clusters": num_clusters,
                  "seed": seed}
        params = inspect.signature(builder).parameters
        if "id_col" in params:
            kwargs["id_col"] = id_col
        if "sample_rows" in params:
            kwargs["sample_rows"] = sample_rows
        assigned, centroids = builder(vectors, **kwargs)
    resid = _residuals(assigned, centroids, id_col)
    codebooks = pq_train(
        resid,
        vec_col="_resid",
        id_col=id_col,
        m=m,
        k=k_codes,
        sample_rows=sample_rows,
        seed=seed,
        normalize=False,
    )
    return resid, centroids, codebooks


def ivfpq_build_packed(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_clusters: int | None = None,
    m: int = 8,
    k_codes: int = 256,
    sample_rows: int = 16384,
    seed: int = 42,
    coarse: tuple[DataFrame, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """`ivfpq_build` that returns the PACKED layout directly →
    (packed, centroids, codebooks): codebooks via the shared
    `_fit_residual_codebooks`, then one fused encode+pack corpus pass
    (`ivfpq_pack_fused`) — no per-row code table, no per-row-array
    shuffle. The build that holds at 100 TB for the coded layout.

    ASSIGNMENT-KERNEL CONTRACT: the fused pack re-assigns every vector
    with the exact `ivf._coarse_nearest` kernel, so bit-identity to
    `ivfpq_pack(ivfpq_build(...)[0])` holds only when the coarse
    assignment came from that same kernel — which is why the default
    coarse here is `ivf_build_sampled` (NOT `ivf_build`): MLlib
    KMeansModel.transform uses fastSquaredDistance (~1e-6 relative
    precision) and can assign a near-tied vector differently. If you
    pass `coarse=(assigned, cents)` from an MLlib `ivf_build`, the
    codebooks are fit on those assignments but the packed layout
    reflects the exact kernel's — self-consistent and recall-
    equivalent, but not row-identical to the staged encode, and a
    float layout persisted from the same `assigned` frame may place a
    boundary-tied vec_id in a different cluster. Use the staged
    `ivfpq_build` + `ivfpq_pack` when you need to mirror an MLlib
    coarse exactly (r7 review)."""
    from mcp_vector_search_spark.operators.ivf import ivf_build_sampled

    _, centroids, codebooks = _fit_residual_codebooks(
        vectors, vec_col, id_col, num_clusters, m, k_codes, sample_rows,
        seed, coarse, builder=ivf_build_sampled,
    )
    packed = ivfpq_pack_fused(
        vectors, centroids, codebooks, vec_col=vec_col, id_col=id_col
    )
    return packed, centroids, codebooks


def _residuals(assigned: DataFrame, centroids: DataFrame, id_col: str) -> DataFrame:
    """residual = unit − centroid[cluster_id]; centroids broadcast.
    ONE definition shared by the batch build and the incremental
    encode — batch-built and stream-appended codes must agree on the
    residual contract or a layout silently mixes quantizations
    (r6 review)."""
    return (
        assigned.join(F.broadcast(centroids), "cluster_id")
        .withColumn("_resid", F.zip_with("unit", "centroid", lambda u, c: u - c))
        .select(id_col, "cluster_id", "_resid")
    )


def _encode_residuals(resid: DataFrame, codebooks: DataFrame, id_col: str) -> DataFrame:
    from mcp_vector_search_spark.operators.pq import pq_encode

    return pq_encode(
        resid, codebooks, vec_col="_resid", id_col=id_col, normalize=False,
        passthrough_cols=["cluster_id"],
    ).select(id_col, "cluster_id", "codes")


def ivfpq_encode(
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode NEW vectors against a STANDING quantizer pair (r6 — the
    incremental half of the IVF-PQ lifecycle, mirroring `ivf_assign`
    for the float layout): map-side coarse assignment to the given
    centroids, residual against the assigned centroid, code lookup in
    the given codebooks — no refit, no shuffle of the standing corpus.
    Output (id, cluster_id, codes) packs with `ivfpq_pack` and appends
    through `layout.write_ivfpq_layout(mode="append")`, whose metadata
    guard enforces that THESE centroids/codebooks match the persisted
    ones."""
    from mcp_vector_search_spark.operators.ivf import ivf_assign

    assigned = ivf_assign(vectors, centroids, vec_col=vec_col)
    return _encode_residuals(_residuals(assigned, centroids, id_col), codebooks, id_col)


def ivfpq_pack(
    encoded: DataFrame,
    id_col: str = "vec_id",
    rows_per_block: int = 1 << 20,
    max_block_bytes: int = 32 << 20,
) -> DataFrame:
    """Collapse the per-row code table into per-cluster PACKED blocks
    (r5 — the codes analogue of `operators/ivf.ivf_pack`):

        (cluster_id, block_id, n, m, dtype, vec_ids, codes)

    with `codes` = the block's (n × m) code matrix as uint8 bytes
    (uint16 when any code ≥ 256). The ADC scan's cost at 512K rows was
    dominated by per-row Arrow array cells, exactly like the float
    layout before packing — the codes themselves are only m bytes per
    vector, so one binary cell per cluster-block removes ~all of the
    deserialize cost. The default block cap is larger than the float
    pack's because blocks are ~dim·itemsize/m times smaller."""
    import numpy as np
    import pandas as pd

    from mcp_vector_search_spark.operators.topk import id_type

    idt = id_type(encoded, id_col)
    out_schema = (
        "cluster_id int, block_id int, n int, m int, dtype string, "
        f"vec_ids array<{idt}>, codes binary"
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cid = int(key[0])
        pdf = pdf.sort_values(id_col)
        Cm = np.stack(pdf["codes"].to_numpy())
        dtype = "uint8" if Cm.max(initial=0) < 256 else "uint16"
        M = np.ascontiguousarray(Cm.astype(np.dtype(dtype)))
        m = M.shape[1]
        step = block_step(m * M.itemsize, rows_per_block, max_block_bytes)
        rows = []
        for b, s in enumerate(range(0, len(pdf), step)):
            blk = M[s : s + step]
            rows.append(
                (
                    cid, b, blk.shape[0], m, dtype,
                    pdf[id_col].iloc[s : s + step].tolist(),
                    blk.tobytes(),
                )
            )
        return pd.DataFrame(
            rows,
            columns=["cluster_id", "block_id", "n", "m", "dtype", "vec_ids", "codes"],
        )

    return (
        encoded.select("cluster_id", id_col, "codes")
        .groupBy("cluster_id")
        .applyInPandas(pack, out_schema)
    )


def ivfpq_pack_fused(
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rows_per_block: int = 1 << 20,
    max_block_bytes: int = 32 << 20,
) -> DataFrame:
    """`ivfpq_pack(ivfpq_encode(vectors, centroids, codebooks))` in ONE
    corpus pass (r7 — the codes analogue of `ivf.ivf_pack_fused`).

    The three-step path crosses the Python/JVM boundary three times
    (assign emits per-row units, the residual join re-reads them, the
    encode emits per-row code arrays that then shuffle into the pack).
    Fused, each input partition normalizes + assigns + residual-encodes
    + packs map-side into partial per-cluster code blocks; only block
    blobs cross the shuffle and `repack_codec_blocks` merges them into
    the canonical id-sorted layout. Bit-identical to the three-step
    result (pinned in tests/test_ivfpq.py): the assignment IS the
    shared `ivf._coarse_nearest` kernel, the residual is the same
    IEEE-double u−c the SQL `zip_with` computes, the code argmin IS the
    shared `pq._code_rows` kernel (round-9 squared-L2, ties → lower code),
    and the per-cluster dtype resolves identically because repack
    upcasts partials to the widest present — which is exactly the
    dtype of the partial holding the cluster's max code.

    100 TB shape: same as the float fused build — ~partitions×clusters
    block rows cross the shuffle instead of N per-row code arrays, and
    the blobs are m BYTES per vector, so the fused IVF-PQ build's
    shuffle is ~d·8/m times smaller than the float one's."""
    import numpy as np
    import pandas as pd

    from mcp_vector_search_spark.operators.ivf import (
        _cluster_groups,
        _coarse_nearest,
    )
    from mcp_vector_search_spark.operators.layout import repack_codec_blocks
    from mcp_vector_search_spark.operators.pq import _code_rows
    from mcp_vector_search_spark.operators.nputil import safe_norms
    from mcp_vector_search_spark.operators.topk import id_type

    cpd = centroids.orderBy("cluster_id").toPandas()
    C = np.stack(cpd["centroid"].to_numpy()).astype(np.float64)
    cids = cpd["cluster_id"].to_numpy()
    half_c2 = (C * C).sum(axis=1) / 2.0
    cb = _collect_codebooks(codebooks)
    m = cb.shape[0]

    idt = id_type(vectors, id_col)
    out_schema = (
        "cluster_id int, block_id int, n int, m int, dtype string, "
        f"vec_ids array<{idt}>, codes binary"
    )
    cols = ["cluster_id", "block_id", "n", "m", "dtype", "vec_ids", "codes"]

    def pack_pass(batches):
        code_parts, id_parts, asn_parts = [], [], []
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            U = V / safe_norms(V)
            nearest = _coarse_nearest(U, C, half_c2)
            code_parts.append(_code_rows(U - C[nearest], cb))
            id_parts.append(pdf[id_col].to_numpy())
            asn_parts.append(nearest)
        if not code_parts:
            return
        Cm = np.concatenate(code_parts) if len(code_parts) > 1 else code_parts[0]
        pid = np.concatenate(id_parts) if len(id_parts) > 1 else id_parts[0]
        asn = np.concatenate(asn_parts) if len(asn_parts) > 1 else asn_parts[0]
        rows = []
        for first_asn, grp in _cluster_groups(asn):
            cid = int(cids[first_asn])
            Mc = Cm[grp]
            dtype = "uint8" if Mc.max(initial=0) < 256 else "uint16"
            M = np.ascontiguousarray(Mc.astype(np.dtype(dtype)))
            step = block_step(m * M.itemsize, rows_per_block, max_block_bytes)
            for b_i, s in enumerate(range(0, len(grp), step)):
                sel = slice(s, s + step)
                blk = np.ascontiguousarray(M[sel])
                rows.append(
                    (
                        cid,
                        b_i,
                        blk.shape[0],
                        m,
                        dtype,
                        pid[grp[sel]].tolist(),
                        blk.tobytes(),
                    )
                )
        yield pd.DataFrame(rows, columns=cols)

    partials = vectors.select(id_col, vec_col).mapInPandas(pack_pass, out_schema)
    return repack_codec_blocks(
        partials,
        part_col="cluster_id",
        width_col="m",
        blob_col="codes",
        dtype_col="dtype",
        rows_per_block=rows_per_block,
        max_block_bytes=max_block_bytes,
    )


def ivfpq_topk_packed(
    packed_codes: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int,
    nprobes: int = NPROBES,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
    batch_buffer: int = 4,
) -> DataFrame:
    """IVF-ADC batch top-k over an `ivfpq_pack` layout →
    (query_id, id, adc_score, rn); the float corpus is never read."""
    from mcp_vector_search_spark.operators import kernel

    qs = kernel.collect_queries(queries, query_id_col, query_vec_col, centroids, nprobes)
    return kernel.score_topk(
        packed_codes, kernel.blocks(id_col, "codes", "m", "dtype", "cluster_id"), qs, k,
        kernel.pq_codec(qs, _collect_codebooks(codebooks)), "adc_score", round_to,
        batch_buffer,
    )


def ivfpq_topk_refined(
    vectors: DataFrame,
    encoded: DataFrame | None,
    centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int,
    nprobes: int = NPROBES,
    rerank_factor: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
    packed_codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-ADC shortlist (k·rerank_factor) → exact rerank → (query_id,
    id, cos_sim, rn); scans `packed_codes` when given, else `encoded`."""
    from mcp_vector_search_spark.operators import kernel

    if encoded is None and packed_codes is None:
        raise ValueError(
            "ivfpq_topk_refined needs a code layout: pass `encoded` "
            "(per-row) or `packed_codes` (ivfpq_pack blocks)"
        )
    if packed_codes is not None:
        frame, src = packed_codes, kernel.blocks(id_col, "codes", "m", "dtype", "cluster_id")
    else:
        frame, src = encoded, kernel.rows(id_col, "codes", "cluster_id")
    qs = kernel.collect_queries(queries, query_id_col, query_vec_col, centroids, nprobes)
    # batch_buffer=1: the exact-tie partial top-k already keeps a
    # superset of the top-N; a ×4 buffer only grew the shuffle
    shortlist = kernel.score_topk(
        frame, src, qs, k * rerank_factor,
        kernel.pq_codec(qs, _collect_codebooks(codebooks)), "adc_score", batch_buffer=1,
    )
    return kernel.exact_rerank(
        vectors, shortlist, queries, k, vec_col, id_col, query_id_col,
        query_vec_col, round_to,
    )
