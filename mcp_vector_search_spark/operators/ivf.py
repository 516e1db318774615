"""IVF (inverted-file) approximate nearest neighbor — the 100 TB
vector-search path (reference J1 index build,
``vectors_backend.py:1264-1341``: IVF_SQ, adaptive
``num_partitions = clamp(√N, 16, 512)``, cosine, ``nprobes=20``,
``refine_factor=5``).

Spark-first design: IVF is a *data layout*, not a planner extension.

- **Build** (offline): normalize to the unit sphere (cosine ≡
  euclidean there), fit MLlib KMeans with a fixed seed, attach
  `cluster_id` to every vector. Persisting the result partitioned by
  `cluster_id` turns probe filters into partition pruning at scan
  time.
- **Query**: score query × centroids (centroids always broadcast —
  ≤512 rows), keep the `nprobes` nearest clusters per query, then an
  equi-join `cluster_id` prunes the vector scan to ~nprobes/k of the
  corpus before the exact cosine top-k. The shuffle carries only
  pruned candidates — the |Q|×|V| blow-up of the brute-force batch
  path never materializes.

No refine pass is needed: the reference refines because IVF_SQ scores
int8-quantized vectors first; we score full-precision floats inside
the probed clusters, so the per-cluster ranking is already exact.
Recall loss comes only from probing a subset of clusters — measured
≥97.5% @ nprobes=20 (tests/test_ivf.py), matching the reference band.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mcp_vector_search_spark.functions.vectors import cosine_sim

NPROBES = 20

# The reference skips index creation below this corpus size and brute-
# forces instead (``vectors_backend.py:1289-1313``; BASELINE.md "ANN
# index activation threshold ≥4,096 rows"). Same here: below it the
# probe pruning saves less than the KMeans build costs, and recall on
# weakly-clustered data degrades with any skipped cluster.
ANN_ACTIVATION_MIN_ROWS = 4096

# The measured in-memory probe-vs-brute crossover (BENCH_NOTES r8;
# VERDICT r8 #2): on a CACHED corpus, probing only beats the parallel
# Arrow-matmul brute scan when (a) the corpus is big enough that
# skipping bytes outruns the ~1 s probe-path overhead — break-even
# ≈4–5 GB/node against this box's ~4.4 GB/s Arrow scan rate (brute
# wins every 512K×256-d ≈1 GB and 64-d point; a q2 probe wins 1.45×
# at 4M×256-d ≈8.4 GB) — AND (b) the batch is concentrated enough
# that the probe UNION stays a small fraction of the clusters (q2
# probes ~8% and wins; q8's ~28% is already parity; q32 probes ~90%
# — the union ships ~the whole corpus through Arrow anyway). On
# DISK the calculus inverts: partition pruning is physical, probing
# reads only the probed cluster partitions, and the measured win
# (4M q2: 2.6–25×) GROWS with corpus size — always probe.
ANN_ROUTE_BYTES_PER_NODE = int(4.5 * 1024**3)
ANN_ROUTE_UNION_MAX = 0.25


def choose_ann_route(
    corpus_bytes: int,
    union_fraction: float,
    on_disk: bool = False,
    nodes: int = 1,
    bytes_per_node: int = ANN_ROUTE_BYTES_PER_NODE,
    union_max: float = ANN_ROUTE_UNION_MAX,
    corpus_cold: bool = False,
) -> str:
    """'probe' or 'brute' for a serving batch, per the measured
    regime curve above — the decision `SparkProject.search_batch`
    routes on (VERDICT r8 #2: the crossover was measured in r8 but
    layout presence alone picked the plan, losing 1.5–2× on cached
    sub-crossover corpora and diffuse batches).

    `corpus_cold` (VERDICT r9 #8): the brute side of the measured
    curve priced a scan-cheap corpus — cached, or storage near the
    box's ~4.4 GB/s Arrow rate. When the raw-vectors frame instead
    sits on cold/slow object storage, every brute batch re-reads it
    at storage latency while the probe path serves from the already-
    cached packed layout, so probing wins at ANY corpus size or batch
    shape (same inversion as `on_disk`, seen from the other side).
    Callers set it from what they know about where `vectors` lives;
    previously this required a manual route="probe" override."""
    if on_disk or corpus_cold:
        return "probe"
    if (
        corpus_bytes > bytes_per_node * max(1, nodes)
        and union_fraction <= union_max
    ):
        return "probe"
    return "brute"


def clamp_clusters(n: int) -> int:
    """Reference's adaptive partition count: clamp(√N, 16, 512)
    (``vectors_backend.py:1289-1313``)."""
    return max(16, min(512, int(math.sqrt(n))))


def ivf_build(
    vectors: DataFrame,
    vec_col: str = "embedding",
    num_clusters: int | None = None,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Fit the coarse quantizer → (assigned, centroids).

    assigned  = input columns + `cluster_id` (write this partitioned by
                cluster_id for scan-time pruning);
    centroids = (cluster_id, centroid: array<double>) — tiny, broadcast
                at query time.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from mcp_vector_search_spark.functions.vectors import normalized

    if num_clusters is None:
        num_clusters = clamp_clusters(vectors.count())

    # unit vectors are MATERIALIZED into the layout: cosine at query
    # time degenerates to a single dot product (like any real ANN
    # engine, normalization is an index-build cost)
    normed = normalized(vectors, vec_col, "unit")
    ml = normed.withColumn("_fv", array_to_vector(F.col("unit")))
    model = KMeans(
        k=num_clusters, seed=seed, featuresCol="_fv", predictionCol="cluster_id"
    ).fit(ml)
    assigned = model.transform(ml).drop("_fv")
    centroids = vectors.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster_id int, centroid array<double>",
    )
    return assigned, centroids


def _lloyd_fit(X, num_clusters: int, iters: int, seed: int):
    """Driver-side Lloyd's over an already-unit-normalized sample —
    the shared fit kernel of `ivf_build_sampled` and
    `ivf_retrain_gain`/`retrain_ivf_layout`, so build-time and
    maintenance-time quantizers can never drift in fit rule."""
    import numpy as np

    n, d = X.shape
    k = min(num_clusters, n)
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        # unit sphere: argmin L2 ≡ argmax (u·c − ‖c‖²/2); BLAS form
        d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (X @ cents.T)
        assign = np.argmin(d2, axis=1)
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros((k, d))
        np.add.at(sums, assign, X)
        nz = counts > 0
        cents[nz] = sums[nz] / counts[nz, None]
    return cents


def _lloyd_fit_best(X, num_clusters: int, iters: int, seed: int, restarts: int = 3):
    """Best-of-`restarts` Lloyd's (min mean residual on the sample).
    Plain Lloyd's is init-sensitive: a bad draw of initial points can
    converge to a fit visibly worse than the quantizer being evaluated,
    which would make `ivf_retrain_gain` report phantom negative gains
    and `retrain_ivf_layout` able to *worsen* a layout. Restarts are
    driver-side on the bounded sample — negligible next to the corpus
    re-assignment they guard. (`ivf_build_sampled` stays single-seed:
    its output is pinned by the correctness gates.)"""
    import numpy as np

    best, best_resid = None, None
    for s in range(restarts):
        cents = _lloyd_fit(X, num_clusters, iters, seed + s)
        d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (X @ cents.T)
        resid = float(np.linalg.norm(X - cents[np.argmin(d2, axis=1)], axis=1).mean())
        if best_resid is None or resid < best_resid:
            best, best_resid = cents, resid
    return best, best_resid


def _fit_sample(
    df: DataFrame, id_col: str, vec_col: str, sample_rows: int, extra_cols: tuple = ()
):
    """The ONE deterministic quantizer-fit sample rule, shared by
    build (`ivf_build_sampled`) and maintenance (`ivf_retrain_gain`,
    `retrain_ivf_layout`): lowest-`sample_rows` rows by
    md5(id + '#ivf-fit') — a TakeOrdered, stable across runs and
    partition layouts, and representative even when ids correlate
    with content. Keeping it in one place is a correctness contract:
    build-time and maintenance-time sampling must never drift apart
    (r6 review). Returns a pandas frame of (id_col, vec_col,
    *extra_cols).

    r7 fast path: the naive TakeOrdered drags every row's vector
    payload through a `sample_rows`-deep bounded heap per partition
    (~14-27 s at 4M rows). Instead, prefilter `md5 <= cutoff` (one
    cheap scan, no sort) and TakeOrdered only the survivors. The
    output is PROVABLY identical whenever ≥ sample_rows rows survive:
    if the candidate set has ≥ sample_rows elements below the cutoff,
    every one of the global lowest sample_rows is below it too (else
    ≥ sample_rows elements would be smaller than a 'winner').
    Undershoot (8× oversampled — vanishingly rare) falls back to the
    exact full TakeOrdered, so determinism never depends on the
    estimate. The fast path only engages past 64× sample_rows, where
    the prefilter keeps ≤ n/8 — below that the filter would retain
    most of the corpus and the extra scan+cache is pure loss (the one
    unconditional n-count is the price of the decision; it is cheap
    next to either sort)."""
    sel = df.select(id_col, vec_col, *extra_cols)
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#ivf-fit")))
    n = sel.count()
    cand = None
    if n > sample_rows * 64:
        frac = 8.0 * sample_rows / n  # ≤ 1/8 by the gate above
        cutoff = format(max(1, int(frac * 0x1000000)), "06x")
        pre = sel.filter(key <= cutoff).cache()
        if pre.count() >= sample_rows:
            cand = pre
        else:
            pre.unpersist()
    try:
        return (
            (cand if cand is not None else sel)
            .orderBy(key)
            .limit(sample_rows)
            .toPandas()
        )
    finally:
        if cand is not None:
            cand.unpersist()


def ivf_build_sampled(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_clusters: int | None = None,
    sample_rows: int = 16384,
    iters: int = 10,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """`ivf_build` without the iterative distributed fit: Lloyd's runs
    driver-side on a bounded deterministic sample, then ONE Arrow map
    pass assigns every vector to its nearest centroid. Same (assigned,
    centroids) contract as `ivf_build`, including the materialized
    `unit` column.

    The sample is the lowest-`sample_rows` rows by md5(id) — a
    TakeOrdered, so it is stable across runs and partition layouts,
    AND representative even when ids correlate with content (lowest-id
    sampling collapsed recall to 0.93 on the bench's inflated corpus,
    where consecutive ids are near-duplicates: the fit only saw the
    first 6% of the id space).

    This is the build that holds at 100 TB: MLlib KMeans re-scans the
    full corpus per iteration (20 iterations = 20 corpus scans), while
    a centroid fit needs a representative sample, not every row — the
    same contract as `pq_train`. Here the corpus is scanned exactly
    once, map-side, for assignment."""
    centroids = _fit_centroids(
        vectors, vec_col, id_col, num_clusters, sample_rows, iters, seed
    )
    # ONE shared assignment kernel: the corpus scan is exactly the
    # incremental path's ivf_assign (same half-norm argmin tie rule),
    # so build-time and append-time assignment can never drift
    return ivf_assign(vectors, centroids, vec_col=vec_col), centroids


def _fit_centroids(
    vectors: DataFrame,
    vec_col: str,
    id_col: str,
    num_clusters: int | None,
    sample_rows: int,
    iters: int,
    seed: int,
) -> DataFrame:
    """The shared sample-fit of `ivf_build_sampled` and
    `ivf_build_sampled_packed` — one fit rule, so the per-row and
    fused builds can never produce different quantizers."""
    import numpy as np

    from mcp_vector_search_spark.operators.nputil import safe_norms

    if num_clusters is None:
        num_clusters = clamp_clusters(vectors.count())
    sample = _fit_sample(vectors, id_col, vec_col, sample_rows)
    X = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    X /= safe_norms(X)
    cents = _lloyd_fit(X, num_clusters, iters, seed)
    return vectors.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cluster_id int, centroid array<double>",
    )


def ivf_topk_batch(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobes: int = NPROBES,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int | None = 6,
) -> DataFrame:
    """ANN top-k for a query *set* → (query_id, vec_id, cos_sim, rn).

    Plan: queries × centroids (broadcast, ≤512 rows) → rank window →
    top-nprobes probe list per query → equi-join on cluster_id prunes
    the vector side → exact cosine → per-query top-k window. Two
    shuffles total (probe join, rank window), both keyed so AQE can
    coalesce/skew-split.
    """
    from mcp_vector_search_spark.functions.vectors import dot, normalized

    q = normalized(queries, query_vec_col, "_uq")
    probe_rank = Window.partitionBy(query_id_col).orderBy(
        F.desc("_csim"), F.asc("cluster_id")
    )
    probes = (
        q.join(F.broadcast(centroids))
        # round-9 probe ranking: keeps cluster selection identical
        # across this path, the vectorized path, and the SQL oracle
        # when centroid sims differ only by float-summation noise.
        # (Residual caveat: F.round rounds the shortest decimal repr
        # while the np kernels round the float-scaled product — they
        # can differ for doubles whose shortest repr sits exactly on
        # the half grid; see nputil.round_half_up.)
        .withColumn("_csim", F.round(cosine_sim(F.col("_uq"), F.col("centroid")), 9))
        .withColumn("_pr", F.row_number().over(probe_rank))
        .filter(F.col("_pr") <= nprobes)
        .select(query_id_col, "cluster_id", "_uq")
    )
    if "unit" in assigned.columns:
        side = assigned
    else:  # un-built input: normalize on the fly
        side = normalized(assigned, vec_col, "unit")
    sim = dot(F.col("unit"), F.col("_uq"))
    if round_to is not None:
        sim = F.round(sim, round_to)
    cand = side.join(probes, "cluster_id").withColumn("cos_sim", sim)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "cos_sim", "rn")
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int,
    nprobes: int = NPROBES,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "query_vec",
    round_to: int | None = 6,
) -> DataFrame:
    """Single-query ANN top-k → (vec_id, cos_sim). The one-row query
    degenerates the probe join into a broadcast IN-filter on
    cluster_id — i.e. partition pruning when assigned is stored
    partitioned by cluster_id."""
    q = query.withColumn("_qid", F.lit(0))
    out = ivf_topk_batch(
        assigned,
        centroids,
        q,
        k,
        nprobes,
        vec_col=vec_col,
        id_col=id_col,
        query_id_col="_qid",
        query_vec_col=query_vec_col,
        round_to=round_to,
    )
    return out.select(id_col, "cos_sim")


def ivf_topk_batch_np(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobes: int = NPROBES,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
    batch_buffer: int = 4,
) -> DataFrame:
    """IVF batch ANN over the per-row layout: one matmul per
    within-batch cluster run against only its probing queries, with no
    exchange before scoring (a groupBy formulation shuffled every row)."""
    from mcp_vector_search_spark.operators import kernel

    qs = kernel.collect_queries(queries, query_id_col, query_vec_col, centroids, nprobes)
    col = "unit" if "unit" in assigned.columns else vec_col
    return kernel.score_topk(
        assigned, kernel.rows(id_col, col, "cluster_id"), qs, k,
        kernel.float_codec(qs.Q, col != "unit"), "cos_sim", round_to, batch_buffer,
    )


def block_step(row_bytes: int, rows_per_block: int, max_block_bytes: int) -> int:
    """Shared block-sizing rule for every packed layout (`ivf_pack`,
    `ivfpq_pack`, `sq_pack`): rows per block = min of the row cap and
    the byte cap, never below 1 — one sizing rule, so the codecs
    cannot drift."""
    return max(1, min(rows_per_block, max_block_bytes // max(1, row_bytes)))


def ivf_pack(
    assigned: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rows_per_block: int = 65536,
    max_block_bytes: int = 32 << 20,
    dtype: str = "float64",
) -> DataFrame:
    """Collapse the per-row IVF layout into per-cluster PACKED blocks:
    one output row per (cluster_id, block) carrying the block's ids and
    its unit-vector matrix as a single binary blob.

        (cluster_id, block_id, n, dim, dtype, vec_ids, mat)

    Why this exists (VERDICT r4 #1): a cached per-row layout makes the
    probe filter deserialize every row — 512K Arrow cells of
    array<double> — before any flop is saved, so in-memory IVF tied
    brute force. Packed, a probe touches one binary cell per
    cluster-block (~num_clusters rows total): the non-probed blocks
    are skipped by a row filter over a few hundred rows, and a probed
    block decodes with one zero-copy `np.frombuffer`. This is the
    in-memory analogue of the on-disk partitioned-parquet pruning
    (tests/test_ivf_partition_pruning.py), and the same inverted-list
    layout FAISS IVFFlat uses.

    100 TB shape: blocks are bounded by `rows_per_block` AND
    `max_block_bytes` (whichever is smaller for the corpus dim), so a
    cluster never materializes as one unbounded task row; packing is
    one groupBy(cluster_id) shuffle — the same exchange the
    repartition("cluster_id") serving layout already paid. `dtype=
    "float32"` halves cache bytes and memory bandwidth at a
    quantization cost BELOW round-6 score rounding for unit vectors;
    float64 (default) is bit-identical to the per-row scoring paths.

    Reference behavior matched: IVF partition pruning,
    ``vectors_backend.py:1264-1341``.
    """
    import numpy as np
    import pandas as pd

    from mcp_vector_search_spark.operators.nputil import safe_norms
    from mcp_vector_search_spark.operators.topk import id_type

    has_unit = "unit" in assigned.columns
    src = "unit" if has_unit else vec_col
    idt = id_type(assigned, id_col)
    out_schema = (
        "cluster_id int, block_id int, n int, dim int, dtype string, "
        f"vec_ids array<{idt}>, mat binary"
    )
    np_dtype = np.dtype(dtype)

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cid = int(key[0])
        # id-sorted blocks: the layout (and any tie-broken partial
        # top-k over it) is reproducible across shuffles and runs
        pdf = pdf.sort_values(id_col)
        V = np.stack(pdf[src].to_numpy()).astype(np.float64)
        if not has_unit:
            V /= safe_norms(V)
        M = np.ascontiguousarray(V.astype(np_dtype))
        dim = M.shape[1]
        step = block_step(dim * np_dtype.itemsize, rows_per_block, max_block_bytes)
        rows = []
        for b, s in enumerate(range(0, len(pdf), step)):
            blk = M[s : s + step]
            rows.append(
                (
                    cid,
                    b,
                    blk.shape[0],
                    dim,
                    dtype,
                    pdf[id_col].iloc[s : s + step].tolist(),
                    blk.tobytes(),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "cluster_id", "block_id", "n", "dim", "dtype", "vec_ids", "mat",
            ],
        )

    return (
        assigned.select("cluster_id", id_col, src)
        .groupBy("cluster_id")
        .applyInPandas(pack, out_schema)
    )


def _coarse_nearest(U, C, half_c2):
    """THE coarse-assignment kernel (unit sphere: argmin L2 ≡ argmax
    (u·c − ‖c‖²/2), BLAS half-norm form; ties → lower row = lower
    cluster id). One definition shared by `ivf_assign`,
    `ivf_pack_fused`, and `ivfpq.ivfpq_pack_fused` — an assignment
    tie-rule fix must land exactly once or staged and fused layouts
    silently diverge (r7 review)."""
    import numpy as np

    return np.argmin(half_c2[None, :] - U @ C.T, axis=1)


def _cluster_groups(asn):
    """Yield (first_row_assignment_index, group_row_indices) per
    assigned cluster, in stable-argsort order — the shared group-split
    of both fused packers."""
    import numpy as np

    order = np.argsort(asn, kind="stable")
    bounds = np.flatnonzero(np.diff(asn[order])) + 1
    for grp in np.split(order, bounds):
        yield asn[grp[0]], grp


def ivf_pack_fused(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rows_per_block: int = 65536,
    max_block_bytes: int = 32 << 20,
    dtype: str = "float64",
) -> DataFrame:
    """`ivf_pack(ivf_assign(vectors, centroids))` in ONE corpus pass.

    The two-step build crosses the Python/JVM Arrow boundary twice —
    `ivf_assign` emits a per-row `unit` array<double> cell for every
    vector, and `ivf_pack` re-decodes them on the far side of an
    N-row shuffle. Fused, each input partition normalizes + assigns +
    packs its rows into PARTIAL per-cluster blocks map-side, so only
    block rows (binary blobs) cross the shuffle; `repack_blocks`
    merges the fragments into the canonical layout. Output is
    bit-identical to the two-step result by construction — repack
    re-sorts each cluster by id and re-splits by the SAME `block_step`
    rule as `ivf_pack` (pinned in tests/test_ivf.py) — under the
    layout lifecycle's unique-id contract. Assignment math is the
    `ivf_assign` kernel verbatim (float64 normalize, half-norm argmin,
    lower-cluster-id tie rule).

    100 TB shape: the shuffle moves ~partitions×clusters block rows
    instead of N vector rows (at 1000 executors × 512 clusters that is
    a fixed ~512K blobs for ANY corpus size, bytes bounded by the data
    itself); per-task memory is one input partition, bounded by
    `spark.sql.files.maxPartitionBytes`."""
    import numpy as np
    import pandas as pd

    from mcp_vector_search_spark.operators.nputil import safe_norms
    from mcp_vector_search_spark.operators.topk import id_type

    cpd = centroids.orderBy("cluster_id").toPandas()
    C = np.stack(cpd["centroid"].to_numpy()).astype(np.float64)
    cids = cpd["cluster_id"].to_numpy()
    half_c2 = (C * C).sum(axis=1) / 2.0
    idt = id_type(vectors, id_col)
    np_dtype = np.dtype(dtype)
    out_schema = (
        "cluster_id int, block_id int, n int, dim int, dtype string, "
        f"vec_ids array<{idt}>, mat binary"
    )
    cols = ["cluster_id", "block_id", "n", "dim", "dtype", "vec_ids", "mat"]

    def pack_pass(batches):
        U_parts, id_parts, asn_parts = [], [], []
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            U = V / safe_norms(V)
            asn_parts.append(_coarse_nearest(U, C, half_c2))
            U_parts.append(U)
            id_parts.append(pdf[id_col].to_numpy())
        if not U_parts:
            return
        U = np.concatenate(U_parts) if len(U_parts) > 1 else U_parts[0]
        pid = np.concatenate(id_parts) if len(id_parts) > 1 else id_parts[0]
        asn = np.concatenate(asn_parts) if len(asn_parts) > 1 else asn_parts[0]
        M = np.ascontiguousarray(U.astype(np_dtype))
        dim = M.shape[1]
        step = block_step(dim * np_dtype.itemsize, rows_per_block, max_block_bytes)
        rows = []
        for first_asn, grp in _cluster_groups(asn):
            cid = int(cids[first_asn])
            for b, s in enumerate(range(0, len(grp), step)):
                sel = grp[s : s + step]
                blk = np.ascontiguousarray(M[sel])
                rows.append(
                    (
                        cid,
                        b,
                        blk.shape[0],
                        dim,
                        dtype,
                        pid[sel].tolist(),
                        blk.tobytes(),
                    )
                )
        yield pd.DataFrame(rows, columns=cols)

    partials = vectors.select(id_col, vec_col).mapInPandas(pack_pass, out_schema)
    return repack_blocks(
        partials, rows_per_block=rows_per_block, max_block_bytes=max_block_bytes
    )


def ivf_build_sampled_packed(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_clusters: int | None = None,
    sample_rows: int = 16384,
    iters: int = 10,
    seed: int = 42,
    rows_per_block: int = 65536,
    max_block_bytes: int = 32 << 20,
    dtype: str = "float64",
) -> tuple[DataFrame, DataFrame]:
    """`ivf_build_sampled` + `ivf_pack` as one corpus pass →
    (packed, centroids). Same `_fit_centroids` sample-fit rule, so the
    quantizer is IDENTICAL to the two-step build's; the packed layout
    is bit-identical via `ivf_pack_fused`. This is the build that
    holds at 100 TB: one map-side corpus scan, a block-row (not
    vector-row) shuffle, no per-row Arrow unit cells."""
    centroids = _fit_centroids(
        vectors, vec_col, id_col, num_clusters, sample_rows, iters, seed
    )
    packed = ivf_pack_fused(
        vectors,
        centroids,
        vec_col=vec_col,
        id_col=id_col,
        rows_per_block=rows_per_block,
        max_block_bytes=max_block_bytes,
        dtype=dtype,
    )
    return packed, centroids


def repack_blocks(
    packed: DataFrame,
    rows_per_block: int = 65536,
    max_block_bytes: int = 32 << 20,
) -> DataFrame:
    """Merge a cluster's fragmented packed blocks into full-size ones
    (VERDICT r5 #3). A long-lived `ann_layout_sink` stream writes one
    block-set per (cluster_id, batch_id): after N micro-batches a
    cluster serves from N small blocks — N small matmuls and N files
    where one would do. This rewrites each cluster as ONE id-sorted
    concatenation re-split by the shared `block_step` rule, so the
    output is bit-identical to `ivf_pack` run over the cluster's full
    row set (blocks are id-sorted there too) — serving results are
    unchanged by construction, pinned in tests/test_streaming.py.

    One groupBy(cluster_id) shuffle over ~num_blocks rows (not corpus
    rows — the blobs move, nothing is re-scored or re-assigned);
    per-cluster state is bounded by the cluster's packed bytes.
    Columns beyond the pack schema (batch_id) are dropped — the
    caller re-stamps partition columns.

    (r6: delegates to the generic codec repack,
    `operators/layout.py:repack_codec_blocks` — one merge kernel for
    float mats and PQ/SQ code blocks alike.)"""
    from mcp_vector_search_spark.operators.layout import repack_codec_blocks

    return repack_codec_blocks(
        packed,
        part_col="cluster_id",
        width_col="dim",
        blob_col="mat",
        dtype_col="dtype",
        rows_per_block=rows_per_block,
        max_block_bytes=max_block_bytes,
    )


def ivf_topk_batch_packed(
    packed: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobes: int | None = NPROBES,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    round_to: int = 6,
    batch_buffer: int = 4,
    _query_set=None,
) -> DataFrame:
    """`ivf_topk_batch_np` over an `ivf_pack` layout (bit-identical for
    float64 packs): the probe filter skips whole blocks. `nprobes=None`
    is a packed brute-force scan; `_query_set` as in `topk_per_query_np`."""
    from mcp_vector_search_spark.operators import kernel

    qs = _query_set or kernel.collect_queries(
        queries, query_id_col, query_vec_col, centroids, nprobes
    )
    return kernel.score_topk(
        packed, kernel.blocks(id_col, "mat", "dim", "dtype", "cluster_id"), qs, k,
        kernel.float_codec(qs.Q, False), "cos_sim", round_to, batch_buffer,
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to an EXISTING coarse quantizer — one map-side
    Arrow pass, no refit. This is the incremental-indexing half of the
    IVF lifecycle: new documents' vectors join the layout of a
    standing index (append `ivf_pack(ivf_assign(new, cents))` blocks,
    or write into the matching cluster_id partitions) without touching
    the already-indexed corpus. Same (passthrough + unit + cluster_id)
    contract as `ivf_build_sampled`'s assignment, including the
    argmin-on-the-unit-sphere tie rule (lower cluster id wins exact
    distance ties through the BLAS half-norm form).

    Reference behavior matched: incremental index maintenance,
    ``vectors_backend.py`` add-to-existing-index path."""
    import numpy as np

    from mcp_vector_search_spark.operators.nputil import safe_norms

    clash = {"unit", "cluster_id"} & set(vectors.columns)
    if clash:
        raise ValueError(
            f"input already carries layout columns {sorted(clash)} — drop them "
            f"before re-assigning (e.g. after a centroid refit), or the output "
            f"schema would carry duplicates and fail inside Arrow"
        )
    cpd = centroids.orderBy("cluster_id").toPandas()
    C = np.stack(cpd["centroid"].to_numpy()).astype(np.float64)
    cids = cpd["cluster_id"].to_numpy()
    half_c2 = (C * C).sum(axis=1) / 2.0

    passthrough = [f.simpleString().replace(":", " ", 1) for f in vectors.schema.fields]
    out_schema = ", ".join(passthrough + ["unit array<double>", "cluster_id int"])

    def assign_pass(batches):
        for pdf in batches:
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            U = V / safe_norms(V)
            nearest = _coarse_nearest(U, C, half_c2)
            out = pdf.copy()
            out["unit"] = list(U)
            out["cluster_id"] = cids[nearest].astype(np.int32)
            yield out

    return vectors.mapInPandas(assign_pass, out_schema)


def write_ivf_layout(
    packed: DataFrame, centroids: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Persist a packed IVF layout → `path/blocks` parquet partitioned
    by cluster_id + `path/centroids` parquet. Partitioning the block
    rows by cluster_id turns the probe filter into physical partition
    pruning at scan time (non-probed clusters' files are never read) —
    the durable serving artifact the in-memory cache is built from.
    `mode="append"` adds incremental blocks (from
    `ivf_pack(ivf_assign(new, centroids))`) next to the standing ones;
    readers see old + new blocks of a cluster as independent
    score-units, so no rewrite of existing files is ever needed.

    Append requires the SAME quantizer: blocks packed against refit
    centroids mixed into a standing layout would silently corrupt
    probe recall, so `mode="append"` verifies the given centroid
    table matches the persisted one exactly (≤512 rows — a cheap
    driver compare) and raises on any drift; a refit means a new
    layout path (or an overwrite), never an append.

    Partition scheme: ALWAYS (cluster_id, batch_id) — batch writes
    stamp batch_id=-1 so the batch and streaming lifecycles
    (`streaming.incremental.ann_layout_sink` writes per-micro-batch
    batch_id partitions) share one scheme at one path; mixed-depth
    partitioning under `blocks/` would break parquet partition
    discovery at read time (ADVICE r5). Readers treat batch_id as a
    passthrough column the scoring kernel ignores.

    (r6: delegates to the generic codec-layout writer — ONE
    implementation of the append/guard invariants across the float,
    IVF-PQ, and SQ layouts, `operators/layout.py`.)"""
    from mcp_vector_search_spark.operators.layout import write_codec_layout

    write_codec_layout(
        packed, {"centroids": centroids}, path, mode=mode, part_col="cluster_id"
    )


def read_ivf_layout(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a persisted packed layout → (packed, centroids), ready for
    `ivf_topk_batch_packed` (optionally .cache() the packed side for
    in-memory serving)."""
    from mcp_vector_search_spark.io import recover_swap

    # the layout ROOT is swap-managed (write_codec_layout overwrite /
    # retrain_ivf_layout stage the whole root and swap): a crash inside
    # that swap leaves the intact layout at `<path>.old` — recover it
    # before reading, same contract as the BM25 index root (r6 review)
    recover_swap(path)
    return (
        spark.read.parquet(f"{path}/blocks"),
        spark.read.parquet(f"{path}/centroids"),
    )


# ---------------------------------------------------------- maintenance


def ivf_unpack(packed: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Inverse of `ivf_pack`: packed blocks → per-row
    (cluster_id, vec_id, unit). The float layout stores exact unit
    vectors (float64 packs are bit-identical; float32 packs
    reconstruct at float32 precision), so maintenance jobs — retrain,
    export, audits — run from the layout itself without the source
    corpus. One map-side pass; no shuffle."""
    import numpy as np
    import pandas as pd

    if "mat" not in packed.columns:
        raise ValueError(
            "not a float IVF layout (no 'mat' blocks) — PQ/SQ code layouts "
            "are lossy and cannot be unpacked to vectors; retrain those from "
            "the source corpus instead"
        )
    idt = packed.schema["vec_ids"].dataType.elementType.simpleString()
    out_schema = f"cluster_id int, {id_col} {idt}, unit array<double>"

    def unpack(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                M = (
                    np.frombuffer(row.mat, dtype=np.dtype(row.dtype))
                    .reshape(row.n, row.dim)
                    .astype(np.float64)
                )
                yield pd.DataFrame(
                    {
                        "cluster_id": np.full(row.n, row.cluster_id, dtype=np.int32),
                        id_col: list(row.vec_ids),
                        "unit": list(M),
                    }
                )

    return packed.mapInPandas(unpack, out_schema)


def ivf_stats(packed: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-cluster health of a packed layout → (cluster_id, n_rows,
    n_blocks, mean_resid): row count (skew/imbalance), block count
    (fragmentation — `repack_blocks`/`compact_codec_layout` is the
    cure), and mean L2 distance of members to their centroid
    (quantization error — the signal that grows as streamed appends
    drift from the distribution the quantizer was fit on). Clusters
    with no rows appear with zeros, so emptied clusters are visible.
    One scan over block rows (residuals come from one matmul per
    block); no corpus shuffle."""
    import numpy as np
    import pandas as pd

    if "mat" not in packed.columns:
        raise ValueError(
            "not a float IVF layout (no 'mat' blocks) — PQ/SQ code layouts "
            "carry codes, not vectors; health stats need the float layout "
            "(or compute residuals from the source corpus)"
        )
    cpd = centroids.orderBy("cluster_id").toPandas()
    cmap = {int(r["cluster_id"]): np.asarray(r["centroid"], dtype=np.float64) for _, r in cpd.iterrows()}

    def per_block(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                M = (
                    np.frombuffer(row.mat, dtype=np.dtype(row.dtype))
                    .reshape(row.n, row.dim)
                    .astype(np.float64)
                )
                c = cmap.get(int(row.cluster_id))
                resid = float(np.linalg.norm(M - c[None, :], axis=1).sum()) if c is not None else 0.0
                yield pd.DataFrame(
                    {
                        "cluster_id": [row.cluster_id],
                        "n": [row.n],
                        "sum_resid": [resid],
                    }
                )

    agg = (
        packed.mapInPandas(per_block, "cluster_id int, n long, sum_resid double")
        .groupBy("cluster_id")
        .agg(
            F.sum("n").alias("n_rows"),
            F.count("*").alias("n_blocks"),
            F.round(F.try_divide(F.sum("sum_resid"), F.sum("n")), 6).alias("mean_resid"),
        )
    )
    return (
        centroids.select("cluster_id")
        .join(agg, "cluster_id", "left")
        .select(
            "cluster_id",
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
            F.coalesce("n_blocks", F.lit(0)).alias("n_blocks"),
            F.coalesce("mean_resid", F.lit(0.0)).alias("mean_resid"),
        )
    )


def ivf_layout_stats(spark, path: str) -> DataFrame:
    """`ivf_stats` over a persisted layout path."""
    packed, cents = read_ivf_layout(spark, path)
    return ivf_stats(packed, cents)


def ivf_retrain_gain(
    spark,
    path: str,
    sample_rows: int = 8192,
    num_clusters: int | None = None,
    iters: int = 10,
    seed: int = 42,
) -> dict:
    """The retrain decision signal: on a deterministic sample of the
    layout's own vectors, compare the standing quantizer's mean
    residual against a fresh `_lloyd_fit` of the same sample →
    {"current_resid", "refit_resid", "gain_pct", "n_sample"}. A
    near-zero gain means the centroids still fit the data (retraining
    buys nothing); a large gain means streamed appends have drifted
    the corpus and `retrain_ivf_layout` will restore probe recall.
    Driver-side on the bounded sample — the full corpus is never
    re-scored. (FAISS guidance: retrain when the imbalance factor or
    quantization error grows materially; this measures the latter
    directly.)"""
    import numpy as np

    packed, cents = read_ivf_layout(spark, path)
    rows = _fit_sample(
        ivf_unpack(packed), "vec_id", "unit", sample_rows, extra_cols=("cluster_id",)
    )
    X = np.stack(rows["unit"].to_numpy())
    assigned = rows["cluster_id"].to_numpy()
    cpd = cents.orderBy("cluster_id").toPandas()
    C = np.stack(cpd["centroid"].to_numpy()).astype(np.float64)
    cid_to_idx = {int(c): i for i, c in enumerate(cpd["cluster_id"])}
    idx = np.array([cid_to_idx[int(c)] for c in assigned])
    current = float(np.linalg.norm(X - C[idx], axis=1).mean())

    k = num_clusters if num_clusters is not None else len(cpd)
    _, refit = _lloyd_fit_best(X, k, iters, seed)
    gain = 0.0 if current <= 0 else round(100.0 * (current - refit) / current, 2)
    return {
        "current_resid": round(current, 6),
        "refit_resid": round(refit, 6),
        "gain_pct": gain,
        "n_sample": len(rows),
    }


def retrain_ivf_layout(
    spark,
    path: str,
    num_clusters: int | None = None,
    sample_rows: int = 16384,
    iters: int = 10,
    seed: int = 42,
    rows_per_block: int = 65536,
    max_block_bytes: int = 32 << 20,
) -> int:
    """Refit the coarse quantizer from the layout's own vectors and
    rewrite the layout against it — the answer to quantizer staleness
    that `write_ivf_layout(mode="append")`'s equality guard exists to
    force (a refit means a new layout, never an append into the old
    one). Returns the number of clusters in the new quantizer.

    Pipeline: unpack blocks → per-row units (map-side) → sampled
    Lloyd's refit (best-of-restarts, `_lloyd_fit_best`) → one Arrow
    re-assignment pass → re-pack (same dtype as the standing layout)
    → staged overwrite via `write_ivf_layout` (the codec-layout
    writer stages the whole root and atomically swaps, so readers see
    the old layout until the new one is complete). The source corpus
    is never touched: the float layout IS the corpus at serving
    precision. Cost ≈ one corpus scan + the pack shuffle — the same
    shape as the original build minus normalization.

    Reference behavior matched: LanceDB index re-creation on drift
    (``vectors_backend.py:665-731`` recreates the ANN index whole);
    here the rewrite is partition-parallel and atomic."""
    import numpy as np

    packed, cents = read_ivf_layout(spark, path)
    dtype = packed.select("dtype").first()["dtype"]
    if num_clusters is None:
        num_clusters = cents.count()
    rows = ivf_unpack(packed).select("vec_id", F.col("unit").alias("embedding"))
    # the shared `_fit_sample` rule (same as ivf_build_sampled), but
    # fit best-of-restarts (see _lloyd_fit_best: a single bad init
    # could otherwise make the retrain WORSEN the layout)
    sample = _fit_sample(rows, "vec_id", "embedding", sample_rows)
    X = np.stack(sample["embedding"].to_numpy()).astype(np.float64)
    cents_np, _ = _lloyd_fit_best(X, num_clusters, iters, seed)
    new_cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents_np)],
        "cluster_id int, centroid array<double>",
    )
    # r7: fused re-assignment+pack — one pass over the unpacked rows,
    # block blobs (not per-row unit arrays) cross the rewrite shuffle;
    # bit-identical to ivf_pack(ivf_assign(...)) incl. the shared
    # re-normalization both paths apply to the unpacked units
    new_packed = ivf_pack_fused(
        rows,
        new_cents,
        rows_per_block=rows_per_block,
        max_block_bytes=max_block_bytes,
        dtype=dtype,
    )
    write_ivf_layout(new_packed, new_cents, path, mode="overwrite")
    # the ACTUAL cluster count: _lloyd_fit caps k at the sample size,
    # so a small layout (or small sample_rows) can fit fewer clusters
    # than requested — callers sizing nprobes from the return value
    # must see the real k (r6 review)
    return len(cents_np)
