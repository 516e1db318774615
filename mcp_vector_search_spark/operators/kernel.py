"""The one Arrow scoring kernel behind every vector top-k path.

Brute force, IVF probe, SQ, PQ and IVF-PQ top-k are all `score_topk`:
decode, score and partial top-k fused into one `mapInArrow` operator
(the FuseME shape), assembled from a `QuerySet` (the query side,
collected ONCE — a router hands the same value on, so the query
lineage never runs twice), a source (`rows`: a list column decoded
zero-copy, optionally split into per-cluster runs; `blocks`: packed
binary matrices) and a codec (`float_codec`, `sq_codec`, `pq_codec`).
Each unit is rounded half-up, cut to its top `k·batch_buffer` rows per
query and encoded straight to Arrow; one exact (score DESC, id ASC)
rank window gives the final top-k, so the shuffle carries
O(units · queries · k) rows, never |V|×|Q|. The query set ships in the
task closure (serving-sized sets; `ivf.ivf_topk_batch` is the
distributed path).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mcp_vector_search_spark.operators.nputil import round_half_up, safe_norms


class QuerySet(NamedTuple):
    Q: np.ndarray  # (nq, d) unit query matrix, float64
    qids: pa.Array
    qid_col: str
    qid_type: str  # Spark DDL type of the query ids
    probes: dict | None  # cluster_id → np.array of the query rows probing it
    C: np.ndarray | None  # raw centroids in cluster_id order (ADC offsets)
    cids: np.ndarray | None


class Source(NamedTuple):
    cols: list  # columns the kernel reads
    id_col: str  # output id column
    id_from: str  # column whose (element) type the output ids take
    part: str | None  # probe column: one unit per cluster when set
    units: Callable  # RecordBatch → iterator of (cluster, X, ids)


def matrix(col: pa.Array) -> np.ndarray:
    """(rows, width) view of an Arrow list column, without a copy."""
    if not len(col):
        return np.empty((0, 0))
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if col.null_count or (lens != lens[0]).any():
        raise ValueError("vector rows must be non-null and of one length")
    return col.flatten().to_numpy(zero_copy_only=False).reshape(len(col), int(lens[0]))


def collect_queries(
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
    nprobes: int | None = None,
) -> QuerySet:
    """Collect the query set once. With `centroids`, each query probes
    its `nprobes` nearest clusters by round-9 cosine to the normalized
    centroids, ties → lower cluster_id (`None` probes every cluster)."""
    t = queries.select(query_id_col, query_vec_col).toArrow()
    Q = matrix(t.column(1).combine_chunks()).astype(np.float64)
    Q /= safe_norms(Q)
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    qs = QuerySet(Q, t.column(0).combine_chunks(), query_id_col, qid_type, None, None, None)
    if centroids is None:
        return qs
    if nprobes is not None and nprobes < 1:  # 0 would silently probe nothing
        raise ValueError(
            f"nprobes must be >= 1, or None to probe all clusters; got {nprobes}"
        )
    ct = centroids.orderBy("cluster_id").select("cluster_id", "centroid").toArrow()
    cids = ct.column(0).to_numpy()
    C = matrix(ct.column(1).combine_chunks()).astype(np.float64)
    Q = Q.reshape(len(Q), C.shape[1])  # an empty query set keeps the width
    csim = round_half_up(Q @ (C / safe_norms(C)).T, 9)  # (nq, nc)
    order = np.lexsort((np.broadcast_to(cids, csim.shape), -csim), axis=1)[:, :nprobes]
    probes = {int(c): np.nonzero((order == i).any(axis=1))[0] for i, c in enumerate(cids)}
    probes = {c: q for c, q in probes.items() if len(q)}
    return qs._replace(Q=Q, probes=probes, C=C, cids=cids)


def rows(id_col: str, data_col: str, part: str | None = None) -> Source:
    """One row per vector or code vector; with `part`, each batch
    splits into per-cluster runs."""
    from mcp_vector_search_spark.operators.ivf import _cluster_groups

    def units(batch):
        if not batch.num_rows:
            return
        X, ids = matrix(batch.column(data_col)), batch.column(id_col)
        if part is None:
            yield None, X, ids
            return
        for first, grp in _cluster_groups(batch.column(part).to_numpy()):
            yield int(first), X[grp], ids.take(grp)

    return Source([c for c in (part, id_col, data_col) if c], id_col, id_col, part, units)


def blocks(
    id_col: str, blob: str, width: str, dtype: str | None, part: str | None = None
) -> Source:
    """One packed (n × width) block per row, ids in `vec_ids`; element
    dtype from the `dtype` column, or uint8 (SQ) when None."""

    def units(batch):
        c = {n: batch.column(n) for n in batch.schema.names}
        for r in range(batch.num_rows):
            dt = c[dtype][r].as_py() if dtype else "uint8"
            X = np.frombuffer(c[blob][r].as_buffer(), dt)
            X = X.reshape(c["n"][r].as_py(), c[width][r].as_py())
            yield c[part][r].as_py() if part else None, X, c["vec_ids"][r].values

    cols = [c for c in (part, "n", width, dtype, "vec_ids", blob) if c]
    return Source(cols, id_col, "vec_ids", part, units)


def float_codec(Q: np.ndarray, normalize: bool) -> Callable:
    """Cosine over float rows; f32 blocks upcast, so the matmul and
    the rounding run in float64 either way."""

    def score(X, qidx, _cluster):
        V = X.astype(np.float64, copy=False)
        return (V / safe_norms(V) if normalize else V) @ Q[qidx].T

    return score


def sq_codec(Q: np.ndarray, mn: np.ndarray, step: np.ndarray) -> Callable:
    """Dequantize (recon = mn + code·step), then one GEMM."""
    return lambda X, qidx, _cluster: (mn + X.astype(np.float64) * step) @ Q[qidx].T


def pq_codec(qs: QuerySet, cb: np.ndarray) -> Callable:
    """ADC: one (m × k) table of round-9 partial dots per query, m
    gathers per code row, plus q·raw-centroid for IVF residual codes
    (the residuals were taken against the un-normalized centroid)."""
    m, _, dsub = cb.shape
    nq = len(qs.Q)
    lut = round_half_up(np.einsum("qsd,scd->qsc", qs.Q.reshape(nq, m, dsub), cb), 9)
    if qs.C is None:  # flat codes: one pseudo-cluster with a zero offset
        offset, col = np.zeros((nq, 1)), {None: 0}
    else:
        offset, col = qs.Q @ qs.C.T, {int(c): i for i, c in enumerate(qs.cids)}

    def score(X, qidx, cluster):
        S = np.broadcast_to(offset[qidx, col[cluster]], (len(X), len(qidx))).copy()
        lutq = lut[qidx]  # one gather, not one per subspace
        for s in range(m):
            S += lutq[:, s, X[:, s]].T
        return S

    return score


def partial_topk(S: np.ndarray, ids: pa.Array, keep: int) -> np.ndarray:
    """Per-column top-`keep` row indexes of S, exact in (score DESC,
    id ASC) at the cutoff: the argpartition is score-only, so a column
    where a dropped row ties the boundary score falls back to a
    lexsort — else >keep identical vectors could drop the lowest ids."""
    b, n = S.shape
    if b <= keep:
        return np.broadcast_to(np.arange(b)[:, None], (b, n))
    idx = np.argpartition(-S, keep - 1, axis=0)[:keep]
    kept = np.take_along_axis(S, idx, axis=0)
    kth = kept.min(axis=0)
    tied = np.nonzero((S == kth).sum(axis=0) != (kept == kth).sum(axis=0))[0]
    vids = ids.to_numpy(zero_copy_only=False) if len(tied) else None
    for j in tied:
        idx[:, j] = np.lexsort((vids, -S[:, j]))[:keep]
    return idx


def rank_topk(
    cand: DataFrame, k: int, query_id_col: str, id_col: str, score_col: str
) -> DataFrame:
    """The one exact per-query rank window: (score DESC, id ASC), rn ≤ k."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc(score_col), F.asc(id_col))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, score_col, "rn")
    )


def score_topk(
    frame: DataFrame,
    src: Source,
    qs: QuerySet,
    k: int,
    codec: Callable,
    score_col: str = "cos_sim",
    round_to: int = 6,
    batch_buffer: int = 4,
) -> DataFrame:
    """(query_id, id, score, rn) top-k of `frame` for every query. With
    a probe map the scan is pre-filtered to the probed clusters
    (partition pruning on a cluster-partitioned layout) and each unit
    scores only the queries probing it."""
    keep, qids = k * batch_buffer, qs.qids
    probes = qs.probes if src.part else None  # a flat source scores every query
    every = np.arange(len(qids))

    def run(batches):
        for batch in batches:
            qpos, ids, scores = [], [], []
            for cluster, X, vids in src.units(batch):
                qidx = every if probes is None else probes.get(cluster)
                if qidx is None or not len(qidx):
                    continue
                S = round_half_up(codec(X, qidx, cluster), round_to)
                idx = partial_topk(S, vids, keep)
                qpos.append(np.broadcast_to(qidx, idx.shape).ravel())
                ids.append(vids.take(idx.ravel()))
                scores.append(np.take_along_axis(S, idx, axis=0).ravel())
            if scores:
                yield pa.RecordBatch.from_arrays(
                    [qids.take(np.concatenate(qpos)), pa.concat_arrays(ids),
                     pa.array(np.concatenate(scores))],
                    names=[qs.qid_col, src.id_col, score_col],
                )

    if probes is not None:
        frame = frame.filter(F.col(src.part).isin(sorted(probes)))
    id_t = frame.schema[src.id_from].dataType
    id_t = getattr(id_t, "elementType", id_t).simpleString()
    cand = frame.select(*src.cols).mapInArrow(
        run, f"{qs.qid_col} {qs.qid_type}, {src.id_col} {id_t}, {score_col} double"
    )
    return rank_topk(cand, k, qs.qid_col, src.id_col, score_col)


def exact_rerank(
    vectors: DataFrame,
    shortlist: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
) -> DataFrame:
    """The one exact tail of the refined codec paths (reference
    ``refine_factor``): only the shortlist's pairs rejoin the raw corpus,
    normalized per pair, and score in SQL like the exact operators."""
    from mcp_vector_search_spark.functions.vectors import dot, normalized

    q = normalized(queries, query_vec_col, "_uq").select(query_id_col, "_uq")
    pairs = shortlist.select(query_id_col, id_col).join(
        vectors.select(id_col, vec_col), id_col
    )
    cand = (
        normalized(pairs, vec_col, "_u")
        .join(F.broadcast(q), query_id_col)
        .withColumn("cos_sim", F.round(dot(F.col("_u"), F.col("_uq")), round_to))
    )
    return rank_topk(cand, k, query_id_col, id_col, "cos_sim")
