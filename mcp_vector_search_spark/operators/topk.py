"""Vector top-k search operators (reference J1/T1,
``vectors_backend.py:733-876``).

Three physical strategies, same logical semantics:

- `knn_brute_force` / `topk_per_query` — exact cosine in SQL
  expressions: a broadcast join plus TakeOrderedAndProject or a rank
  window. The correctness baseline the oracle gates replay.
- `topk_per_query_np` — the same exact answer through the one Arrow
  scoring kernel (`operators/kernel.py`) that also serves every IVF,
  SQ, PQ and IVF-PQ path.
- `ivf_topk` (see `ivf.py`) — KMeans-bucketed scan pruning, the
  100 TB path (reference: IVF_SQ index, ``vectors_backend.py:1264-1341``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mcp_vector_search_spark.functions.vectors import dot, dot_sql


def _normalized(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Alias of functions.vectors.normalized — kept for the existing
    operator-module call sites."""
    from mcp_vector_search_spark.functions.vectors import normalized

    return normalized(df, vec_col, out_col)


def knn_brute_force(
    vectors: DataFrame,
    query: DataFrame,
    k: int,
    vec_col: str = "embedding",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors of a single query vector.

    `query` is a 1-row DataFrame — broadcast, so the join is a map-side
    nested loop over one row (zero shuffle for the scan side). Both
    sides are unit-normalized BEFORE the join, so per-pair work is one
    dot product instead of dot + two norms (≈3× less float work on the
    hot path). Score is rounded *before* ranking so rank order is
    reproducible across engines; ties break on the explicit `id_col`.
    """
    v = _normalized(vectors, vec_col, "_u")
    q = _normalized(query, query_vec_col, "_uq")
    return cosine_topk(
        v.join(F.broadcast(q)), "_uq", k, id_col, round_to,
        drop=(query_vec_col, vec_col, "_uq"),
    )


def cosine_topk(
    units: DataFrame,
    query_unit: str,
    k: int,
    id_col: str = "vec_id",
    round_to: int | None = 6,
    drop: tuple[str, ...] = (),
) -> DataFrame:
    """The one exact single-query cosine tail: score `dot(_u,
    query_unit)` → round → order (ties → lower `id_col`) → limit k.
    `units` carries the unit-vector column `_u`; `query_unit` is SQL
    text: the joined query's unit column `_uq` (`knn_brute_force`) or
    an `array(...)` literal of a vector normalized on the driver
    (`HybridServer`). The score is one SQL expression, so a 64-dim
    literal costs one parse rather than a py4j call per element. `_u`
    and `drop` are dropped from the output, which adds `cos_sim`."""
    sim = dot_sql("_u", query_unit)
    if round_to is not None:
        sim = f"round({sim}, {int(round_to)})"
    return (
        units.withColumn("cos_sim", F.expr(sim))
        .drop("_u", *drop)
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def topk_per_query(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Batch top-k: every query row × every vector, rank per query.

    The query set broadcasts (small dim table); the vector scan stays
    partitioned — per-partition partial scoring (unit-normalized once
    per row, one dot per pair), then a shuffle on query_id only for
    the final per-query window. At 1000 executors the shuffle carries
    ≤ |queries|·|vectors| scored rows; for large query sets swap in
    the IVF path to prune candidates first.
    """
    v = _normalized(vectors, vec_col, "_u")
    q = _normalized(queries, query_vec_col, "_uq")
    sim = dot(F.col("_u"), F.col("_uq"))
    if round_to is not None:
        sim = F.round(sim, round_to)
    scored = v.join(F.broadcast(q)).withColumn("cos_sim", sim)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop(vec_col, query_vec_col, "_u", "_uq")
    )


def rank_by(df: DataFrame, score_col: str, id_col: str, rank_col: str = "rank") -> DataFrame:
    """1-based global rank after a (re)scoring stage (reference W1,
    ``core/search.py:1049``). Deterministic tiebreak on the id column."""
    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    return df.withColumn(rank_col, F.row_number().over(w))


def id_type(df: DataFrame, col: str) -> str:
    """DDL type string of an id column, so the Arrow-kernel output
    schemas inherit whatever id type the input carries (long vec_ids,
    16-hex chunk_id strings, …) instead of hardcoding `long`."""
    return df.schema[col].dataType.simpleString()


def topk_per_query_np(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    round_to: int = 6,
    batch_buffer: int = 4,
    _query_set=None,
) -> DataFrame:
    """`topk_per_query` through the Arrow kernel (`operators/kernel.py`).
    `_query_set`: the `QuerySet` a router already collected from
    `queries`, so the query lineage runs once."""
    from mcp_vector_search_spark.operators import kernel

    qs = _query_set or kernel.collect_queries(queries, query_id_col, query_vec_col)
    return kernel.score_topk(
        vectors, kernel.rows(id_col, vec_col), qs, k, kernel.float_codec(qs.Q, True),
        "cos_sim", round_to, batch_buffer,
    )
