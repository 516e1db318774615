"""Rank fusion operators (reference J3/J4,
``core/search.py:1613-1772``, ``mcp/hybrid_search_handler.py:418-480``).

RRF with the reference's exact semantics:
  score(d) = α / (K + rank_vec(d)) + (1-α) / (K + rank_bm25(d)),
  K = 60 (``search.py:32``), missing leg contributes 0,
  then max-normalized (``search.py:1709-1715``).

Plan shape: two small ranked lists (≤ over-retrieval limit each) →
full-outer equi-join on the doc id → window max for normalization. The
inputs are already top-N, so this stage is tiny at any corpus scale —
the heavy lifting stays in the retrieval legs.
"""

from __future__ import annotations

from collections.abc import Sequence
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RRF_K = 60


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    alpha: float = 0.7,
    k: int = RRF_K,
    round_to: int | None = 6,
) -> DataFrame:
    """Fuse two ranked lists → (id, rrf_score) with max-normalization.

    `ranked_a` gets weight alpha (the vector leg in the reference),
    `ranked_b` gets 1-alpha.
    """
    a = ranked_a.select(F.col(id_col), F.col(rank_col).alias("_rank_a"))
    b = ranked_b.select(F.col(id_col), F.col(rank_col).alias("_rank_b"))
    fused = (
        a.join(b, id_col, "full_outer")
        .withColumn(
            "_raw",
            F.coalesce(F.lit(alpha) / (F.lit(k) + F.col("_rank_a")), F.lit(0.0))
            + F.coalesce(F.lit(1.0 - alpha) / (F.lit(k) + F.col("_rank_b")), F.lit(0.0)),
        )
    )
    # Max-normalization via a GLOBAL WINDOW over the fused rows. The
    # pre-r12 shape — fused.agg(max) broadcast-joined back — planned
    # the entire fused subtree TWICE (the scalar-aggregate branch and
    # the row branch are separate subtrees; no exchange reuse), so
    # both retrieval legs re-executed per action: hybrid_rrf's plan
    # carried 2 doc scans + 4 embedding scans for one query (guide
    # §7.2 "duplicated subtrees", measured 4.4 s → 2.3 s at sf0.1).
    # The single-partition funnel the old comment feared is void
    # under this operator's documented contract — inputs are
    # pre-limited top-N lists (≤ 2·over_retrieve·k rows total), which
    # one window task handles for free at any corpus scale.
    from pyspark.sql.window import Window

    # max can be exactly 0.0 at an alpha extreme with an empty weighted
    # leg (alpha=1.0, empty vector leg): score 0, don't raise an ANSI
    # DIVIDE_BY_ZERO (r6 review #5)
    out = fused.withColumn(
        "_max_raw", F.max("_raw").over(Window.partitionBy())
    ).withColumn(
        "rrf_score",
        F.when(
            F.col("_max_raw") > 0, F.col("_raw") / F.col("_max_raw")
        ).otherwise(F.lit(0.0)),
    )
    if round_to is not None:
        out = out.withColumn("rrf_score", F.round("rrf_score", round_to))
    return out.select(id_col, "rrf_score")


def sql_round(x: float, digits: int = 6) -> float:
    """`F.round(x, digits)` of a double, on the driver: Spark rounds
    HALF_UP the decimal that `Double.toString(x)` spells, and `repr`
    spells the same decimal for the RRF scores it meets (pinned over
    every rank pair and max in tests/test_topk_fusion.py). Unlike
    `nputil.round_half_up`, no float scaling step is involved."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


def rrf_fuse_lists(ids_a: Sequence, ids_b: Sequence, alpha: float = 0.7) -> list[tuple]:
    """`rrf_fuse` on the driver, over two legs given as id lists in
    rank order (rank = position + 1) → [(id, rrf_score)] sorted by
    score descending, then id ascending — the order and the float
    values the DataFrame path ends in: the same IEEE operations in the
    same order, max-normalized (0 when the max is 0), rounded like
    `F.round` to 6 places."""
    raw: dict = {}
    for weight, ids in ((alpha, ids_a), (1.0 - alpha, ids_b)):
        for rank, i in enumerate(ids, 1):
            raw[i] = raw.get(i, 0.0) + weight / (RRF_K + rank)
    top = max(raw.values(), default=0.0)
    fused = [(i, sql_round(r / top) if top > 0 else 0.0) for i, r in raw.items()]
    return sorted(fused, key=lambda t: (-t[1], t[0]))


def rrf_multi(
    legs: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = RRF_K,
    min_score: float = 0.01,
    round_to: int | None = 6,
) -> DataFrame:
    """Tri-modal (N-modal) RRF (reference J4,
    ``mcp/hybrid_search_handler.py:418-480``): union the ranked legs,
    group by the dedup key, ``rrf = Σ 1/(60+rank_i)``, drop below
    `min_score` (reference's 0.01 floor, ``:177-178``).

    Unlike the 2-leg full-outer variant this is a union+groupBy —
    one shuffle regardless of leg count, map-side combinable.
    """
    tagged = None
    for leg in legs:
        part = leg.select(F.col(id_col), F.col(rank_col).alias("_rank"))
        tagged = part if tagged is None else tagged.unionByName(part)
    out = (
        tagged.withColumn("_contrib", F.lit(1.0) / (F.lit(k) + F.col("_rank")))
        .groupBy(id_col)
        .agg(F.sum("_contrib").alias("rrf_score"), F.count("*").alias("n_strategies"))
        .filter(F.col("rrf_score") >= min_score)
    )
    if round_to is not None:
        out = out.withColumn("rrf_score", F.round("rrf_score", round_to))
    return out


def max_score_merge(results: DataFrame, id_col: str, score_col: str) -> DataFrame:
    """Query-expansion variant merge (reference J5/U1,
    ``search.py:297-349``): union of per-variant results, keep the max
    score per id. Map-side combinable groupBy."""
    return results.groupBy(id_col).agg(F.max(score_col).alias(score_col))


def enrichment_boost(
    main: DataFrame,
    code_leg: DataFrame,
    id_col: str,
    score_col: str,
    boost: float = 0.15,
) -> DataFrame:
    """J10 code-vectors enrichment (reference ``core/search.py:1069-1228``):
    a second ANN pass runs over the code-specific vector space; results
    present in BOTH top-k sets get ``boost`` added. Expressed as a left
    semi-shaped join: the code leg is projected to ids only (top-k, so
    tiny → broadcast) and the boost is a coalesce expression. The two
    legs stay independent plans; no re-scoring UDF."""
    code_ids = (
        code_leg.select(id_col).distinct().withColumn("_enrich", F.lit(boost))
    )
    return main.join(F.broadcast(code_ids), id_col, "left").withColumn(
        "boosted_score",
        F.round(F.col(score_col) + F.coalesce(F.col("_enrich"), F.lit(0.0)), 6),
    ).drop("_enrich")
