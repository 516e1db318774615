"""MMR (maximal marginal relevance) diversification — reference F13,
``core/mmr.py:23-209``, wired at ``core/search.py:1301-1413``.

Greedy selection is inherently sequential, but the candidate set is
already capped upstream (reference keeps ≤ limit*3 ≈ 30 rows, T4
over-retrieval schedule), so the right Spark shape is a SINGLE
single-partition `applyInPandas` stage over those few rows — the same
numpy loop the reference runs, without collecting to the driver. The
heavy work (retrieval) stays distributed; this is a coalesce(1) over
k·dim floats.

    mmr_score = λ·relevance − (1−λ)·max_sim(candidate, selected)
    λ = 1 − diversity  (reference parameterizes by `diversity`)
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from mcp_vector_search_spark.operators.nputil import round_half_up


def _mmr_select(rel, vecs, k: int, lam: float) -> list[int]:
    """Greedy MMR over numpy arrays → selected row indices in order."""
    import numpy as np

    n = len(rel)
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0] = 1.0
    unit = vecs / norms[:, None]
    # round-9 on sims and step scores: keeps the greedy argmax
    # reproducible across engines (the SQL oracle replays the same
    # rounded arithmetic), same rationale as round-6 retrieval scores
    sims = round_half_up(unit @ unit.T, 9)  # n ≤ limit*3, so n² is tiny
    selected: list[int] = []
    remaining = list(range(n))
    while remaining and len(selected) < k:
        if selected:
            penalty = round_half_up(sims[np.ix_(remaining, selected)].max(axis=1), 9)
        else:
            penalty = np.zeros(len(remaining))
        scores = round_half_up(lam * rel[remaining] - (1 - lam) * penalty, 9)
        best = int(np.argmax(scores))  # first max → deterministic
        selected.append(remaining.pop(best))
    return selected


def mmr_diversify(
    candidates: DataFrame,
    k: int,
    diversity: float = 0.5,
    id_col: str = "doc_id",
    score_col: str = "score",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, score, mmr_rank) — top-k diverse subset of the candidates.

    Candidates are pulled to ONE partition (assert-bounded — this
    operator is for post-retrieval sets, not corpora).
    """
    import pandas as pd

    lam = 1.0 - diversity

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        # materialize BEFORE concat: pd.concat([]) raises ValueError,
        # so an empty candidates frame (zero retrieval hits) must
        # short-circuit to an empty result, not kill the worker
        # (r6 review #5)
        parts = list(batches)
        if not parts:
            yield pd.DataFrame({id_col: [], score_col: [], "mmr_rank": []})
            return
        pdf = pd.concat(parts, ignore_index=True)
        if len(pdf) == 0:
            yield pd.DataFrame({id_col: [], score_col: [], "mmr_rank": []})
            return
        pdf = pdf.sort_values([score_col, id_col], ascending=[False, True]).reset_index(
            drop=True
        )
        rel = pdf[score_col].to_numpy(dtype=float)
        vecs = np.array([np.asarray(v, dtype=float) for v in pdf[vec_col]])
        chosen = _mmr_select(rel, vecs, k, lam)
        out = pdf.iloc[chosen][[id_col, score_col]].copy()
        out["mmr_rank"] = range(1, len(chosen) + 1)
        yield out

    from mcp_vector_search_spark.operators.topk import id_type

    schema = f"{id_col} {id_type(candidates, id_col)}, {score_col} double, mmr_rank int"
    return candidates.select(id_col, score_col, vec_col).coalesce(1).mapInPandas(
        run, schema=schema
    )
