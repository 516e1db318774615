"""Vector math as Catalyst expressions over array<float> columns.

The reference stores ``fixed_size_list<float32>[d]`` in LanceDB and
computes cosine distance in Rust (``vectors_backend.py:733-876``). Spark
has no fixed-size list, so vectors are ``array<float>`` with dimension
enforced by assertion (SURVEY §7 hard-part 4). All arithmetic is done in
float64 with *sequential* accumulation so results are bit-reproducible
against any sequential oracle.

`F.zip_with` + `F.aggregate` compile to Catalyst HigherOrderFunctions —
JVM-side, no Python boundary, vectorizable by codegen.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i, float64 accumulation in array order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str) -> str:
    """`dot` as SQL text over two array expressions written in SQL:
    the same expression tree (float64 products summed in array order
    from 0.0), so the same bits, built with one parse instead of a
    py4j call per Column operation."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    """Zero-norm vectors (failed/padded embeds — the same input class
    `unit_expr` guards) score 0 to everything instead of raising an
    ANSI DIVIDE_BY_ZERO that kills the whole job (r6 review #5)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom).otherwise(F.lit(0.0))


def unit_expr(vec: Column, norm: Column) -> Column:
    """Unit-normalize `vec` given its (pre-materialized) `norm` column.
    Pass the norm as a COLUMN REFERENCE, not an inline expression —
    expressions inside the transform lambda re-evaluate per element.
    Zero-norm vectors map to the zero vector (cosine 0 to everything)
    instead of an ANSI DIVIDE_BY_ZERO error."""
    return F.transform(
        vec,
        lambda x: F.when(norm != 0.0, x.cast("double") / norm).otherwise(F.lit(0.0)),
    )


def normalized(df, vec_col: str, out_col: str, drop_norm: bool = True):
    """Attach a unit-vector column in two projections: the norm is
    materialized FIRST so the transform divides by a column reference,
    not a re-evaluated expression (the `unit_expr` contract). The ONE
    definition every ANN/dedup path uses — the same three-step pattern
    was hand-spelled at ~10 call sites before round 4, where any drift
    (zero-norm semantics, the reference-vs-expression rule) would have
    silently changed ranking determinism."""
    out = df.withColumn("_nrm", l2_norm(F.col(vec_col))).withColumn(
        out_col, unit_expr(F.col(vec_col), F.col("_nrm"))
    )
    return out.drop("_nrm") if drop_norm else out


def unit_vector(vec: Sequence[float]) -> list[float]:
    """Driver-side twin of `normalized` for ONE vector: float64, the
    norm accumulated sequentially in array order, each element divided
    by it, zero norm → the zero vector. Bit-identical to the column
    path (same IEEE operations in the same order), so a query
    normalized here and scored as a literal ranks exactly like one
    normalized in the plan."""
    xs = [float(x) for x in vec]
    acc = 0.0
    for x in xs:
        acc += x * x
    nrm = math.sqrt(acc)
    return [x / nrm if nrm != 0.0 else 0.0 for x in xs]


def distance_to_similarity(d: Column) -> Column:
    """Reference score mapping `sim = max(0, 1 - d/2)` for cosine
    distance in [0,2] (``core/search.py:1033-1036``)."""
    return F.greatest(F.lit(0.0), F.lit(1.0) - d / F.lit(2.0))
