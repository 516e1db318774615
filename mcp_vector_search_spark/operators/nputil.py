"""Shared numpy helpers for the Arrow-vectorized kernels.

One rounding definition for every np kernel: `np.round` rounds half to
EVEN (banker's), while Spark's `F.round` and DuckDB's `round` — the
two engines every kernel is hash-compared against — round half AWAY
from zero. A score landing exactly on the half grid (e.g. a cosine of
0.0078125 at 6 dp) would flip between the kernel and its oracle and
could swap ranks at a top-k cutoff (r6 review #5). All kernels
therefore round through `round_half_up`.
"""

from __future__ import annotations

import numpy as np


def round_half_up(x, decimals: int):
    """Round half away from zero — `F.round` / DuckDB round semantics.

    Implemented as sign(x)·floor(|x|·10^d + 0.5)/10^d: for doubles
    that ARE exact half-grid values (0.0078125 at 6 dp) this matches
    BigDecimal HALF_UP where `np.round`'s half-to-even diverges, and
    it matches DuckDB's float-scaled rounding everywhere.

    Known residual vs Spark alone: F.round rounds the double's
    SHORTEST DECIMAL REPR via BigDecimal, so a double whose shortest
    repr lands exactly on the half grid while the float64 product
    x·10^d falls just below it (e.g. 0.0005045·1e6 =
    504.49999999999994) rounds down here and in DuckDB but up in
    Spark — measured ~5e-3 of half-grid-neighborhood doubles
    (r6 review). Exact tri-engine agreement would need per-element
    decimal-string rounding in the hot kernels; the kernels instead
    share THIS definition (and DuckDB's), so packed/per-row/NP paths
    stay bit-identical to each other, and the Spark-side F.round
    divergence is confined to measure-zero-in-practice inputs that no
    gate corpus produces.

    Implementation note: trunc(x·s + copysign(0.5, x)) — equivalent to
    sign(x)·floor(|x|·s + 0.5) (verified bit-identical incl. the half
    grid) but in-place over ONE temporary. The naive sign/abs/floor
    chain cost 8.5 s per 32M elements vs 0.36 s for this form
    (np.round: 0.13 s) — on the brute-force ANN path, which rounds the
    full |V|×|Q| score matrix, that overhead dominated the kernel
    (r6 bench: 4M-vector brute 40 → 59 s before this fix).
    """
    scale = 10.0 ** decimals
    y = np.multiply(x, scale)
    np.add(y, np.copysign(0.5, y), out=y)
    np.trunc(y, out=y)
    y /= scale
    return y


def safe_norms(M):
    """Row norms with zero mapped to 1: a zero vector stays the zero
    vector (cosine 0 to everything), the semantics `unit_expr` gives
    the DataFrame paths; bare division would NaN-poison the scores and
    rank the zero vector FIRST under DESC NaN ordering."""
    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return n
