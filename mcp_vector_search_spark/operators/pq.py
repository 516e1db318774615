"""Product quantization (PQ) — memory-compressed ANN, the 100 TB
scan path.

The reference's IVF_SQ index scalar-quantizes vectors to int8 before
scanning (``vectors_backend.py:1264-1341``); PQ (Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search", the FAISS IVF-PQ
layout) is the stronger published form of the same idea: split each
d-dim vector into `m` subvectors, vector-quantize each subspace with
its own `k`-entry codebook, and store only the m code bytes. A
768-dim float32 row is 3 KB; its PQ-8 code is 8 bytes — at 100 TB
that is the difference between scanning compressed codes from memory
and scanning raw floats from disk. Query-time ADC (asymmetric
distance computation) scores a query against codes with one
(m × k) lookup table per query — no decompression.

Spark-first shape:

- codebooks are a tiny DataFrame ``(sub_idx, code, centroid)`` —
  m·k rows, always collected/broadcast (≤ a few hundred KB);
- codes are an ``array<int>`` column next to the id — the compressed
  corpus is a normal parquet table, co-partitionable with any IVF
  ``cluster_id`` layout;
- encode is an Arrow ``mapInPandas`` pass; ADC scoring is the shared
  Arrow kernel (`operators/kernel.py`) with the PQ-ADC codec: per
  batch one numpy gather+sum and a partial top-k, so the shuffle into
  the final rank window carries O(batches·nq·shortlist), never
  |V|×|Q|;
- the shortlist → exact-rerank join (``pq_topk_refined``, the kernel's
  shared `exact_rerank`) is a plain equi-join on the id column,
  O(nq·shortlist) rows.

Determinism contract (shared with the SQL oracles): all float work in
float64; per-subspace distances/partial dots rounded to 9 before
argmin/summation; final ADC score rounded to 6; ties break to the
lower code / lower id. Matches ``registry.q_pq_fixed``'s DuckDB
replay expression-for-expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mcp_vector_search_spark.operators.nputil import round_half_up

PQ_M = 8  # subspaces
PQ_CODES = 256  # codes per subspace (one byte)


def _collect_codebooks(codebooks: DataFrame):
    """(sub_idx, code, centroid) rows → numpy (m, k, dsub) float64.
    Codebooks are m·k rows by construction — driver-side by contract,
    like the IVF centroid matrix."""
    import numpy as np

    pdf = codebooks.orderBy("sub_idx", "code").toPandas()
    m = int(pdf["sub_idx"].max()) + 1
    k = int(pdf["code"].max()) + 1
    dsub = len(pdf["centroid"].iloc[0])
    cb = np.zeros((m, k, dsub), dtype=np.float64)
    for r in pdf.itertuples(index=False):
        cb[int(r.sub_idx), int(r.code)] = np.asarray(r.centroid, dtype=np.float64)
    return cb


def _unit_rows(pdf_col) -> "object":
    import numpy as np

    from mcp_vector_search_spark.operators.nputil import safe_norms

    V = np.stack(pdf_col.to_numpy()).astype(np.float64)
    return V / safe_norms(V)


def pq_train(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    k: int = PQ_CODES,
    sample_rows: int = 16384,
    iters: int = 15,
    seed: int = 42,
    normalize: bool = True,
) -> DataFrame:
    """Fit per-subspace codebooks with numpy Lloyd's iterations on a
    bounded driver-side sample → (sub_idx int, code int,
    centroid array<double>).

    The sample is the lowest-`sample_rows` rows by md5(id) (a
    TakeOrdered, so the fit is deterministic across runs and partition
    layouts — and representative even when ids correlate with content;
    lowest-id sampling collapsed IVF-PQ recall to 0.37 on the bench's
    inflated corpus, where the codebooks only ever saw the first few
    percent of the id space). Codebook quality needs a representative
    sample, not the full corpus — the same contract as the IVF fit.
    Training operates on UNIT vectors by default: PQ-for-cosine is PQ
    on the unit sphere with inner-product ADC. `normalize=False`
    trains on the raw column — the IVF-PQ residual path
    (`operators/ivfpq.py`), where the input is already a residual that
    must not be re-scaled.
    """
    import numpy as np

    from pyspark.sql import functions as _F

    sample = (
        vectors.select(id_col, vec_col)
        .orderBy(
            _F.md5(_F.concat(_F.col(id_col).cast("string"), _F.lit("#pq-fit")))
        )
        .limit(sample_rows)
        .toPandas()
    )
    if normalize:
        X = _unit_rows(sample[vec_col])
    else:
        X = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    return vectors.sparkSession.createDataFrame(
        _fit_codebooks(X, m, k, iters, seed),
        "sub_idx int, code int, centroid array<double>",
    )


def _fit_codebooks(X, m: int, k: int, iters: int, seed: int) -> list:
    """numpy Lloyd's per subspace → [(sub_idx, code, centroid), ...]."""
    import numpy as np

    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    k = min(k, n)
    rng = np.random.default_rng(seed)
    rows = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        xs_sq = (Xs * Xs).sum(axis=1)
        cents = Xs[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(iters):
            # BLAS-form squared distances (the n×k×dsub tensor of the
            # naive form doesn't fit in cache at k=256); argmin ties →
            # lower code. Training needs no SQL-replay determinism —
            # only the trained index's recall is gated.
            d2 = xs_sq[:, None] + (cents * cents).sum(axis=1)[None, :]
            d2 -= 2.0 * (Xs @ cents.T)
            assign = np.argmin(d2, axis=1)
            counts = np.bincount(assign, minlength=k)
            sums = np.zeros((k, dsub))
            np.add.at(sums, assign, Xs)
            nz = counts > 0
            cents[nz] = sums[nz] / counts[nz, None]
        rows.extend(
            (s, c, [float(x) for x in cents[c]]) for c in range(k)
        )
    return rows


def _code_rows(V, cb, round_to: int = 9):
    """THE PQ code-assignment kernel: per subspace, nearest codebook
    entry by round-`round_to` squared L2 in BLAS expansion form
    (Σ(v−c)² = Σv² + Σc² − 2v·c; round-9 before argmin keeps the code
    choice aligned with the SQL replay — ulp noise from the expansion
    identity sits at ~1e-15, absorbed by the rounding like
    summation-order noise; ties → lower code). One definition shared
    by `pq_encode` and `ivfpq.ivfpq_pack_fused` — a rounding/tie fix
    must land exactly once or staged and fused code layouts silently
    diverge (r7 review)."""
    import numpy as np

    m, _, dsub = cb.shape
    codes = np.empty((V.shape[0], m), dtype=np.int32)
    for s in range(m):
        Vs = V[:, s * dsub : (s + 1) * dsub]
        d2 = (Vs * Vs).sum(axis=1)[:, None] + (cb[s] * cb[s]).sum(axis=1)[None, :]
        d2 -= 2.0 * (Vs @ cb[s].T)
        codes[:, s] = np.argmin(round_half_up(d2, round_to), axis=1)
    return codes


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 9,
    normalize: bool = True,
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """Compress the corpus → (id[, passthrough...], codes array<int>):
    per subspace the
    nearest codebook entry by round-9 squared L2 on the unit sphere
    (ties → lower code; `normalize=False` encodes the raw column —
    the IVF-PQ residual path). One Arrow batch = m argmin passes over
    a numpy distance matrix; no shuffle — the output inherits the
    input partitioning, so an IVF-partitioned corpus stays
    IVF-partitioned. `passthrough_cols`
    ride through the kernel unchanged — the IVF-PQ build carries
    cluster_id this way instead of re-joining (which would execute the
    assignment lineage twice plus an id shuffle).
    """
    import numpy as np
    import pandas as pd

    from mcp_vector_search_spark.operators.topk import id_type

    cb = _collect_codebooks(codebooks)
    m, _, dsub = cb.shape

    def encode(batches):
        for pdf in batches:
            if normalize:
                V = _unit_rows(pdf[vec_col])
            else:
                V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = _code_rows(V, cb, round_to)
            out = {id_col: pdf[id_col].to_numpy()}
            for c in passthrough_cols or []:
                out[c] = pdf[c].to_numpy()
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    extra = "".join(
        f", {c} {id_type(vectors, c)}" for c in passthrough_cols or []
    )
    return vectors.select(id_col, *(passthrough_cols or []), vec_col).mapInPandas(
        encode, f"{id_col} {id_type(vectors, id_col)}{extra}, codes array<int>"
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
    batch_buffer: int = 4,
) -> DataFrame:
    """ADC batch top-k over the codes → (query_id, id, adc_score, rn),
    adc_score = round(Σ_s round(lut, 9), 6)."""
    from mcp_vector_search_spark.operators import kernel

    qs = kernel.collect_queries(queries, query_id_col, query_vec_col)
    return kernel.score_topk(
        codes, kernel.rows(id_col, "codes"), qs, k,
        kernel.pq_codec(qs, _collect_codebooks(codebooks)), "adc_score", round_to,
        batch_buffer,
    )


def pq_topk_refined(
    vectors: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int,
    rerank_factor: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
) -> DataFrame:
    """ADC shortlist (k·rerank_factor) → exact rerank → (query_id, id,
    cos_sim, rn)."""
    from mcp_vector_search_spark.operators.kernel import exact_rerank

    shortlist = pq_adc_topk(
        codes, codebooks, queries, k * rerank_factor, id_col=id_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )
    return exact_rerank(
        vectors, shortlist, queries, k, vec_col, id_col, query_id_col,
        query_vec_col, round_to,
    )
