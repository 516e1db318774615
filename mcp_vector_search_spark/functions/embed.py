"""Embedding inference (reference F11, ``core/embeddings.py:426-1051``)
re-expressed for Spark.

Four pieces, mirroring the reference's architecture:

- `fake_embed_expr` — a deterministic pseudo-embedding as a pure
  column expression (SURVEY §5: "seeded-fake-embedding tests (hash
  text → pseudo-vector) so ranking math is still exact"). This is the
  oracle-checkable stand-in for a model.
- `embed_texts` — the one per-text inference function: the guarded
  real model when `model_name` names one that loads, else the same
  deterministic fake (the swap-in is that one argument). The serving
  path calls it on the driver for a single query string — no Spark
  job.
- `embed_batch` — the batch inference shape: `mapInPandas` over Arrow
  batches calling `embed_texts`, the model loaded once per python
  worker process.
- `embed_with_cache` — the reference's content-hash embedding cache
  (``embeddings.py:284-404``) as a join-before-infer: cache hits never
  reach the model, misses are inferred and unioned back. At 100 TB
  the cache join is the difference between re-embedding the corpus
  and embedding the delta.
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_DIM = 8


def _fake_dim(text: str, i: int) -> float:
    h = hashlib.md5(f"{text}#emb{i}".encode()).hexdigest()[:8]
    return round(int(h, 16) % 1000 / 999.0, 6)


def fake_embed_expr(text: Column | str, dim: int = DEFAULT_DIM) -> Column:
    """array<double>[dim] pseudo-embedding — md5-seeded per dimension,
    reproducible in any engine (and in `_fake_dim` above)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.array(
        *[
            F.round(
                (
                    F.conv(
                        F.substring(F.md5(F.concat(col, F.lit(f"#emb{i}"))), 1, 8),
                        16,
                        10,
                    ).cast("long")
                    % 1000
                )
                / 999.0,
                6,
            )
            for i in range(dim)
        ]
    )


@functools.lru_cache(maxsize=4)
def load_sentence_transformer(model_name: str):
    """Guarded real-model loader: returns a SentenceTransformer when
    the library (and weights) are available, else None — the swap-in is
    one config value (reference model registry, ``core/embeddings.py:
    108-283``; default all-MiniLM-L6-v2). lru_cached: one construction
    per process and model name, whether the caller is the driver's
    per-query path or a python worker running `embed_batch` batches."""
    try:
        from sentence_transformers import SentenceTransformer

        return SentenceTransformer(model_name)
    except Exception:
        return None


def embed_texts(
    texts: Sequence[str], dim: int = DEFAULT_DIM, model_name: str | None = None
) -> list[list[float]]:
    """One embedding per text, in order. With `model_name` set and the
    model loadable, the real encoder; otherwise the deterministic fake
    (values equal to `fake_embed_expr`). The single inference function
    behind `embed_batch` and the driver-side query embedding, so a
    served query vector and a batch-embedded one are the same floats."""
    model = load_sentence_transformer(model_name) if model_name else None
    if model is None:
        return [[_fake_dim(t, i) for i in range(dim)] for t in texts]
    vecs = model.encode(list(texts), batch_size=64, show_progress_bar=False)
    return [[float(x) for x in v] for v in vecs]


def embed_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DEFAULT_DIM,
    model_name: str | None = None,
) -> DataFrame:
    """(id, embedding) via Arrow-batched mapInPandas — the production
    inference shape. Each Arrow batch goes through `embed_texts`: with
    `model_name` set and sentence-transformers importable, each python
    worker process loads the model once (`load_sentence_transformer` is
    cached); otherwise the deterministic fake runs through the
    identical plumbing, so values match `fake_embed_expr` and stay
    oracle-checkable."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            emb = embed_texts(pdf[text_col].tolist(), dim, model_name)
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": emb})

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, embedding array<double>"
    )


def embed_with_cache(
    docs: DataFrame,
    cache: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fingerprint",
    dim: int = DEFAULT_DIM,
) -> tuple[DataFrame, DataFrame]:
    """→ (embeddings for all docs, updated cache).

    cache schema: (fingerprint, embedding). Join-before-infer: only
    fingerprints absent from the cache cross the Python boundary.
    """
    from mcp_vector_search_spark.functions.text import doc_fingerprint

    with_fp = docs.withColumn(fp_col, doc_fingerprint(text_col))
    hits = with_fp.join(cache, fp_col).select(id_col, "embedding")
    misses = with_fp.join(cache.select(fp_col), fp_col, "left_anti")
    inferred = embed_batch(misses, id_col, text_col, dim)
    new_entries = (
        misses.select(id_col, fp_col)
        .join(inferred, id_col)
        .select(fp_col, "embedding")
        .dropDuplicates([fp_col])
    )
    return hits.unionByName(inferred), cache.unionByName(new_entries)
