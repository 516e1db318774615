"""Multimodal columns: opaque binary media + typed metadata, with
feature extraction as Arrow-batched `mapInPandas`.

The pattern for a 100 TB multimodal corpus: media stays an opaque
`binary` column (never parsed by Catalyst), metadata is typed columns
(media_type, width, height) so filters prune before any decode, and
the decode/feature step is a `mapInPandas` over Arrow batches — the
only Python hop in the pipeline, vectorized per batch.

No image/audio decode library is a dependency, so the default
extractor is a clearly-marked deterministic fake over the raw bytes;
the Spark-side plumbing (schema, batching, partitioning) is real and
tested.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 4


def attach_fake_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Dress a text corpus as a multimodal one: utf-8 bytes as the
    opaque media blob + typed metadata columns."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "utf-8").alias("media"),
        F.lit("image/fake").alias("media_type"),
        (F.octet_length(F.col(text_col)) % 640).cast("int").alias("width"),
        (F.octet_length(F.col(text_col)) % 480).cast("int").alias("height"),
    )


def _fake_features(blob: bytes) -> list[float]:
    """Deterministic stand-in for a decoder+embedder: byte statistics
    scaled to [0,1]. Stable across engines and runs."""
    if not blob:
        return [0.0] * FEATURE_DIM
    n = len(blob)
    return [
        blob[0] / 255.0,
        blob[n // 2] / 255.0,
        blob[-1] / 255.0,
        (n % 256) / 255.0,
    ]


def extract_features(media: DataFrame, batch_size_hint: int | None = None) -> DataFrame:
    """(doc_id, n_bytes, feature[4]) via mapInPandas.

    One Arrow batch in, one out — the generator never materializes the
    partition. Metadata filters placed *before* this operator prune at
    the parquet scan; only surviving blobs cross the Python boundary.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            blobs = pdf["media"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": blobs.map(len),
                    "feature": blobs.map(_fake_features),
                }
            )

    # schema follows the INPUT id type (string chunk ids, long doc ids
    # alike) — a hardcoded 'doc_id long' failed with an Arrow cast
    # error on string-keyed corpora (r6 review #5)
    from mcp_vector_search_spark.operators.topk import id_type

    schema = (
        f"doc_id {id_type(media, 'doc_id')}, n_bytes long, "
        "feature array<double>"
    )
    return media.mapInPandas(run, schema=schema)
