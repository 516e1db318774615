"""Durable serving layouts for the packed codec family (r6).

Round 5 gave the float IVF layout a full disk lifecycle
(``operators/ivf.py:write_ivf_layout``/``read_ivf_layout`` — blocks
partitioned for physical pruning, append with a quantizer-equality
guard, streaming sink, compaction). The PQ/SQ code layouts — the
codecs that carry the 100 TB memory story (80× smaller than float
vectors) — only lived in the session cache. This module is the
generic write/read/append for any packed layout:

    {path}/blocks/...       parquet, partitioned (part_col, batch_id)
    {path}/<meta_name>/...  one parquet table per metadata frame
                            (centroids, codebooks, bounds, ...)

matching the reference's persisted-index behavior (LanceDB tables,
``vectors_backend.py:202-341``) re-expressed as parquet + partition
pruning. The partition scheme shares the float layout's
(part, batch_id) shape — batch writes stamp batch_id=-1 — so a
future streaming sink can append per-micro-batch partitions the same
way `ann_layout_sink` does.

Append contract: appended blocks MUST be encoded against the SAME
metadata (same coarse centroids, same codebooks, same SQ bounds) —
mixed quantizers silently corrupt recall — so ``mode="append"``
verifies every persisted metadata table equals the given one exactly
(all are small: ≤512 centroids, m·k codebook rows, one bounds row)
and raises on drift. A re-fit means a new layout path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _rows_key(rows) -> list:
    """Order-insensitive, nested-list-insensitive comparison key for a
    small collected metadata table."""

    def norm(v):
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v

    return sorted(tuple(norm(v) for v in row) for row in rows)


def write_codec_layout(
    packed: DataFrame,
    meta: dict[str, DataFrame],
    path: str,
    mode: str = "overwrite",
    part_col: str = "cluster_id",
) -> None:
    """Persist a packed layout: blocks partitioned by
    (part_col, batch_id) + one table per metadata frame. See module
    docstring for the append contract."""
    if "batch_id" not in packed.columns:
        packed = packed.withColumn("batch_id", F.lit(-1))
    if mode == "append":
        spark = packed.sparkSession
        for name, df in meta.items():
            try:
                existing = spark.read.parquet(f"{path}/{name}").collect()
            except Exception as e:
                raise ValueError(
                    f"append to a layout with no readable {name} table at "
                    f"{path}/{name}: write the initial layout with "
                    f"mode='overwrite' first ({e.__class__.__name__})"
                ) from e
            if _rows_key(existing) != _rows_key(df.collect()):
                raise ValueError(
                    f"append {name} differ from the persisted layout — "
                    f"blocks packed against refit {name} / different "
                    "quantizer state cannot be appended (overwrite, or "
                    "use a new path)"
                )
        # partition-scheme guard: a legacy layout partitioned without
        # batch_id would end up with two partition depths under
        # blocks/ after this append — refuse instead of corrupting
        # partition discovery. An unreadable/absent blocks dir is NOT
        # an error (the metadata check above proved this is a layout):
        # the append simply writes the first blocks.
        try:
            standing_cols = spark.read.parquet(f"{path}/blocks").columns
        except Exception:
            standing_cols = None
        if standing_cols is not None and "batch_id" not in standing_cols:
            raise ValueError(
                f"standing layout's blocks are not partitioned by "
                f"({part_col}, batch_id) — rewrite it with "
                "mode='overwrite' before appending"
            )
        packed.write.mode("append").partitionBy(part_col, "batch_id").parquet(
            f"{path}/blocks"
        )
        return
    if mode == "overwrite":
        # STAGE the whole layout and swap the root: writing blocks/
        # then each metadata table directly into `path` left a crash
        # window where new blocks sat beside the OLD quantizer
        # metadata — the silent mixed-quantizer corruption the append
        # guard above exists to prevent, with nothing to detect it
        # afterwards (r6 review #7). Same stage+swap contract as
        # compact_codec_layout; a reader hitting the swap window gets
        # a retryable missing-path error, never a mixed layout.
        from mcp_vector_search_spark.io import (
            atomic_swap_dir,
            delete_path,
            recover_swap,
        )

        spark = packed.sparkSession
        tmp = path.rstrip("/") + ".tmp"
        delete_path(spark, tmp)
        packed.write.mode("overwrite").partitionBy(part_col, "batch_id").parquet(
            f"{tmp}/blocks"
        )
        for name, df in meta.items():
            df.write.mode("overwrite").parquet(f"{tmp}/{name}")
        recover_swap(path)
        # a standing `kind` manifest (written by the facade's
        # save_ann_index) rides along into the staged root: the swap
        # replaces the WHOLE directory, and silently dropping the
        # manifest broke load-after-retrain and lost the wrong-kind
        # load guard (r6 review). A kind CHANGE never reaches here
        # with a manifest present — save_ann_index retires it first.
        try:
            kind = spark.read.parquet(f"{path}/kind")
            spark.createDataFrame(kind.collect(), kind.schema).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/kind")
        except Exception:
            pass
        atomic_swap_dir(tmp, path)
        return
    packed.write.mode(mode).partitionBy(part_col, "batch_id").parquet(
        f"{path}/blocks"
    )
    for name, df in meta.items():
        df.write.mode(mode).parquet(f"{path}/{name}")


def read_codec_layout(
    spark: SparkSession, path: str, meta_names: tuple[str, ...]
) -> tuple[DataFrame, ...]:
    """(blocks, *meta) — ready for the packed scoring kernels
    (batch_id rides along as a passthrough column they ignore)."""
    from mcp_vector_search_spark.io import recover_swap

    # the overwrite path above swaps the layout ROOT — recover a
    # crash-stranded `<path>.old` before reading (r6 review)
    recover_swap(path)
    return (spark.read.parquet(f"{path}/blocks"),) + tuple(
        spark.read.parquet(f"{path}/{name}") for name in meta_names
    )


def write_ivfpq_layout(
    packed_codes: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Persist an IVF-PQ code layout (`ivfpq_pack` blocks + coarse
    centroids + per-subspace codebooks). Append verifies BOTH the
    coarse quantizer and the codebooks are unchanged."""
    write_codec_layout(
        packed_codes,
        {"centroids": centroids, "codebooks": codebooks},
        path,
        mode=mode,
        part_col="cluster_id",
    )


def read_ivfpq_layout(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(packed_codes, centroids, codebooks) for `ivfpq_topk_packed` /
    `ivfpq_topk_refined(packed_codes=...)`."""
    return read_codec_layout(spark, path, ("centroids", "codebooks"))


def write_sq_layout(
    packed_codes: DataFrame,
    bounds: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Persist an SQ code layout (`sq_pack` blocks + the pinned
    per-dimension bounds). SQ blocks are hash-bucketed, not
    clustered, so the partition column is `bucket`; there is no probe
    pruning (the SQ scan is flat) — persistence here buys the
    startup/restart story and the 8× smaller scan bytes."""
    write_codec_layout(
        packed_codes, {"bounds": bounds}, path, mode=mode, part_col="bucket"
    )


def read_sq_layout(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(packed_codes, bounds) for `sq_topk_packed` /
    `sq_topk_refined(packed_codes=...)`."""
    return read_codec_layout(spark, path, ("bounds",))


def repack_codec_blocks(
    packed: DataFrame,
    part_col: str,
    width_col: str,
    blob_col: str,
    dtype_col: str | None = "dtype",
    fixed_dtype: str | None = None,
    rows_per_block: int = 1 << 20,
    max_block_bytes: int = 32 << 20,
) -> DataFrame:
    """Generic block-merge for any packed codec layout (r6 — the
    codes analogue of `operators/ivf.py:repack_blocks`): concatenate a
    partition's fragmented blocks, re-sort by id, re-split by the
    shared `block_step` rule. Works for ivfpq blocks
    (part=cluster_id, width=m, blob=codes, dtype column) and sq
    blocks (part=bucket, width=d, blob=codes, fixed uint8) alike;
    nothing is re-encoded — the blobs move, bit-identical serving by
    construction."""
    import numpy as np
    import pandas as pd

    from mcp_vector_search_spark.operators.ivf import block_step
    from mcp_vector_search_spark.operators.topk import id_type

    idt = id_type(packed, "vec_ids")
    elem = idt[len("array<"):-1] if idt.startswith("array<") else idt
    keep = [part_col, "block_id", "n", width_col] + (
        [dtype_col] if dtype_col else []
    ) + ["vec_ids", blob_col]
    dtype_ddl = f"{dtype_col} string, " if dtype_col else ""
    out_schema = (
        f"{part_col} int, block_id int, n int, {width_col} int, "
        f"{dtype_ddl}vec_ids array<{elem}>, {blob_col} binary"
    )

    def repack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(key[0])
        if dtype_col:
            # a stream can legitimately mix widths within a partition
            # (ivfpq_pack picks uint8/uint16 per batch by max code) —
            # upcast to the widest present instead of refusing to
            # compact exactly the fragments this exists to merge
            # (r6 review)
            dtypes = sorted(set(pdf[dtype_col]), key=lambda d: np.dtype(d).itemsize)
            dt = dtypes[-1]
        else:
            dt = fixed_dtype or "uint8"
        np_dtype = np.dtype(dt)
        width = int(pdf[width_col].iloc[0])
        mats = [
            np.frombuffer(
                getattr(r, blob_col),
                dtype=np.dtype(getattr(r, dtype_col)) if dtype_col else np_dtype,
            )
            .reshape(int(r.n), width)
            .astype(np_dtype)
            for r in pdf.itertuples()
        ]
        M = np.concatenate(mats) if len(mats) > 1 else mats[0]
        ids = np.concatenate([np.asarray(v) for v in pdf["vec_ids"]])
        order = np.argsort(ids, kind="stable")
        M, ids = M[order], ids[order]
        step = block_step(width * np_dtype.itemsize, rows_per_block, max_block_bytes)
        rows = []
        for b, s in enumerate(range(0, len(ids), step)):
            blk = np.ascontiguousarray(M[s : s + step])
            row = [part, b, blk.shape[0], width]
            if dtype_col:
                row.append(dt)
            row += [ids[s : s + step].tolist(), blk.tobytes()]
            rows.append(tuple(row))
        cols = [part_col, "block_id", "n", width_col] + (
            [dtype_col] if dtype_col else []
        ) + ["vec_ids", blob_col]
        return pd.DataFrame(rows, columns=cols)

    return packed.select(*keep).groupBy(part_col).applyInPandas(repack, out_schema)


def compact_codec_layout(
    spark: SparkSession,
    layout_path: str,
    part_col: str,
    width_col: str,
    blob_col: str,
    dtype_col: str | None = "dtype",
    fixed_dtype: str | None = None,
    rows_per_block: int = 1 << 20,
    max_block_bytes: int = 32 << 20,
    require_meta: tuple[str, ...] = (),
) -> tuple[int, int]:
    """Compaction for any packed layout: merge per-batch block
    fragments, stage under blocks.tmp, atomic rename-aside swap.
    QUIESCED-stream contract with a pre-swap abort (see
    `streaming.incremental.compact_ann_layout`, which delegates
    here); metadata tables are untouched. `require_meta` names
    metadata tables that must be readable first — compacting a path
    that is not actually a layout is refused. Returns
    (blocks_before, blocks_after)."""
    from mcp_vector_search_spark.io import atomic_swap_dir, recover_swap

    blocks_path = f"{layout_path}/blocks"
    recover_swap(blocks_path)
    for name in require_meta:
        try:
            spark.read.parquet(f"{layout_path}/{name}").head(1)
        except Exception as e:
            raise ValueError(
                f"{layout_path} has no readable {name} table — not a "
                f"packed layout ({e.__class__.__name__})"
            ) from e
    standing = spark.read.parquet(blocks_path)
    n_before = standing.count()
    compacted = repack_codec_blocks(
        standing,
        part_col,
        width_col,
        blob_col,
        dtype_col=dtype_col,
        fixed_dtype=fixed_dtype,
        rows_per_block=rows_per_block,
        max_block_bytes=max_block_bytes,
    ).withColumn("batch_id", F.lit(-1))
    tmp = blocks_path + ".tmp"
    compacted.write.mode("overwrite").partitionBy(part_col, "batch_id").parquet(tmp)
    n_after = spark.read.parquet(tmp).count()
    if spark.read.parquet(blocks_path).count() != n_before:
        # delete_path, not shutil.rmtree: on scheme-qualified paths
        # (hdfs://, s3a://, file://) rmtree silently cannot address the
        # URI and would leave blocks.tmp debris (r6 advice)
        from mcp_vector_search_spark.io import delete_path

        delete_path(spark, tmp)
        raise RuntimeError(
            "blocks changed during compaction (a live stream is appending) "
            "— quiesce the stream and retry; nothing was modified"
        )
    atomic_swap_dir(tmp, blocks_path)
    return n_before, n_after


def load_local_meta(spark: SparkSession, layout_path: str, name: str) -> DataFrame:
    """A layout metadata table as a lineage-free LOCAL frame — loaded
    once at sink creation (metadata is immutable for a layout's
    lifetime by contract) so the sink closure holds no storage scan."""
    df = spark.read.parquet(f"{layout_path}/{name}")
    return spark.createDataFrame(df.collect(), df.schema)


def write_stream_blocks(
    packed: DataFrame, layout_path: str, part_col: str, batch_id: int
) -> None:
    """The one micro-batch write shape every layout sink shares:
    per-batch (part, batch_id) partitions with dynamic partition
    overwrite, so a REPLAYED batch (foreachBatch at-least-once
    restart window) deterministically overwrites its own partitions
    instead of double-appending blocks."""
    (
        packed.withColumn("batch_id", F.lit(int(batch_id)))
        .write.partitionBy(part_col, "batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(f"{layout_path}/blocks")
    )
