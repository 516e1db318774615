"""Deduplication operators for the training-data-pipeline surface.

Exact dedup, MinHash-LSH near-dup, and bounded n-gram Jaccard. These
generalize the reference's all-pairs similarity join (J11,
``core/relationships.py:240-351``) to document corpora.

100 TB notes:
- exact: one groupBy on a 128-bit fingerprint — the cheapest possible
  shuffle (fingerprint + id only, never the text).
- MinHash-LSH: signatures are map-side; the only shuffle is the
  (band_key → doc ids) exchange, and candidate pairs are generated
  per-bucket via a self-join on band_key — never all-pairs. Bucket
  skew (a giant near-dup cluster) is handled by AQE skew-join
  splitting; pathological buckets can additionally be capped.
- verification recomputes true Jaccard only on candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcp_vector_search_spark.functions.hashing import (
    SIMHASH_BITS,
    band_keys,
    hamming64,
    minhash_from_pairs,
    token_hash60,
    token_hash_pairs,
)
from mcp_vector_search_spark.functions.text import doc_fingerprint, tokenize, word_ngrams
from mcp_vector_search_spark.functions.vectors import cosine_sim, dot, normalized
from mcp_vector_search_spark.io import checkpoint


def global_positions(
    df: DataFrame, id_col: str, num_partitions: int = 32
) -> DataFrame:
    """`df` + dense 1-based `_pos` = global rank by `id_col`, WITHOUT a
    single-partition global window (VERDICT r3 #3: `Window.orderBy(id)`
    with no partition funnels the whole table through one task).

    The DataFrame port of RDD ``zipWithIndex``: range-repartition on
    the id, rank WITHIN each partition (a partitioned window —
    distributed), then add the partition's cumulative row offset. The
    offsets are one tiny collect (numPartitions rows). A
    ``localCheckpoint`` pins one materialization of the range
    partitioning so the offset job and the ranking job cannot see
    different sampled range boundaries.

    Works for any orderable id type (string ids included — the reason
    this doesn't use approxQuantile bucketing)."""
    from pyspark.sql.window import Window

    srt = (
        df.repartitionByRange(num_partitions, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
        .transform(checkpoint)
    )
    sizes = sorted(
        (r["_pid"], r["c"])
        for r in srt.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    )
    offs: list = []
    acc = 0
    for pid, cnt in sizes:
        offs.extend([F.lit(int(pid)), F.lit(int(acc))])
        acc += cnt
    if not offs:  # empty input
        offs = [F.lit(0), F.lit(0)]
    off = F.coalesce(F.element_at(F.create_map(*offs), F.col("_pid")), F.lit(0))
    lw = Window.partitionBy("_pid").orderBy(id_col)
    return srt.withColumn("_pos", F.row_number().over(lw) + off).drop("_pid")


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of docs with identical normalized content →
    (fingerprint, dup_count, keep_id = min doc id)."""
    fp = docs.select(F.col(id_col).alias("doc_id"), doc_fingerprint(text_col).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("dup_count") > 1)
    )


def shingle_sets(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, shingles array<string>) — distinct word n-grams."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_ngrams(tokenize(text_col), n)).alias("shingles"),
    )


def minhash_candidates(
    docs: DataFrame,
    num_hashes: int = 8,
    num_bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b, band collisions deduped).

    Signature/banding are per-row expressions; the pair generation is a
    self-equi-join on band_key — shuffle is on band keys, never a cross
    join.

    `max_bucket_size` drops pathological buckets (boilerplate that
    collides thousands of docs into one band key → a quadratic bucket).
    Production preset: num_hashes=128, num_bands=32, max_bucket_size a
    few hundred; the defaults here are toy-grade for oracle checking.

    Pass a (cached) `shingles` frame when the caller also runs
    `jaccard_verify` — both stages then share one shingle computation.
    Sharing the HASH-PAIR form (`shingle_hash_pairs`) is better still:
    the cache holds two longs per shingle instead of the shingle
    string, and the md5 pass runs once for signature AND verify.
    """
    if num_bands < 1 or num_hashes % num_bands != 0:
        # rows_per_band = 0 would degenerate every band key to the bare
        # band index — every doc collides with every doc, a silent full
        # cross join; a remainder would silently drop the tail
        # signature rows (r6 review #5)
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"num_bands ({num_bands})"
        )
    rows_per_band = num_hashes // num_bands
    if shingles is not None and "hp" in shingles.columns:
        hp = shingles.select("doc_id", "hp")
    else:
        sh = (
            shingles
            if shingles is not None
            else shingle_sets(docs, shingle_n, id_col, text_col)
        )
        # pair column materialized in its own projection: one md5 pass
        # per shingle, shared by all signature members (token_hash_pairs)
        hp = sh.select("doc_id", token_hash_pairs(F.col("shingles")).alias("hp"))
    sig = hp.select("doc_id", minhash_from_pairs(F.col("hp"), num_hashes).alias("sig"))
    banded = sig.select(
        "doc_id", F.explode(band_keys(F.col("sig"), num_bands, rows_per_band)).alias("band_key")
    )
    if max_bucket_size is not None:
        # One extra groupBy on band_key (same shuffle key as the join, so
        # AQE reuses the exchange); quadratic buckets never materialize.
        sizes = banded.groupBy("band_key").agg(F.count("*").alias("_bucket_n"))
        banded = (
            banded.join(sizes, "band_key")
            .filter(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def shingle_index(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, hp, h64) — the compact shareable shingle form, ONE
    tokenize+ngram pass:

    - `hp` array<struct<h1,h2>>: md5-half pairs, the (oracle-portable)
      seed material `minhash_candidates` derives signatures from;
    - `h64` array<bigint>: one xxhash64 per shingle, what
      `jaccard_verify` intersects.

    Cache THIS instead of the shingle strings: ~24 B/shingle of longs,
    the md5 pass runs once for signature AND verify, and primitive
    long-array intersects measured 1.5× faster than string intersects
    (struct-pair intersects measured 3× SLOWER — see BENCH_NOTES.md).
    Jaccard over h64 equals string Jaccard up to 64-bit collisions
    (~L²/2⁶⁴ per pair — negligible at any realistic doc size)."""
    return shingle_sets(docs, n, id_col, text_col).select(
        "doc_id",
        token_hash_pairs(F.col("shingles")).alias("hp"),
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("h64"),
    )


def jaccard_verify(
    candidates: DataFrame,
    shingles: DataFrame,
    threshold: float = 0.0,
    round_to: int = 6,
) -> DataFrame:
    """Exact Jaccard on candidate pairs → (doc_a, doc_b, jaccard ≥ t).

    Joins the shingle sets back per side; intersection/union via
    array_intersect (sets are already distinct). Accepts either the
    string form (`shingle_sets`) or the hashed form (`shingle_index`,
    preferred — primitive-array intersects)."""
    col = "h64" if "h64" in shingles.columns else "shingles"
    sa = shingles.select(F.col("doc_id").alias("doc_a"), F.col(col).alias("sh_a"))
    sb = shingles.select(F.col("doc_id").alias("doc_b"), F.col(col).alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, round_to))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def neighbor_jaccard(
    docs: DataFrame,
    window: int = 20,
    shingle_n: int = 3,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bounded n-gram Jaccard: compare each doc only to the next
    `window` docs *by id order* (a deterministic blocking scheme —
    O(window·N) pairs). Used as the oracle-checkable stand-in for full
    LSH verification.

    Positions are derived with a dense global rank over id order
    (`global_positions` — distributed, never a single-partition
    window), so string or sparse ids work (round 1 assumed dense
    monotone int ids and silently compared nothing on gaps).

    Shingles are carried as xxhash64 longs, not strings (r12; guide
    §2.3 — narrower types through every exchange, and primitive-array
    intersects): Jaccard over the hashes equals string Jaccard up to
    64-bit collisions (~L²/2⁶⁴ per pair), and an exhaustive check of
    EVERY window pair at sf0.001/0.01/0.1 measured 0 mismatches at
    round-6 (/tmp/ab_jacc.py, r12). The positioned frame is pinned
    once so the two join legs share one window pass instead of each
    re-sorting the array-laden frame (guide §7.2).
    """
    if window < 1:
        # sequence(pos+1, pos+0) counts DOWN to [pos+1, pos]: window=0
        # would pair every doc with itself at jaccard 1.0 instead of
        # comparing nothing (r6 review #5)
        raise ValueError(f"window must be >= 1, got {window}")
    hashed = shingle_sets(docs, shingle_n, id_col, text_col).select(
        "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles")
    )
    sh = global_positions(hashed, "doc_id").transform(checkpoint)
    # Explode each doc's neighbor-position list so the pairing is an
    # *equi-join* on _pos (shuffle-hash/sort-merge at scale), not a
    # broadcast-nested-loop range join.
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.explode(F.sequence(F.col("_pos") + 1, F.col("_pos") + window)).alias("_pos_b"),
    )
    b = sh.select(
        F.col("_pos").alias("_pos_b"), F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    pairs = a.join(b, "_pos_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash over the token set. Still no
    shuffle: the token hashes are a row-local JVM projection (one md5
    per token, oracle-portable), and the bit-majority fold runs as ONE
    vectorized Arrow pass (guide §4.2).

    r12: the expression form (``hashing.simhash`` — kept as the
    semantic reference and used by the equivalence test) evaluates 60
    `size(filter(hashes, bit i set))` passes per row, each allocating
    a filtered array — measured 6.7-7.5 s at sf0.1 where the numpy
    kernel (per-bit masked cumsum over the flattened values, sliced at
    the list offsets) runs 2.0-3.5 s, bit-identical output at
    sf0.001/0.01 (0 diffs, /tmp/exp_simhash.log; a packed-counter
    SWAR aggregate was also measured and LOST — struct accumulators
    leave whole-stage codegen). Only (id, hashes) cross the Python
    boundary — the text never does."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import LongType, StructField, StructType

    id_type = docs.schema[id_col].dataType
    out_schema = StructType([
        StructField("doc_id", id_type), StructField("simhash", LongType()),
    ])

    def _fold(it):
        for batch in it:
            lst = batch.column(1)
            arr = lst.combine_chunks() if isinstance(lst, pa.ChunkedArray) else lst
            offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            values = arr.values.to_numpy(zero_copy_only=False).astype(np.uint64)
            lo, hi = offsets[:-1], offsets[1:]
            n = (hi - lo).astype(np.int64)
            fp = np.zeros(len(n), dtype=np.uint64)
            cs = np.empty(len(values) + 1, dtype=np.int64)
            cs[0] = 0
            for i in range(SIMHASH_BITS):
                b = (values >> np.uint64(i)) & np.uint64(1)
                np.cumsum(b, out=cs[1:])
                cnt = cs[hi] - cs[lo]
                fp |= ((cnt * 2 > n).astype(np.uint64)) << np.uint64(i)
            # a null token array (null text upstream) fingerprints to 0,
            # exactly like the expression form (its per-bit
            # when(null).otherwise(0) folds every bit to 0); a null
            # entry's offsets are empty, so n=0 lands there already
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(fp.astype(np.int64))],
                names=["doc_id", "simhash"],
            )

    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokenize(text_col), token_hash60).alias("_hashes"),
    )
    return hashed.mapInArrow(_fold, out_schema)


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 6,
    num_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs → (doc_a, doc_b, hamming ≤ max_hamming).

    Pigeonhole blocking: split the 60-bit fingerprint into `num_bands`
    bands; any pair within hamming ≤ bands-1 must agree on ≥1 whole
    band, so candidates come from a self-equi-join on (band_idx,
    band_value) — never all-pairs. (max_hamming above bands-1 trades
    recall, the standard simhash-dedup compromise at scale.)
    """
    band_bits = 60 // num_bands
    band_mask = (1 << band_bits) - 1
    fp = simhash_fingerprints(docs, id_col, text_col)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("band_val"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def embedding_near_dups(
    vectors: DataFrame,
    window: int = 20,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
    method: str = "auto",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs → (id_a, id_b, cos_sim ≥
    threshold).

    Dispatch (VERDICT r4 #4): ``method="auto"`` (the default) ALWAYS
    takes the cluster-blocked scale path — never the old id-adjacency
    fallback, which silently missed any true near-dup pair more than
    `window` positions apart in id order. With no prebuilt layout it
    builds a sample-fit one on the fly (one bounded driver-side
    Lloyd's fit + one map-side assignment scan —
    `ivf_build_sampled`'s cost contract) and blocks with
    top-2 MULTIPROBE assignment, so pairs straddling a Voronoi
    boundary of the sampled centroids are still compared (2× the
    blocking shuffle of single-probe — the correctness-leaning
    default). When the caller supplies `assigned` (or asks for
    ``method="clustered"``), candidates block on that single
    assignment: Σ|c|² pairs, boundary pairs knowingly skipped — the
    lean explicit path (`embedding_near_dups_multiprobe` recovers
    them when needed). ``method="window"`` must be requested
    EXPLICITLY — the deterministic, oracle-checkable blocker
    (positions from the distributed `global_positions`, never a
    single-partition window), kept for hash-gating and for corpora
    where id order IS locality. `window` only applies to that method
    and is ignored by the clustered paths."""
    if method not in ("auto", "window", "clustered"):
        raise ValueError(f"unknown method {method!r}")
    if method == "auto" and assigned is None:
        from mcp_vector_search_spark.operators.ivf import ivf_build_sampled

        _, centroids = ivf_build_sampled(vectors, vec_col=vec_col, id_col=id_col)
        return embedding_near_dups_multiprobe(
            vectors,
            centroids,
            threshold=threshold,
            nprobe=2,
            vec_col=vec_col,
            id_col=id_col,
            round_to=round_to,
        )
    if method in ("auto", "clustered"):
        if assigned is None:
            from mcp_vector_search_spark.operators.ivf import ivf_build_sampled

            assigned, _ = ivf_build_sampled(
                vectors, vec_col=vec_col, id_col=id_col
            )
        return embedding_near_dups_clustered(
            assigned,
            threshold=threshold,
            vec_col=vec_col,
            id_col=id_col,
            round_to=round_to,
        )
    if window < 1:
        # same descending-sequence trap as neighbor_jaccard: window=0
        # would emit self-pairs at cos_sim 1.0 (r6 review #5)
        raise ValueError(f"window must be >= 1, got {window}")
    # Unit-normalize ONCE per vector (N rows) so the per-PAIR
    # similarity is a single dot — cosine_sim per pair re-derives both
    # norms (3 array-dots + sqrt), ~5x the work at the O(window.N)
    # pair stage (r12; guide §1.2 — don't recompute per pair what is
    # fixed per row). Zero-norm vectors map to the zero vector, so
    # dot = 0.0 exactly like cosine_sim's zero-denominator branch.
    pos = global_positions(
        normalized(vectors, vec_col, "_ua").select(
            F.col(id_col).alias("id_a"), "_ua"
        ),
        "id_a",
    )
    a = pos.select(
        "id_a", "_ua", F.explode(F.sequence(F.col("_pos") + 1, F.col("_pos") + window)).alias("_pos_b")
    )
    b = pos.select(
        F.col("_pos").alias("_pos_b"), F.col("id_a").alias("id_b"), F.col("_ua").alias("_ub")
    )
    sim = F.round(dot(F.col("_ua"), F.col("_ub")), round_to)
    return (
        a.join(b, "_pos_b")
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_near_dups_clustered(
    assigned: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Scale path: candidate pairs only within the same IVF cluster
    (`ivf_build` output) — the shuffle key is cluster_id, pair count is
    Σ|cluster|² instead of N². Near-dup pairs straddling a cluster
    boundary are missed; multi-probe assignment recovers them if needed."""
    # Unit-normalize once per row (N) so the Σ|c|² pair stage pays a
    # single dot per pair instead of cosine_sim's 3 dots + sqrt (r12;
    # guide §1.2). The checkpoint then pins the unit form directly.
    slim = normalized(assigned, vec_col, "_u").select(
        F.col("cluster_id"), F.col(id_col).alias("_id"), "_u"
    )
    # both sides of the self-join re-execute `assigned`'s lineage —
    # typically the map-side assignment scan over the full vector
    # table — so materialize it once (r12; guide §7.2)
    slim = checkpoint(slim)
    a, b = slim.alias("a"), slim.alias("b")
    sim = F.round(dot(F.col("a._u"), F.col("b._u")), round_to)
    return (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"), "cos_sim")
    )


def embedding_near_dups_multiprobe(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Cluster blocking with top-`nprobe` multi-assignment — recovers
    the near-dup pairs single-probe blocking misses at cluster
    boundaries (a straddling pair almost always shares its 2nd-nearest
    cluster). `centroids` is the `ivf_build`/`ivf_build_sampled`
    (cluster_id, centroid) table; assignment is a broadcast join +
    per-id rank window (distributed, round-9 cosine, tie → lower
    cluster — the same deterministic contract as the IVF probe path).

    Candidate generation stays Σ|c|²-shaped; multi-assignment
    duplicates each vector `nprobe`× in the blocking shuffle and
    duplicate pairs (sharing >1 probe cluster) are deduped on ids
    BEFORE the cosine is computed."""
    from pyspark.sql.window import Window

    eu = normalized(vectors, vec_col, "_u").select(
        F.col(id_col).alias("_id"), "_u"
    )
    cents = centroids.select(
        "cluster_id", F.col("centroid").alias("_cu")
    )
    aw = Window.partitionBy("_id").orderBy(F.desc("_cs"), F.asc("cluster_id"))
    probes = (
        eu.join(F.broadcast(cents))
        # cosine (NOT raw dot): ivf_build centroids are cluster MEANS
        # with varying norms — a raw dot would rank tight clusters
        # over genuinely-nearer diffuse ones. cosine_sim normalizes
        # both sides, the same round-9 rule as ivf_topk_batch's probes.
        .withColumn("_cs", F.round(cosine_sim(F.col("_u"), F.col("_cu")), 9))
        .withColumn("_rn", F.row_number().over(aw))
        .filter(F.col("_rn") <= nprobe)
        .select("_id", "cluster_id")
    )
    # the self-join references the probe subtree twice, and that
    # subtree is the expensive part (N×|centroids| broadcast-join rows
    # through a per-id rank window) — materialize the slim
    # (_id, cluster_id) result once (r12; guide §7.2)
    probes = checkpoint(probes)
    a, b = probes.alias("a"), probes.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # single dot over the unit vectors per pair — the verification
    # stage was 5x the whole gate's remaining cost with per-pair
    # cosine_sim (measured 15.4s -> 3.0s at sf0.1, r12; guide §1.2)
    va = eu.select(F.col("_id").alias("id_a"), F.col("_u").alias("_ua"))
    vb = eu.select(F.col("_id").alias("id_b"), F.col("_u").alias("_ub"))
    sim = F.round(dot(F.col("_ua"), F.col("_ub")), round_to)
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per doc, how many distinct word
    n-grams it shares with an evaluation set → (doc_id, n_hits,
    contaminated). The standard pre-training hygiene step (an eval
    example whose n-grams leak into the corpus inflates downstream
    scores); n=5..13 word-gram overlap is the published recipe.

    100 TB shape: both sides explode to DISTINCT (gram, id) pairs —
    the join key is the gram string, so the shuffle carries grams and
    ids, never document text. A benchmark set is thousands of docs →
    its gram side is broadcast-sized in practice (Spark's threshold
    decides); corpus-side grams are map-side generated and
    partial-aggregated before the final per-doc count.
    """
    corpus_grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_ngrams(tokenize(text_col), n))
        ).alias("gram"),
    )
    bench_grams = benchmark.select(
        F.explode(
            F.array_distinct(word_ngrams(tokenize(bench_text_col), n))
        ).alias("gram")
    ).distinct()
    hits = (
        corpus_grams.join(bench_grams, "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 50,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Cross-document duplicate SPANS — the Spark form of
    exact-substring training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": any
    ≥k-token substring occurring more than once in the corpus is
    duplicated text). The reference's whole-doc similarity join (J11)
    can't see a boilerplate header shared by a million otherwise-
    distinct pages; this operator marks the span itself.

    The paper builds a corpus suffix array — inherently sequential.
    The distributed equivalent: hash every k-token window, keep window
    hashes occurring ≥ `min_count` times corpus-wide, then merge each
    doc's surviving (overlapping or touching) windows into maximal
    islands:

        (doc_id, span_start, span_end, n_windows)   — 1-based token
        positions, inclusive; every maximal duplicated region ≥ k
        tokens appears as exactly one row.

    100 TB shape: two shuffles, both on the window-hash key — the
    HAVING-count aggregate (map-side combined) and the semi-join back;
    the island merge is a doc-partitioned window, never global. The
    shuffle carries (hash, doc_id, pos), never text. md5-of-window
    (default) is the oracle-portable gate form; `hash_fn="xxhash64"`
    is the production form (8-byte long keys halve the exchange) —
    span-for-span equivalence of the two is pinned by a pytest.
    """
    from pyspark.sql.window import Window

    hasher = {"md5": F.md5, "xxhash64": F.xxhash64}[hash_fn]
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
    )
    # one hash per window start (1-based); docs shorter than k emit none
    wins = toks.filter(F.size("toks") >= k).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - k + 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    hasher(F.concat_ws(" ", F.slice("toks", i, k))).alias("wh"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.wh").alias("wh"))

    # `wins` feeds BOTH the corpus-wide count and the semi-join back,
    # and the two consumers shuffle different payloads, so no exchange
    # is reused — unmaterialized, the expensive window-hash pass (one
    # k-token hash per token position) executed twice per action
    # (r12; guide §7.2). One eager localCheckpoint of the slim
    # (doc_id, pos, wh) rows halves the hashing work.
    wins = checkpoint(wins)
    dup_hashes = (
        wins.groupBy("wh").agg(F.count("*").alias("c")).filter(F.col("c") >= min_count)
    )
    dup_pos = wins.join(dup_hashes.select("wh"), "wh", "left_semi")

    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    # an island continues while spans overlap OR touch: a window at
    # prev_end+1 starts exactly where the previous span stopped, so
    # the duplicated region is contiguous and must stay one row
    flagged = dup_pos.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_windows"),
        )
        .drop("island")
    )


def strip_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rebuild each doc's text with its duplicated spans removed —
    the destructive half of exact-substring dedup (Lee et al. drop
    the repeated occurrence; here every occurrence in a flagged span
    is dropped, the conservative choice for boilerplate).

    Output keeps the input schema with `text_col` rewritten from the
    tokens OUTSIDE every flagged span (single-space joined — the
    same canonicalization `normalized_text` applies). Docs with no
    flagged span pass through with their text untouched.

    `spans` is `duplicate_spans` output, whose id column is always
    named ``doc_id`` (whatever `id_col` the detector was given);
    `id_col` here names the column in `docs`.
    """
    agg = spans.groupBy(F.col("doc_id").alias("_sid")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = docs.join(agg, docs[id_col] == agg["_sid"], "left")
    toks = tokenize(text_col)
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct((i + 1).alias("p"), t.alias("t"))),
        lambda s: ~F.exists(
            F.col("_spans"),
            lambda sp: (s["p"] >= sp["span_start"]) & (s["p"] <= sp["span_end"]),
        ),
    )
    rebuilt = F.concat_ws(" ", F.transform(kept, lambda s: s["t"]))
    out_text = F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(rebuilt)
    return joined.withColumn(text_col, out_text).drop("_sid", "_spans")
