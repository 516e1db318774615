"""Portable deterministic hashing for ids, fingerprints and MinHash.

Design constraint: every hash must be reproducible in ANSI SQL (DuckDB
oracle) AND in Spark. Engine-native hashes (`xxhash64`, DuckDB `hash`)
differ across engines, so all sketches are built on `md5(text)` and the
*lexicographic* order of hex digests — a uniform 128-bit hash family:
`h_seed(t) = md5(t || '#' || seed)`, min taken as string-min.

Reference parity: chunk ids are deterministic SHA-256 composites
(``core/models.py:292-303``); the MinHash/SimHash family is the
scale-path addition for 100 TB dedup (not in the reference, required by
the training-data-pipeline surface).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def token_hash_pairs(tokens: Column) -> Column:
    """array<struct<h1:long, h2:long>> — ONE md5 per element, parsed
    into two 40-bit halves: the seed material for the Carter-Wegman
    MinHash family. MATERIALIZE this into its own column (a separate
    projection) before deriving signature members; referencing the
    expression from each of `num_hashes` member expressions would
    re-run the md5 pass per member."""
    return F.transform(
        F.transform(tokens, lambda t: F.md5(t)),
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 10), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 11, 10), 16, 10).cast("long").alias("h2"),
        ),
    )


def minhash_from_pairs(pairs: Column, num_hashes: int) -> Column:
    """array<long> MinHash signature from materialized hash pairs:
    member s = min over elements of (h1 + s·h2) — the standard
    two-hash universal family, so the corpus pays ONE md5 per shingle
    total instead of one per shingle per seed (~num_hashes× less
    hashing on the 100 TB map side). 40-bit halves keep
    h1 + s·h2 < 2^44: no ANSI overflow. Empty arrays get the
    deterministic sentinel -(s+1)."""

    def member(s: int) -> Column:
        # single-arg lambda in a dedicated scope: a 2-arg lambda (even
        # with a default!) makes Spark pass the array INDEX as arg 2,
        # silently shadowing the captured seed
        return F.coalesce(
            F.array_min(
                F.transform(
                    pairs, lambda p: p.getField("h1") + F.lit(s) * p.getField("h2")
                )
            ),
            F.lit(-(s + 1)).cast("long"),
        )

    return F.array(*[member(s) for s in range(num_hashes)])


def minhash_signature(tokens: Column, num_hashes: int) -> Column:
    """One-shot convenience: `minhash_from_pairs(token_hash_pairs(t))`.
    Hot paths (``dedup.minhash_candidates``) materialize the pair
    column between the two calls — see `token_hash_pairs`."""
    return minhash_from_pairs(token_hash_pairs(tokens), num_hashes)


def band_keys(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """LSH band keys: array of `band_idx : sig_row : sig_row : ...`.

    Two docs collide on a band iff all `rows_per_band` minhashes in
    that band are equal — the standard banding amplification. The ':'
    separator between MEMBERS matters: signature members are
    variable-length decimal longs, and delimiter-free concatenation
    would alias e.g. (12, 345) with (123, 45) into one bucket.
    """
    keys = []
    for b in range(num_bands):
        parts: list[Column] = [F.lit(f"{b}")]
        for r in range(rows_per_band):
            parts.append(F.lit(":"))
            parts.append(F.element_at(signature, b * rows_per_band + r + 1))
        keys.append(F.concat(*parts))
    return F.array(*keys)


SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit long


def token_hash60(token: Column) -> Column:
    """60-bit integer hash of a token: md5 prefix parsed base-16 —
    identical in Spark (`conv`), DuckDB (hex cast) and Python
    (`int(md5[:15], 16)`)."""
    return F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long")


def simhash(hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash fingerprint from a pre-computed array of token hashes:
    bit i is set iff a strict majority of tokens have bit i set.

    `hashes` must be a *materialized* column (one `transform` pass in a
    prior projection) — referencing it here 60× is a column lookup;
    inlining token_hash60 60× would re-run md5 per bit.
    Row-local: zero shuffle at any corpus size.
    """
    def bit_cnt(mask: Column) -> Column:
        # single-arg lambda in its own scope (see minhash_signature)
        return F.size(F.filter(hashes, lambda h: h.bitwiseAND(mask) != 0))

    n = F.size(hashes)
    acc = F.lit(0).cast("long")
    for i in range(bits):
        mask = F.lit(1 << i).cast("long")
        acc = acc + F.when(bit_cnt(mask) * 2 > n, mask).otherwise(F.lit(0).cast("long"))
    return acc


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two long fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def chunk_id_expr(
    file_path: Column, chunk_type: Column, name: Column, start: Column, end: Column, content: Column
) -> Column:
    """Deterministic chunk id — sha256 composite truncated to 16 hex
    chars, mirroring ``core/models.py:292-303`` (pure function of the
    row, reproducible anywhere).

    Null handling matches the reference's defaults (name → "",
    start/end → 0): inputs are coalesced *before* concat_ws, because
    concat_ws silently drops NULL arguments (and their separator),
    which would collapse `path:type::0:5:h` into `path:type:0:5:h`.
    """
    return F.sha2(
        F.concat_ws(
            ":",
            F.coalesce(file_path, F.lit("")),
            F.coalesce(chunk_type, F.lit("")),
            F.coalesce(name, F.lit("")),
            F.coalesce(start, F.lit(0)).cast("string"),
            F.coalesce(end, F.lit(0)).cast("string"),
            F.sha2(F.coalesce(F.substring(content, 1, 100), F.lit("")), 256).substr(1, 8),
        ),
        256,
    ).substr(1, 16)
