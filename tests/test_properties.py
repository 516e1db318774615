"""Property-based invariants (hypothesis) for the core column
functions — the reference's test suite leans on fuzz-ish corpora
(SURVEY §5); these cover the same ground generatively.

Examples are kept small and few: each example round-trips through a
Spark job, so the budget is max_examples≈8 per property.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_text = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Po", "Zs")),
    max_size=80,
)
_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(_text)
@_settings
def test_tokenize_invariants(spark, s):
    """Tokens are non-empty, lowercase-alphanumeric, and idempotent
    under re-tokenization of the joined text."""
    from mcp_vector_search_spark.functions.text import tokenize

    df = spark.createDataFrame([(s,)], "s string")
    row = df.select(
        tokenize("s").alias("t"),
        tokenize(F.array_join(tokenize("s"), " ")).alias("t2"),
    ).first()
    assert all(t and t == t.lower() for t in row["t"])
    assert row["t"] == row["t2"]


@given(_text, _text)
@_settings
def test_fingerprint_invariance(spark, a, b):
    """doc_fingerprint is whitespace/punct-normalizing: equal token
    streams ⇒ equal fingerprints; different token streams ⇒ different."""
    from mcp_vector_search_spark.functions.text import doc_fingerprint, tokenize

    df = spark.createDataFrame([(a, b)], "a string, b string")
    row = df.select(
        doc_fingerprint("a").alias("fa"),
        doc_fingerprint("b").alias("fb"),
        tokenize("a").alias("ta"),
        tokenize("b").alias("tb"),
    ).first()
    assert (row["fa"] == row["fb"]) == (row["ta"] == row["tb"])


@given(st.lists(st.integers(0, 30), min_size=1, max_size=12))
@_settings
def test_minhash_identical_docs_collide(spark, xs):
    """Identical token arrays always produce identical signatures and
    band keys (the LSH recall floor for exact dups)."""
    from mcp_vector_search_spark.functions.hashing import (
        band_keys,
        minhash_from_pairs,
        token_hash_pairs,
    )

    toks = [f"t{x}" for x in xs]
    df = spark.createDataFrame([(1, toks), (2, toks)], "i long, t array<string>")
    sigs = df.select(
        "i", token_hash_pairs(F.col("t")).alias("hp")
    ).select("i", minhash_from_pairs(F.col("hp"), 8).alias("sig")).select(
        "i", "sig", band_keys(F.col("sig"), 4, 2).alias("bk")
    )
    rows = {r["i"]: (r["sig"], r["bk"]) for r in sigs.collect()}
    assert rows[1] == rows[2]


@given(
    st.lists(st.integers(0, 100), min_size=1, max_size=10, unique=True),
    st.lists(st.integers(0, 100), min_size=1, max_size=10, unique=True),
)
@_settings
def test_rrf_fuse_bounds(spark, ids_a, ids_b):
    """RRF scores are max-normalized into (0, 1] and cover the id
    union of both legs."""
    from mcp_vector_search_spark.operators.fusion import rrf_fuse

    a = spark.createDataFrame(
        [(i, r + 1) for r, i in enumerate(ids_a)], "doc_id long, rank long"
    )
    b = spark.createDataFrame(
        [(i, r + 1) for r, i in enumerate(ids_b)], "doc_id long, rank long"
    )
    rows = rrf_fuse(a, b).collect()
    assert {r["doc_id"] for r in rows} == set(ids_a) | set(ids_b)
    assert all(0.0 < r["rrf_score"] <= 1.0 for r in rows)
    assert any(r["rrf_score"] == 1.0 for r in rows)


@given(st.lists(st.integers(0, 1000), min_size=0, max_size=40))
@_settings
def test_chunker_conserves_tokens(spark, xs):
    """chunk_tokens partitions the token stream: n_tokens sums to the
    doc's token count and chunk indexes are dense from 0."""
    from mcp_vector_search_spark.sources.chunker import chunk_tokens

    text = " ".join(f"w{x}" for x in xs)
    df = spark.createDataFrame([(1, text, "s")], "doc_id long, text string, source string")
    chunks = chunk_tokens(df, chunk_size=7).collect()
    assert sum(c["n_tokens"] for c in chunks) == len(xs)
    assert sorted(c["chunk_idx"] for c in chunks) == list(range(len(chunks)))


@given(
    toks=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=60),
    cap=st.integers(min_value=50, max_value=200),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_sequences_greedy_property(spark, toks, cap):
    """For arbitrary token lengths and budgets — INCLUDING zero-token
    docs (tokenize yields 0 for empty/punctuation-only text, and a
    zero-token doc at the head of a shard must still open bin 1, per
    ADVICE r3): every doc lands in exactly one bin, multi-doc bins
    never exceed the budget, and bin ids are contiguous from 1 in doc
    order within the single shard."""
    from mcp_vector_search_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, tok long"
    )
    out = pack_sequences(docs, cap, n_shards=1).orderBy("doc_id").collect()
    assert len(out) == len(toks)
    fills: dict[int, int] = {}
    counts: dict[int, int] = {}
    last_bin = 0
    for r in out:
        fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["tok"]
        counts[r["bin_id"]] = counts.get(r["bin_id"], 0) + 1
        assert r["bin_id"] in (last_bin, last_bin + 1)  # contiguous, no skips
        last_bin = r["bin_id"]
    assert min(fills) == 1
    for b, fill in fills.items():
        if counts[b] > 1:
            assert fill <= cap


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),                      # cluster
            st.integers(1, 5),                      # rows in fragment
        ),
        min_size=1,
        max_size=6,
    ),
    st.integers(2, 4),                              # width
)
@_settings
def test_repack_blocks_preserves_content(spark, frags, width):
    """repack_codec_blocks is a pure layout change: after merging
    arbitrary fragmented blocks, each partition holds exactly the
    union of its input (id, row) pairs, id-sorted, under the
    block-count bound ceil(rows/step)."""
    import numpy as np

    from mcp_vector_search_spark.operators.layout import repack_codec_blocks

    rows, next_id = [], 0
    expect: dict[int, dict[int, list[int]]] = {}
    for b, (part, n) in enumerate(frags):
        ids = list(range(next_id, next_id + n))
        next_id += n
        M = np.arange(n * width, dtype=np.uint8).reshape(n, width) + (b * 7) % 100
        rows.append((part, b, n, width, "uint8", ids, M.tobytes()))
        for j, i in enumerate(ids):
            expect.setdefault(part, {})[i] = list(M[j])
    df = spark.createDataFrame(
        rows,
        "cluster_id int, block_id int, n int, m int, dtype string, "
        "vec_ids array<bigint>, codes binary",
    )
    out = repack_codec_blocks(df, "cluster_id", "m", "codes").collect()
    got: dict[int, dict[int, list[int]]] = {}
    for r in out:
        import numpy as np

        M = np.frombuffer(r.codes, dtype=np.uint8).reshape(r.n, r.m)
        assert list(r.vec_ids) == sorted(r.vec_ids)  # id-sorted
        for j, i in enumerate(r.vec_ids):
            got.setdefault(r.cluster_id, {})[i] = list(M[j])
    assert got == expect
    # one block per partition here (rows ≪ any step bound)
    assert len(out) == len(expect)


@given(
    st.lists(_text, min_size=1, max_size=6),
    st.lists(st.text(alphabet="abcdxyz", min_size=1, max_size=6), min_size=1, max_size=4),
)
@_settings
def test_serving_stats_match_oneshot(spark, texts, terms):
    """Bm25ServingStats.stats_for ≡ bm25_oneshot_stats on arbitrary
    corpora and term sets (incl. absent terms and empty docs) — the
    warm-serving path can never drift from the one-shot scoring
    semantics."""
    from mcp_vector_search_spark.operators.bm25 import (
        Bm25ServingStats,
        bm25_oneshot_stats,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    stats = Bm25ServingStats(docs)
    try:
        a = stats.stats_for(terms)
    finally:
        stats.unpersist()
    b = bm25_oneshot_stats(docs, terms)
    assert a["n_docs"] == b["n_docs"] and a["avgdl"] == b["avgdl"]
    assert abs(a["avg_idf"] - b["avg_idf"]) < 1e-12
    assert set(a["idf"]) == set(b["idf"])
    for t in a["idf"]:
        assert abs(a["idf"][t] - b["idf"][t]) < 1e-12


@given(st.lists(st.integers(0, 5), min_size=0, max_size=30), st.integers(2, 4))
@_settings
def test_ngram_repetition_fractions_match_counter(spark, xs, n):
    """The sorted-run-fold repetition signals equal a Counter-based
    reference on arbitrary token streams (small alphabet → dense
    collisions, the regime the fold's run bookkeeping must get
    right)."""
    from collections import Counter

    from mcp_vector_search_spark.functions.text import (
        dup_ngram_fraction,
        top_ngram_fraction,
        word_ngrams,
    )

    toks = [f"t{x}" for x in xs]
    grams = ["_".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    if grams:
        counts = Counter(grams)
        want_top = round(max(counts.values()) / len(grams), 6)
        want_dup = round(
            sum(c for c in counts.values() if c >= 2) / len(grams), 6
        )
    else:
        want_top = want_dup = 0.0

    df = spark.createDataFrame([(" ".join(toks),)], "text string")
    from mcp_vector_search_spark.functions.text import tokenize

    g = word_ngrams(tokenize("text"), n)
    got = df.select(
        top_ngram_fraction(g).alias("t"), dup_ngram_fraction(g).alias("d")
    ).collect()[0]
    assert (got["t"], got["d"]) == (want_top, want_dup)


@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False), min_size=1, max_size=16
    )
)
@example([0.0, 0.0, 0.0])
@example([0.0, -0.0])
@example([1.0] + [1e-8] * 10)
@_settings
def test_unit_vector_matches_normalized(spark, vec):
    """The driver-side unit helper is bit-identical to the column
    `normalized()` it stands in for on the serving path, zero vector
    included (exact equality, not approx). The [1, 1e-8, …] example
    pins the accumulation order: summed in array order the small
    squares vanish into 1.0, a compensated or pairwise sum keeps
    them."""
    from mcp_vector_search_spark.functions.vectors import normalized, unit_vector

    df = spark.createDataFrame([(vec,)], "v array<double>")
    assert normalized(df, "v", "u").first()["u"] == unit_vector(vec)
