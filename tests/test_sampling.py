"""Deterministic sampling / splitting / packing (operators/sampling.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mcp_vector_search_spark.operators.sampling import (
    assign_shards,
    hash_split,
    pack_sequences,
    sample_exact,
    stratified_sample,
    weighted_downsample,
)


def _corpus(spark, n=2000):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("lang"),
        (F.col("id") % 97 + 8).cast("long").alias("tok"),
    )


def test_hash_split_fractions_and_stability(spark):
    docs = _corpus(spark)
    out = hash_split(docs).groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    assert abs(counts["val"] / 2000 - 0.1) < 0.03
    # membership is a pure function of the id: re-running and subsetting agree
    first = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    subset = hash_split(docs.filter(F.col("doc_id") < 100)).collect()
    assert all(first[r["doc_id"]] == r["split"] for r in subset)


def test_stratified_sample_thins_only_named_strata(spark):
    docs = _corpus(spark)
    kept = stratified_sample(docs, {"0": 0.25, "1": 0.5}, strata_col="lang")
    counts = {r["lang"]: r["count"] for r in kept.groupBy("lang").count().collect()}
    assert counts["2"] == 500 and counts["3"] == 500  # default fraction 1.0
    assert abs(counts["0"] / 500 - 0.25) < 0.1
    assert abs(counts["1"] / 500 - 0.5) < 0.1


def test_weighted_downsample_monotone(spark):
    docs = _corpus(spark).withColumn(
        "w", F.when(F.col("doc_id") < 1000, 0.1).otherwise(0.9)
    )
    kept = weighted_downsample(docs, "w")
    lo = kept.filter(F.col("doc_id") < 1000).count()
    hi = kept.filter(F.col("doc_id") >= 1000).count()
    assert lo < hi
    assert abs(lo / 1000 - 0.1) < 0.06 and abs(hi / 1000 - 0.9) < 0.06


def test_sample_exact_deterministic(spark):
    docs = _corpus(spark)
    a = sorted(r["doc_id"] for r in sample_exact(docs, 50).collect())
    b = sorted(r["doc_id"] for r in sample_exact(docs, 50).collect())
    assert len(a) == 50 and a == b
    # a different salt draws a different sample
    c = sorted(r["doc_id"] for r in sample_exact(docs, 50, salt="other").collect())
    assert a != c


def test_assign_shards_range_and_balance(spark):
    out = assign_shards(_corpus(spark), 8).groupBy("shard").count().collect()
    assert sorted(r["shard"] for r in out) == list(range(8))
    assert all(abs(r["count"] - 250) < 120 for r in out)


def test_pack_sequences_invariants(spark):
    cap = 256
    docs = _corpus(spark)
    packed = pack_sequences(docs, cap, n_shards=4).cache()
    assert packed.count() == 2000  # every doc lands in exactly one bin
    fills = (
        packed.groupBy("shard", "bin_id")
        .agg(F.sum("tok").alias("fill"), F.count("*").alias("n"))
        .collect()
    )
    # no multi-doc bin exceeds the budget (oversize docs get a solo bin)
    assert all(r["fill"] <= cap for r in fills if r["n"] > 1)
    # greedy never leaves room for the smallest doc of the NEXT bin:
    # consecutive bins b, b+1 satisfy fill(b) + first_tok(b+1) > cap
    rows = packed.orderBy("shard", "doc_id").collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for seq in by_shard.values():
        fill = {}
        first_tok = {}
        for r in seq:
            fill[r["bin_id"]] = fill.get(r["bin_id"], 0) + r["tok"]
            first_tok.setdefault(r["bin_id"], r["tok"])
        for b in sorted(fill)[:-1]:
            assert fill[b] + first_tok[b + 1] > cap
    packed.unpersist()


def test_pack_sequences_string_ids(spark):
    # id-type agnosticism: the output schema derives from the input
    docs = _corpus(spark, 50).select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "tok"
    )
    out = pack_sequences(docs, 128, n_shards=2)
    assert dict(out.dtypes)["doc_id"] == "string"
    assert out.count() == 50


def test_pack_sequences_oversize_doc_gets_own_bin(spark):
    rows = [(1, 50), (2, 999), (3, 60)]
    docs = spark.createDataFrame(rows, "doc_id long, tok long")
    out = pack_sequences(docs, 100, n_shards=1).orderBy("doc_id").collect()
    assert [r["bin_id"] for r in out] == [1, 2, 3]


def test_token_mixture_sample_hits_budget_shares(spark):
    """Kept tokens per domain track weight·budget in expectation, a
    weight-0 domain drops entirely, and an under-budget domain is
    kept whole (fraction clamps at 1)."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark.functions.text import token_count
    from mcp_vector_search_spark.operators.sampling import token_mixture_sample

    rows = []
    did = 0
    for dom, n_docs in (("a", 400), ("b", 400), ("c", 50), ("drop", 100)):
        for _ in range(n_docs):
            rows.append((did, " ".join(f"w{did}x{j}" for j in range(10)), dom))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # totals: a=4000, b=4000, c=500, drop=1000 tokens
    kept = token_mixture_sample(
        docs, {"a": 0.5, "b": 0.25, "c": 0.25}, token_budget=2000
    )
    by = {
        r["lang"]: r["t"]
        for r in kept.groupBy("lang")
        .agg(F.sum(token_count("text")).alias("t"))
        .collect()
    }
    assert "drop" not in by
    # targets: a=1000, b=500, c=500→clamped to its 500 total (all kept)
    assert by["c"] == 500
    assert abs(by["a"] - 1000) < 250  # md5-uniform sampling noise
    assert abs(by["b"] - 500) < 200
    # deterministic: same inputs → identical kept set
    again = token_mixture_sample(
        docs, {"a": 0.5, "b": 0.25, "c": 0.25}, token_budget=2000
    )
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_token_mixture_exact_budget_binds_hard(spark):
    """The exact-cut variant never exceeds a domain's token target,
    keeps the under-budget domain whole, and is deterministic."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark.functions.text import token_count
    from mcp_vector_search_spark.operators.sampling import (
        token_mixture_sample_exact,
    )

    rows = []
    did = 0
    for dom, n_docs in (("a", 300), ("b", 300), ("c", 40), ("drop", 50)):
        for _ in range(n_docs):
            rows.append((did, " ".join(f"w{did}x{j}" for j in range(10)), dom))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # totals: a=3000, b=3000, c=400 tokens; targets: a=1000, b=500, c=500
    kept = token_mixture_sample_exact(
        docs, {"a": 0.5, "b": 0.25, "c": 0.25}, token_budget=2000
    )
    by = {
        r["lang"]: r["t"]
        for r in kept.groupBy("lang")
        .agg(F.sum(token_count("text")).alias("t"))
        .collect()
    }
    assert "drop" not in by
    assert by["a"] <= 1000 and by["a"] > 1000 - 10  # binds within one doc
    assert by["b"] <= 500 and by["b"] > 500 - 10
    assert by["c"] == 400  # whole domain under target
    again = token_mixture_sample_exact(
        docs, {"a": 0.5, "b": 0.25, "c": 0.25}, token_budget=2000
    )
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
