"""Deterministic sampling / splitting / packing for training-data corpora.

The reference engine's end product is a curated corpus (chunks ranked,
deduplicated, quality-scored — ``README.md:1-40``); these operators
finish that pipeline with the steps a large-scale training run needs:
reproducible train/val/test splits, per-stratum and quality-weighted
downsampling, deterministic shard assignment, and greedy sequence
packing to a context-length budget.

Randomness is replaced everywhere by md5-hash uniforms (the same
portable-hash discipline as ``functions/hashing.py``): a doc's fate is
a pure function of its id + salt, so re-running on 100 TB — or on two
different engines — yields byte-identical membership with zero
coordination, and every operator here is replayable by a SQL oracle.

100 TB notes:
- splits / samples / shard assignment are map-side column expressions —
  zero shuffle, fully pushdown-friendly.
- ``sample_exact`` is TakeOrderedAndProject (per-partition partial
  top-N + single reduce; never a global sort).
- ``pack_sequences`` shuffles once on the shard key, then packs each
  shard in one Arrow batch in arrival (id) order; ``n_shards`` bounds
  both parallelism and per-task memory. Packing is *per shard* by
  design — a global greedy order would serialize the whole corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX_W = 6  # 24-bit uniform: enough resolution for per-mille fractions
HEX_SCALE = 16**HEX_W


def hash_uniform(id_col: Column, salt: str) -> Column:
    """Deterministic uniform in [0, 1): the first 24 md5 bits of
    ``str(id) + '#' + salt`` over 2^24. Exactly reproducible in any
    engine with md5 (DuckDB: ``('0x' || substr(md5(..), 1, 6))::BIGINT
    / 16777216.0``); dividing an integer by a power of two is exact in
    float64, so threshold comparisons agree bit-for-bit."""
    h = F.md5(F.concat(id_col.cast("string"), F.lit("#" + salt)))
    return F.conv(F.substring(h, 1, HEX_W), 16, 10).cast("double") / F.lit(float(HEX_SCALE))


_uniform = hash_uniform


def hash_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    train: float = 0.8,
    val: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Reproducible train/val/test split: adds a ``split`` column.

    A doc's split never changes as the corpus grows (membership depends
    only on its own id), which is the property replays and ablations
    need; Spark's ``randomSplit`` can't give it."""
    u = _uniform(F.col(id_col), salt)
    return docs.withColumn(
        "split",
        F.when(u < F.lit(train), F.lit("train"))
        .when(u < F.lit(train + val), F.lit("val"))
        .otherwise(F.lit("test")),
    )


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 1.0,
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic downsample: keep a doc iff its hash
    uniform < its stratum's fraction (language rebalancing, domain
    mixing). Map-side only; expected kept fraction per stratum is
    exact to 2^-24."""
    frac: Column = F.lit(float(default_fraction))
    for value, f in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == F.lit(value), F.lit(float(f))).otherwise(frac)
    return docs.filter(_uniform(F.col(id_col), salt) < frac)


def token_mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix",
) -> DataFrame:
    """Domain-mixture sampling to a TOKEN budget (the data-mixing step
    of LLM corpus assembly — DoReMi/The-Pile-style domain weights, but
    deterministic): downsample each domain so its share of the kept
    TOKENS matches `weights`, summing to ≈ `token_budget`.

    Per-domain keep fraction f_d = min(1, budget·w_d / Σw / T_d) where
    T_d is the domain's current token total (one tiny aggregate — rows
    = |domains|, the only driver pull); membership is the same
    md5-uniform rule every sampler here uses, so the kept SET is a
    pure function of (corpus, weights, budget, salt) and the SQL
    oracle replays it exactly. Kept tokens per domain equal the target
    in expectation (per-doc token counts vary around the mean); an
    exact-cut variant would range-sort each domain by hash and take a
    running-sum prefix — one extra shuffle, same determinism — worth
    it only when the budget must bind hard.

    A domain absent from `weights` is dropped (weight 0). Returns the
    filtered docs unchanged in schema.
    """
    from mcp_vector_search_spark.functions.text import token_count

    tot = {
        # sum() over a stratum whose every text is NULL aggregates to
        # NULL — treat as 0 tokens, don't TypeError on the driver
        # (r6 review #4)
        r["d"]: float(r["t"]) if r["t"] is not None else 0.0
        for r in docs.groupBy(F.col(strata_col).alias("d"))
        .agg(F.sum(token_count(text_col)).alias("t"))
        .collect()
    }
    wsum = sum(weights.values())
    fractions = {}
    for d, w in weights.items():
        target = token_budget * w / wsum
        fractions[d] = min(1.0, target / tot[d]) if tot.get(d) else 0.0
    return stratified_sample(
        docs,
        fractions,
        strata_col=strata_col,
        id_col=id_col,
        default_fraction=0.0,
        salt=salt,
    )


def token_mixture_sample_exact(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix",
) -> DataFrame:
    """Hard-budget variant of `token_mixture_sample`: within each
    weighted domain, keep docs in md5-uniform order while the running
    token total stays ≤ the domain's target — the kept tokens never
    exceed budget·w_d/Σw (the fractional variant only hits it in
    expectation). No corpus statistics needed: the per-domain targets
    are pure literals, so this is ONE windowed pass.

    The domain-partitioned running sum streams each domain through one
    task; at 100 TB with few giant domains, range-partition on
    (domain, uniform) and add per-partition offsets (the
    `global_positions` construction) — same result, distributed.
    Domains absent from `weights` drop (target −1)."""
    from mcp_vector_search_spark.functions.text import token_count
    from pyspark.sql.window import Window

    wsum = sum(weights.values())
    target: Column = F.lit(-1.0)
    for value, wt in sorted(weights.items()):
        target = F.when(
            F.col(strata_col) == F.lit(value),
            F.lit(token_budget * wt / wsum),
        ).otherwise(target)
    u = _uniform(F.col(id_col), salt)
    w = Window.partitionBy(strata_col).orderBy(u, F.col(id_col))
    cum = F.sum(token_count(text_col)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        docs.withColumn("_cum", cum)
        .filter(F.col("_cum") <= target)
        .drop("_cum")
    )


def weighted_downsample(
    docs: DataFrame,
    weight_col: Column | str,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Keep each doc with probability = its own (clamped to [0,1])
    weight column — e.g. a quality score, so high-quality docs are
    kept outright and low-quality ones thinned proportionally."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    w = F.least(F.lit(1.0), F.greatest(F.lit(0.0), w.cast("double")))
    return docs.filter(_uniform(F.col(id_col), salt) < w)


def assign_shards(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shard",
    out_col: str = "shard",
) -> DataFrame:
    """Deterministic shard id in [0, n_shards): hash-mod, independent
    of physical partitioning, stable across runs and engines."""
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt)))
    n = F.conv(F.substring(h, 1, HEX_W), 16, 10).cast("long")
    return docs.withColumn(out_col, (n % F.lit(int(n_shards))).cast("int"))


def sample_exact(docs: DataFrame, n: int, id_col: str = "doc_id", salt: str = "take") -> DataFrame:
    """Exactly-n deterministic sample: order by the doc's hash and take
    the first n. Plans as TakeOrderedAndProject — each partition emits
    its local top-n, one reduce merges; no global sort at 100 TB."""
    return (
        docs.withColumn("_r", F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt))))
        .orderBy("_r")
        .limit(n)
        .drop("_r")
    )


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    token_col: str = "tok",
    salt: str = "pack",
) -> DataFrame:
    """Greedy sequence packing: within each (hash-assigned) shard,
    walk docs in id order and append to the current bin until adding
    the next doc would exceed ``max_tokens``, then open a new bin.
    Returns (shard, doc_id, tok, bin_id) — bin_id is 1-based per
    shard. A doc longer than the budget gets a bin of its own.

    This is the pre-tokenization step of training-batch construction:
    bins map 1:1 to context windows. The fold is order-dependent so it
    runs as one Arrow batch per shard (`applyInPandas`); shard count
    is the parallelism lever, and the fold itself is O(shard size).
    """
    id_t = docs.schema[id_col].dataType.simpleString()
    tok_t = docs.schema[token_col].dataType.simpleString()
    out_schema = f"shard int, {id_col} {id_t}, {token_col} {tok_t}, bin_id long"
    cap = int(max_tokens)

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        bins = []
        # sentinel fill=cap+1 (not cap): forces the FIRST doc — even a
        # zero-token one, where fill+0 > cap must still trip — to open
        # bin 1, matching the oracle's unconditional first-row bin 1
        bin_id, fill = 0, cap + 1
        for tok in pdf[token_col]:
            t = int(tok)
            if fill + t > cap:
                bin_id += 1
                fill = t
            else:
                fill += t
            bins.append(bin_id)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf[["shard", id_col, token_col, "bin_id"]]

    sharded = assign_shards(docs, n_shards, id_col=id_col, salt=salt).select(
        "shard", id_col, token_col
    )
    return sharded.groupBy("shard").applyInPandas(_pack, schema=out_schema)


def bin_texts(
    packed: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str = "tok",
    sep: str = "\n\n",
) -> DataFrame:
    """Assemble packed bins into training rows → (shard, bin_id,
    n_docs, total_tok, text): each bin's member docs concatenate in id
    order — one context-window example per row, the jsonl-shard
    payload. One equi-join on the id column + one groupBy on
    (shard, bin_id); the shuffle carries each doc's text exactly once.
    """
    joined = packed.join(docs.select(id_col, text_col), id_col)
    assembled = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), F.col(text_col).alias("t"))
                )
            ),
            lambda s: s["t"],
        ),
        sep,
    )
    return joined.groupBy("shard", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_col).cast("long").alias("total_tok"),
        assembled.alias("text"),
    )
