"""BM25 keyword search as pure SQL aggregation (reference A2/T2,
``bm25_backend.py:84-375``).

The reference keeps a pickled in-memory BM25Okapi corpus; here the
"index" is three DataFrames — exactly the decomposition that scales:

- ``postings(doc_id, term, tf)``   — one shuffle to build (groupBy),
  partitioned by term for query-time pruning;
- ``doc_stats(doc_id, dl)`` + corpus aggregates (N, avgdl);
- ``term_stats(term, df, idf)``    — build-time idf table (tiny:
  one row per distinct term).

Query time touches only the postings of the query's terms (an `isin`
filter that prunes before the join), so cost is O(df(q)) not O(corpus)
— the property that survives 100 TB.

Scoring: Okapi BM25 exactly as ``rank_bm25.BM25Okapi`` (the class the
reference instantiates, ``bm25_backend.py:30-145``):

    idf_raw(t) = ln((N - df + 0.5) / (df + 0.5))
    idf(t)     = idf_raw(t)                  if idf_raw(t) >= 0
                 epsilon * avg(idf_raw)      otherwise   (epsilon=0.25,
                 average over ALL corpus terms, incl. negatives)
    s(d,q)     = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

k1=1.5, b=0.75 are BM25Okapi's constructor defaults; the reference does
not override them. (Round 1 shipped the Lucene idf variant
ln(1+(N-df+0.5)/(df+0.5)) with k1=1.2 — fixed per ADVICE r1 for
reference parity.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcp_vector_search_spark.functions.literals import sql_array, sql_double, sql_string
from mcp_vector_search_spark.functions.text import tokenize

K1 = 1.5
B = 0.75
EPSILON = 0.25


def build_postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """postings(doc_id, term, tf). One explode + one groupBy; map-side
    partial aggregation (partial_count) halves the shuffle."""
    toks = docs.select(F.col(id_col).alias("doc_id"), F.explode(tokenize(text_col)).alias("term"))
    return toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def doc_stats_from_postings(postings: DataFrame) -> DataFrame:
    """doc_stats derived from postings (dl = Σ tf) — skips a second
    tokenize pass over the corpus; the postings shuffle is far cheaper
    than re-tokenizing 100 TB of text. Token-less docs are absent
    (they're absent from postings), which only shifts N/avgdl when a
    corpus actually contains empty docs."""
    return postings.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))


def build_term_stats(
    postings: DataFrame, doc_stats: DataFrame, epsilon: float = EPSILON
) -> DataFrame:
    """term_stats(term, df, idf) with BM25Okapi's epsilon-floored idf.

    Build-time: one groupBy(term) over postings plus one global average
    over the (small) term table. The flooring constant eps·avg(idf_raw)
    is a corpus scalar — broadcast, never reshuffled. Persist this
    (partitioned/sorted by term) as the K3 index sink.
    """
    n_docs = doc_stats.agg(F.count("*").cast("double").alias("n_docs"))
    df_t = (
        postings.groupBy("term")
        .agg(F.countDistinct("doc_id").cast("double").alias("df"))
        .join(F.broadcast(n_docs))
        .withColumn(
            "idf_raw", F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
    )
    avg_idf = df_t.agg(F.avg("idf_raw").alias("avg_idf"))
    return (
        df_t.join(F.broadcast(avg_idf))
        .withColumn(
            "idf",
            F.when(F.col("idf_raw") < 0, F.lit(epsilon) * F.col("avg_idf")).otherwise(
                F.col("idf_raw")
            ),
        )
        .select("term", "df", "idf")
    )


def bm25_scores(
    postings: DataFrame,
    doc_stats: DataFrame,
    query_terms: list[str],
    term_stats: DataFrame | None = None,
    k1: float = K1,
    b: float = B,
    round_to: int | None = 6,
) -> DataFrame:
    """Score every doc containing ≥1 query term → (doc_id, score).

    Plan shape: postings pruned by `term isin(query)` (pushed to the
    scan when postings are stored partitioned by term), tiny
    term_stats/avgdl aggregates broadcast back, one groupBy(doc_id) to
    sum term contributions.
    """
    q = list(dict.fromkeys(query_terms))  # dedupe, keep order
    if term_stats is None:
        term_stats = build_term_stats(postings, doc_stats)
    qp = postings.filter(F.col("term").isin(q))
    q_stats = term_stats.filter(F.col("term").isin(q))

    avg = doc_stats.agg(F.avg("dl").alias("avgdl"))

    scored = (
        qp.join(doc_stats, "doc_id")
        .join(F.broadcast(q_stats), "term")
        .join(F.broadcast(avg))
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    agg = scored.groupBy("doc_id").agg(F.sum("contrib").alias("score"))
    if round_to is not None:
        agg = agg.withColumn("score", F.round("score", round_to))
    return agg


def term_bucket(term: str, n: int) -> int:
    """Driver-side twin of `_tbucket_expr` — MUST stay arithmetic-
    identical (first 8 md5 hex chars as an int, mod n): the query path
    computes each query term's bucket in Python to build the partition
    filter the executors prune with."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n


def _md5_bucket_expr(col, n: int):
    """ONE definition of the SQL-side md5 bucket (stable across
    Spark/Python, unlike hash()/xxhash64 whose seeds are
    engine-internal): first 8 hex chars → int, mod n. Both bucket
    columns (term, doc_id) derive from this so the construction can't
    drift between layouts (r6 review)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"),
        F.lit(n),
    ).cast("int")


def _tbucket_expr(n: int):
    """SQL-side term→bucket; driver twin: `term_bucket`."""
    return _md5_bucket_expr(F.col("term"), n)


def _dbucket_expr(n: int):
    """SQL-side doc→bucket (the shared md5 construction, over the
    stringified id so long and string ids hash alike)."""
    return _md5_bucket_expr(F.col("doc_id").cast("string"), n)


def _bm25_meta(spark, path: str) -> tuple[int | None, int | None, str | None]:
    """(term_buckets, doc_buckets, doc_id_type) of a persisted index —
    all None for a legacy index with no meta table; fields added after
    a meta row was written read as None (forward/backward compatible)."""
    from pyspark.errors import AnalysisException

    try:
        r = spark.read.parquet(f"{path}/meta").first()
    except AnalysisException as e:
        cond = (
            getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
        )
        cond = cond() if cond is not None else None
        # legacy = the meta table does not EXIST. A present-but-unreadable
        # meta dir (torn copy: directory landed, parquet file didn't —
        # UNABLE_TO_INFER_SCHEMA) is the same corruption as the zero-row
        # case below and must not silently serve a bucketed index
        # unbucketed (r7 review).
        if cond == "PATH_NOT_FOUND" or (
            cond is None and "Path does not exist" in str(e)
        ):
            return None, None, None
        raise ValueError(
            f"corrupt BM25 index at {path}: meta exists but is unreadable "
            f"({cond or e.__class__.__name__}) — restore the index or delete "
            "meta to treat it as a legacy unbucketed layout"
        ) from e
    if r is None:
        # a present-but-EMPTY meta table (torn copy, manual truncation)
        # is corruption, not a legacy index: the legacy fallback would
        # silently serve a bucketed index unbucketed (wrong partition
        # pruning), and r.__fields__ on None raised a bare
        # AttributeError deep in every read/update path (r6 advice)
        raise ValueError(
            f"corrupt BM25 index at {path}: meta table exists but has "
            "no rows — restore the index or delete meta to treat it "
            "as a legacy unbucketed layout"
        )
    fields = set(r.__fields__)
    tb = (r["term_buckets"] if "term_buckets" in fields else 0) or None
    db = (r["doc_buckets"] if "doc_buckets" in fields else 0) or None
    idt = r["doc_id_type"] if "doc_id_type" in fields else None
    return tb, db, idt


def bm25_term_buckets(spark, path: str) -> int | None:
    """Term-bucket count of a persisted index (None = unbucketed —
    either a legacy index with no meta table or one written with
    term_buckets=None)."""
    return _bm25_meta(spark, path)[0]


def _read_doc_stats_or_empty(spark, path: str) -> DataFrame:
    """doc_stats read that survives an EMPTY doc-bucketed index: a
    partitioned doc_stats over zero docs has no data files (same
    partitionBy-writes-nothing behavior as postings), so the schema is
    reconstructed from the meta record's doc_id type. Unbucketed
    doc_stats always keeps a schema-bearing file, so this fallback
    only ever fires for the bucketed empty-bootstrap case."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(f"{path}/doc_stats")
    except AnalysisException:
        _, db, idt = _bm25_meta(spark, path)
        if idt is None:
            raise
        cols = f"doc_id {idt}, dl double, seg int"
        if db:
            cols += ", dbucket int"
        return spark.createDataFrame([], cols)


def _with_tbucket(postings: DataFrame, n_buckets: int | None):
    """ONE definition of the partition-scheme threading: stamp the
    term-bucket column when the index is bucketed (unless the frame
    already carries it — compaction's read-back does) and return
    (postings, partition_cols). Every postings writer — base build,
    update segment, compaction fold — goes through this, so the
    scheme cannot desynchronize between them (the mixed-partition-
    depth failure the meta table exists to prevent)."""
    if n_buckets:
        if "tbucket" not in postings.columns:
            postings = postings.withColumn("tbucket", _tbucket_expr(n_buckets))
        return postings, ["seg", "tbucket"]
    return postings, ["seg"]


def _write_meta(
    spark, root: str, term_buckets: int | None, doc_buckets: int | None,
    doc_id_type: str,
) -> None:
    """The index's scheme record (0 = unbucketed) — always written by
    full builds and compactions so a rebuild retires a prior scheme.
    `doc_id_type` lets readers reconstruct schemas for tables whose
    partitioned write produced no files (empty bootstrap)."""
    spark.createDataFrame(
        [(int(term_buckets or 0), int(doc_buckets or 0), doc_id_type)],
        "term_buckets int, doc_buckets int, doc_id_type string",
    ).write.mode("overwrite").parquet(f"{root}/meta")


def write_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    term_buckets: int | None = None,
    doc_buckets: int | None = None,
) -> None:
    """K3 index sink (reference pickles BM25Okapi,
    ``bm25_backend.py:202-267``; here the index is three parquet
    tables). postings is sorted by term within files so query-time
    `term IN (...)` filters benefit from parquet min/max pruning.

    `term_buckets=N` additionally partitions postings by a term-hash
    bucket (``tbucket``): the query path computes its terms' buckets
    driver-side and the IN-filter becomes PHYSICAL partition pruning —
    a query touches ≤|q| of N partitions no matter how large the
    index grows. This is the 100 TB layout; size N so each bucket's
    postings fit a scan budget (the bucket count is recorded in a
    ``meta`` table and threaded through updates and compaction, so
    one index never mixes partition schemes).

    `doc_buckets=M` additionally partitions doc_stats by a doc-id-hash
    bucket (``dbucket``), which turns `update_bm25_index`'s doc_stats
    maintenance from an O(live docs) full rewrite into a dynamic
    partition overwrite of ONLY the buckets the delta touches —
    O(live/M × touched buckets) per update. The trade (documented in
    `update_bm25_index`): the per-update doc_stats change is no longer
    a single atomic swap — a crash mid-write leaves a mixed-version
    window that the replayed update repairs.

    Layout is *segmented* (the Lucene segment model re-expressed as a
    parquet partition column): ``postings/seg=N`` holds the postings
    written by build N (the base build is seg 0), and ``doc_stats``
    keeps exactly one row per live doc — ``(doc_id, dl, seg)`` — whose
    ``seg`` names the segment that doc's postings live in. The read
    path joins postings against that (doc_id, seg) map, so stale
    postings from superseded or deleted docs are invisible without
    ever being rewritten; `update_bm25_index` appends segments and
    `compact_bm25_index` folds them back to one.
    """
    from pyspark.errors import AnalysisException

    from mcp_vector_search_spark.io import atomic_swap_dir, recover_swap

    spark = docs.sparkSession
    postings = build_postings(docs, id_col, text_col).withColumn("seg", F.lit(0))
    postings, part_cols = _with_tbucket(postings, term_buckets)
    # staged + root-swapped (same contract as compact_bm25_index): an
    # in-place rebuild crashing between the four table overwrites
    # could leave a postings partition scheme that contradicts meta,
    # and the NEXT update would write a mixed-depth segment — the
    # discovery-breaking failure a staged swap makes impossible
    # (multi-table overwrite = crash window, r6 review class)
    recover_swap(path)
    stage = f"{path}.tmp"
    postings.sortWithinPartitions("term").write.partitionBy(*part_cols).mode(
        "overwrite"
    ).parquet(f"{stage}/postings")
    # derive doc_stats/term_stats from the postings JUST WRITTEN: the
    # corpus is tokenized exactly once (the write above). The previous
    # shape derived both from the lazy postings lineage, so the
    # tokenize+explode+groupBy pipeline re-executed for every
    # downstream action — doc_stats write, and THREE actions inside
    # term_stats (broadcast n_docs, broadcast avg_idf, final write):
    # five full corpus passes per build (guide §1.2/§5 — don't
    # recompute what one pass already produced; same read-back pattern
    # update_bm25_index has always used for its delta segment).
    try:
        post_rb = spark.read.parquet(f"{stage}/postings")
    except AnalysisException:
        # empty corpus: partitionBy over zero rows writes no files —
        # keep the (empty) lazy frames; nothing to re-derive cheaply
        post_rb = postings
    doc_stats = doc_stats_from_postings(post_rb).withColumn("seg", F.lit(0))
    if doc_buckets:
        doc_stats = doc_stats.withColumn("dbucket", _dbucket_expr(doc_buckets))
    dsw = doc_stats.write.mode("overwrite")
    if doc_buckets:
        dsw = dsw.partitionBy("dbucket")
    dsw.parquet(f"{stage}/doc_stats")
    # term_stats' doc_stats input also reads back the staged parquet
    # (its n_docs aggregate is an action of its own)
    try:
        ds_rb = spark.read.parquet(f"{stage}/doc_stats")
    except AnalysisException:
        ds_rb = doc_stats
    term_stats = build_term_stats(post_rb, ds_rb)
    term_stats.write.mode("overwrite").parquet(f"{stage}/term_stats")
    _write_meta(
        docs.sparkSession, stage, term_buckets, doc_buckets,
        dict(docs.dtypes)[id_col],
    )
    atomic_swap_dir(stage, path)


def _read_postings_or_empty(spark, path: str, ds: DataFrame) -> DataFrame:
    """postings read that survives an EMPTY index. `write_bm25_index`
    over a zero-doc corpus (the documented bootstrap for
    `bm25_index_sink`) writes a partitioned postings dir with no data
    files — partitionBy emits nothing for zero rows — so a plain
    spark.read.parquet raises UNABLE_TO_INFER_SCHEMA on the first
    delete-only micro-batch or any query before the first batch
    (r6 review). The schema is reconstructed from doc_stats, whose
    unpartitioned write always keeps a schema-bearing file: term/tf/seg
    types are fixed by `build_postings`; doc_id follows the index."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(f"{path}/postings")
    except AnalysisException:
        id_type = dict(ds.dtypes)["doc_id"]
        return spark.createDataFrame(
            [], f"doc_id {id_type}, term string, tf bigint, seg int"
        )


def read_bm25_index(spark, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (postings, doc_stats, term_stats) with segment
    resolution already applied: postings carries only live rows (one
    equi-join on the (doc_id, seg) map — the same doc_id join
    `bm25_scores` performs anyway), doc_stats is (doc_id, dl). A
    pre-segment flat index (no `seg` column) reads unchanged."""
    from mcp_vector_search_spark.io import recover_swap

    # the index ROOT is itself swap-managed (compact_bm25_index stages
    # the whole layout and swaps `path`) — recover it first, or a crash
    # inside that swap leaves an intact index at `<path>.old` that every
    # reader would mistake for a missing index (r6 review)
    recover_swap(path)
    for t in ("doc_stats", "term_stats"):
        recover_swap(f"{path}/{t}")
    ds = _read_doc_stats_or_empty(spark, path)
    postings = _read_postings_or_empty(spark, path, ds)
    term_stats = spark.read.parquet(f"{path}/term_stats")
    if "seg" in postings.columns:
        postings = postings.join(ds.select("doc_id", "seg"), ["doc_id", "seg"]).drop("seg")
        ds = ds.select("doc_id", "dl")
    return postings, ds, term_stats


def _ids_frame(spark, ids, like: DataFrame) -> DataFrame:
    """A one-column (doc_id) frame from a python list OR a DataFrame,
    cast to the index's own doc_id type (never hardcode the id type —
    string ids are first-class)."""
    id_type = dict(like.dtypes)["doc_id"]
    if isinstance(ids, DataFrame):
        first = ids.columns[0]
        # try_cast, not cast: ANSI cast would throw the raw
        # NumberFormatException deep inside a later join — the NULL
        # check below turns both bad shapes into one clear error
        out = ids.select(F.col(first).try_cast(id_type).alias("doc_id"))
    else:
        out = spark.createDataFrame([(i,) for i in ids], f"doc_id {id_type}")
    # a NULL id — supplied, or produced by an uncastable value (e.g.
    # string ids against a long-keyed index) — would left_anti-join
    # against nothing and the deletion would silently no-op (r6 review)
    if out.filter(F.col("doc_id").isNull()).limit(1).count():
        raise ValueError(
            f"deleted_ids contain NULL or values not castable to the "
            f"index's doc_id type {id_type!r} — no deletion was applied"
        )
    return out


def update_bm25_index(
    spark,
    path: str,
    new_docs: DataFrame | None,
    deleted_ids=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    refresh_term_stats: bool = True,
) -> int:
    """Incrementally upsert `new_docs` (and delete `deleted_ids` — a
    python list or a one-column DataFrame) into a segmented BM25 index,
    with the contract that the resulting index scores IDENTICALLY to
    `write_bm25_index` over the equivalent final corpus. Returns the
    new segment id.

    What is and isn't incremental, and why it holds at 100 TB:

    - the corpus text is tokenized ONCE per doc, ever: only the delta
      batch is tokenized here, appended as ``postings/seg=N`` via
      dynamic partition overwrite (a replayed crash re-writes the same
      partition — idempotent, same contract as the streaming sinks);
    - ``doc_stats`` (one small row per live doc): superseded/deleted
      ids drop out, delta rows (seg=N) union in. Unbucketed, this is
      an O(live docs) staged rewrite + `atomic_swap_dir` — the price
      of keeping segment resolution a cheap equi-join. With
      `write_bm25_index(doc_buckets=M)` it becomes a dynamic
      partition overwrite of ONLY the id-hash buckets the delta
      touches — O(live/M × touched buckets) per update, the layout
      for extreme doc counts. Bucketed crash note: the per-update
      doc_stats change is then per-partition, not one swap — a crash
      mid-write leaves touched buckets at mixed versions until the
      replayed update (same delta → same buckets) repairs them;
    - ``term_stats`` must change globally whenever N changes (idf_raw
      depends on n_docs, and BM25Okapi's epsilon floor averages over
      ALL terms), and df is not delta-decomposable under upserts — so
      it is recomputed from the LIVE postings: an aggregation over the
      already-tokenized index, never a corpus re-scan.

    Crash ordering: postings-then-doc_stats-then-term_stats. A crash
    after the postings write leaves an orphan segment no doc_stats row
    references — the index keeps serving the pre-update corpus and a
    re-run overwrites the same partition. A crash between the two
    swaps leaves idf one update stale; re-running the update (or
    `refresh_bm25_term_stats`) repairs it.

    Reference anchor: incremental reindex, ``chunks_backend.py:269-551``
    (delete-by-key + append); the reference rebuilds its pickled
    BM25Okapi whole — the segment model is what makes the same
    semantics incremental at scale.
    """
    from mcp_vector_search_spark.io import atomic_swap_dir, recover_swap

    recover_swap(path)
    recover_swap(f"{path}/doc_stats")
    ds = _read_doc_stats_or_empty(spark, path)
    if "seg" not in ds.columns:
        raise ValueError(
            f"{path} is a flat (pre-segment) BM25 index; rebuild it with "
            "write_bm25_index before using update_bm25_index"
        )
    # seg allocation stays a max() over doc_stats' seg column BY
    # CHOICE (r6 review considered an O(#segments) partition-directory
    # listing): doc_stats is the index's SMALL table and the aggregate
    # column-prunes to one int column, while directory-based
    # allocation reads past orphan postings segments — a replayed
    # batch (foreachBatch retry loop) would then burn a fresh segment
    # and strand an orphan EVERY retry instead of idempotently
    # overwriting its own partition, unbounded garbage in a crash loop.
    seg = (ds.agg(F.max("seg")).first()[0] or 0) + 1

    # the delta must land in the SAME partition schemes the base build
    # chose — mixing depths under one root breaks parquet partition
    # discovery for every reader (ADVICE r5 failure class)
    n_buckets, m_buckets, _ = _bm25_meta(spark, path)
    if new_docs is not None:
        new_post = build_postings(new_docs, id_col, text_col).withColumn("seg", F.lit(seg))
        new_post, part_cols = _with_tbucket(new_post, n_buckets)
        (
            new_post.sortWithinPartitions("term")
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .mode("overwrite")
            .parquet(f"{path}/postings")
        )
        # delta doc_stats come from the JUST-WRITTEN segment partition
        # (partition-pruned read-back): the delta is tokenized exactly
        # once — the postings write above — and, because
        # doc_stats_from_postings drops token-less docs, an upsert to
        # empty text DELETES the doc from the live map instead of
        # keeping a dl=0 row that would shift n_docs/avgdl (and every
        # idf) away from the `write_bm25_index` full-rebuild contract
        # (r6 review). The old version still vanishes: `upserted` below
        # carries EVERY delta id, tokens or not.
        # _or_empty: an all-empty-text delta into a still-empty index
        # writes no postings files at all — the read-back must not die
        seg_post = _read_postings_or_empty(spark, path, ds).filter(F.col("seg") == seg)
        new_ds = doc_stats_from_postings(seg_post).withColumn("seg", F.lit(seg))
        # small one-column frame, cached so the dupe check + the merged
        # doc_stats write don't re-execute an expensive delta lineage
        # (the only remaining delta evaluations: postings scan + this)
        upserted = new_docs.select(F.col(id_col).alias("doc_id")).cache()
    else:
        new_ds = spark.createDataFrame([], ds.schema)
        upserted = new_ds.select("doc_id")

    # delta-batch validation (one tiny agg over the delta, not the
    # corpus): a duplicated doc_id would double-count the doc in every
    # score, and an id both upserted and deleted has no defined winner
    touched = upserted
    if deleted_ids is not None:
        dels = _ids_frame(spark, deleted_ids, ds)
        counts = touched.unionByName(dels.select(F.col("doc_id"))).groupBy("doc_id").count()
        dupes = [r["doc_id"] for r in counts.filter("count > 1").limit(5).collect()]
        if dupes:
            raise ValueError(
                f"doc_ids duplicated within the update batch (or both "
                f"upserted and deleted): {dupes}"
            )
        touched = touched.unionByName(dels)
    else:
        counts = touched.groupBy("doc_id").count()
        dupes = [r["doc_id"] for r in counts.filter("count > 1").limit(5).collect()]
        if dupes:
            raise ValueError(f"doc_ids duplicated within new_docs: {dupes}")
    if m_buckets:
        # bucketed doc_stats (the extreme-doc-count layout): rewrite
        # ONLY the id-hash buckets the delta touches. The merged frame
        # is localCheckpointed first — it reads the same partitions the
        # dynamic overwrite replaces, and the checkpoint both cuts that
        # self-read and pins ONE materialization for the two consumers
        # below (the present-buckets collect and the write).
        if "dbucket" not in new_ds.columns:
            new_ds = new_ds.withColumn("dbucket", _dbucket_expr(m_buckets))
        touched_b = sorted(
            r["dbucket"]
            for r in touched.select(_dbucket_expr(m_buckets).alias("dbucket"))
            .distinct()
            .collect()
        )
        merged = (
            ds.filter(F.col("dbucket").isin(touched_b))
            .join(touched, "doc_id", "left_anti")
            .unionByName(new_ds)
            .localCheckpoint()
        )
        present = {r["dbucket"] for r in merged.select("dbucket").distinct().collect()}
        (
            merged.write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("dbucket")
            .mode("overwrite")
            .parquet(f"{path}/doc_stats")
        )
        # a touched bucket whose every row vanished (all its docs
        # deleted) produces NO partition in the dynamic write, so its
        # stale rows would survive — drop those partitions explicitly
        from mcp_vector_search_spark.io import delete_path

        for b in sorted(set(touched_b) - present):
            delete_path(spark, f"{path}/doc_stats/dbucket={b}")
    else:
        merged = ds.join(touched, "doc_id", "left_anti").unionByName(new_ds)
        tmp = f"{path}/doc_stats.tmp"
        merged.write.mode("overwrite").parquet(tmp)
        atomic_swap_dir(tmp, f"{path}/doc_stats")
    upserted.unpersist()

    # `refresh_term_stats=False` is the high-frequency-update knob
    # (e.g. a streaming sink on a tight trigger): idf is the one
    # global that must otherwise be recomputed over the LIVE postings
    # per update — defer it and run `refresh_bm25_term_stats`
    # periodically. Staleness contract (r6 review — be precise, the
    # lag is NOT weighting-only): deleted docs stay invisible and
    # re-scored docs serve their new postings immediately (doc_stats
    # is always current), but `bm25_scores` INNER-joins term_stats, so
    # a term first introduced after the last refresh has no idf row
    # yet — docs matching ONLY such brand-new terms are ABSENT from
    # results (not merely mis-weighted) until the next refresh.
    if refresh_term_stats:
        refresh_bm25_term_stats(spark, path)
    return seg


def refresh_bm25_term_stats(spark, path: str) -> None:
    """Recompute term_stats from the live (segment-resolved) postings
    and swap it in — the repair path for a crash between the
    `update_bm25_index` swaps, and the closing step of every update."""
    from mcp_vector_search_spark.io import atomic_swap_dir

    postings, doc_stats, _ = read_bm25_index(spark, path)
    ts = build_term_stats(postings, doc_stats)
    tmp = f"{path}/term_stats.tmp"
    ts.write.mode("overwrite").parquet(tmp)
    atomic_swap_dir(tmp, f"{path}/term_stats")


def compact_bm25_index(spark, path: str) -> tuple[int, int]:
    """Fold all segments back into seg 0, dropping stale postings rows
    physically (they were already invisible logically). Staged under
    `<path>.tmp` and root-swapped so the three tables change as one —
    the multi-table analog of `compact_codec_layout`. Returns
    (segments_before, segments_after)."""
    import os

    from mcp_vector_search_spark.io import atomic_swap_dir, recover_swap

    recover_swap(path)
    recover_swap(f"{path}/doc_stats")
    raw = _read_postings_or_empty(spark, path, _read_doc_stats_or_empty(spark, path))
    segs_before = raw.select("seg").distinct().count() if "seg" in raw.columns else 1
    postings, doc_stats, _ = read_bm25_index(spark, path)
    # drop any legacy dl=0 rows (pre-r6-review updates kept them) so a
    # compacted index always matches the full-rebuild doc_stats exactly
    doc_stats = doc_stats.filter(F.col("dl") > 0)
    stage = f"{path}.tmp"
    # preserve both bucket schemes (and their meta record) across the
    # fold — compaction must never change how an index partitions
    n_buckets, m_buckets, idt = _bm25_meta(spark, path)
    postings, part_cols = _with_tbucket(postings, n_buckets)
    (
        postings.withColumn("seg", F.lit(0))
        .sortWithinPartitions("term")
        .write.partitionBy(*part_cols)
        .mode("overwrite")
        .parquet(os.path.join(stage, "postings"))
    )
    _write_meta(spark, stage, n_buckets, m_buckets, idt or dict(doc_stats.dtypes)["doc_id"])
    dsw = doc_stats.withColumn("seg", F.lit(0))
    if m_buckets:
        dsw = dsw.withColumn("dbucket", _dbucket_expr(m_buckets))
    dsww = dsw.write.mode("overwrite")
    if m_buckets:
        dsww = dsww.partitionBy("dbucket")
    dsww.parquet(os.path.join(stage, "doc_stats"))
    # REBUILD term_stats rather than copying it verbatim: it makes
    # compaction double as the repair path for an idf left one update
    # stale by a crash between the update's two swaps (r6 review).
    # Inputs are the STAGED tables just written: the in-hand `postings`
    # frame is the lazy segment-resolution join, which build_term_stats
    # would re-execute three times (two broadcast scalars + the write);
    # the staged parquet is that join's result, already folded.
    from pyspark.errors import AnalysisException

    try:
        post_rb = spark.read.parquet(os.path.join(stage, "postings"))
        ds_rb = spark.read.parquet(os.path.join(stage, "doc_stats"))
    except AnalysisException:
        # empty index: partitioned writes emitted no files
        post_rb, ds_rb = postings, doc_stats
    build_term_stats(post_rb, ds_rb).write.mode("overwrite").parquet(
        os.path.join(stage, "term_stats")
    )
    atomic_swap_dir(stage, path)
    return segs_before, 1


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k: int,
) -> DataFrame:
    """Query path against a persisted index: touches only the postings
    of the query's terms (In-filter pushed to the parquet scan) — the
    O(df(q)) cost the reference gets from its in-memory BM25 object,
    but without loading the corpus. On a term-bucketed index
    (`write_bm25_index(term_buckets=N)`) the query terms' buckets are
    computed driver-side and the scan prunes whole partitions — ≤|q|
    of N directories read, regardless of index size."""
    postings, doc_stats, term_stats = read_bm25_index(spark, path)
    # schema-gated: only a bucketed index (tbucket partition column
    # present) pays the tiny meta read — unbucketed and legacy indexes
    # add zero jobs to the hot query path (r6 review)
    if "tbucket" in postings.columns:
        n_buckets = bm25_term_buckets(spark, path)
        if n_buckets:
            buckets = sorted(
                {term_bucket(t, n_buckets) for t in dict.fromkeys(query_terms)}
            )
            postings = postings.filter(F.col("tbucket").isin(buckets))
    return (
        bm25_scores(postings, doc_stats, query_terms, term_stats=term_stats)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_oneshot_stats(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    epsilon: float = EPSILON,
    tokenized: DataFrame | None = None,
) -> dict:
    """Corpus scalars + per-query-term idf for the one-shot scoring
    path, from ONE corpus scan:

    every doc explodes to its distinct terms PLUS one sentinel term
    carrying its length, so a single groupBy(term) yields the per-term
    document frequencies AND (in the sentinel group) N / avgdl —
    the corpus is tokenized once, and the only shuffle moves (term,
    partial count) pairs after map-side combine, never the postings.
    The resulting vocabulary table is cached (vocab is sublinear in
    corpus size) for the two tiny driver reads: the sentinel row, and
    one aggregation producing the corpus-average raw idf (BM25Okapi's
    epsilon floor averages over ALL terms) plus the query terms' own
    df rows (collect_list skips the non-query nulls).

    The result is a handful of Python floats — query-independent except
    for the `idf` dict, so multi-variant callers (query expansion)
    compute it once for the UNION of variant terms and share it.
    """
    q = list(dict.fromkeys(query_terms))
    # '#' can never appear in a token (tokenize splits on non-[a-z0-9])
    # so the sentinel term is collision-free by construction
    SENTINEL = "#doc#"
    # `tokenized` (r12): a caller-materialized (doc_id, toks, _dl)
    # frame — the same contract as bm25_topk's param — so a
    # multi-variant caller that already shares one tokenize pass for
    # scoring also feeds the stats scan from it (guide §1.2: the
    # corpus is then tokenized exactly once per query, not once per
    # consumer). Same tokenize expr → identical stats by construction.
    if tokenized is not None:
        toks = tokenized.select("toks").filter(F.size("toks") > 0)
    else:
        toks = docs.select(tokenize(text_col).alias("toks")).filter(F.size("toks") > 0)
    grouped = (
        toks.select(
            F.explode(
                F.concat(F.array(F.lit(SENTINEL)), F.array_distinct("toks"))
            ).alias("term"),
            F.size("toks").cast("double").alias("dl"),
        )
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"), F.avg("dl").alias("avgdl"))
        .cache()
    )
    try:
        doc_row = grouped.filter(F.col("term") == SENTINEL).first()
        if doc_row is None:
            return {"n_docs": 0.0, "avgdl": 0.0, "avg_idf": 0.0, "idf": {}}
        n_docs = float(doc_row["df"])
        avgdl = float(doc_row["avgdl"] or 0.0)
        terms = grouped.filter(F.col("term") != SENTINEL).withColumn(
            "idf_raw",
            F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        srow = terms.agg(
            F.avg("idf_raw").alias("avg_idf"),
            F.collect_list(
                F.when(F.col("term").isin(q), F.struct("term", "idf_raw"))
            ).alias("q_rows"),
        ).first()
        avg_idf = float(srow["avg_idf"] or 0.0)
        idf = {}
        for r in srow["q_rows"]:
            ir = float(r["idf_raw"])
            idf[r["term"]] = epsilon * avg_idf if ir < 0 else ir
        return {"n_docs": n_docs, "avgdl": avgdl, "avg_idf": avg_idf, "idf": idf}
    finally:
        grouped.unpersist()


class Bm25ServingStats:
    """Warm-serving statistics state (VERDICT r5 #6): the vocabulary
    table and corpus scalars of `bm25_oneshot_stats`, built ONCE, so no
    query pays a corpus scan and two aggregates for its stats.

    `stats_for(terms)` returns the same dict shape (and the same
    values — pinned in tests) as `bm25_oneshot_stats(docs, terms)`.
    Construction loads the idf of the `MEMO_MAX` highest-df vocabulary
    terms. When the whole vocabulary fits, that is every term the
    corpus has, a term outside it is known absent, and `stats_for`
    never runs a job. Otherwise the vocabulary stays cached, a term
    outside the preload is looked up once in one tiny job over it,
    and the lookup memo (not the preload) starts over when a query
    would grow it past `MEMO_MAX` terms.

    Also exposes `tokenized`: the (doc_id, toks, _dl) frame, pinned
    over a local checkpoint (`io.pin`), that the serving scoring scan
    reuses instead of re-tokenizing the corpus per query. `unpersist`
    releases every cache this holds; a constructor that raises
    releases what it had pinned."""

    SENTINEL = "#doc#"
    MEMO_MAX = 65_536

    def __init__(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        epsilon: float = EPSILON,
    ):
        from mcp_vector_search_spark.io import pin

        self._epsilon = epsilon
        self._idf: dict[str, float] = {}  # preloaded term → idf
        self._looked: dict[str, float | None] = {}  # looked up; None = absent
        self._vocab: DataFrame | None = None  # cached only while incomplete
        self.tokenized = pin(
            docs.select(F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks"))
            .withColumn("_dl", F.size("toks").cast("double"))
        )
        try:
            self._load()
        except BaseException:
            self.unpersist()
            raise

    def _load(self) -> None:
        self._vocab = (
            self.tokenized.filter(F.size("toks") > 0)
            .select(
                F.explode(
                    F.concat(F.array(F.lit(self.SENTINEL)), F.array_distinct("toks"))
                ).alias("term"),
                F.col("_dl").alias("dl"),
            )
            .groupBy("term")
            .agg(F.count("*").cast("double").alias("df"), F.avg("dl").alias("avgdl"))
            .cache()
        )
        doc_row = self._vocab.filter(F.col("term") == self.SENTINEL).first()
        if doc_row is None:
            self.n_docs, self.avgdl, self.avg_idf = 0.0, 0.0, 0.0
            self._release_vocab()
            return
        self.n_docs = float(doc_row["df"])
        self.avgdl = float(doc_row["avgdl"] or 0.0)
        terms = self._vocab.filter(F.col("term") != self.SENTINEL)
        idf_raw = F.log(
            (F.lit(self.n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        self.avg_idf = float(terms.agg(F.avg(idf_raw)).first()[0] or 0.0)
        top = (
            terms.select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(self.MEMO_MAX + 1)
            .collect()
        )
        self._idf = {r.term: self._idf_of(r.df) for r in top[: self.MEMO_MAX]}
        if len(top) <= self.MEMO_MAX:
            self._release_vocab()

    def _idf_of(self, df: float) -> float:
        import math

        ir = math.log((self.n_docs - df + 0.5) / (df + 0.5))
        return self._epsilon * self.avg_idf if ir < 0 else ir

    def _release_vocab(self) -> None:
        if self._vocab is not None:
            self._vocab.unpersist()
            self._vocab = None

    def stats_for(self, query_terms: list[str]) -> dict:
        """The `bm25_oneshot_stats` dict for `query_terms`. Only when
        the vocabulary did not fit the preload do terms outside it and
        the lookup memo run one tiny job over the cached vocab."""
        q = list(dict.fromkeys(query_terms))
        outside = [t for t in q if t not in self._idf]
        unseen = [t for t in outside if t not in self._looked]
        if unseen and self._vocab is not None:
            if len(self._looked) + len(unseen) > self.MEMO_MAX:
                self._looked.clear()
                unseen = outside
            found = {
                r.term: self._idf_of(r.df)
                for r in self._vocab.filter(F.col("term").isin(unseen)).collect()
                if r.term != self.SENTINEL
            }
            for t in unseen:
                self._looked[t] = found.get(t)
        idf = {}
        for t in q:
            v = self._idf[t] if t in self._idf else self._looked.get(t)
            if v is not None:
                idf[t] = v
        return {
            "n_docs": self.n_docs,
            "avgdl": self.avgdl,
            "avg_idf": self.avg_idf,
            "idf": idf,
        }

    def unpersist(self) -> None:
        from mcp_vector_search_spark.io import unpin

        self._idf.clear()
        self._looked.clear()
        self._release_vocab()
        unpin(self.tokenized)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_score: float | None = None,
    stats: dict | None = None,
    k1: float = K1,
    b: float = B,
    tokenized: DataFrame | None = None,
) -> DataFrame:
    """End-to-end BM25 top-k over a raw document table.

    `min_score=0.0` reproduces the reference's zero-score filter (P5,
    ``bm25_backend.py:187`` keeps only score > 0); default keeps every
    doc matching ≥1 query term, BM25Okapi-style.

    The reference's O(df(q)) query-cost property
    (``bm25_backend.py:147-200``) without building an index: corpus
    scalars and the query terms' idf come from ONE stats scan
    (`bm25_oneshot_stats`), then the scoring query is pure per-row
    arithmetic — docs sharing a term with the query, tf(term) =
    size(filter(toks, = term)), score = Σ idf·tf·(k1+1)/(tf +
    k1·(1-b+b·dl/avgdl)) — under a single TakeOrderedAndProject.
    ZERO shuffles, ONE corpus scan in the scoring job, and the
    query-term restriction never materializes a full postings table.
    For a standing corpus the persisted K3 index (`write_bm25_index` /
    `bm25_topk_indexed`) serves the same scores.

    `tokenized` (r6 warm serving, VERDICT r5 #6): the cached
    (doc_id, toks, _dl) frame from `Bm25ServingStats.tokenized` —
    the one-shot scoring scan reads it instead of re-tokenizing
    `docs`, identical results by construction (same tokenize expr).
    """
    q = list(dict.fromkeys(query_terms))
    if stats is None:
        if tokenized is None:
            # the one-shot path otherwise tokenizes the corpus TWICE —
            # once in the stats scan, once in the scoring scan (r12;
            # guide §1.2: don't compute things twice). Materialize the
            # tokenized form once and feed both passes; identical
            # results by construction (same tokenize expr both sides).
            tokenized = (
                docs.select(
                    F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
                )
                .withColumn("_dl", F.size("toks").cast("double"))
                .localCheckpoint()
            )
        stats = bm25_oneshot_stats(docs, q, id_col, text_col, tokenized=tokenized)
    idf, avgdl = stats["idf"], stats["avgdl"]
    terms = [t for t in q if t in idf]  # absent terms: df=0, no contribution
    if not terms or avgdl == 0:
        return (
            docs.select(F.col(id_col).alias("doc_id"))
            .withColumn("score", F.lit(0.0))
            .limit(0)
        )

    if tokenized is None:
        tokenized = docs.select(
            F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
        ).withColumn("_dl", F.size("toks").cast("double"))

    # The scoring expressions are SQL text: one parse on the JVM instead
    # of ~200 py4j round trips per term through the Column API (a 1-4
    # term leg builds in ~30 ms instead of ~80 on 4 vCPU). The scores
    # are compared bit for bit (served vs cold rows, the oracle gates),
    # so the text must keep this operation order and exact literals:
    #   tf_i  = size(filter(toks, x -> x = term_i))
    #   score = 0 + Σ idf_i·tf_i·(k1+1) / (tf_i + k1·(1 - b + b·_dl/avgdl))
    # A doc scores iff it shares a term with the query, which is Σ tf_i
    # > 0; as `arrays_overlap` the filter reads `toks` alone, so tf is
    # computed once, and only for the docs that pass it. The sum runs
    # in `aggregate` over the idf array literal: the same additions in
    # the same order, but every per-query double stays inside a lambda
    # or an array literal, which codegen passes by reference rather
    # than inlining, so the generated code is the same for every query
    # with as many terms and is compiled once (inlined idf literals
    # cost a ~25 ms compile per call on 4 vCPU).
    d = tokenized.filter(
        f"arrays_overlap(toks, {sql_array(sql_string(t) for t in terms)})"
    ).selectExpr("doc_id", "_dl", *(
        f"CAST(size(filter(toks, x -> x = {sql_string(t)})) AS DOUBLE) AS _tf{i}"
        for i, t in enumerate(terms)
    ))
    norm = (
        f"((((_dl * {sql_double(b)}) / {sql_double(avgdl)}) + {sql_double(1 - b)})"
        f" * {sql_double(k1)})"
    )
    score = (
        f"aggregate(zip_with({sql_array(sql_double(idf[t]) for t in terms)}, "
        f"array({', '.join(f'_tf{i}' for i in range(len(terms)))}), "
        f"(w, tf) -> ((w * tf) * {sql_double(k1 + 1)}) / (tf + {norm})), "
        f"{sql_double(0.0)}, (acc, v) -> acc + v)"
    )
    scored = d.selectExpr("doc_id", f"round({score}, 6) AS score")
    if min_score is not None:
        scored = scored.filter(F.col("score") > min_score)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
