from __future__ import annotations

from pyspark.sql import functions as F

from mcp_vector_search_spark import io
from mcp_vector_search_spark.operators.topk import knn_brute_force

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_pushes_filter_and_prunes_columns(spark):
    df = io.table(spark, SF_DIR, "documents").filter(F.col("lang") == "en").select("doc_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # projection pruned to the two referenced columns only
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_knn_broadcasts_query_side(spark):
    emb = io.table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    plan = _plan(knn_brute_force(emb, q, 10))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the big scan side must not shuffle: top-k is TakeOrderedAndProject
    assert "TakeOrderedAndProject" in plan


def test_bm25_no_cartesian(spark):
    from mcp_vector_search_spark.operators.bm25 import bm25_topk

    docs = io.table(spark, SF_DIR, "documents")
    plan = _plan(bm25_topk(docs, ["data", "fast"], 10))
    assert "CartesianProduct" not in plan


def test_blame_range_join_no_cartesian(spark):
    """J13: the file equi-key must make the range join a hash/merge
    join, never a cartesian product."""
    from mcp_vector_search_spark.registry import q_blame_ranges

    plan = _plan(q_blame_ranges(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kg_boost_broadcasts_matched_nodes(spark):
    """J9: the name-filtered node set is tiny and must broadcast; the
    boost is a projection, not another aggregation over hits."""
    from mcp_vector_search_spark.registry import q_kg_boost

    plan = _plan(q_kg_boost(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_vectorized_topk_shuffles_candidates_only(spark):
    """The np kernel's shuffle input is the mapInArrow candidate
    stream (O(batches·nq·k)), never the |V|×|Q| cross product — the
    plan has exactly one exchange (the rank window) above the Python
    stage."""
    from mcp_vector_search_spark.operators.topk import topk_per_query_np

    emb = io.table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(topk_per_query_np(emb, q, 5))
    assert "MapInArrow" in plan
    assert "Join" not in plan  # scoring happens in the kernel, not a join
    # exactly one exchange node: the rank-window shuffle above the
    # kernel (formatted plans print each node in both the tree and the
    # detail section — count detail headers)
    import re

    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_api_search_batch_uses_np_kernel(spark):
    """VERDICT r2 #5: the façade's batch search must land on the
    vectorized partial-top-k kernel (MapInArrow, no scored-pair join),
    never the |Q|×|V| HOF path."""
    from mcp_vector_search_spark.api import SparkProject

    emb = io.table(spark, SF_DIR, "embeddings")
    proj = SparkProject(spark, io.table(spark, SF_DIR, "documents"), emb)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(proj.search_batch(q, 5))
    assert "MapInArrow" in plan
    assert "Join" not in plan

    # with an ANN index built (r5: the PACKED block layout), the probe
    # plan scans the cached pack through the probe filter — the filter
    # lands inside the InMemoryTableScan, scoring is one shuffle-free
    # MapInArrow, and the pack's one-time FlatMapGroupsInPandas
    # build exists only BELOW the cache boundary, never re-executed
    # per query. r9: route="probe" pins this layout plan explicitly —
    # route="auto" on this sub-crossover corpus now picks the brute
    # kernel by the measured regime curve (tests/test_ann_routing.py)
    proj.build_ann_index(num_clusters=4)
    plan2 = _plan(proj.search_batch(q, 5, route="probe"))
    assert "MapInArrow" in plan2
    assert "InMemoryTableScan" in plan2
    assert "CartesianProduct" not in plan2
    served = plan2.split("InMemoryRelation")[0]  # the executed portion
    assert "FlatMapGroupsInPandas" not in served
    # auto on the same project: the routed brute plan is still the
    # vectorized kernel, never a scored-pair join
    plan3 = _plan(proj.search_batch(q, 5))
    assert "MapInArrow" in plan3
    assert "Join" not in plan3


def test_ivf_np_kernel_is_shuffle_free_below_rank_window(spark):
    """The probed-cluster scan must reach the Python kernel WITHOUT an
    exchange (the r3 fix: groupBy(cluster_id).applyInPandas shuffled
    every probed row; mapInArrow with within-batch cluster runs does
    not) — the only exchange in the plan is the rank window above the
    candidate stream, and the probe filter sits on the scan side."""
    import re

    from mcp_vector_search_spark.operators.ivf import ivf_build, ivf_topk_batch_np

    emb = io.table(spark, SF_DIR, "embeddings")
    assigned, centroids = ivf_build(emb, num_clusters=8)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(ivf_topk_batch_np(assigned, centroids, q, 5, nprobes=3))
    assert "MapInArrow" in plan and "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "cluster_id IN" in plan or "cluster_id#" in plan  # probe pre-filter


def test_bm25_oneshot_zero_shuffle_single_scan(spark):
    """VERDICT r3 #1: the default (one-shot) BM25 scoring plan is ONE
    corpus pass of per-row tf expressions under TakeOrderedAndProject —
    no exchange, no materialized postings, nothing session-cached. The
    query-term restriction never pays for a full postings build.

    r12: the one-shot path now materializes the tokenized corpus ONCE
    (localCheckpoint) and feeds the stats scan AND the scoring scan
    from it (guide §1.2 — the corpus used to be tokenized twice per
    query), so the scoring plan reads the checkpointed RDD instead of
    the parquet directly. The invariant stays: exactly ONE scan node
    of either kind, zero Exchange."""
    import re

    from mcp_vector_search_spark.operators.bm25 import bm25_topk

    docs = io.table(spark, SF_DIR, "documents")
    df = bm25_topk(docs, ["data", "fast"], 10)
    plan = _plan(df)
    assert "InMemoryTableScan" not in plan
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0, plan
    scans = re.findall(r"^\(\d+\) Scan (?:parquet|ExistingRDD)", plan, re.M)
    assert len(scans) == 1, plan

