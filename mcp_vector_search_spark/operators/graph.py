"""Graph traversal as iterative DataFrame self-joins (reference §2.9,
``core/knowledge_graph.py`` G2-G5 — Cypher over KuzuDB re-expressed as
frontier BFS).

Each hop is one equi-join frontier ⋈ edges on src. Cycle safety comes
from the min-hop aggregation (a node is kept at its first discovery
depth), mirroring the reference's visited-set BFS
(``knowledge_graph.py:3190-3385``).

Scale notes: the frontier join is left to AQE/cost-based planning — no
forced broadcast hint (a dense-graph frontier can approach the node
set; a forced hint would bypass autoBroadcastJoinThreshold and OOM the
driver). Lineage growth across hops is bounded by `checkpoint_every`:
the unrolled plan is truncated with localCheckpoint so an 8-hop
traversal at 100× scale doesn't replay 8 nested shuffles per action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from mcp_vector_search_spark.io import checkpoint


def bfs_min_hops(
    edges: DataFrame,
    start_ids: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int | None = 2,
    materialize_edges: bool = True,
) -> DataFrame:
    """All nodes reachable from `start_ids(id)` within `max_hops` →
    (id, hop = first-discovery depth). Start nodes have hop 0.

    `materialize_edges` (r12): the edge frame is referenced by EVERY
    hop's join, so an unmaterialized lineage — typically a projection
    + direction-union over a fact table — re-executes once per hop
    inside the unrolled plan (3 hops over the lineitem-derived graph
    = 6 fact scans; guide §5 — reuse beats recompute when the reused
    thing is slim). One eager localCheckpoint pins the SLIM projected
    edge list (two ids per row, not the fact table) and every hop
    re-reads blocks. Pass False for an edges frame that is already a
    bare table scan.

    `max_hops` rounds of join+union; each round dedupes by min hop so
    the frontier never regrows through cycles. Hops are bounded small
    (reference caps at 8), so the loop unrolls into one Catalyst plan,
    truncated every `checkpoint_every` hops. The truncation interval
    matters because each round references `visited` TWICE (union
    input + frontier filter), so lineage replicates ×2 per hop
    between checkpoints — every-4 allowed 16× subtree replication and
    measured 3.9-8.1 s on the sf0.1 call graph where every-2 (still
    lazy) runs 2.3-2.8 s, identical rows (r8; the cycle_nodes family
    rule in PLANS.md)."""
    if materialize_edges:
        edges = edges.select(src_col, dst_col).transform(checkpoint)
    visited = start_ids.select(F.col("id"), F.lit(0).alias("hop"))
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.select(F.col("id").alias(src_col))
            .join(edges, src_col)
            .select(F.col(dst_col).alias("id"), F.lit(h).alias("hop"))
            .distinct()
        )
        # ONE shuffle per hop does all the bookkeeping: the min-hop
        # aggregate dedups re-discoveries, and the next frontier is the
        # rows whose min hop IS this hop (i.e. first discoveries) — a
        # free filter over the aggregate instead of a second anti-join
        # shuffle. (The distinct above halves the union input on dense
        # fan-in; its exchange is reused by the groupBy.)
        visited = (
            visited.unionByName(nxt).groupBy("id").agg(F.min("hop").alias("hop"))
        )
        if checkpoint_every and h % checkpoint_every == 0 and h < max_hops:
            visited = visited.transform(checkpoint, eager=False)
        frontier = visited.filter(F.col("hop") == h)
    return visited


def degree(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """(id, out_degree, in_degree) — coupling-style metrics (reference
    A7 efferent/afferent, ``analysis/collectors/coupling.py``).

    Shape note (r12 optimization pass): an explode-based single-scan
    single-aggregate variant (each edge emitting (src,1,0)+(dst,0,1)
    into one groupBy) was measured best-of-4 at 1.5-1.9 s vs
    1.0-1.5 s for this form at sf0.1 — doubling the rows through one
    hash aggregate costs more than two narrow partial aggregates plus
    a post-aggregate join of two small keyed sides. Kept as-is; at
    cluster scale the two fact-table scans, not the aggregates, would
    dominate and the trade could flip — re-measure there before
    changing (guide §1.1: the first-principles win must survive the
    empirical check)."""
    out_d = edges.groupBy(F.col(src_col).alias("id")).agg(F.count("*").alias("out_degree"))
    in_d = edges.groupBy(F.col(dst_col).alias("id")).agg(F.count("*").alias("in_degree"))
    return (
        out_d.join(in_d, "id", "full_outer")
        .fillna(0, ["out_degree", "in_degree"])
    )


def instability(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Coupling instability I = Ce/(Ce+Ca) per node (reference A7,
    ``analysis/metrics.py:121-162``): efferent = out-degree (what I
    depend on), afferent = in-degree (who depends on me). I→1 means
    unstable (easy to change, nothing depends on it), I→0 rigid."""
    return degree(edges, src_col, dst_col).withColumn(
        "instability",
        F.round(
            F.col("out_degree")
            / F.greatest(F.lit(1.0), (F.col("out_degree") + F.col("in_degree")).cast("double")),
            6,
        ),
    )


def call_graph(
    edges: DataFrame, node_id: str, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Callers ∪ callees of one node (reference G3,
    ``knowledge_graph.py:3141-3188``): two edge-direction scans
    unioned, tagged with direction. Both scans prune on an equality
    predicate that pushes into the edge store."""
    callees = edges.filter(F.col(src_col) == node_id).select(
        F.col(dst_col).alias("id"), F.lit("callee").alias("direction")
    )
    callers = edges.filter(F.col(dst_col) == node_id).select(
        F.col(src_col).alias("id"), F.lit("caller").alias("direction")
    )
    return callees.unionByName(callers).distinct()


def cycle_nodes(
    edges: DataFrame,
    max_len: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """A8 circular-dependency detection: ids lying on a directed cycle
    of length ≤ `max_len` (reference 3-color DFS,
    ``analysis/collectors/coupling.py:166-320``).

    Level-synchronous (origin, node) pair expansion with per-level
    dedup — pair count is bounded by V² but import graphs are small
    relative to the corpus (the reference collects them to the driver
    outright); `max_len` bounds the join depth.

    Before expanding, the graph is trimmed to edges whose BOTH
    endpoints have in- and out-degree ≥ 1: a node on a directed cycle
    necessarily has both, so the trim never loses a cycle, and it
    deletes every source/sink chain — on sparse import graphs that
    removes most of the V² pair base.

    The trimmed edge set and each expansion level are materialized
    with localCheckpoint (r8): as one lazy plan, every union branch
    and every join level re-executed its whole prefix — the
    intersect+semi-join trim subtree appeared ~7 times in the
    max_len=4 plan, and the hits branches re-ran each level's join
    chain (measured 16-24 s → 2.7-3.5 s at sf0.01, identical rows).
    Same per-round-materialization practice as `ancestry_closure` and
    connected components; state is bounded by the V² pair table the
    algorithm already admits."""
    e0 = edges.select(F.col(src_col).alias("_es"), F.col(dst_col).alias("_ed"))
    both = (
        e0.select(F.col("_es").alias("_n"))
        .intersect(e0.select(F.col("_ed").alias("_n")))
    )
    # semi-joins on node ids only (AQE broadcasts the trim set when it
    # fits; the shuffle otherwise carries bare ids)
    e = (
        e0.join(both.withColumnRenamed("_n", "_es"), "_es", "left_semi")
        .join(both.withColumnRenamed("_n", "_ed"), "_ed", "left_semi")
        .select("_es", "_ed")
        .transform(checkpoint)
    )
    pairs = (
        e.select(F.col("_es").alias("origin"), F.col("_ed").alias("node"))
        .distinct()
        .transform(checkpoint)
    )
    hits = pairs.filter(F.col("origin") == F.col("node")).select(F.col("origin").alias("id"))
    cur = pairs
    for _ in range(2, max_len + 1):
        cur = (
            cur.join(e, cur["node"] == e["_es"])
            .select("origin", F.col("_ed").alias("node"))
            .distinct()
            .transform(checkpoint)
        )
        hits = hits.unionByName(
            cur.filter(F.col("origin") == F.col("node")).select(F.col("origin").alias("id"))
        )
    return hits.distinct()


def unreachable_nodes(
    edges: DataFrame,
    entry_points: DataFrame,
    max_hops: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """A11 dead-code detection: nodes not reachable from the entry
    points within `max_hops` (reference ``analysis/dead_code.py``
    reachability over call edges). BFS + one left-anti join."""
    # the slim edge list is materialized HERE (r12) and shared by the
    # node-universe union AND the BFS (told not to re-materialize):
    # unshared, the all-nodes union re-executed the edge lineage twice
    # more on top of the BFS's own checkpoint
    edges = edges.select(src_col, dst_col).transform(checkpoint)
    all_nodes = (
        edges.select(F.col(src_col).alias("id"))
        .unionByName(edges.select(F.col(dst_col).alias("id")))
        .distinct()
    )
    reached = bfs_min_hops(
        edges, entry_points, max_hops, src_col, dst_col,
        materialize_edges=False,
    )
    return all_nodes.join(reached.select("id"), "id", "left_anti")


def trace_paths(
    edges: DataFrame,
    start_id: str,
    max_depth: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    materialize_edges: bool = True,
) -> DataFrame:
    """G4 trace_execution_flow: enumerate simple paths from `start_id`
    up to `max_depth` hops with per-path cycle rejection (reference
    ``knowledge_graph.py:3190-3385``: depth ≤8, per-path visited set).

    Paths are pipe-delimited strings ('|a|b|c|'); the cycle check is a
    delimited-substring test, so ids that prefix other ids can't false-
    positive. Returns (path, depth).

    `materialize_edges` (r12): same contract as `bfs_min_hops` — the
    edge frame is joined at every depth level, so an unmaterialized
    lineage (here typically a projection + direction-union over a fact
    table, i.e. TWO fact scans per reference) re-executes per level.
    One eager localCheckpoint pins the slim two-column edge list. Pass
    False for an edges frame that is already a bare table scan."""
    e = edges.select(F.col(src_col).alias("_es"), F.col(dst_col).alias("_ed"))
    if materialize_edges and max_depth >= 2:
        e = checkpoint(e)
    # the first hop needs the same cycle rejection as every later hop:
    # a self-loop on the start node would otherwise emit the non-simple
    # path |a|a| and extend it at every depth (r6 review #4)
    first = edges.filter(
        (F.col(src_col) == start_id) & (F.col(dst_col) != start_id)
    ).select(
        F.concat(F.lit(f"|{start_id}|"), F.col(dst_col), F.lit("|")).alias("path"),
        F.col(dst_col).alias("node"),
        F.lit(1).alias("depth"),
    ).distinct()  # multi-edges must not duplicate paths
    out = first.select("path", "depth")
    cur = first
    for d in range(2, max_depth + 1):
        nxt = (
            cur.join(e, cur["node"] == e["_es"])
            .filter(~F.col("path").contains(F.concat(F.lit("|"), F.col("_ed"), F.lit("|"))))
            .select(
                F.concat(F.col("path"), F.col("_ed"), F.lit("|")).alias("path"),
                F.col("_ed").alias("node"),
                F.lit(d).alias("depth"),
            )
            .distinct()
            # each level is referenced TWICE (the out union + the next
            # level's join input) — ×2 lineage replication per depth,
            # 256× at the reference's depth-8 cap without this lazy
            # truncation (r8; the family rule in PLANS.md)
            .transform(checkpoint, eager=False)
        )
        out = out.unionByName(nxt.select("path", "depth"))
        cur = nxt
    return out
