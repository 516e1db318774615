"""Connected components over a pair/edge list — the clustering tail
of the dedup pipeline (reference parity: the reference stops at dup
*pairs*; training-data dedup needs the transitive closure so one
canonical doc survives per duplicate CLUSTER, which is how C4/Gopher/
RefinedWeb-style pipelines apply near-dedup at scale).

Algorithm: iterative min-label propagation (the MapReduce-CC shape of
Kiveris et al. 2014, "Connected Components in MapReduce and Beyond" —
the label-propagation baseline, which converges in O(diameter)
rounds). Duplicate graphs are short-chained in practice (diameter ≪
10), so the simple propagation beats the star-contraction variants'
extra shuffles per round.

Scale shape per round: one equi-join (labels → neighbor candidates)
+ one min-groupBy — both keyed on the node id, so AQE coalesces and
skew-splits them. The edge list is materialized ONCE up front
(`localCheckpoint`): its lineage is the full LSH/exact candidate
pipeline, and before r5 every round re-executed that pipeline — the
iteration cost was dominated by detector recompute, not propagation
(sf0.1 dup_clusters warm: 36.5 s → 4.5-5.1 s). Labels are likewise
checkpointed EVERY round: each round's result feeds two consumers
(the convergence check and the next round), so an unmaterialized
frame would execute its plan twice and stack lineage. The all-pairs
explosion never exists: work is O(|E|) per round, and |E| is the
candidate-pair output of the banded LSH/exact detectors, not N².

Determinism: the component label is the MIN node id reachable —
unique regardless of iteration order; ties cannot occur.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window
from mcp_vector_search_spark.io import checkpoint

# Count-routing bound for the driver-side union-find (the
# `commit_closure` pattern, sources/git_source.py:260): a SYMMETRIZED
# edge list at or under this many rows is collected (Arrow, two id
# columns only — the text never leaves the cluster) and closed in one
# pass driver-side; above it the distributed min-label propagation
# runs unchanged. 500k symmetrized rows ≈ a few MB through Arrow —
# far under driver memory, while a duplicate-pair graph that big is
# already far above anything the detectors emit at bench scale.
# Callers that need another bound pass `driver_max_edges=`.
CC_DRIVER_MAX_EDGES = 500_000


def _cc_driver(sym: DataFrame) -> DataFrame:
    """Union-find over a collected symmetric edge list → the same
    (node, component = min reachable id) rows the distributed loop
    yields. O(E·α(E)) single-pass, zero shuffle rounds, zero
    per-round driver actions."""
    pdf = sym.toPandas()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["a"], pdf["b"]):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # min reachable id per root — identical labeling to the
    # distributed min-propagation fixpoint
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    id_type = sym.schema["a"].dataType
    schema = StructType([
        StructField("node", id_type), StructField("component", id_type),
    ])
    rows = [(n, comp_min[find(n)]) for n in parent]
    return sym.sparkSession.createDataFrame(rows, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 25,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """Pair list → (node, component) where component = min reachable
    node id. Every node appearing in `pairs` is labeled; isolated
    nodes (not in any pair) are by definition not duplicates and are
    not emitted — union them in with component = own id if needed.

    Count-routed (r12, guide §1.2 — the per-round driver actions were
    the cost, not the data): at or under `driver_max_edges`
    symmetrized rows (default `CC_DRIVER_MAX_EDGES`) the closure is
    one driver-side union-find pass over the already-materialized
    slim edge list —
    the duplicate graphs the detectors emit are tiny relative to the
    corpus, and the propagation loop's ~2 shuffles + 1 collect PER
    ROUND cost ~6 s at sf0.1 on 45 output rows. Above the bound the
    distributed loop runs unchanged (cluster-memory-bounded, the
    100 TB path). Both branches produce identical rows
    (tests/test_components.py cross-checks)."""
    sym = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    # materialize the edges ONCE: their lineage is the whole upstream
    # candidate detector, which every propagation round would
    # otherwise re-execute
    sym = sym.distinct().transform(checkpoint)
    bound = CC_DRIVER_MAX_EDGES if driver_max_edges is None else driver_max_edges
    # count on the checkpointed slim RDD: one cheap job, no recompute
    if sym.count() <= bound:
        return _cc_driver(sym)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .cache()
    )
    # Convergence check: labels are MONOTONE NON-INCREASING under
    # min-propagation (each round takes min over {old label} ∪
    # neighbor labels), so Σ component strictly decreases until the
    # fixpoint and "sum unchanged ⟺ no label changed". For numeric
    # ids that turns the per-round convergence test into ONE aggregate
    # over the already-cached new labels instead of a join of the new
    # and old label frames + count (guide §2.4 — one less shuffle per
    # round; decimal(38,0) so billions of bigint ids cannot overflow
    # the running sum). Non-numeric ids keep the join-based check.
    numeric_ids = dict(sym.dtypes)["a"] in (
        "tinyint", "smallint", "int", "bigint",
    )

    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.coalesce(
                F.sum(F.col("component").cast("decimal(38,0)")), F.lit(0)
            ).alias("s"),
            F.count("*").alias("n"),
        ).first()

    prev_sig = _label_sum(labels) if numeric_ids else None
    is_ckpt = False
    for it in range(max_iters):
        # neighbor labels: node b receives a's current label
        prop = (
            sym.join(labels, sym["a"] == labels["node"])
            .select(F.col("b").alias("node"), "component")
        )
        # cache every round: the result feeds BOTH the convergence
        # check and the next round — unmaterialized it would execute
        # its plan twice. The convergence count (no limit) fills the
        # whole cache, so the superseded round's cache can be
        # released immediately — storage holds ≤2 label snapshots at
        # any time instead of one per round. Every 8th round a
        # localCheckpoint truncates the logical plan, which otherwise
        # grows one cache-read layer per round.
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .cache()
        )
        if numeric_ids:
            sig = _label_sum(new_labels)
            changed = int(sig != prev_sig)
            prev_sig = sig
        else:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
        is_ckpt = (it + 1) % 8 == 0
        if is_ckpt:
            ckpt = new_labels.transform(checkpoint)
            new_labels.unpersist()
            new_labels = ckpt
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    # hand back a checkpointed frame, not a cache()-frame: CacheManager
    # entries live until explicit unpersist, while checkpoint blocks
    # are reclaimed by the ContextCleaner once unreferenced — callers
    # must not inherit a session-cache obligation. Skip the final
    # materialization when the last round already checkpointed.
    if is_ckpt:
        return labels
    out = labels.transform(checkpoint)
    labels.unpersist()
    return out


def dup_clusters(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Duplicate-pair list → (doc_id, cluster_rep, cluster_size,
    is_keeper): the transitive dedup clusters with one canonical
    keeper (the min id) per cluster. Dropping every row with
    ``NOT is_keeper`` is the dedup action."""
    comp = connected_components(pairs, src=src, dst=dst, max_iters=max_iters)
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_rep"),
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )
