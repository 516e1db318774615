"""Generate PLANS.md: formatted physical-plan excerpts for the
headline queries, with the scale-relevant facts extracted (pushed
filters, broadcast sides, shuffle count, codegen spans).

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# PLANS.md content from this line on survives regeneration verbatim
HAND_MARKER = "<!-- hand-written audits below: preserved across plan_audit regenerations -->"

AUDIT = [
    ("bm25_topk", "one-shot: per-row tf exprs, zero shuffles, single corpus scan under TakeOrderedAndProject"),
    ("knn_topk", "broadcast 1-row query; TakeOrderedAndProject — no full sort"),
    ("knn_batch", "broadcast query set; single shuffle on query_id for the rank window"),
    ("hybrid_rrf", "both legs end in limits; fusion join is O(k)"),
    ("ivf_fixed", "probe equi-join on cluster_id prunes the vector side"),
    ("ivf_topk", "IVF-vs-brute recall self-check: two top-k subplans into one agg row"),
    ("minhash_jaccard", "self-equi-join on band_key — no cross join anywhere"),
    ("graph_degree", "two partial-agg groupBys + full-outer merge"),
    ("revenue_by_nation", "nation broadcast; AQE handles the fact-side shuffles"),
    ("pricing_summary", "single hash aggregate with map-side partials"),
    ("kg_boost", "name filter pushes to nodes; boosted-id set broadcast back"),
    ("blame_ranges", "file-equi join; range predicate post-filter, no cartesian"),
    ("knn_batch_np", "Arrow matmul kernel; shuffle carries only partial top-k"),
    ("search_pipeline", "whole pipeline one plan; MMR is the only non-relational stage"),
    ("sq_fixed", "SQ bounds = one posexplode groupBy; encode/score map-side kernels"),
    ("sampling_splits", "all five sampling ops are map-side md5 expressions — no shuffle before the gate's join"),
    ("decontaminate", "gram equi-join; shuffle carries gram strings + ids, never text"),
    ("lm_perplexity", "two count aggregates (map-side partials) + per-event joins on term/gram keys"),
    ("dup_spans", "two equi-key shuffles on the window hash (HAVING agg + semi-join back); island merge is a doc-partitioned window"),
    ("lang_id", "pure per-row column expressions into one small groupBy — no joins, no windows"),
    ("ivf_packed", "r5: packed-block layout gate — pack groupBy + probe-filtered block scoring; the serving form caches the packed frame so only the filter+MapInArrow+rank window execute per batch"),
    ("hybrid_batch", "r5: N hybrid pipelines in one program — one scoring scan fans out per-query scores via explode, one rank window per leg, O(|Q|*k) fusion joins"),
    ("hybrid_batch_tbl", "r6: table-driven batch — query set broadcast-joined to postings; only union-term idf rows broadcast; plan width independent of batch size"),
    ("hybrid_batch_ann", "r6: serving-from-artifacts batch — postings-index BM25 leg + packed-IVF vector leg (probe filter prunes non-probed blocks before any deserialize)"),
    ("ml_chunks", "r6: typed multilang chunking — boundary + kind + name all when-chain column exprs in one pass, one groupBy(doc,chunk) shuffle"),
    ("repetition_signals", "r9: Gopher dup-n-gram family — every signal a sorted-array fold per row; zero shuffles, one corpus scan"),
]


def facts(plan: str) -> list[str]:
    out = []
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    nontrivial = [p for p in pushed if p.strip()]
    out.append(f"- pushed filters: {len(nontrivial)} scan(s) with predicates")
    # distinct node ids from the detail headers — the tree prints cached
    # InMemoryRelation subtrees once per reference, which would
    # multi-count their exchanges
    shuffles = len(set(re.findall(r"^\((\d+)\) Exchange\b", plan, re.M)))
    bcasts = len(set(re.findall(r"^\((\d+)\) BroadcastExchange\b", plan, re.M)))
    out.append(f"- shuffle-exchange nodes printed: {shuffles}")
    out.append(f"- broadcast exchanges: {bcasts}")
    if "InMemoryTableScan" in plan:
        out.append(
            "- reads a cached index: the count above includes the one-time"
            " cache-build exchanges AND their AQE initial/final reprints;"
            " the per-query marginal cost is the warm bench number, and the"
            " single-corpus-scan property is pinned by"
            " tests/test_plan_shape.py::test_bm25_cached_index_single_tokenize_pass"
        )
    if "CartesianProduct" in plan:
        out.append("- !! CartesianProduct present")
    if "TakeOrderedAndProject" in plan:
        out.append("- top-k via TakeOrderedAndProject (no global sort)")
    return out


def main():
    from mcp_vector_search_spark.registry import SPARK_QUERIES
    from mcp_vector_search_spark.session import get_spark

    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by tools/plan_audit.py against {SF_DIR}.",
        "Facts extracted from `.explain('formatted')`; full plans below each summary.",
        "",
    ]
    for name, claim in AUDIT:
        df = SPARK_QUERIES[name](spark, SF_DIR)
        df.limit(1).count()  # materialize any index caches first
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        lines.append(f"## {name}")
        lines.append(f"*Design claim:* {claim}")
        lines.extend(facts(plan))
        # keep only the operator-tree header (first section) to stay readable
        tree = plan.split("\n\n")[0]
        lines.append("```")
        lines.append(tree[:3000])
        lines.append("```")
        lines.append("")
    # everything from HAND_MARKER on is hand-written audit prose
    # (fused-build shapes, lineage rules, routing audits) — a
    # regeneration must carry it forward, not drop it (r9: a rerun
    # silently erased three rounds of hand audits)
    hand = ""
    try:
        prev = open("/root/repo/PLANS.md").read()
        idx = prev.find(HAND_MARKER)
        if idx >= 0:
            hand = "\n" + prev[idx:]
    except FileNotFoundError:
        pass
    if not hand:
        hand = "\n" + HAND_MARKER + "\n"
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(lines) + hand)
    print(f"wrote PLANS.md ({len(lines)} generated lines + hand audits)")


if __name__ == "__main__":
    main()
