"""MCP tool-surface adapter (reference mcp/tool_schemas.py:46-1380,
server.py:303-460): name+args-compatible dispatch over SparkProject."""

from __future__ import annotations

import json

from tests.conftest import SF_DIR


def _adapter(spark):
    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.api import SparkProject
    from mcp_vector_search_spark.mcp_adapter import McpAdapter

    proj = SparkProject(
        spark,
        io.table(spark, SF_DIR, "documents"),
        io.table(spark, SF_DIR, "embeddings"),
    )
    return McpAdapter(proj, max_rows=50)


def test_tool_listing_matches_reference_surface(spark):
    from mcp_vector_search_spark.mcp_adapter import TOOL_SCHEMAS, list_tools

    names = {t["name"] for t in list_tools()}
    # the full 27-tool reference surface is declared
    for expected in (
        "search_code", "search_similar", "search_context", "search_hybrid",
        "get_project_status", "index_project", "embed_chunks",
        "analyze_project", "analyze_file", "find_smells",
        "get_complexity_hotspots", "check_circular_dependencies",
        "interpret_analysis", "save_report", "review_repository",
        "review_pull_request", "code_review", "wiki_generate", "kg_build",
        "kg_stats", "kg_query", "kg_ontology", "kg_ia",
        "trace_execution_flow", "kg_history", "kg_callers_at_commit",
        "story_generate",
    ):
        assert expected in names
    # 27 reference tools + the ann_serving_regime + corpus_attrition
    # engine extensions
    assert "ann_serving_regime" in names
    assert "corpus_attrition" in names
    assert len(TOOL_SCHEMAS) == 29


def test_data_tools_end_to_end(spark):
    ad = _adapter(spark)

    r = ad.call_tool("search_code", {"query": "data query", "limit": 5})
    assert r["ok"] and 0 < len(r["rows"]) <= 5
    assert r["columns"] == ["doc_id", "score"]

    r = ad.call_tool("search_hybrid", {"query": "data query", "limit": 5})
    assert r["ok"] and 0 < len(r["rows"]) <= 5

    r = ad.call_tool("get_project_status", {})
    assert r["ok"] and len(r["rows"]) > 0

    r = ad.call_tool("index_project", {})
    assert r["ok"] and r["indexed_chunks"] > 0

    r = ad.call_tool("analyze_project", {})
    assert r["ok"] and len(r["rows"]) > 0

    r = ad.call_tool("get_complexity_hotspots", {"limit": 7})
    assert r["ok"] and len(r["rows"]) <= 7

    r = ad.call_tool("kg_build", {})
    assert r["ok"] and r["edges"] > 0

    r = ad.call_tool("kg_stats", {})
    assert r["ok"]

    r = ad.call_tool("check_circular_dependencies", {})
    assert r["ok"]

    r = ad.call_tool("kg_ontology", {})
    assert r["ok"] and len(r["rows"]) > 0

    # search_similar resolves a file path to its doc
    src = ad.project.docs.select("source").first()["source"]
    r = ad.call_tool("search_similar", {"file_path": src, "limit": 3})
    assert r["ok"] and len(r["rows"]) == 3


def test_contract_errors_are_structured(spark):
    ad = _adapter(spark)

    r = ad.call_tool("search_code", {})
    assert not r["ok"] and "query" in r["error"]

    r = ad.call_tool("nope", {})
    assert not r["ok"] and "unknown tool" in r["error"]

    # LLM-orchestration tools decline with pointers to data tools
    r = ad.call_tool("review_repository", {"review_type": "security"})
    assert not r["ok"] and "data_tools" in r

    # git-temporal tools without a repo_path decline honestly
    r = ad.call_tool("kg_history", {"entity_name": "main"})
    assert not r["ok"] and "repo_path" in r["error"]

    r = ad.call_tool("search_similar", {"file_path": "no/such/file.py"})
    assert not r["ok"]


def test_cli_front_end(spark, capsys):
    """argv → call_tool → JSON: the CLI shares the adapter dispatch."""
    import json

    from mcp_vector_search_spark.cli import main

    ad = _adapter(spark)
    rc = main(["search_code", "--query", "data query", "--limit", "3"], adapter=ad)
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["ok"] and len(out["rows"]) <= 3

    rc = main(["list-tools"], adapter=ad)
    tools = json.loads(capsys.readouterr().out)
    assert rc == 0 and len(tools) == 29

    rc = main(["search_code"], adapter=ad)  # missing required arg
    err = json.loads(capsys.readouterr().out)
    assert rc == 1 and not err["ok"]


def test_cli_coerce_strict_numeric_shapes():
    """ADVICE r4: Python float() literals that are NOT decimal shapes
    ('nan', 'inf', 'infinity', '1_000') must stay strings — '--query
    infinity' is a search string, not float('inf')."""
    from mcp_vector_search_spark.cli import _coerce

    assert _coerce("3") == 3 and _coerce("-7") == -7
    assert _coerce("0.5") == 0.5 and _coerce("-1.25") == -1.25
    for s in ("nan", "inf", "infinity", "Infinity", "1_000", "1e3", ".5", "5."):
        assert _coerce(s) == s, s
    assert _coerce("str:123") == "123"
    assert _coerce("true") is True and _coerce("False") is False


def test_find_smells_tool_returns_rows(spark):
    """Regression: the tool ran over the slim chunk frame (no
    text/n_chars) and failed on every invocation."""
    ad = _adapter(spark)
    r = ad.call_tool("find_smells", {})
    assert r["ok"] is True and "smell" in r["columns"]
    sev = ad.call_tool("find_smells", {"severity": "warning"})
    assert sev["ok"] is True
    idx = sev["columns"].index("severity")
    assert all(row[idx] == "warning" for row in sev["rows"])


def test_save_report_contained_and_hostile_json(spark, tmp_path):
    ad = _adapter(spark)
    ad.reports_dir = str(tmp_path / "reports")
    ok = ad.call_tool("save_report", {"content": "hello", "output_path": "r/sub.md"})
    assert ok["ok"] and ok["path"].startswith(str(tmp_path))
    bad = ad.call_tool(
        "save_report", {"content": "x", "output_path": "../../escape.md"}
    )
    assert bad["ok"] is False and "escapes" in bad["error"]


def test_advertised_args_are_honored(spark):
    """Schema-advertised arguments must change behavior or be visibly
    surfaced — never accepted and silently dropped (r6 review)."""
    ad = _adapter(spark)

    # kg_query query_type routes: callers/callees vs related
    ad.call_tool("kg_build", {})
    rel = ad.call_tool("kg_query", {"entity": 0, "query_type": "related"})
    assert rel["ok"]
    callers = ad.call_tool("kg_query", {"entity": 0, "query_type": "callers"})
    assert callers["ok"]
    if callers["rows"]:
        d = callers["columns"].index("direction")
        assert all(r[d] == "caller" for r in callers["rows"])
    bad = ad.call_tool("kg_query", {"entity": 0, "query_type": "nope"})
    assert not bad["ok"] and "query_type" in bad["error"]
    badrel = ad.call_tool("kg_query", {"entity": 0, "relationship": "imports"})
    assert not badrel["ok"] and "calls" in badrel["error"]

    # trace direction validates and routes
    badd = ad.call_tool(
        "trace_execution_flow", {"entry_point": 0, "direction": "sideways"}
    )
    assert not badd["ok"]
    fwd = ad.call_tool(
        "trace_execution_flow", {"entry_point": 0, "direction": "backward"}
    )
    assert fwd["ok"]

    # analyze_project validates presets and surfaces the no-op
    badp = ad.call_tool("analyze_project", {"threshold_preset": "nope"})
    assert not badp["ok"]
    okp = ad.call_tool("analyze_project", {"threshold_preset": "strict"})
    assert okp["ok"] and okp.get("ignored_args") == ["threshold_preset"]

    # embed_chunks surfaces the unused batch_size
    e = ad.call_tool("embed_chunks", {"batch_size": 64})
    assert e["ok"] and e.get("ignored_args") == ["batch_size"]


def test_index_project_extension_filter(spark):
    ad = _adapter(spark)
    full = ad.call_tool("index_project", {})["indexed_chunks"]
    # corpus sources carry no .py suffix, so a .py-scoped index is empty
    scoped = ad.call_tool("index_project", {"file_extensions": [".py"]})
    assert scoped["ok"] and scoped["indexed_chunks"] == 0
    # and a fresh unfiltered force re-index restores the full count
    ad._ext_pattern = None
    again = ad.call_tool("index_project", {"force": True})
    assert again["indexed_chunks"] == full


def test_kg_callers_at_commit_serves_from_persisted_closure(spark, tmp_path):
    """r8: the full closure-served temporal path — ancestor-scoped
    callers answered from a persisted commit_closure table (no git-log
    parse on the query path), with the stale-closure fallback to the
    live driver BFS when the repo gains commits after the closure was
    persisted."""
    from tests.test_git_source import _init_repo

    from mcp_vector_search_spark.sources.git_source import (
        commit_closure,
        git_log_df,
    )

    repo = _init_repo(tmp_path / "repo")  # linear c0 -> c1 -> c2
    commits = git_log_df(spark, str(repo))
    by_subject = {r.subject: r.commit_sha for r in commits.collect()}
    closure_p = str(tmp_path / "closure.parquet")
    commit_closure(commits).write.parquet(closure_p)

    ad = _adapter(spark)
    ad.repo_path = str(repo)
    ad.ancestry_closure_path = closure_p
    # chunks carrying commit_sha: f_old created at c0, f_new at c2
    ad._chunks = spark.createDataFrame(
        [("f_old", by_subject["c0"]), ("f_new", by_subject["c2"])],
        "name string, commit_sha string",
    )
    ad.project._kg_edges = spark.createDataFrame(
        [("f_old", "target"), ("f_new", "target")], "src string, dst string"
    )

    # at c1, only f_old (created at ancestor c0) may call target;
    # f_new (created at the NON-ancestor c2) must be excluded
    r = ad.call_tool(
        "kg_callers_at_commit",
        {"entity_name": "target", "commit_sha": by_subject["c1"]},
    )
    assert r["ok"]
    srcs = {row[r["columns"].index("src")] for row in r["rows"]}
    assert srcs == {"f_old"}

    # stale closure: a commit created AFTER the closure was persisted
    # still answers via the live-git-log fallback
    import subprocess

    (repo / "f3.txt").write_text("3")
    subprocess.run(["git", "-C", str(repo), "add", "."], check=True,
                   capture_output=True)
    subprocess.run(["git", "-C", str(repo), "commit", "-q", "-m", "c3"],
                   check=True, capture_output=True)
    c3 = subprocess.run(["git", "-C", str(repo), "rev-parse", "HEAD"],
                        check=True, capture_output=True, text=True).stdout.strip()
    r2 = ad.call_tool(
        "kg_callers_at_commit", {"entity_name": "target", "commit_sha": c3}
    )
    assert r2["ok"]
    srcs2 = {row[r2["columns"].index("src")] for row in r2["rows"]}
    assert srcs2 == {"f_old", "f_new"}  # c3 descends from everything

    # a genuinely unknown sha is an error, not an empty answer
    r3 = ad.call_tool(
        "kg_callers_at_commit", {"entity_name": "target", "commit_sha": "dead"}
    )
    assert not r3["ok"] and "unknown commit" in r3["error"]


def test_corpus_attrition_round_trips(spark, tmp_path):
    """r10 VERDICT #8: the ingest attrition number reaches an operator
    through the facade (from_corpus report_attrition=True) and the MCP
    tool — no hand import of sources.corpus required."""
    from mcp_vector_search_spark.api import SparkProject
    from mcp_vector_search_spark.mcp_adapter import McpAdapter

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good one"}\n'
        "{broken json\n"
        '{"doc_id": 2, "text": "good two"}\n'
    )
    proj = SparkProject.from_corpus(
        spark, str(p), "jsonl", report_attrition=True
    )
    assert proj.corpus_attrition["malformed_dropped"] == 1
    assert proj.corpus_attrition["fmt"] == "jsonl"
    out = McpAdapter(proj).call_tool("corpus_attrition", {})
    assert out["ok"] and out["attrition"]["malformed_dropped"] == 1
    # a project opened without the audit points at the knob instead
    proj2 = SparkProject.from_corpus(spark, str(p), "jsonl")
    out2 = McpAdapter(proj2).call_tool("corpus_attrition", {})
    assert out2["ok"] and out2["attrition"] is None and "hint" in out2


import pytest


@pytest.fixture(scope="module")
def served(spark):
    """An adapter over a project in warm serving mode; serving stops
    (confs restored, caches released) when the module's tests end."""
    ad = _adapter(spark)
    ad.project.start_serving()
    yield ad
    ad.project.stop_serving()


def _cold_rows(ad, query, vec, k):
    """The cold `hybrid_search` answer for the same terms and vector."""
    from mcp_vector_search_spark.functions.query import preprocess_query
    from mcp_vector_search_spark.plans.hybrid import hybrid_search, query_frame

    p = ad.project
    out = hybrid_search(
        p.docs, p.vectors, preprocess_query(query).split(),
        query_frame(p.spark, vec), k=k,
    ).collect()
    return [[r.doc_id, r.rrf_score] for r in out]


def test_served_hybrid_edge_cases_match_cold_path(served, monkeypatch):
    """Empty query, stopword-only query (no term in the corpus, so the
    BM25 leg is empty) and a zero query vector (every cosine 0, no ANSI
    divide-by-zero) each return `ok` on the served MCP path, with the
    cold path's rows."""
    from mcp_vector_search_spark.functions import embed
    from mcp_vector_search_spark.functions.query import preprocess_query
    from mcp_vector_search_spark.operators.bm25 import bm25_oneshot_stats

    k = 5
    for query in ("", "of and to is in"):
        terms = preprocess_query(query).split()
        assert bm25_oneshot_stats(served.project.docs, terms)["idf"] == {}
        r = served.call_tool("search_hybrid", {"query": query, "limit": k})
        assert r["ok"], r
        assert len(r["rows"]) == k  # vector-only rows
        assert r["rows"] == _cold_rows(served, query, served._query_vec(query), k)

    monkeypatch.setattr(
        embed, "embed_texts", lambda texts, dim, model_name=None: [[0.0] * dim for _ in texts]
    )
    zero = served._query_vec("data query")
    assert not any(zero)
    r = served.call_tool("search_hybrid", {"query": "data query", "limit": k})
    assert r["ok"], r
    assert r["rows"] == _cold_rows(served, "data query", zero, k)


def _node_names(plan) -> list[str]:
    """Operator names of an executed plan tree, through the adaptive
    wrapper and its query stages, not descending into the plans that
    built cached relations."""
    names = [plan.nodeName()]
    if names[0] == "AdaptiveSparkPlan":
        return names + _node_names(plan.executedPlan())
    if names[0].endswith("QueryStage"):
        return names + _node_names(plan.plan())
    children = plan.children()
    for i in range(children.size()):
        names += _node_names(children.apply(i))
    return names


def test_warm_served_call_is_two_jobs_without_python_or_broadcast(served, monkeypatch):
    """A warm MCP search_hybrid call after start_serving runs exactly
    two Spark jobs that run one stage each (the stages that built the
    caches they read are skipped) and shuffle nothing: the BM25 leg
    and the vector leg, each a TakeOrderedAndProject plan over a
    pinned cache with no adaptive wrapper, no Python-evaluation node
    and no exchange (the query is embedded on the driver and scored as
    a literal; the term stats were loaded at start_serving; fusion and
    the answer frame are local). A term the corpus lacks adds no job:
    the whole vocabulary was loaded, so it is known absent."""
    from mcp_vector_search_spark.plans import hybrid

    sc = served.project.spark.sparkContext
    args = {"query": "data query fast", "limit": 5}
    assert served.call_tool("search_hybrid", args)["ok"]  # warm
    legs = []
    for name in ("bm25_topk", "cosine_topk"):
        def spy(*a, _real=getattr(hybrid, name), **kw):
            legs.append(_real(*a, **kw))
            return legs[-1]

        monkeypatch.setattr(hybrid, name, spy)

    def jobs_of_call(group, call_args):
        sc.setJobGroup(group, "one warm search_hybrid call")
        try:
            r = served.call_tool("search_hybrid", call_args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert r["ok"], r
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return sc.statusTracker().getJobIdsForGroup(group)

    jobs = jobs_of_call("warm-served-search-hybrid", args)
    assert len(jobs) == 2
    store = sc._jsc.sc().statusStore()
    ran = []
    for j in jobs:
        for sid in sc.statusTracker().getJobInfo(j).stageIds:
            stage = store.lastStageAttempt(sid)
            assert stage.shuffleReadBytes() == 0 and stage.shuffleWriteBytes() == 0
            if stage.status().toString() != "SKIPPED":
                ran.append(sid)
    assert len(ran) == 2

    assert len(legs) == 2
    for df in legs:
        names = _node_names(df._jdf.queryExecution().executedPlan())
        assert "TakeOrderedAndProject" in names
        assert "InMemoryTableScan" in names
        for banned in ("AdaptiveSparkPlan", "MapInPandas", "ArrowEvalPython",
                       "BatchEvalPython", "BroadcastExchange", "Exchange"):
            assert banned not in names, names

    unseen = {"query": "data query fast quokkaqz", "limit": 5}
    assert len(jobs_of_call("warm-served-unseen-term", unseen)) == 2
