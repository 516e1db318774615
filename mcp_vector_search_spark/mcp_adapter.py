"""Schema-compatible MCP tool adapter over `SparkProject`.

The reference's primary UX is an MCP stdio server exposing ~27 tools
(``mcp/tool_schemas.py:46-1380``, dispatch ``mcp/server.py:303-460``).
This module closes that surface Spark-side WITHOUT a transport: tool
names and argument names match the reference schemas, dispatch is
dict-in/dict-out (`call_tool(name, arguments) -> dict`), and every
result is JSON-safe rows — exactly what an MCP server handler would
serialize. Wiring this to a stdio loop is transport plumbing, not
engine work.

Two tool classes are declined honestly with a structured error:

- LLM-orchestration tools (`interpret_analysis`, `review_repository`,
  `review_pull_request`, `code_review`, `wiki_generate`,
  `story_generate`) — driver-side LLM loops the SURVEY scopes out;
  the error names the data tools they would call.
- git-temporal tools (`kg_history`, `kg_callers_at_commit`) when no
  `repo_path` was configured — they need a commit DAG to answer.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# name -> (required args, known args) — mirrors tool_schemas.py
TOOL_SCHEMAS: dict[str, dict[str, Any]] = {
    "search_code": {"required": ["query"], "args": ["query", "limit"]},
    "search_similar": {"required": ["file_path"], "args": ["file_path", "limit"]},
    "search_context": {"required": ["description"], "args": ["description", "limit"]},
    "search_hybrid": {"required": ["query"], "args": ["query", "limit"]},
    "get_project_status": {"required": [], "args": []},
    "index_project": {"required": [], "args": ["force", "file_extensions"]},
    "embed_chunks": {"required": [], "args": ["fresh", "batch_size"]},
    "analyze_project": {"required": [], "args": ["threshold_preset", "output_format"]},
    "analyze_file": {"required": ["file_path"], "args": ["file_path"]},
    "find_smells": {"required": [], "args": ["smell_type", "severity"]},
    "get_complexity_hotspots": {"required": [], "args": ["limit"]},
    "check_circular_dependencies": {"required": [], "args": []},
    "save_report": {
        "required": ["content"],
        "args": ["content", "report_type", "output_path", "filename_prefix"],
    },
    "kg_build": {"required": [], "args": ["force", "skip_documents", "limit"]},
    "kg_stats": {"required": [], "args": []},
    "kg_query": {
        "required": ["entity"],
        "args": ["entity", "query_type", "relationship", "limit"],
    },
    "kg_ontology": {"required": [], "args": ["category"]},
    "kg_ia": {"required": [], "args": []},
    "trace_execution_flow": {
        "required": ["entry_point"],
        "args": ["entry_point", "depth", "direction"],
    },
    "kg_history": {"required": ["entity_name"], "args": ["entity_name"]},
    "kg_callers_at_commit": {
        "required": ["entity_name", "commit_sha"],
        "args": ["entity_name", "commit_sha"],
    },
    # Engine extension (no reference counterpart): the serving-regime
    # facade + the last search_batch routing decision, so an operator
    # of a deployed index can see WHICH physical plan auto-routing
    # picks and why (VERDICT r9 #4)
    "ann_serving_regime": {"required": [], "args": ["batch_size", "path"]},
    # Engine extension: the ingest attrition audit — how many records
    # the drop-mode corpus read discarded (from_corpus
    # report_attrition=True records it; r10 VERDICT #8 asked for a
    # surface beyond the raw sources.corpus import)
    "corpus_attrition": {"required": [], "args": []},
    # LLM-orchestration surface (declined with pointers):
    "interpret_analysis": {"required": ["analysis_json"], "args": ["analysis_json"]},
    "review_repository": {"required": ["review_type"], "args": ["review_type"]},
    "review_pull_request": {"required": [], "args": ["base_ref", "head_ref"]},
    "code_review": {"required": [], "args": ["focus", "max_files"]},
    "wiki_generate": {"required": [], "args": ["force", "format"]},
    "story_generate": {"required": [], "args": ["max_commits", "use_llm"]},
}

_LLM_TOOLS = {
    "interpret_analysis": ["analyze_project", "find_smells", "get_complexity_hotspots"],
    "review_repository": ["search_code", "analyze_project", "find_smells"],
    "review_pull_request": ["search_code", "analyze_file"],
    "code_review": ["analyze_file", "find_smells"],
    "wiki_generate": ["kg_ontology", "kg_ia", "analyze_project"],
    "story_generate": ["kg_history"],
}


def list_tools() -> list[dict]:
    """Name + argument contract for every tool, MCP-listTools shaped."""
    return [
        {"name": n, "required": s["required"], "arguments": s["args"]}
        for n, s in TOOL_SCHEMAS.items()
    ]


def _json_cell(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    if hasattr(v, "asDict"):
        return {k: _json_cell(x) for k, x in v.asDict().items()}
    return str(v)


def df_payload(df: DataFrame, max_rows: int = 200) -> dict:
    """DataFrame → {"columns", "rows", "truncated"} with JSON-safe
    cells. `max_rows+1` is collected to detect truncation without a
    count action; handlers keep result sets bounded upstream (top-k /
    limits), this is the last-resort cap."""
    rows = df.limit(max_rows + 1).collect()
    trunc = len(rows) > max_rows
    rows = rows[:max_rows]
    return {
        "ok": True,
        "columns": list(df.columns),
        "rows": [[_json_cell(v) for v in r] for r in rows],
        "truncated": trunc,
    }


class McpAdapter:
    """Dict-in/dict-out dispatch for the reference MCP tool surface.

    `project` is a `SparkProject`; `repo_path` (optional) unlocks the
    git-temporal tools. Chunks/KG state is built lazily on first use
    (`index_project` / `kg_build` force it explicitly, like the
    reference's index/build tools)."""

    def __init__(
        self,
        project,
        repo_path: str | None = None,
        max_rows: int = 200,
        reports_dir: str = "reports",
        model_name: str | None = None,
        ancestry_closure_path: str | None = None,
    ):
        self.project = project
        self.repo_path = repo_path
        self.max_rows = max_rows
        # optional persisted (commit_sha, ancestor_sha) closure table
        # (write SparkProject.commit_ancestry_table once, offline) —
        # the amortized monorepo path for repeated at-commit queries:
        # each lookup becomes one filter of the table instead of a
        # driver BFS over the parent map (r8)
        self.ancestry_closure_path = ancestry_closure_path
        self._ancestry_closure: DataFrame | None = None
        # query-embedding encoder. MUST name the encoder that produced
        # the corpus embeddings — with None (this container) queries
        # use the deterministic fake, which only matches corpora
        # embedded by the same fake (r6 review #6)
        self.model_name = model_name
        # save_report containment root. Pinned to an ABSOLUTE real
        # path at construction time so a later os.chdir() in the
        # serving process cannot silently move where reports land.
        import os as _os

        self.reports_dir = _os.path.realpath(_os.path.abspath(reports_dir))
        self._chunks: DataFrame | None = None
        self._commits: DataFrame | None = None
        self._dim: int | None = None  # corpus embedding dim, one probe
        self._ext_pattern: str | None = None  # index_project extension filter

    # ------------------------------------------------------- state

    def _chunk_frame(self) -> DataFrame:
        """Chunk table with the columns the analysis/KG tools need —
        the reference's index; built once from the doc corpus."""
        if self._chunks is None:
            from mcp_vector_search_spark.functions.text import tokenize

            docs = self.project.docs
            if self._ext_pattern is not None:
                # index_project(file_extensions=...) scoped the index
                docs = docs.filter(F.col("source").rlike(self._ext_pattern))
            toks = tokenize("text")
            self._chunks = docs.select(
                "doc_id",
                "source",
                F.get(toks, 0).alias("name"),
                F.slice(toks, 2, 3).alias("calls"),
                F.size(toks).cast("long").alias("n_tokens"),
                F.size(F.split("text", "\n")).cast("long").alias("n_lines"),
            ).cache()
        return self._chunks

    def _edges(self) -> DataFrame:
        if self.project._kg_edges is None:
            self.project.kg_build(self._chunk_frame())
        return self.project._kg_edges

    def _commits_df(self) -> DataFrame | None:
        if self._commits is None and self.repo_path is not None:
            from mcp_vector_search_spark.sources.git_source import git_log_df

            self._commits = git_log_df(self.project.spark, self.repo_path)
        return self._commits

    def _closure_df(self) -> DataFrame | None:
        """The persisted ancestry closure, read once per adapter —
        None when unconfigured (ancestor_set_df then uses the driver
        BFS)."""
        if self._ancestry_closure is None and self.ancestry_closure_path:
            self._ancestry_closure = self.project.spark.read.parquet(
                self.ancestry_closure_path
            )
        return self._ancestry_closure

    def _query_vec(self, text: str) -> list[float]:
        """The query vector for the vector legs, embedded on the driver
        by `embed_texts` with the adapter's `model_name` — the SAME
        (guarded-real / deterministic-fake) function `embed_batch`
        runs for the corpus, at the corpus dim — so a warm call starts
        no Spark job for it. Construct the adapter with the corpus
        encoder's model_name when serving a real-embedded corpus; the
        dim probe alone cannot make the fake match a real vector
        space (r6 review #6)."""
        from mcp_vector_search_spark.functions.embed import embed_texts

        if self._dim is None:
            row = self.project.vectors.select("embedding").first()
            if row is None:
                raise ValueError("vector index is empty — embed_chunks first")
            self._dim = len(row["embedding"])
        return embed_texts([text], self._dim, self.model_name)[0]

    # ----------------------------------------------------- dispatch

    def call_tool(self, name: str, arguments: dict | None = None) -> dict:
        # a hostile/malformed frame must produce a structured error,
        # never an exception that could kill a serving loop
        if arguments is not None and not isinstance(arguments, dict):
            return {
                "ok": False,
                "error": f"arguments must be an object, got {type(arguments).__name__}",
            }
        args = dict(arguments or {})
        if name not in TOOL_SCHEMAS:
            return {"ok": False, "error": f"unknown tool: {name}"}
        missing = [a for a in TOOL_SCHEMAS[name]["required"] if a not in args]
        if missing:
            return {"ok": False, "error": f"missing required arguments: {missing}"}
        if name in _LLM_TOOLS:
            return {
                "ok": False,
                "error": "llm-orchestration tool: out of engine scope; "
                "query the data tools it composes instead",
                "data_tools": _LLM_TOOLS[name],
            }
        try:
            return self._dispatch(name, args)
        except Exception as e:  # structured errors, MCP-style
            return {"ok": False, "error": f"{type(e).__name__}: {e}"}

    def _dispatch(self, name: str, a: dict) -> dict:
        p = self.project
        cap = self.max_rows
        k = int(a.get("limit", 10))

        if name == "search_code":
            return df_payload(p.search_code(a["query"], limit=k), cap)
        if name == "search_similar":
            doc = p.docs.filter(F.col("source") == a["file_path"]).select("doc_id").first()
            if doc is None:
                return {"ok": False, "error": f"no indexed doc for {a['file_path']!r}"}
            return df_payload(p.search_similar(doc["doc_id"], limit=k), cap)
        if name == "search_hybrid":
            qv = self._query_vec(a["query"])
            return df_payload(p.search_hybrid(a["query"], qv, limit=k), cap)
        if name == "search_context":
            qv = self._query_vec(a["description"])
            if p.chunk_meta is None:
                # context pipeline needs chunk metadata; hybrid is the
                # closest contract the corpus supports
                return df_payload(p.search_hybrid(a["description"], qv, limit=k), cap)
            return df_payload(p.search_context(a["description"], qv, limit=k), cap)
        if name == "get_project_status":
            return df_payload(p.get_project_status(), cap)
        if name == "ann_serving_regime":
            out = {
                "ok": True,
                "regime": p.ann_serving_regime(
                    batch_size=int(a.get("batch_size", 2)),
                    path=a.get("path"),
                ),
            }
            # the decision the LAST search_batch actually took (None
            # until one has run) — regime says what auto WOULD do,
            # last_route says what it DID
            out["last_route"] = p.last_route
            return out
        if name == "corpus_attrition":
            if p.corpus_attrition is None:
                return {
                    "ok": True, "attrition": None,
                    "hint": "open the project with "
                            "from_corpus(report_attrition=True) to run "
                            "the malformed-record audit pass",
                }
            return {"ok": True, "attrition": p.corpus_attrition}
        if name == "index_project":
            exts = a.get("file_extensions")
            if a.get("force") or exts is not None:
                if self._chunks is not None:
                    self._chunks.unpersist()
                self._chunks = None
            if exts is not None:
                # honor the advertised extension filter: the new index
                # covers only matching sources (r6 review #6 — this
                # arg was accepted and silently ignored)
                import re as _re

                if isinstance(exts, str):
                    exts = [exts]
                norm = [e if e.startswith(".") else "." + e for e in exts]
                self._ext_pattern = (
                    "(" + "|".join(_re.escape(e) for e in norm) + ")$"
                )
            n = self._chunk_frame().count()
            return {"ok": True, "indexed_chunks": n}
        if name == "embed_chunks":
            n = p.vectors.count()
            out = {"ok": True, "embedded": n, "fresh": bool(a.get("fresh", False))}
            if "batch_size" in a:
                # vectors are a precomputed table here — say so rather
                # than silently dropping the knob (r6 review #6)
                out["ignored_args"] = ["batch_size"]
            return out
        if name == "analyze_project":
            preset = a.get("threshold_preset")
            if preset is not None:
                from mcp_vector_search_spark.config import THRESHOLD_PRESETS

                if preset not in THRESHOLD_PRESETS:
                    return {
                        "ok": False,
                        "error": f"unknown threshold_preset {preset!r}; "
                        f"expected one of {sorted(THRESHOLD_PRESETS)}",
                    }
            out = df_payload(p.analyze_project(), cap)
            if preset is not None:
                # the rollup's grade ladder is fixed; an accepted-but-
                # unapplied knob must be visible, not silent
                out["ignored_args"] = ["threshold_preset"]
            return out
        if name == "analyze_file":
            roll = p.analyze_project().filter(F.col("source") == a["file_path"])
            return df_payload(roll, cap)
        if name == "find_smells":
            # detect_smells reads text/n_chars — the DOC corpus, not
            # the slim chunk frame (which lacks both; round-4 review)
            sm = p.find_smells(p.docs)
            if a.get("smell_type"):
                sm = sm.filter(F.col("smell") == a["smell_type"])
            if a.get("severity"):
                sm = sm.filter(F.col("severity") == a["severity"])
            return df_payload(sm, cap)
        if name == "get_complexity_hotspots":
            # the engine op is top-N per group (W3); the MCP tool
            # contract is a single global top-`limit` list
            hs = p.get_complexity_hotspots(n=k).orderBy(
                F.desc("n_chars"), F.asc("doc_id")
            ).limit(k)
            return df_payload(hs, cap)
        if name == "check_circular_dependencies":
            return df_payload(p.check_circular_dependencies(self._edges()), cap)
        if name == "save_report":
            import os as _os

            # containment: reports land under the adapter's reports
            # dir; an MCP surface must not hand callers arbitrary
            # filesystem writes via an absolute/traversal output_path
            rel = a.get("output_path") or (
                f"{a.get('filename_prefix', a.get('report_type', 'report'))}.md"
            )
            # self.reports_dir is already an absolute realpath (pinned
            # at construction); realpath the JOINED path too so a
            # symlink planted under the reports dir cannot redirect
            # the write outside the containment root (ADVICE r4)
            base = self.reports_dir
            path = _os.path.realpath(_os.path.join(base, rel))
            if not path.startswith(base + _os.sep):
                return {
                    "ok": False,
                    "error": f"output_path escapes the reports dir: {rel!r}",
                }
            _os.makedirs(_os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                fh.write(a["content"])
            return {"ok": True, "path": path, "bytes": len(a["content"])}
        if name == "kg_build":
            chunks = self._chunk_frame()
            if a.get("limit"):
                chunks = chunks.limit(int(a["limit"]))
            edges = p.kg_build(chunks)
            out = {"ok": True, "edges": edges.count()}
            if a.get("skip_documents"):
                # this KG is call edges only — there are no Document
                # nodes to skip; surface the no-op (r6 review #6)
                out["ignored_args"] = ["skip_documents"]
            return out
        if name == "kg_stats":
            self._edges()
            return df_payload(p.kg_stats(), cap)
        if name == "kg_query":
            self._edges()
            relationship = a.get("relationship")
            if relationship not in (None, "calls"):
                return {
                    "ok": False,
                    "error": f"unsupported relationship {relationship!r}: "
                    "this index holds 'calls' edges only",
                }
            qt = a.get("query_type", "related")
            if qt == "related":
                rel = p.find_related(a["entity"], max_hops=2)
            elif qt in ("callers", "callees"):
                from mcp_vector_search_spark.operators.graph import call_graph

                rel = call_graph(p._kg_edges, a["entity"]).filter(
                    F.col("direction") == qt[:-1]
                )
            else:
                return {
                    "ok": False,
                    "error": f"unsupported query_type {qt!r}; expected "
                    "'related', 'callers', or 'callees'",
                }
            if a.get("limit"):
                rel = rel.limit(int(a["limit"]))
            return df_payload(rel, cap)
        if name == "kg_ontology":
            from mcp_vector_search_spark.functions.classify import categorize_path

            cats = p.docs.select(categorize_path("source").alias("category")).groupBy(
                "category"
            ).count()
            if a.get("category"):
                cats = cats.filter(F.col("category") == a["category"])
            return df_payload(cats.orderBy(F.desc("count")), cap)
        if name == "kg_ia":
            from mcp_vector_search_spark.operators.kg import build_ontology

            nodes, edges = build_ontology(p.docs)
            return {
                "ok": True,
                "nodes": df_payload(nodes, cap),
                "edges": df_payload(edges, cap),
            }
        if name == "trace_execution_flow":
            self._edges()
            direction = a.get("direction", "forward")
            if direction not in ("forward", "backward"):
                return {
                    "ok": False,
                    "error": f"unsupported direction {direction!r}; "
                    "expected 'forward' or 'backward'",
                }
            return df_payload(
                p.trace_execution_flow(
                    a["entry_point"],
                    max_hops=int(a.get("depth", 3)),
                    direction=direction,
                ),
                cap,
            )
        if name in ("kg_history", "kg_callers_at_commit"):
            closure = self._closure_df() if name == "kg_callers_at_commit" else None
            # kg_history (and the BFS ancestry branch) need the git
            # log; the closure-served branch does NOT — a
            # closure-only deployment (no repo checkout) must still
            # answer at-commit queries, and with a checkout present
            # the per-query path must not pay a monorepo-scale
            # `git log` parse the closure lookup never reads (r8
            # review). The log is loaded lazily only as the
            # stale-closure fallback.
            commits = None if closure is not None else self._commits_df()
            if closure is None and commits is None:
                return {
                    "ok": False,
                    "error": "git-temporal tool needs a repo_path configured "
                    "on the adapter",
                }
            if name == "kg_history":
                hist = commits.filter(
                    F.col("subject").contains(a["entity_name"])
                ).select("commit_sha", "author", "ts", "subject")
                return df_payload(hist.orderBy(F.desc("ts")), cap)
            # kg_callers_at_commit: callers restricted to the commit's
            # ancestor set (true DAG ancestry, sources/git_source.py).
            # Commit scoping REQUIRES chunks indexed with commit_sha —
            # without it the ancestry filter cannot apply, and
            # answering with all-history callers while claiming
            # commit-scoped results would be silently wrong.
            chunks = self._chunk_frame()
            if "commit_sha" not in chunks.columns:
                return {
                    "ok": False,
                    "error": "commit-scoped callers need chunks indexed "
                    "with a commit_sha column (git blame metadata); "
                    "this index has none — use kg_query for "
                    "history-wide callers",
                }
            # per-target ancestry stays the driver BFS (O(N) shas at
            # any feasible history — the 100k routing threshold is
            # about closure bitsets, not ancestor sets; r8 review). A
            # deployment serving MANY at-commit queries persists
            # `commit_closure` (count-routed driver/distributed) and
            # configures ancestry_closure_path to amortize. No forced
            # broadcast — one commit's ancestor set can be ~the whole
            # history.
            from mcp_vector_search_spark.sources.git_source import (
                StaleClosureError,
                ancestor_set_df,
                entities_at_commit,
            )

            try:
                anc_df = ancestor_set_df(
                    commits, a["commit_sha"], closure=closure
                )
            except StaleClosureError:
                # stale closure + a repo checkout available: fall back
                # to the live git log's driver BFS (r8 review — a
                # closure persisted at T0 must not turn a T1 commit
                # into an 'unknown commit' error when the adapter can
                # answer correctly). Typed catch, not a message
                # substring (r8 ADVICE).
                commits = self._commits_df()
                if commits is None:
                    raise
                anc_df = ancestor_set_df(commits, a["commit_sha"])
            # the closure branch returns a CACHED set — the finally
            # releases it whether the payload materializes or a later
            # step raises, so a long-lived adapter never accumulates
            # per-sha cache entries (no-op on the uncached BFS branch;
            # the try starts HERE because anc_df exists from here)
            try:
                edges = self._edges().filter(F.col("dst") == a["entity_name"])
                live = entities_at_commit(chunks, anc_df)
                edges = edges.join(
                    live.select(F.col("name").alias("src")).distinct(),
                    "src", "left_semi",
                )
                return df_payload(edges, cap)
            finally:
                anc_df.unpersist()
        raise ValueError(f"unhandled tool {name}")  # pragma: no cover
