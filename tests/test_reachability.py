"""Every top-level engine definition has a production caller.

A pure-AST walk (no Spark) starts from the entry points a user or the
driver can reach:

- `SparkProject`, `McpAdapter`, and every def in `mcp_server.py` and
  `cli.py`;
- the module-level code of every engine module (this is how the
  registry's `SPARK_QUERIES` / `ORACLE_SQL` tables root the oracle-gated
  queries);
- every non-test `.py` under `perfbench/` and `tools/`, plus
  `__spark_entry__.py`.

From a reached definition it follows Name, Attribute and import
references and identifier-shaped string constants, and reaches EVERY
top-level def of that name in any engine module. Matching by name
over-approximates reachability: the walk can miss dead code but never
flags live code. A docstring or comment naming a function is not a use.

A definition the walk does not reach is deleted with its tests, unless
it is listed below with its reason.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "mcp_vector_search_spark"

ENTRY_DEFS = ("SparkProject", "McpAdapter")
ENTRY_MODULES = ("mcp_server.py", "cli.py")
SCRIPT_DIRS = ("perfbench", "tools")
SCRIPTS = ("__spark_entry__.py",)

# SURVEY-named capabilities with no surface today: each could only get
# one through a new option or a changed tool output (ROADMAP item 4
# names the surface each still needs).
SURVEY_CAPABILITIES = {
    "code_chunks_hierarchical": "SURVEY S2 hierarchical AST chunks",
    "build_nodes": "SURVEY §1 KG node tables",
    "section_nodes": "SURVEY §1 KG node tables (Section)",
    "detect_frameworks": "SURVEY §1 KG node tables (Framework)",
    "entity_resolve": "SURVEY G1 entity resolution by name",
    "load_custom_synonyms": "SURVEY F3 custom synonyms JSON merge",
    "embed_with_cache": "SURVEY F11 content-hash embedding cache",
    "write_schema_version": "SURVEY §1 schema system",
    "read_schema_version": "SURVEY §1 schema system",
    "check_schema_version": "SURVEY §1 schema system",
    # the persisted BM25 index's public API (SURVEY K3) beyond the
    # write/update/compact/query calls the gates and perfbench make
    "read_bm25_index": "SURVEY K3 persisted index frames for hybrid_search_batch_indexed",
    "bm25_term_buckets": "SURVEY K3 bucket count for hybrid_search_batch_indexed",
    "refresh_bm25_term_stats": "SURVEY K3 deferred idf refresh after refresh_term_stats=False",
}

# Reference implementations that tests compare a reached path against.
REFERENCE_IMPLEMENTATIONS = {
    "ivf_topk_batch_np": "tests/test_ivf.py::test_ivf_pack_roundtrip_and_parity",
    "ivfpq_encode": "tests/test_ivfpq.py::test_ivfpq_pack_fused_bit_identical_to_three_step",
}

# The streaming watch -> reindex loop (SURVEY S6, ST1-ST5): no surface
# starts it yet, and ROADMAP item 3 rewrites its commit protocol, which
# also decides the fate of `vacuum_versioned`.
STREAMING_ROOTS = (
    "start_incremental_index",
    "bm25_index_sink",
    "ann_layout_sink",
    "bootstrap_ann_layout",
    "compact_ann_layout",
    "versioned_upsert_sink",
    "latest_chunks",
    "debounced_changes",
    "reindex_triggers",
)
STREAMING_LOOP = {
    name: "streaming loop / ROADMAP item 3"
    for name in (*STREAMING_ROOTS, "vacuum_versioned")
}

KEPT = {**SURVEY_CAPABILITIES, **REFERENCE_IMPLEMENTATIONS, **STREAMING_LOOP}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    """Every name `node` can refer to: Name ids, attribute names, import
    targets and identifier-shaped string constants."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.ImportFrom) and n.module:
            out.update(n.module.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.fullmatch(n.value):
                out.add(n.value)
    return out


def _engine() -> tuple[dict[str, list[tuple[str, ast.AST]]], set[str]]:
    """(name -> [(module, top-level def)], names used by the roots)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set(ENTRY_DEFS)
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for st in ast.parse(path.read_text(), rel).body:
            if isinstance(st, _DEF):
                defs.setdefault(st.name, []).append((rel, st))
                if path.name in ENTRY_MODULES:
                    roots.add(st.name)
            else:
                roots |= _names(st)
    scripts = [ROOT / s for s in SCRIPTS] + [
        p
        for d in SCRIPT_DIRS
        for p in sorted((ROOT / d).rglob("*.py"))
        if not p.name.startswith("test_") and p.name != "conftest.py"
    ]
    for path in scripts:
        roots |= _names(ast.parse(path.read_text(), str(path)))
    return defs, roots


_DEFS, _ROOTS = _engine()


def _unreached(extra_roots) -> list[tuple[str, ast.AST]]:
    """Top-level engine defs the walk from the roots plus `extra_roots`
    does not reach, in file order."""
    seen: set[str] = set()
    todo = [*_ROOTS, *extra_roots]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, st in _DEFS.get(name, ()):
            todo.extend(_names(st))
    return sorted(
        ((rel, st) for name, found in _DEFS.items() if name not in seen for rel, st in found),
        key=lambda d: (d[0], d[1].lineno),
    )


def _span(st: ast.AST) -> int:
    return st.end_lineno - st.lineno + 1


def test_every_engine_def_is_reached():
    missing = _unreached(KEPT)
    if missing:
        no_caller = {st.name for _, st in missing}
        inventory = _unreached(STREAMING_ROOTS)
        lines = [
            f"{rel}:{st.lineno} {st.name} ({_span(st)} lines): "
            + (
                f"kept — {KEPT[st.name]}" if st.name in KEPT
                else "NO CALLER" if st.name in no_caller
                else "reached from a kept entry"
            )
            for rel, st in inventory
        ]
        raise AssertionError(
            f"{len(missing)} top-level defs have no production caller "
            f"({sum(_span(st) for _, st in missing)} lines); wire each into a "
            f"surface or delete it with its tests. Unreached outside the "
            f"streaming loop: {len(inventory)} defs, "
            f"{sum(_span(st) for _, st in inventory)} lines:\n" + "\n".join(lines)
        )


def test_kept_entries_exist_and_have_no_caller():
    """A kept entry that is gone, or that gained a production caller,
    must leave its list."""
    gone = sorted(name for name in KEPT if name not in _DEFS)
    assert not gone, f"kept names with no definition: {gone}"
    unreached = {st.name for _, st in _unreached(())}
    reached = sorted(name for name in KEPT if name not in unreached)
    assert not reached, f"kept names that now have a caller: {reached}"
