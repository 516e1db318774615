"""Query-side scalar preprocessing (reference F2/F3/F4/P3 —
``core/query_processor.py``, ``core/query_expander.py``).

These run on the *driver* (a query is one scalar); their outputs
(term lists, variant lists, thresholds, α) parameterize the
distributed plans. Semantics mirror the reference exactly — same
expansion dictionaries, same threshold ladder, same
one-substitution-per-variant strategy — so a query routed through
this engine ranks like the reference.
"""

from __future__ import annotations

import re

# F2: abbreviation → expansion words (``query_processor.py:34-71``)
QUERY_EXPANSIONS: dict[str, str] = {
    "auth": "authentication authorize login",
    "db": "database data storage",
    "api": "application programming interface endpoint",
    "ui": "user interface frontend view",
    "util": "utility helper function",
    "config": "configuration settings options",
    "async": "asynchronous await promise",
    "sync": "synchronous blocking",
    "func": "function method",
    "var": "variable",
    "param": "parameter argument",
    "init": "initialize setup create",
    "parse": "parsing parser analyze",
    "validate": "validation check verify",
    "handle": "handler process manage",
    "error": "exception failure bug",
    "test": "testing unittest spec",
    "mock": "mocking stub fake",
    "log": "logging logger debug",
    "class": "class object type",
    "method": "method function procedure",
    "property": "property attribute field",
    "import": "import require include",
    "export": "export module public",
    "return": "return yield output",
    "loop": "loop iterate for while",
    "condition": "condition if else branch",
    "array": "array list collection",
    "string": "string text character",
    "number": "number integer float",
    "boolean": "boolean true false",
}

# F3: synonym groups, bidirectional (``query_expander.py:11-37``)
CODE_SYNONYMS: dict[str, list[str]] = {
    "auth": ["authentication", "authorize", "login", "session", "credential", "oauth"],
    "delete": ["remove", "destroy", "drop", "purge", "clean", "erase"],
    "create": ["new", "init", "initialize", "build", "make", "generate", "construct"],
    "error": ["exception", "fault", "failure", "crash", "bug", "issue"],
    "config": ["configuration", "settings", "options", "preferences", "env"],
    "db": ["database", "storage", "persistence", "datastore", "repo", "repository"],
    "api": ["endpoint", "route", "handler", "controller", "resource"],
    "test": ["spec", "assertion", "verify", "validate", "check", "expect"],
    "async": ["concurrent", "parallel", "await", "coroutine", "future", "promise"],
    "cache": ["memoize", "store", "buffer", "preload"],
    "parse": ["extract", "tokenize", "analyze", "process", "decode"],
    "render": ["display", "draw", "paint", "show", "present", "view"],
    "fetch": ["get", "retrieve", "load", "download", "pull", "request"],
    "send": ["post", "push", "emit", "dispatch", "publish", "transmit"],
    "log": ["trace", "debug", "print", "output", "record", "audit"],
    "user": ["account", "profile", "member", "identity", "principal"],
    "file": ["document", "path", "stream", "blob", "resource"],
    "search": ["find", "query", "lookup", "filter", "match", "grep"],
    "update": ["modify", "patch", "change", "edit", "mutate", "alter"],
    "serialize": ["encode", "marshal", "dump", "stringify", "format"],
    "deserialize": ["decode", "unmarshal", "load", "parse"],
    "validate": ["check", "verify", "sanitize", "assert", "ensure"],
    "transform": ["convert", "map", "translate", "adapt", "morph"],
    "middleware": ["interceptor", "filter", "hook", "plugin", "handler"],
    "deploy": ["release", "publish", "ship", "rollout", "launch"],
}

_REVERSE_SYNONYMS: dict[str, str] = {
    syn: key for key, group in CODE_SYNONYMS.items() for syn in group
}

# F4: identifier-query patterns (``query_processor.py:5-16``)
_IDENTIFIER_PATTERNS = [
    re.compile(r"\b[\w-]+\.[\w-]+"),
    re.compile(r"\b[a-z][\w]*[A-Z][\w]*\b"),
    re.compile(r"\b@[\w][\w/-]+\b"),
    re.compile(r"\b[\w][\w]*-[\w][\w]*-[\w][\w]*\b"),
]
_PACKAGE_KEYWORDS = frozenset(
    ["sdk", "npm", "pip", "pypi", "crate", "package", "library", "lib"]
)

_TECHNICAL_TERMS = [
    "javascript", "typescript", "python", "java", "cpp", "rust", "go",
    "function", "class", "method", "variable", "import", "export",
    "async", "await", "promise", "callback", "api", "database",
    "parser", "compiler", "interpreter", "syntax", "semantic",
    "mcp", "gateway", "server", "client", "protocol",
]

IDENTIFIER_ALPHA = 0.2  # hybrid α override for identifier queries


def preprocess_query(query: str) -> str:
    """F2: whitespace normalize + inline abbreviation expansion,
    order-preserving dedup (``query_processor.py:78-110``)."""
    query = re.sub(r"\s+", " ", query.strip())
    out: list[str] = []
    seen: set[str] = set()
    for word in query.lower().split():
        for w in [word, *QUERY_EXPANSIONS.get(word, "").split()]:
            if w and w not in seen:
                seen.add(w)
                out.append(w)
    return " ".join(out)


def expand_query(query: str) -> list[str]:
    """F3: one-substitution-per-variant synonym expansion, original
    first, deduped (``query_expander.py:117-185``)."""
    if not query.strip():
        return [query]
    tokens = [
        t for t in (re.sub(r"^[^\w-]+|[^\w-]+$", "", tok) for tok in query.split()) if t
    ]
    variants = [query]
    for i, token in enumerate(tokens):
        t = token.lower()
        subs: list[str] = []
        if t in CODE_SYNONYMS:
            subs = CODE_SYNONYMS[t]
        elif t in _REVERSE_SYNONYMS:
            subs = [_REVERSE_SYNONYMS[t]]
        for s in subs:
            variant = " ".join([*tokens[:i], s, *tokens[i + 1 :]])
            if variant not in variants:
                variants.append(variant)
    return variants


def is_identifier_query(query: str) -> bool:
    """F4 (``query_processor.py:18-27``): identifier-ish queries are
    BM25-shaped → callers drop hybrid α to IDENTIFIER_ALPHA."""
    if any(p.search(query) for p in _IDENTIFIER_PATTERNS):
        return True
    return any(w in _PACKAGE_KEYWORDS for w in query.lower().split())


def adaptive_threshold(query: str, base_threshold: float = 0.3) -> float:
    """P3 adaptive similarity threshold ladder
    (``query_processor.py:112-183``) — same branches, same clamps."""
    words = query.split()
    ql = query.lower()
    if len(words) == 1:
        return max(0.01, base_threshold - 0.29)
    if any(t in ql for t in _TECHNICAL_TERMS):
        return max(0.01, base_threshold - 0.29)
    if len(words) <= 3:
        return max(0.1, base_threshold - 0.1)
    if len(words) > 6:
        return min(0.8, base_threshold + 0.1)
    if re.search(r"\b[A-Z][a-zA-Z]*\b", query) or "_" in query:
        return max(0.05, base_threshold - 0.25)
    if any(p in query for p in ["()", ".", "->", "=>", "::"]):
        return max(0.25, base_threshold - 0.1)
    return base_threshold


def result_quality(
    results,
    query: str,
    score_col: str = "score",
    file_col: str = "source",
    text_col: str = "text",
):
    """One-row search-quality rollup (reference
    ``core/query_analyzer.py:165-216`` calculate_result_quality):
    average 0-1 score, the ≥0.8 / 0.6-0.8 / <0.6 band counts, file
    diversity (distinct files / results), and query-word coverage
    (share of the query's whitespace words appearing in ANY result's
    text — the same lower().split() word model the reference uses).

    `results` must carry a 0-1 score column (normalize BM25-style
    scores upstream). One aggregation; the coverage set union is an
    array fold, not a shuffle per word."""
    from pyspark.sql import functions as F

    qw = sorted({w for w in query.lower().split() if w})
    qarr = F.array(*[F.lit(w) for w in qw])
    covered = F.array_intersect(qarr, F.split(F.lower(F.col(text_col)), r"\s+"))
    # F.coalesce(..., 0): aggregates over ZERO rows yield NULL, but the
    # reference returns an all-zeros dict for empty results
    # (``core/query_analyzer.py`` calculate_result_quality) — ADVICE r4
    agg = results.agg(
        F.coalesce(F.round(F.avg(score_col), 3), F.lit(0.0)).alias("average_score"),
        F.coalesce(
            F.sum(F.when(F.col(score_col) >= 0.8, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("high_quality"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col(score_col) >= 0.6) & (F.col(score_col) < 0.8), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("medium_quality"),
        F.coalesce(
            F.sum(F.when(F.col(score_col) < 0.6, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("low_quality"),
        F.coalesce(
            # try_divide: under ANSI mode a zero-row input makes this
            # 0/0, which must become NULL→0.0, not an exception
            F.round(
                F.try_divide(
                    F.count_distinct(F.col(file_col)).cast("double"), F.count("*")
                ),
                3,
            ),
            F.lit(0.0),
        ).alias("diversity"),
        F.round(
            F.size(F.array_distinct(F.flatten(F.collect_list(covered)))).cast("double")
            / F.lit(float(len(qw) or 1)),
            3,
        ).alias("coverage"),
    )
    return agg
