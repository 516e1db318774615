"""Rule-based document classification (reference: the 4-pass
``kg_builder.py:1757-2010`` ``_classify_document`` — 23+ categories
from file extension, well-known filenames, path directories, and
filename keyword patterns; CHANGELOG "Automated Document
Classification").

One ordered rule table drives BOTH engines: `categorize_path` folds it
into a Catalyst `when`-ladder (pure column expressions — no UDF, stays
in whole-stage codegen), and `category_case_sql` renders the identical
ladder as an ANSI/DuckDB CASE expression for the oracle gate. First
matching rule wins, mirroring the reference's pass order:

1. extension / well-known config filenames
2. exact filename-stem matches
3. path/directory patterns
4. filename keyword patterns
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (kind, '|'-joined patterns, category) — kinds:
#   ext          filename ends with pattern
#   name_prefix  filename starts with pattern
#   name_eq      filename equals pattern
#   path         full path contains pattern
#   stem         filename-without-extension contains pattern
RULES: list[tuple[str, str, str]] = [
    # pass 1 — extension / well-known config files
    ("ext", ".toml|.yaml|.yml|.json|.ini|.cfg|.env", "configuration"),
    ("ext", ".sh|.bash|.zsh|.fish", "script"),
    # pass 2 — exact filename stems
    ("name_prefix", "readme", "readme"),
    ("name_prefix", "changelog|changes", "changelog"),
    ("name_prefix", "contributing", "contributing"),
    ("name_prefix", "license", "license"),
    ("name_eq", "architecture.md|design.md|adr.md", "design"),
    ("name_eq", "api.md|api-reference.md|reference.md", "api_doc"),
    ("name_prefix", "spec|rfc", "spec"),
    ("name_prefix", "todo|roadmap", "roadmap"),
    ("name_eq", "index.md|index.rst|index.html", "guide"),
    # pass 3 — path directories
    ("path", "/api/|/reference/|/tools/", "api_doc"),
    (
        "path",
        "/guides/|/guide/|/tutorials/|/tutorial/|/howto/|/getting-started/|/skills/",
        "guide",
    ),
    ("path", "/design/|/adr/|/architecture/", "design"),
    ("path", "/spec/|/rfc/|/prd/", "spec"),
    ("path", "/research/", "research"),
    ("path", "/performance/|/benchmarks/", "performance"),
    ("path", "/deployment/|/deploy/", "deployment"),
    ("path", "/qa/|/tests/|/test/", "test_doc"),
    ("path", "/internal/|/private/", "internal"),
    ("path", "/examples/|/example/|/demos/", "example"),
    ("path", "/reports/|/report/", "report"),
    ("path", "/features/|/feature/", "feature"),
    ("path", "/projects/|/project/", "project"),
    # pass 4 — filename keyword patterns (reference order preserved:
    # bugfix before the generic buckets, guide keywords last)
    ("stem", "bugfix|bug-fix|bug_fix", "bugfix"),
    ("stem", "troubleshoot|recovery|diagnostics|panic", "troubleshooting"),
    ("stem", "faq", "faq"),
    ("stem", "migration|migrate", "migration"),
    ("stem", "release", "release_notes"),
    ("stem", "upgrade", "upgrade_guide"),
    ("stem", "setup|install", "setup"),
    ("stem", "config", "configuration"),
    ("stem", "performance|benchmark|optimiz", "performance"),
    ("stem", "security|vulnerabilit", "security"),
    ("stem", "tutorial", "tutorial"),
    ("stem", "example|demo|sample", "example"),
    ("stem", "quickstart|checklist|guide", "guide"),
    ("stem", "deploy|cicd|versioning", "deployment"),
    ("stem", "architecture|design|summary|implementation|refactor", "design"),
    ("stem", "sprint|kanban|backlog", "internal"),
]

DEFAULT_CATEGORY = "other"


def categorize_path(path_col: str) -> Column:
    """`when`-ladder over a path column → category string."""
    p = F.lower(F.col(path_col))
    name = F.element_at(F.split(p, "/"), -1)
    stem = F.regexp_replace(name, r"\.[a-z0-9]+$", "")
    expr = None
    for kind, pats, cat in RULES:
        cond = None
        for pat in pats.split("|"):
            if kind == "ext":
                c = name.endswith(pat)
            elif kind == "name_prefix":
                c = name.startswith(pat)
            elif kind == "name_eq":
                c = name == pat
            elif kind == "path":
                c = p.contains(pat)
            else:  # stem
                c = stem.contains(pat)
            cond = c if cond is None else (cond | c)
        expr = F.when(cond, cat) if expr is None else expr.when(cond, cat)
    return expr.otherwise(DEFAULT_CATEGORY)


def category_case_sql(path_expr: str) -> str:
    """The identical ladder as one DuckDB CASE expression.
    `path_expr` must already be lowercased by the caller's CTE."""
    name = f"string_split({path_expr}, '/')[-1]"
    stem = f"regexp_replace({name}, '\\.[a-z0-9]+$', '')"
    whens = []
    for kind, pats, cat in RULES:
        conds = []
        for pat in pats.split("|"):
            if kind == "ext":
                conds.append(f"ends_with({name}, '{pat}')")
            elif kind == "name_prefix":
                conds.append(f"starts_with({name}, '{pat}')")
            elif kind == "name_eq":
                conds.append(f"{name} = '{pat}'")
            elif kind == "path":
                conds.append(f"contains({path_expr}, '{pat}')")
            else:
                conds.append(f"contains({stem}, '{pat}')")
        whens.append(f"WHEN {' OR '.join(conds)} THEN '{cat}'")
    return "CASE " + " ".join(whens) + f" ELSE '{DEFAULT_CATEGORY}' END"
