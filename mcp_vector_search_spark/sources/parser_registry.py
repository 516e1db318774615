"""§2.11 language parser plugin registry (reference
``parsers/registry.py``: a dict keyed by file extension mapping to a
parser class). Every reference-registry language (python, javascript,
typescript, java, c_sharp, go, rust, dart, php, ruby, html, text) is
registered, plus c/cpp/swift/kotlin extras.

Here a "parser" is a declarative chunking spec — the boundary regex
and branch keywords the chunk/complexity operators consume. Because
the spec is data (not code), the whole multi-language corpus chunks
in ONE Spark job: join the per-file language onto the spec table
(broadcast — it has a dozen rows) and the boundary match becomes a
single `rlike` against the language's pattern column. Registering a
language is one dict entry, exactly the reference's plugin shape.

tree-sitter itself is a native dependency not present in this
container; the regex boundary spec is the documented fallback
analog (reference ``parsers/base.py:301-386`` fallback chunker).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class LanguageSpec:
    language: str
    boundary_re: str  # line pattern that starts a new chunk
    branch_keywords: tuple[str, ...] = field(
        default=("if", "elif", "else", "for", "while", "case", "catch", "and", "or")
    )
    # r6 chunk typing/naming (the reference's chunk_type/function_name/
    # class_name surface, `parsers/base.py` ChunkInfo): ordered
    # (chunk_type, regex-with-one-capture-group) rules matched against
    # a chunk's FIRST line; the first matching rule types the chunk and
    # group 1 is its name. Empty tuple → untyped ("chunk", null name).
    kind_rules: tuple[tuple[str, str], ...] = ()


_SPECS: dict[str, LanguageSpec] = {}


def register(spec: LanguageSpec) -> None:
    _SPECS[spec.language] = spec


def for_language(language: str) -> LanguageSpec:
    return _SPECS.get(language, _SPECS["text"])


def registered_languages() -> list[str]:
    return sorted(_SPECS)


for _spec in [
    LanguageSpec(
        "python",
        r"^(def |class |async def )",
        kind_rules=(
            ("class", r"^class (\w+)"),
            ("function", r"^(?:async )?def (\w+)"),
        ),
    ),
    LanguageSpec(
        "javascript",
        r"^(function |class |const \w+ = (async )?\(|export (default )?(function|class) )",
        kind_rules=(
            ("class", r"^(?:export )?(?:default )?class (\w+)"),
            ("function", r"^(?:export )?(?:default )?function (\w+)"),
            ("function", r"^const (\w+) = "),
        ),
    ),
    LanguageSpec(
        "typescript",
        r"^(function |class |interface |type \w+ =|const \w+ = (async )?\(|export )",
        kind_rules=(
            ("interface", r"^(?:export )?interface (\w+)"),
            ("type", r"^(?:export )?type (\w+) ="),
            ("class", r"^(?:export )?(?:default |abstract )*class (\w+)"),
            ("function", r"^(?:export )?(?:default )?(?:async )?function (\w+)"),
            ("function", r"^(?:export )?const (\w+) = "),
        ),
    ),
    LanguageSpec(
        "go",
        r"^(func |type \w+ (struct|interface))",
        kind_rules=(
            ("method", r"^func \([^)]*\) (\w+)"),
            ("function", r"^func (\w+)"),
            ("struct", r"^type (\w+) struct"),
            ("interface", r"^type (\w+) interface"),
        ),
    ),
    LanguageSpec(
        "java",
        r"^\s*(public |private |protected ).*[({]$",
        kind_rules=(
            ("interface", r"\binterface (\w+)"),
            ("enum", r"\benum (\w+)"),
            ("class", r"\bclass (\w+)"),
            # constructor vs method needs the enclosing class name —
            # typed "method" here, divergence pinned in parity tests
            ("method", r"(\w+)\s*\("),
        ),
    ),
    # r6: `\s*`-anchored fn so impl/trait methods open their own chunks
    # (reference extracts them as method chunks, tests/test_rust_parser.py)
    LanguageSpec(
        "rust",
        r"^\s*(pub(\([^)]*\))? )?(fn |struct |enum |impl |trait |mod )",
        kind_rules=(
            ("struct", r"^(?:pub(?:\([^)]*\))? )?struct (\w+)"),
            ("trait", r"^(?:pub(?:\([^)]*\))? )?trait (\w+)"),
            ("enum", r"^(?:pub(?:\([^)]*\))? )?enum (\w+)"),
            ("mod", r"^(?:pub(?:\([^)]*\))? )?mod (\w+)"),
            ("impl", r"^impl(?:<[^>]*>)? (\w+)"),
            # indented fn = method (inside impl/trait), col-0 fn = free fn
            ("method", r"^\s+(?:pub(?:\([^)]*\))? )?fn (\w+)"),
            ("function", r"^(?:pub(?:\([^)]*\))? )?fn (\w+)"),
        ),
    ),
    LanguageSpec(
        "c",
        r"^\w[\w\s\*]*\([^;]*$",
        kind_rules=(("function", r"(\w+)\s*\("),),
    ),
    LanguageSpec(
        "cpp",
        r"^[\w:<>~][\w\s\*:<>,&~]*\([^;]*$",
        kind_rules=(("function", r"([\w~]+)\s*\("),),
    ),
    LanguageSpec(
        "ruby",
        r"^\s*(def |class |module )",
        kind_rules=(
            ("module", r"^\s*module (\w+)"),
            ("class_method", r"^\s*def self\.([\w?!]+)"),
            ("method", r"^\s*def ([\w?!]+)"),
            ("class", r"^\s*class (\w+)"),
        ),
    ),
    # r6: interface + visibility/static-prefixed methods (reference
    # extracts both, tests/test_php_parser.py)
    LanguageSpec(
        "php",
        r"^\s*((abstract |final )?class |interface |trait "
        r"|((public|private|protected|static|final|abstract) +)*function )",
        kind_rules=(
            ("class", r"^(?:abstract |final )?class (\w+)"),
            ("interface", r"^interface (\w+)"),
            ("trait", r"^trait (\w+)"),
            ("method", r"^\s+(?:(?:public|private|protected|static|final|abstract) +)*function (\w+)"),
            ("function", r"^function (\w+)"),
        ),
    ),
    # r6: the three reference-registry languages previously missing
    # (reference parsers/registry.py maps .cs/.dart/.html|.htm; files
    # in these languages fell back to the text spec here). C# boundary
    # covers Allman-style members: type declarations with optional
    # modifiers, and modifier-prefixed member signatures ending in `)`
    # (the `{` sits on the next line).
    LanguageSpec(
        "csharp",
        r"^\s*(namespace \w"
        r"|((public|private|protected|internal|static|abstract|sealed|partial) +)*"
        r"(class|interface|struct|enum|record) "
        r"|((public|private|protected|internal) +).*\)\s*$)",
        kind_rules=(
            ("namespace", r"^namespace ([\w.]+)"),
            ("interface", r"\binterface (\w+)"),
            ("struct", r"\bstruct (\w+)"),
            ("enum", r"\benum (\w+)"),
            ("record", r"\brecord (\w+)"),
            ("class", r"\bclass (\w+)"),
            ("method", r"(\w+)\s*\("),
        ),
    ),
    # dart: class-ish declarations plus function/method signatures —
    # a TYPE token (capitalized/generic or a builtin) followed by a
    # name and an arg list; call sites fail the `type SP name(` shape
    LanguageSpec(
        "dart",
        r"^\s*(abstract +)?(class|mixin|enum|extension) "
        r"|^\s*(static +)?([A-Z_$][\w<>, ?]*|void|int|double|bool|num|dynamic)"
        r" +[_$a-zA-Z]\w*\(",
        kind_rules=(
            ("class", r"^(?:abstract +)?class (\w+)"),
            ("mixin", r"^mixin (\w+)"),
            ("enum", r"^enum (\w+)"),
            ("extension", r"^extension (\w+)"),
            # indented = method inside a class body, col-0 = function
            ("method", r"^\s+(?:static +)?(?:[A-Z_$][\w<>, ?]*|void|int|double|bool|num|dynamic) +([_$a-zA-Z]\w*)\("),
            ("function", r"^(?:static +)?(?:[A-Z_$][\w<>, ?]*|void|int|double|bool|num|dynamic) +([_$a-zA-Z]\w*)\("),
        ),
    ),
    # html: semantic sectioning tags (reference chunks headings/
    # sections, tests/test_html_parser.py; script/style NOT excluded
    # here — divergence pinned in tests/test_ast_parity.py)
    LanguageSpec(
        "html",
        r"^\s*<(h[1-6]|section|article|header|footer|main|nav)\b",
        kind_rules=(
            ("section", r"id=\"([^\"]+)\""),
            ("heading", r"^\s*<h[1-6][^>]*>([^<]*)"),
            ("section", r"^\s*<(section|article|header|footer|main|nav)"),
        ),
    ),
    LanguageSpec(
        "swift",
        r"^\s*(func |class |struct |enum |extension )",
        kind_rules=(
            ("function", r"^\s*func (\w+)"),
            ("class", r"^\s*class (\w+)"),
            ("struct", r"^\s*struct (\w+)"),
            ("enum", r"^\s*enum (\w+)"),
            ("extension", r"^\s*extension (\w+)"),
        ),
    ),
    LanguageSpec(
        "kotlin",
        r"^\s*(fun |class |object |interface )",
        kind_rules=(
            ("function", r"^\s*fun (\w+)"),
            ("class", r"^\s*class (\w+)"),
            ("object", r"^\s*object (\w+)"),
            ("interface", r"^\s*interface (\w+)"),
        ),
    ),
    LanguageSpec(
        "text",
        r"^#{1,6} |^={3,}$",
        kind_rules=(("heading", r"^#{1,6} +(.*)$"),),
    ),
]:
    register(_spec)
