"""§2.11 configuration surfaces (reference ``config/defaults.py``,
``config/thresholds.py``, custom synonyms JSON).

Everything is plain data consumed by the operators: threshold presets
feed P2/P3, model specs feed the F11 embedding stage, and custom
synonyms merge into the F3 expansion dict. At cluster scale these are
driver-side constants closed over by column expressions (a broadcast
in spirit; Spark serializes them into the task closures once).
"""

from __future__ import annotations

import json

# reference config/thresholds.py: strict/standard/lenient ladders used
# by the MCP analysis handlers
THRESHOLD_PRESETS: dict[str, float] = {
    "strict": 0.5,
    "standard": 0.3,
    "lenient": 0.1,
}


def threshold_preset(name: str) -> float:
    return THRESHOLD_PRESETS[name]


# reference config/defaults.py MODEL_SPECIFICATIONS: dims, context
# window, and the query/passage prefixes some models require
MODEL_SPECIFICATIONS: dict[str, dict] = {
    "fake-deterministic": {"dim": 8, "context_length": 8192, "query_prefix": ""},
    "all-MiniLM-L6-v2": {"dim": 384, "context_length": 256, "query_prefix": ""},
    "bge-small-en-v1.5": {
        "dim": 384,
        "context_length": 512,
        "query_prefix": "Represent this sentence: ",
    },
    "e5-small-v2": {"dim": 384, "context_length": 512, "query_prefix": "query: "},
}


def load_custom_synonyms(path: str) -> dict[str, list[str]]:
    """Merge a user synonyms JSON (reference
    ``.mcp-vector-search/synonyms.json``, ``query_expander.py:54-115``)
    into the built-in CODE_SYNONYMS; returns the merged dict (the
    built-ins are not mutated)."""
    from mcp_vector_search_spark.functions.query import CODE_SYNONYMS

    with open(path) as f:
        custom = json.load(f)
    merged = {k: list(v) for k, v in CODE_SYNONYMS.items()}
    for key, syns in custom.items():
        if not isinstance(syns, (list, tuple)):
            # a bare string (never a list/tuple) would otherwise be
            # absorbed character-by-character
            raise ValueError(
                f"synonyms for {key!r} must be a list, got {type(syns).__name__}"
            )
        merged.setdefault(key.lower(), [])
        for s in syns:
            if s not in merged[key.lower()]:
                merged[key.lower()].append(s)
    return merged
