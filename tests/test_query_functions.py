from __future__ import annotations

from mcp_vector_search_spark.functions.query import (
    adaptive_threshold,
    expand_query,
    is_identifier_query,
    preprocess_query,
)


def test_preprocess_expands_abbreviations_in_order():
    assert preprocess_query("  auth   db ") == (
        "auth authentication authorize login db database data storage"
    )


def test_preprocess_dedups():
    # "db" expands to "database data storage"; a repeated word stays single
    assert preprocess_query("db db") == "db database data storage"


def test_expand_one_substitution_per_variant():
    vs = expand_query("auth middleware")
    assert vs[0] == "auth middleware"
    assert "authentication middleware" in vs
    assert "auth interceptor" in vs
    # never two substitutions at once
    assert "authentication interceptor" not in vs


def test_expand_reverse_mapping():
    assert "auth x" in expand_query("authentication x")


def test_is_identifier_query():
    assert is_identifier_query("getStream")          # camelCase
    assert is_identifier_query("io.sentry")          # dotted
    assert is_identifier_query("react-activity-feed")  # multi-hyphen
    assert is_identifier_query("numpy package")      # package keyword
    assert not is_identifier_query("how to sort a list")


def test_adaptive_threshold_ladder():
    from pytest import approx

    assert adaptive_threshold("sort") == approx(0.01)  # single word
    assert adaptive_threshold("python sorting lists") == approx(0.01)  # technical term
    assert adaptive_threshold("quick brown fox") == approx(0.2)  # short query
    assert adaptive_threshold("one two three four five six seven") == approx(0.4)
    # "class" is a substring of "MyClass" → the technical-term branch
    # fires before the CamelCase branch, exactly like the reference
    assert adaptive_threshold("find MyClass usage here now") == approx(0.01)
    assert adaptive_threshold("weird snake_case things here") == approx(0.05)


def test_result_quality_rollup(spark):
    """Bands, diversity, and word coverage follow the reference's
    calculate_result_quality exactly on a hand-built result set."""
    from mcp_vector_search_spark.functions.query import result_quality

    rows = [
        (1, 0.9, "a.py", "alpha beta other"),
        (2, 0.7, "a.py", "gamma junk"),
        (3, 0.5, "b.py", "nothing relevant"),
        (4, 0.65, "c.py", "beta again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, source string, text string")
    r = result_quality(df, "alpha beta gamma delta").first()
    assert r.high_quality == 1 and r.medium_quality == 2 and r.low_quality == 1
    assert r.average_score == round((0.9 + 0.7 + 0.5 + 0.65) / 4, 3)
    assert r.diversity == round(3 / 4, 3)
    # covered: alpha, beta, gamma (delta appears nowhere) -> 3/4
    assert r.coverage == 0.75


def test_result_quality_empty_results_all_zeros(spark):
    """Zero-row input → the reference's all-zeros dict, not NULLs
    (ADVICE r4: aggregates over zero rows yield NULL by default)."""
    from mcp_vector_search_spark.functions.query import result_quality

    df = spark.createDataFrame(
        [], "doc_id long, score double, source string, text string"
    )
    r = result_quality(df, "alpha beta").first()
    assert r.average_score == 0.0
    assert r.high_quality == 0 and r.medium_quality == 0 and r.low_quality == 0
    assert r.diversity == 0.0
    assert r.coverage == 0.0
