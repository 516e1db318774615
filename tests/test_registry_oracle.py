"""Spot-check the registry against its DuckDB oracles at sf0.001 —
a fast in-suite version of tools/verify_local.py (the full gate)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.verify_local import TABLES, table_hash

SF_DIR = "/root/testdata/sf0.001"

SPOT = ["bm25_topk", "knn_topk", "hybrid_rrf", "minhash_jaccard", "sessionize",
        "chunk_windows", "graph_degree", "pricing_summary"]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def test_every_query_has_oracle_or_is_flagged():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 25


@pytest.mark.parametrize("name", SPOT)
def test_oracle_hash_match(spark, oracle_con, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = oracle_con.execute(entrymod.oracle_sql()[name])
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(o_cols)
    assert len(s_rows) == len(o_rows)
    assert table_hash(sdf.columns, s_rows) == table_hash(o_cols, o_rows)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0 and "rrf_score" in df.columns


def test_fused_family_gate_releases_caches_when_a_leg_raises(spark, monkeypatch):
    """Every frame the fused-family gate caches is unpersisted on the
    way out, also when a codec leg raises mid-comparison."""
    import mcp_vector_search_spark.operators.sq as sq_mod
    from mcp_vector_search_spark.registry import _fused_family_rows

    frame_cls = type(spark.range(1))
    real_cache = frame_cls.cache
    cached = []

    def recording_cache(self):
        cached.append(real_cache(self))
        return cached[-1]

    def failing_leg(*a, **k):
        raise RuntimeError("sq leg failed")

    monkeypatch.setattr(frame_cls, "cache", recording_cache)
    monkeypatch.setattr(sq_mod, "sq_topk_packed", failing_leg)
    with pytest.raises(RuntimeError, match="sq leg failed"):
        _fused_family_rows(spark, SF_DIR, ("ivf", "sq"))
    assert len(cached) >= 6  # the corpus, the assignment, two packs per codec
    assert [df for df in cached if df.is_cached] == []
