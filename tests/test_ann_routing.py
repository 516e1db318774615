"""Serving-regime routing for `search_batch` (VERDICT r8 #2): the
measured in-memory probe-vs-brute crossover (BENCH_NOTES r8) decides
the plan per batch, instead of layout presence always probing."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _project(spark):
    from mcp_vector_search_spark import io
    from mcp_vector_search_spark.api import SparkProject

    return SparkProject(
        spark,
        io.table(spark, SF_DIR, "documents"),
        io.table(spark, SF_DIR, "embeddings"),
    )


def _queries(p, n=3):
    return p.vectors.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def test_choose_ann_route_regimes():
    """The routing function pins the measured curve: disk always
    probes (physical partition pruning), in-memory probes only above
    the per-node bytes break-even AND under the union cap."""
    from mcp_vector_search_spark.operators.ivf import (
        ANN_ROUTE_BYTES_PER_NODE,
        ANN_ROUTE_UNION_MAX,
        choose_ann_route,
    )

    GB = 1024**3
    # disk: probing wins at ANY size/shape (4M q2: 2.6-25x measured)
    assert choose_ann_route(0, 1.0, on_disk=True) == "probe"
    # cached 1 GB (the 512K x 256-d point): brute wins even at the
    # most concentrated batch
    assert choose_ann_route(1 * GB, 0.0) == "brute"
    # cached 8.4 GB (the 4M x 256-d point), concentrated q2 (~8%
    # union): probe wins 1.45x
    assert choose_ann_route(int(8.4 * GB), 0.08) == "probe"
    # same corpus, diffuse batch (q32 probes ~90%): the union ships
    # ~the whole corpus through Arrow — brute
    assert choose_ann_route(int(8.4 * GB), 0.9) == "brute"
    # the break-even is PER NODE: 4 executors brute-scan 4x the bytes
    assert choose_ann_route(int(8.4 * GB), 0.08, nodes=4) == "brute"
    # thresholds are the measured constants, overridable per call
    assert choose_ann_route(
        1, 0.5, bytes_per_node=0, union_max=1.0
    ) == "probe"
    assert 4 * GB <= ANN_ROUTE_BYTES_PER_NODE <= 5 * GB
    assert 0.0 < ANN_ROUTE_UNION_MAX < 0.5


def test_search_batch_auto_routes_brute_below_crossover(spark, monkeypatch):
    """A sub-crossover cached corpus (500 x 64-d ≈ 256 KB) must serve
    the brute kernel even with a float-IVF layout built — the r8
    measurements show probing never wins there — and the routed plan
    is row-identical to both forced paths."""
    import mcp_vector_search_spark.operators.ivf as ivf_mod

    p = _project(spark)
    p.build_ann_index(num_clusters=8, kind="ivf")
    q = _queries(p)

    calls = []
    real_packed = ivf_mod.ivf_topk_batch_packed
    monkeypatch.setattr(
        ivf_mod,
        "ivf_topk_batch_packed",
        lambda *a, **k: calls.append("probe") or real_packed(*a, **k),
    )
    auto = sorted(map(tuple, p.search_batch(q, limit=5).collect()))
    assert calls == []  # the layout exists, but auto chose brute
    assert p.ann_serving_regime()["regime"] == "brute"

    probe = sorted(map(tuple, p.search_batch(q, limit=5, route="probe").collect()))
    assert calls == ["probe"]
    brute = sorted(map(tuple, p.search_batch(q, limit=5, route="brute").collect()))
    assert auto == probe == brute  # routing never changes answers
    assert len(auto) == 15


def test_search_batch_auto_routes_probe_above_crossover(spark, monkeypatch):
    """Above the (instance-configurable) break-even with an
    under-cap union, auto takes the packed-probe plan — and hands it
    the ALREADY-collected probe sets, so the query frame's lineage
    runs once (the r8 nondeterministic-subset trap)."""
    import mcp_vector_search_spark.operators.ivf as ivf_mod

    p = _project(spark)
    p.build_ann_index(num_clusters=8, kind="ivf")
    p.ann_route_bytes_per_node = 0  # move the break-even below 256 KB
    p.ann_route_union_max = 1.0  # 8 clusters: any batch probes all
    q = _queries(p)

    seen = {}
    real_packed = ivf_mod.ivf_topk_batch_packed

    def spy(*a, **k):
        seen["query_set"] = k.get("_query_set")
        return real_packed(*a, **k)

    monkeypatch.setattr(ivf_mod, "ivf_topk_batch_packed", spy)
    auto = sorted(map(tuple, p.search_batch(q, limit=5).collect()))
    assert seen["query_set"] is not None
    assert p.ann_serving_regime()["regime"] == "probe"
    monkeypatch.undo()
    forced = sorted(map(tuple, p.search_batch(q, limit=5, route="probe").collect()))
    assert auto == forced


def test_corpus_cold_routes_probe(spark, monkeypatch):
    """VERDICT r9 #8: the brute side of the measured curve priced a
    scan-cheap corpus — declaring the raw vectors cold (slow object
    storage) routes auto to the cached layout at ANY corpus size or
    batch shape, no manual route='probe' override."""
    import mcp_vector_search_spark.operators.ivf as ivf_mod
    from mcp_vector_search_spark.operators.ivf import choose_ann_route

    GB = 1024**3
    # cold inverts every brute verdict of the in-memory curve
    assert choose_ann_route(1 * GB, 0.0, corpus_cold=True) == "probe"
    assert choose_ann_route(int(8.4 * GB), 0.9, corpus_cold=True) == "probe"
    assert choose_ann_route(0, 1.0, corpus_cold=True) == "probe"

    p = _project(spark)
    p.build_ann_index(num_clusters=8, kind="ivf")
    p.corpus_cold = True  # also settable at construction
    q = _queries(p)
    calls = []
    real_packed = ivf_mod.ivf_topk_batch_packed
    monkeypatch.setattr(
        ivf_mod,
        "ivf_topk_batch_packed",
        lambda *a, **k: calls.append("probe") or real_packed(*a, **k),
    )
    cold = sorted(map(tuple, p.search_batch(q, limit=5).collect()))
    assert calls == ["probe"]  # sub-crossover corpus, but cold → probe
    assert p.last_route["served"] == "probe"
    assert "cold" in p.last_route["reason"]
    assert p.ann_serving_regime()["regime"] == "probe"
    assert p.ann_serving_regime()["corpus_cold"] is True
    p.corpus_cold = False
    warm = sorted(map(tuple, p.search_batch(q, limit=5).collect()))
    assert calls == ["probe"]  # warm sub-crossover: back to brute
    assert p.last_route["served"] == "brute"
    assert cold == warm  # routing never changes answers


def test_last_route_records_every_branch(spark):
    """`last_route` (VERDICT r9 #4) names the decision each
    search_batch actually took, with the measured inputs."""
    p = _project(spark)
    q = _queries(p)
    assert p.last_route is None
    p.search_batch(q, limit=3, route="brute").count()
    assert p.last_route == {
        "requested": "brute", "served": "brute", "reason": "forced",
    }
    p.search_batch(q, limit=3).count()
    assert p.last_route["reason"] == "no ANN layout"
    p.build_ann_index(num_clusters=8, kind="ivf")
    p.search_batch(q, limit=3).count()
    assert p.last_route["served"] == "brute"
    assert p.last_route["corpus_bytes"] == 500 * 64 * 8
    p.ann_route_bytes_per_node = 0
    p.ann_route_union_max = 1.0
    p.search_batch(q, limit=3).count()
    assert p.last_route["served"] == "probe"
    assert 0.0 < p.last_route["union_fraction"] <= 1.0
    p.ann_route_union_max = 0.0  # every batch is now "diffuse"
    p.search_batch(q, limit=3).count()
    assert p.last_route["served"] == "brute"
    assert "union" in p.last_route["reason"]
    p.build_ann_index(num_clusters=8, kind="ivfsq")
    p.search_batch(q, limit=3).count()
    assert p.last_route["served"] == "codec:ivfsq"


def test_search_batch_route_validation(spark):
    p = _project(spark)
    q = _queries(p)
    with pytest.raises(ValueError, match="route must be"):
        p.search_batch(q, route="fast")
    with pytest.raises(ValueError, match="needs an ANN layout"):
        p.search_batch(q, route="probe")
    # brute works with no layout (it IS the no-layout plan)
    assert p.search_batch(q, limit=3, route="brute").count() == 9


def test_ann_serving_regime_reports(spark):
    """The operator-facing health row (VERDICT r8 #6): bytes, cluster
    count, worst-case union fraction, and the named regime."""
    p = _project(spark)
    assert p.ann_serving_regime() == {"kind": None, "regime": "brute"}
    p.build_ann_index(num_clusters=8, kind="ivf")
    r = p.ann_serving_regime(batch_size=2)
    assert r["kind"] == "ivf" and r["regime"] == "brute"
    # 500 vectors x 64-d float64 packs to exactly 256 KB
    assert r["corpus_bytes"] == 500 * 64 * 8
    assert r["num_clusters"] == 8
    assert r["union_fraction_worst_case"] == 1.0  # 2*NPROBES >= 8
    assert r["nodes"] >= 1
    # quantized codecs are explicit opt-ins — reported, not routed
    p.build_ann_index(num_clusters=8, kind="ivfsq")
    assert p.ann_serving_regime() == {"kind": "ivfsq", "regime": "codec"}


def test_ann_serving_regime_persisted_path(spark, tmp_path):
    """With `path`, the regime of a PERSISTED layout is reported: on
    disk partition pruning is physical, so probing always wins."""
    p = _project(spark)
    p.build_ann_index(num_clusters=8, kind="ivf")
    d = str(tmp_path / "layout")
    p.save_ann_index(d)
    r = p.ann_serving_regime(path=d)
    assert r == {"kind": "ivf", "on_disk": True, "regime": "probe"}
    # an absent/typo'd path must refuse, not report a healthy layout
    with pytest.raises(ValueError, match="no ANN layout kind manifest"):
        p.ann_serving_regime(path=str(tmp_path / "nope"))


def _empty_manifest(path):
    # what a crash inside the manifest's overwrite leaves
    shutil.rmtree(f"{path}/kind")
    os.mkdir(f"{path}/kind")


def _drop_blocks(path):
    shutil.rmtree(f"{path}/blocks")


@pytest.mark.parametrize(
    "tear, load_error, load_match, regime_match",
    [
        (_empty_manifest, ValueError, "has no kind manifest — pass kind= explicitly",
         "no ANN layout kind manifest"),
        (_drop_blocks, Exception, None, "torn"),
    ],
    ids=["manifest_without_data", "blocks_deleted"],
)
def test_torn_layout_refused(spark, tmp_path, tear, load_error, load_match,
                             regime_match):
    """A torn persisted layout gets a refusal from both load and the
    regime report, and the standing index keeps serving the same rows."""
    p = _project(spark)
    p.build_ann_index(num_clusters=8, kind="ivf")
    path = str(tmp_path / "layout")
    p.save_ann_index(path)
    q = _queries(p)
    served = sorted(map(tuple, p.search_batch(q, limit=3, route="probe").collect()))
    tear(path)
    with pytest.raises(load_error, match=load_match):
        p.load_ann_index(path)
    with pytest.raises(ValueError, match=regime_match) as refused:
        p.ann_serving_regime(path=path)
    assert path in str(refused.value)
    assert sorted(map(tuple, p.search_batch(q, limit=3, route="probe").collect())) == served


def test_last_route_stamp_is_construction_deep(spark, monkeypatch):
    """VERDICT r11 #3: the kernels return LAZY frames, so the stamp
    guards plan-construction failures only. A kernel that raises at
    construction leaves last_route untouched; a plan that fails later
    at action time keeps the stamp (the route DID construct and was
    handed to the caller) — the documented attribute semantics."""
    import mcp_vector_search_spark.operators.topk as topk_mod

    p = _project(spark)
    q = _queries(p)
    sentinel = {"requested": "x", "served": "x", "reason": "sentinel"}
    p.last_route = dict(sentinel)

    # construction-time failure: no stamp
    def boom_construct(*a, **kw):
        raise RuntimeError("construction-time")

    monkeypatch.setattr(topk_mod, "topk_per_query_np", boom_construct)
    with pytest.raises(RuntimeError, match="construction-time"):
        p.search_batch(q, limit=5, route="brute")
    assert p.last_route == sentinel

    # action-time failure: the stamp stays (by design)
    def lazy_action_bomb(*a, **kw):
        from pyspark.sql.functions import udf

        def _blow(x):
            raise RuntimeError("action-time")

        return spark.range(1).select(udf(_blow)("id").alias("x"))

    monkeypatch.setattr(topk_mod, "topk_per_query_np", lazy_action_bomb)
    frame = p.search_batch(q, limit=5, route="brute")
    assert p.last_route["served"] == "brute"  # stamped at hand-off
    with pytest.raises(Exception):
        frame.collect()
    assert p.last_route["served"] == "brute"  # and it stays


@pytest.mark.parametrize(
    "kind, route",
    [(None, "brute"), ("ivf", "probe"), ("ivfsq", "auto"), ("ivfpq", "auto")],
)
def test_search_batch_serving_edge_cases(spark, kind, route):
    """Every kernel route — brute, IVF probe, SQ and IVF-PQ — serves
    the edge cases: an empty query set returns an empty frame, a zero
    query vector scores 0.0 everywhere and ranks the lowest ids first,
    and a limit above the corpus size returns every row."""
    p = _project(spark)
    if kind is not None:
        p.build_ann_index(num_clusters=8, kind=kind)  # 8 ≤ NPROBES: all probed
    n = p.vectors.count()
    q = _queries(p, 2)

    empty = p.search_batch(q.limit(0), limit=3, route=route)
    assert empty.columns == ["query_id", "vec_id", "cos_sim", "rn"]
    assert empty.collect() == []

    zero = spark.createDataFrame(
        [(7, [0.0] * 64)], "query_id long, query_vec array<double>"
    )
    got = p.search_batch(zero, limit=5, route=route).orderBy("rn").collect()
    lowest = [r.vec_id for r in p.vectors.orderBy("vec_id").limit(5).collect()]
    assert [(r.vec_id, r.cos_sim) for r in got] == [(v, 0.0) for v in lowest]

    every = p.search_batch(q, limit=n + 5, route=route)
    assert every.count() == 2 * n
