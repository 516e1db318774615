"""Unit tests for the benchmark's statistics, span and REST-metric
helpers. No Spark session needed:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import itertools

import pytest

from perfbench import datagen
from perfbench.tracing import Tracer, median, parse_metric, parse_time, union_ms
from perfbench.workloads import exact_topk, topk_mismatch


class _NoSpark:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


def test_median_takes_the_middle_value():
    assert median([5.0, 1.0, 4.0, 2.0, 3.0]) == 3.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert median([7.0]) == 7.0


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        median([])


def test_union_merges_overlaps_and_clips():
    assert union_ms([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_ms([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == pytest.approx(1.0)
    assert union_ms([], 0, 1) == 0
    assert union_ms([(3, 4)], 0, 1) == 0


def test_self_time_subtracts_the_union_of_children():
    t = Tracer(_NoSpark(), enabled=True)
    root = t.add("call", 0, None, 0.0, 1.0)
    t.add("a", 0, root.span_id, 0.1, 0.5)
    t.add("b", 0, root.span_id, 0.3, 0.6)  # overlaps a: counted once
    t.add("c", 0, root.span_id, 0.8, 0.9)
    assert t.self_ms(root) == pytest.approx(1000.0 * (1.0 - 0.5 - 0.1))
    leaf = t.children(root)[0]
    assert t.self_ms(leaf) == pytest.approx(400.0)


def test_recorded_spans_nest_under_the_open_call():
    t = Tracer(_NoSpark(), enabled=True)
    with t.call("serve.search_hybrid") as root:
        with t.span("api.search_hybrid") as child:
            with t.span("driver.collect") as grandchild:
                pass
    assert root.parent is None and child.parent == root.span_id
    assert grandchild.parent == child.span_id
    assert {s.call_id for s in t.spans} == {0}
    assert t.roots() == [root]


def test_disabled_tracer_records_nothing():
    t = Tracer(_NoSpark(), enabled=False)
    with t.call("x") as s, t.span("y") as c:
        assert s is None and c is None
    assert t.spans == []


@pytest.mark.parametrize("text, want", [
    ("total (min, med, max (stageId: taskId))\n1.6 s (281 ms, 475 ms, 1.2 s (stage 3.0: task 7))", 1600.0),
    ("1.6 s (281 ms, 475 ms, …)", 1600.0),
    ("83 ms", 83.0),
    ("total (min, med, max (stageId: taskId))\n1565.1 KiB (391.3 KiB, 391.3 KiB, 391.3 KiB)", 1565.1 * 1024),
    ("4.2 MiB", 4.2 * 1024**2),
    ("1748.0 B", 1748.0),
    ("100,000", 100000.0),
    ("0", 0.0),
    ("2.5 m", 150000.0),
])
def test_parse_rest_metric_strings(text, want):
    assert parse_metric(text) == pytest.approx(want)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_metric("3 furlongs")
    with pytest.raises(ValueError):
        parse_metric("n/a")


def test_parse_rest_timestamps_as_utc():
    assert parse_time("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)


def test_exact_topk_breaks_ties_by_id():
    import numpy as np

    V = np.array([[1, 0], [1, 0], [0, 1], [1, 1]], dtype=np.float32)
    got = exact_topk(V, np.array([1.0, 0.0]), 3)
    assert [i for i, _ in got] == [0, 1, 3]
    assert topk_mismatch(got, got) is None
    assert topk_mismatch(got[:2], got) is not None
    assert topk_mismatch([(1, got[0][1]), (0, got[1][1]), got[2]], got) is None  # tied swap
    assert topk_mismatch([got[0], got[2], got[1]], got) is not None


def test_inputs_depend_only_on_the_seed():
    assert datagen.corpus(3, 50) == datagen.corpus(3, 50)
    assert datagen.corpus(3, 50) != datagen.corpus(4, 50)
    docs = datagen.corpus(3, 300)
    steps = [list(itertools.islice(datagen.ingest_deltas(docs, 200, 3, 40, 5), 4)) for _ in range(2)]
    assert steps[0] == steps[1]
    # the 100 held-out documents arrive first, then mutated live ones
    ids = [[d for d, _ in upserts] for upserts, _ in steps[0]]
    assert ids[0] == list(range(200, 240))
    assert set(ids[3]) <= set(range(200)) | set(ids[0] + ids[1] + ids[2])


def test_planted_copies_sit_above_every_original():
    docs = datagen.corpus(5, 400)
    rows, exact, near = datagen.curation_input(docs, 5, exact=10, near=10)
    assert len(rows) == 420 and min(exact | near) >= 400
    texts = {r[0]: r[1] for r in rows}
    originals = {r[1] for r in docs}
    assert all(texts[i] in originals for i in exact)
    assert not any(texts[i] in originals for i in near)
