"""ST1 custom stateful operator: applyInPandasWithState debounce.

Two availableNow runs over the same checkpoint prove (a) coalescing
inside the gap, (b) release after a quiet gap, (c) pending state
surviving a restart.
"""

from __future__ import annotations

import json
import os


def _write(input_dir: str, name: str, rows: list[dict]):
    os.makedirs(input_dir, exist_ok=True)
    with open(os.path.join(input_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run(spark, input_dir, out_dir, ckpt):
    from mcp_vector_search_spark.streaming.stateful import debounced_changes

    changes = (
        spark.readStream.schema("source string, ts long, text string")
        .json(input_dir)
    )
    q = (
        debounced_changes(changes, gap=10)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        # a bounded run stops on its own once the input is processed
        assert q.awaitTermination(120)
    finally:
        q.stop()


def test_debounce_coalesce_release_resume(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # burst at t=0..3 coalesces; t=20 releases the burst's last row
    # and becomes pending itself
    _write(
        input_dir,
        "b1.jsonl",
        [
            {"source": "a.py", "ts": 0, "text": "v0"},
            {"source": "a.py", "ts": 3, "text": "v1"},
            {"source": "a.py", "ts": 20, "text": "v2"},
            {"source": "b.py", "ts": 5, "text": "w0"},
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    got = {
        (r.source, r.ts, r.text) for r in spark.read.parquet(out_dir).collect()
    }
    # burst released by t=20; v2/w0 pending (no flush timer)
    assert got == {("a.py", 3, "v1")}

    # restart with the same checkpoint: pending v2 (ts=20) must still
    # be in state — a far-future event releases it; b.py's w0 released
    _write(
        input_dir,
        "b2.jsonl",
        [
            {"source": "a.py", "ts": 100, "text": "v3"},
            {"source": "b.py", "ts": 100, "text": "w1"},
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    got = {
        (r.source, r.ts, r.text) for r in spark.read.parquet(out_dir).collect()
    }
    assert ("a.py", 20, "v2") in got
    assert ("b.py", 5, "w0") in got


def test_debounce_late_older_event_does_not_overwrite(spark):
    """A cross-batch late event with an OLDER ts must not replace
    newer pending state — the burst's latest payload wins."""
    import pandas as pd

    from mcp_vector_search_spark.streaming.stateful import debounce_fn

    fn = debounce_fn(gap=10)

    class FakeState:
        exists = False
        hasTimedOut = False
        _v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

        def setTimeoutDuration(self, ms):
            pass

        def remove(self):
            self._v, self.exists = None, False

    st = FakeState()
    # batch 1: ts=100 'new'
    list(fn(("f.py",), [pd.DataFrame({"ts": [100], "text": ["new"]})], st))
    assert st.get == (100, "new")
    # batch 2: late ts=50 'old' — inside the gap, older: ignored
    list(fn(("f.py",), [pd.DataFrame({"ts": [50], "text": ["old"]})], st))
    assert st.get == (100, "new")
    # batch 3: ts=105 'newer' — inside gap, newer: replaces
    list(fn(("f.py",), [pd.DataFrame({"ts": [105], "text": ["newer"]})], st))
    assert st.get == (105, "newer")
