"""Custom stateful streaming operator: per-file debounce
(reference ST1, ``core/watcher.py:18-120`` — the watcher coalesces
rapid-fire filesystem events and processes a file only after a quiet
gap).

`applyInPandasWithState` holds one pending (ts, payload) per key in
the state store. A new event for the key either *coalesces* into the
pending entry (arrived inside the debounce gap) or *releases* it (the
pending entry had gone quiet before this event arrived, so it is
emitted and the new event becomes pending). An optional processing-time
timeout flushes keys that go quiet forever. State is keyed per file path, so
the operator scales horizontally with the shuffle — exactly the
watcher semantics, minus the hand-rolled timer wheel.

The state store checkpoint makes this restart-safe: a re-run with the
same checkpoint resumes pending entries (tested across two
availableNow runs in tests/test_stateful_debounce.py). Without the
timeout a bounded (availableNow) run stops once its input is
processed, pending keys kept in state; with it, Spark runs no-data
batches for as long as any timer may fire, so such a run never
stops — the timeout is for continuous (processingTime) queries.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd

OUTPUT_SCHEMA = "source string, ts long, text string"
STATE_SCHEMA = "ts long, text string"


def debounce_fn(gap: int, timeout_ms: int | None = None):
    """Build the applyInPandasWithState function with a fixed quiet-gap
    (same time unit as the `ts` column). `timeout_ms` is the
    processing-time flush for keys that go quiet forever; None (the
    default) keeps pending keys in state until a later event for the
    key releases them."""

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            ts, text = state.get
            state.remove()
            yield pd.DataFrame({"source": [key[0]], "ts": [ts], "text": [text]})
            return
        rows = pd.concat(list(pdfs)).sort_values("ts")
        emitted: list[tuple[int, str]] = []
        pending = state.get if state.exists else None
        for r in rows.itertuples():
            if pending is not None and r.ts >= pending[0] + gap:
                emitted.append(pending)
                pending = (int(r.ts), r.text)
            elif pending is None or int(r.ts) >= pending[0]:
                # within the gap: keep the burst's LATEST payload —
                # a late cross-batch event with an older ts must not
                # overwrite newer pending state (rows are only sorted
                # within one batch)
                pending = (int(r.ts), r.text)
        if pending is not None:
            state.update(pending)
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)
        if emitted:
            yield pd.DataFrame(
                {
                    "source": [key[0]] * len(emitted),
                    "ts": [e[0] for e in emitted],
                    "text": [e[1] for e in emitted],
                }
            )

    return fn


def debounced_changes(changes, gap: int, timeout_ms: int | None = None):
    """changes: streaming DataFrame (source, ts, text) → debounced
    stream of the same shape; one output row per quiet-gap-separated
    burst per file, carrying the burst's latest payload. Pass
    `timeout_ms` only to a continuous query (see the module note)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return changes.groupBy("source").applyInPandasWithState(
        debounce_fn(gap, timeout_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout if timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
