"""Per-user running totals on Spark 4's `transformWithStateInPandas`
(StatefulProcessor API) — the successor surface to
``applyInPandasWithState`` (streaming/stateful.py implements the
same operator on the legacy API; keeping both documents the
migration path).

Same scale design as stateful.py: state is one fixed-size record
per key, partitioned by the shuffle key; the running sum is kept
quantized (bigint of value*10^4) so state folds are exact integer
adds — associative, replay-safe, and bit-identical to the batch
aggregate `events_user_totals` regardless of micro-batch slicing.
transformWithStateInPandas additionally gives the engine-managed
state store (RocksDB on a real cluster) typed per-key ValueState,
timers, and TTL — none of which this operator needs, but the
surface is what a production 100 TB pipeline would extend.

Reference analogue: the hardcoded streaming-free `reduce`
(maprdeuce.cpp:288-331) — here as user-pluggable keyed state over
an unbounded stream.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

QSCALE = 4  # matches stable.qsum(value, 4) and stateful.QSCALE

OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, sum_value DOUBLE"


class UserTotalsProcessor(StatefulProcessor):
    """ValueState (n: bigint, qs: bigint) per user_id."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("totals", "n BIGINT, qs BIGINT")

    def handleInputRows(
        self,
        key: tuple[Any, ...],
        rows: Iterator[pd.DataFrame],
        timerValues,
    ) -> Iterator[pd.DataFrame]:
        n, qs = self._state.get() if self._state.exists() else (0, 0)
        for pdf in rows:
            n += len(pdf)
            qs += int(
                np.floor(pdf["value"].to_numpy() * 10.0**QSCALE + 0.5).sum()
            )
        self._state.update((n, qs))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [qs / 10.0**QSCALE],
            }
        )

    def close(self) -> None:
        pass


SESSION_GAP_MS = 5 * 60 * 1000  # matches jobs.GAP ("5 minutes")


class UserSessionTimerProcessor(StatefulProcessor):
    """Event-time sessionization driven by the TIMER half of the
    StatefulProcessor API (the surface the totals processor never
    touches): per-user ValueState holds the OPEN session
    (n, qs, first_ms, last_ms); each input batch splits closed
    sessions inline (gap expiry visible within the batch emits
    immediately — the property that makes the emitted set
    micro-batch-slice-invariant) and re-registers the key's single
    event-time timer at last_ms + gap; when the watermark fires the
    timer (handleExpiredTimer) the idle/tail session emits and
    state clears — the timer/TTL eviction path.

    Spark gives NO intra-batch ordering guarantee (the watermark
    filters late rows, it does not sort), so handleInputRows
    concatenates the batch's Arrow chunks and sorts by ts_ms itself
    before the gap-split loop — the inline gap split plus the timer
    close then reproduce exactly the batch gap-sessionization of
    `sessionize_events` regardless of slicing or arrival order."""

    def __init__(self, gap_ms: int = SESSION_GAP_MS) -> None:
        self._gap_ms = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState(
            "open_session", "n BIGINT, qs BIGINT, first_ms BIGINT, last_ms BIGINT"
        )

    def _row(self, key, n, qs, first_ms, last_ms) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [qs / 10.0**QSCALE],
                "start_ms": [first_ms],
                "end_ms": [last_ms],
            }
        )

    def handleInputRows(
        self,
        key: tuple[Any, ...],
        rows: Iterator[pd.DataFrame],
        timerValues,
    ) -> Iterator[pd.DataFrame]:
        # Spark guarantees nothing about intra-batch row order:
        # concatenate every chunk and sort by event time HERE, so an
        # out-of-order micro-batch cannot mis-split sessions or emit
        # wrong first_ms/last_ms.  Batches are watermark-bounded, so
        # the concat is bounded by the per-key per-batch volume.
        chunks = [pdf for pdf in rows if len(pdf)]
        if not chunks:
            # empty batch for a key (e.g. timer-only invocation):
            # contribute nothing — in particular never update state
            # with n=0 or register a timer off a None last_ms
            return
        batch = pd.concat(chunks, ignore_index=True).sort_values(
            "ts_ms", kind="mergesort", ignore_index=True
        )
        if self._state.exists():
            n, qs, first_ms, last_ms = self._state.get()
            # drop the previous timer; the batch ends with a fresh one
            self._handle.deleteTimer(last_ms + self._gap_ms)
        else:
            n = qs = 0
            first_ms = last_ms = None
        ts_ms = batch["ts_ms"].to_numpy()
        qv = np.floor(
            batch["value"].to_numpy() * 10.0**QSCALE + 0.5
        ).astype(np.int64)
        for t, q in zip(ts_ms, qv):
            t = int(t)
            if last_ms is not None and t - last_ms > self._gap_ms:
                yield self._row(key, n, qs, first_ms, last_ms)
                n = qs = 0
                first_ms = None
            if first_ms is None:
                first_ms = t
            n += 1
            qs += int(q)
            last_ms = t
        self._state.update((n, qs, first_ms, last_ms))
        self._handle.registerTimer(last_ms + self._gap_ms)

    def handleExpiredTimer(
        self, key: tuple[Any, ...], timerValues, expiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        expiry = expiredTimerInfo.getExpiryTimeInMs()
        if not self._state.exists():
            return
        n, qs, first_ms, last_ms = self._state.get()
        if expiry < last_ms + self._gap_ms:
            # a stale timer raced a newer batch; the live timer for
            # last_ms + gap is still registered
            return
        yield self._row(key, n, qs, first_ms, last_ms)
        self._state.clear()

    def close(self) -> None:
        pass


def stream_user_totals_tws(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_user_totals_tws"
):
    """Streaming runner on the new API: update mode, availableNow
    replay, memory sink.  Returns the StreamingQuery."""
    from .jobs import _stream_events

    ev = _stream_events(spark, sf_dir).select("user_id", "value")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )

