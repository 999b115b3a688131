"""Custom stateful streaming operators — applyInPandasWithState.

The reference has no streaming layer at all (it refreshes an in-memory
namespace and answers point-in-time queries); a complete training-data
engine needs stateful operators over continuously-ingested event and
document streams. Structured Streaming's applyInPandasWithState is the
Spark-native way to express semantics the built-in windowed aggregations
can't: per-key state with Arrow-batched updates, watermark-driven
eviction, arbitrary merge logic.

``streaming_sessionization`` is the worked operator: per-user session
counting with an inactivity gap, kept EXACT under any within-watermark
arrival order by storing each user's session intervals and merging on
insert — the streaming twin of the batch lag+cumsum sessionization
(__spark_entry__.q_sessionization), asserted equivalent in
tests/test_streaming.py.

100 TB shape: state is per-key and bounded (one [start,end] pair per
OPEN session per user, far smaller than the events), updates ride
Arrow batches grouped by key, and watermark timeout evicts idle keys
so state doesn't grow with stream lifetime.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_MS = 30 * 60 * 1000

_OUTPUT_SCHEMA = "user_id long, n_sessions long"
# flat interval list [s1, e1, s2, e2, ...], sorted, pairwise-disjoint
_STATE_SCHEMA = "intervals array<long>"


def _merge(intervals: list[int], ts: int, gap_ms: int) -> list[int]:
    """Insert event time `ts` as [ts, ts] and merge every interval within
    `gap_ms` — O(k) per event with k = open sessions for this key.

    Merging keeps the operator exact under out-of-order arrival: an early
    event that later BRIDGES two sessions collapses them, which
    append-only session counters get wrong."""
    out: list[int] = []
    placed = False
    s_new, e_new = ts, ts
    for i in range(0, len(intervals), 2):
        s, e = intervals[i], intervals[i + 1]
        if e + gap_ms < s_new and not placed:
            out.extend((s, e))  # strictly before the new session
        elif s > e_new + gap_ms:
            if not placed:
                out.extend((s_new, e_new))
                placed = True
            out.extend((s, e))  # strictly after
        else:  # overlaps-with-gap → absorb into the new interval
            s_new, e_new = min(s, s_new), max(e, e_new)
    if not placed:
        out.extend((s_new, e_new))
    return out


def streaming_sessionization(
    events: DataFrame,
    gap_ms: int = SESSION_GAP_MS,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Per-user session counts over an event stream, exact within the
    watermark horizon.

    groupBy(user).applyInPandasWithState with EventTimeTimeout: each
    micro-batch folds the user's new event times into the interval
    state; the operator emits the user's current session count (update
    semantics — the sink keeps the latest row per user). When the
    watermark passes a user's last activity + gap, the state times out
    and is evicted after emitting the final count, so state size tracks
    ACTIVE users only.

    `events` must carry an event-time column named `ts` (timestamp type,
    already watermarked by the caller or here via withWatermark)."""
    src = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).cast("long").alias("ts_ms"),
        F.timestamp_millis(F.col(ts_col).cast("long")).alias("ts"),
    ).withWatermark("ts", "1 hour")

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            (intervals,) = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_sessions": [len(intervals) // 2]}
            )
            return
        intervals: list[Any] = list(state.get[0]) if state.exists else []
        last = 0
        for pdf in pdfs:
            for ts in pdf["ts_ms"]:
                ts = int(ts)
                intervals = _merge(intervals, ts, gap_ms)
                last = max(last, ts)
        # fold in the EXISTING state's latest activity: a batch holding
        # only a within-watermark LATE event would otherwise move the
        # timeout BACKWARDS — below the current watermark Spark rejects
        # the timestamp outright (query crash), and just above it the
        # state would evict early and reset this user's session count
        if intervals:
            last = max(last, int(intervals[-1]))
        state.update((intervals,))
        # evict once the watermark passes the last activity + gap: the
        # session set for this user can no longer change
        state.setTimeoutTimestamp(last + gap_ms + 1)
        yield pd.DataFrame({"user_id": [key[0]], "n_sessions": [len(intervals) // 2]})

    return src.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# buffered rows awaiting their key's horizon; NaN encodes a NULL value
# (state arrays round-trip through Arrow, which has no null-in-list
# guarantee across versions — NaN is unambiguous here because real
# observations are finite doubles)
_BUFFER_STATE = "ids array<long>, tss array<long>, vals array<double>"


def _flush_in_event_time(
    events: DataFrame,
    user_col: str,
    id_col: str,
    ts_col: str,
    value_col: str,
    recurse: Callable[[np.ndarray], dict[str, np.ndarray]],
    output_schema: str,
) -> DataFrame:
    """Run a per-key recursion over a stream in EVENT-TIME order, exactly,
    whatever the arrival order inside the watermark horizon.

    Rows buffer in per-key state until the event-time watermark passes
    the key's last activity; then the key's rows sort on (ts, event_id)
    and ``recurse`` maps their values to the extra output columns (named
    and typed by ``output_schema``), emitted beside user_id, event_id,
    ts_ms and value. State is bounded by the watermark horizon per key
    (rows older than the watermark can no longer be reordered and are
    flushed); emission is per-key-complete, the right unit for sink-side
    consumers that need the repaired series. Same applyInPandasWithState
    shape as streaming_sessionization: EventTimeTimeout eviction,
    Arrow-batched updates."""
    src = events.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.col(ts_col).cast("long").alias("ts_ms"),
        F.col(value_col).cast("double").alias("value"),
        F.timestamp_millis(F.col(ts_col).cast("long")).alias("ts"),
    ).withWatermark("ts", "1 hour")

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            ids, tss, vals = state.get
            state.remove()
            a_ids = np.asarray(ids, dtype=np.int64)
            a_tss = np.asarray(tss, dtype=np.int64)
            a_vals = np.asarray(vals, dtype=np.float64)
            order = np.lexsort((a_ids, a_tss))
            a_ids, a_tss, a_vals = a_ids[order], a_tss[order], a_vals[order]
            yield pd.DataFrame(
                {
                    "user_id": np.full(len(a_ids), key[0], dtype=np.int64),
                    "event_id": a_ids,
                    "ts_ms": a_tss,
                    "value": a_vals,
                    **recurse(a_vals),
                }
            )
            return
        ids, tss, vals = (
            (list(state.get[0]), list(state.get[1]), list(state.get[2]))
            if state.exists
            else ([], [], [])
        )
        for pdf in pdfs:
            ids.extend(pdf["event_id"].astype("int64").tolist())
            tss.extend(pdf["ts_ms"].astype("int64").tolist())
            # astype(float64) maps pandas nulls (None/NA) to NaN in one pass
            vals.extend(pdf["value"].astype("float64").tolist())
        state.update((ids, tss, vals))
        # flush when the watermark passes this key's last activity — no
        # reordering is possible beyond that point. Nothing is emitted
        # until then: yielding even an EMPTY frame per group per batch
        # costs a pandas construction + concat on the Arrow path
        # (measured ~25% of the whole run at 1.2k keys).
        state.setTimeoutTimestamp(max(tss) + 1)
        return
        yield  # pragma: no cover — makes the function a generator

    return src.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=(
            f"user_id long, event_id long, ts_ms long, value double, {output_schema}"
        ),
        stateStructType=_BUFFER_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_forward_fill(
    events: DataFrame,
    user_col: str = "user_id",
    id_col: str = "event_id",
    ts_col: str = "ts_ms",
    value_col: str = "value",
) -> DataFrame:
    """EXACT last-observation-carried-forward over a stream — including
    out-of-order arrivals, which the naive "fill from the latest seen
    observation" streaming version gets wrong (an observation arriving
    late would leave earlier-emitted gaps stale). Each key emits once
    the watermark passes it, with the same (ts, event_id)-ordered LOCF
    the batch operator applies — asserted equivalent to
    behavior.forward_fill in tests/test_streaming.py."""

    def recurse(vals: np.ndarray) -> dict[str, np.ndarray]:
        # pandas ffill over the (ts, event_id)-sorted values is exactly
        # LOCF; NaN survives Arrow as the null the output schema expects
        return {"value_filled": pd.Series(vals).ffill().to_numpy()}

    return _flush_in_event_time(
        events, user_col, id_col, ts_col, value_col, recurse, "value_filled double"
    )


def streaming_ewma(
    events: DataFrame,
    alpha: float = 0.3,
    user_col: str = "user_id",
    id_col: str = "event_id",
    ts_col: str = "ts_ms",
    value_col: str = "value",
) -> DataFrame:
    """EXACT per-key exponentially-weighted moving average over a
    stream: a late arrival inside the horizon re-sorts into place, so
    the recursion order is the EVENT-TIME order, not the arrival order.
    Each key flushes s_i = α·x_i + (1−α)·s_{i−1} with s_0 = x_0 in one
    event-time pass. ``prev_s`` (the smoothed value BEFORE each
    observation) rides along so a consumer can score deviation
    |x_i − s_{i−1}| — the streaming anomaly primitive.

    The recursion is evaluated one literal double op at a time in
    (ts, event_id) order, so an engine replaying the same recursion —
    the DuckDB recursive-CTE oracle — reproduces every double
    bit-for-bit."""

    def recurse(vals: np.ndarray) -> dict[str, np.ndarray]:
        ewma = np.empty(len(vals), dtype=np.float64)
        prev = np.empty(len(vals), dtype=np.float64)
        s = float("nan")
        for i, x in enumerate(vals):
            prev[i] = s
            # same literal-by-literal recursion the oracle replays
            s = x if i == 0 else alpha * x + (1.0 - alpha) * s
            ewma[i] = s
        return {"ewma": ewma, "prev_s": prev}

    return _flush_in_event_time(
        events, user_col, id_col, ts_col, value_col, recurse, "ewma double, prev_s double"
    )


def streaming_holt(
    events: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.3,
    user_col: str = "user_id",
    id_col: str = "event_id",
    ts_col: str = "ts_ms",
    value_col: str = "value",
) -> DataFrame:
    """EXACT per-key Holt level+trend smoothing over a stream — the
    streaming twin of stats.holt_forecast and the next step up from
    streaming_ewma (EWMA tracks a level; Holt also tracks its SLOPE, so
    a steadily climbing metric doesn't read as a permanent anomaly):

        l_0 = x_0,  b_0 = 0
        l_i = α·x_i + (1−α)(l_{i−1} + b_{i−1})
        b_i = β(l_i − l_{i−1}) + (1−β)·b_{i−1}

    Each key flushes in (ts, event_id) order, so within-horizon arrival
    order can never change the recursion. Evaluated one literal double
    op at a time, so the DuckDB recursive-CTE oracle replays every
    bit."""
    one_m_a = 1.0 - alpha
    one_m_b = 1.0 - beta

    def recurse(vals: np.ndarray) -> dict[str, np.ndarray]:
        levels = np.empty(len(vals), dtype=np.float64)
        trends = np.empty(len(vals), dtype=np.float64)
        l = b = 0.0
        for i, x in enumerate(vals):
            if i == 0:
                l, b = x, 0.0
            else:
                # same literal-by-literal chain the oracle replays
                ln = alpha * x + one_m_a * (l + b)
                b = beta * (ln - l) + one_m_b * b
                l = ln
            levels[i] = l
            trends[i] = b
        return {"level": levels, "trend": trends}

    return _flush_in_event_time(
        events, user_col, id_col, ts_col, value_col, recurse, "level double, trend double"
    )
