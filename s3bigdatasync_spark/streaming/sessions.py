"""Custom stateful streaming operator: sessionization via
applyInPandasWithState (the brief's pattern for operators Structured
Streaming lacks natively).

Batch sessionize (operators.analytics) is a window function; in a stream the
session assignment needs per-key mutable state that outlives micro-batches:
each user's open session (start, last-seen, count) is carried in the state
store, closed either by a gap-exceeding event or by event-time timeout once
the watermark passes. This is the reference's "time-window aggregation with
restart" done with real streaming state instead of the HWM/clobber design.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from .commit import start_file_sink

SESSION_GAP_SECONDS = 1800

EVENT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
    ]
)

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("session_start", LongType()),
        StructField("session_end", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("n", LongType()),
    ]
)


def stream_sessionize(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Start the stateful session stream over an events directory; closed
    sessions append to out_dir. availableNow drains what exists then stops
    (state persists in the checkpoint across runs)."""
    def session_fn(key, pdfs, state: GroupState):
        """Per-user state machine: fold sorted event times into (start, last, n);
        emit a session row whenever a gap closes one, keep the open session in
        state; on timeout, flush the open session. Local function (pickled by
        value) per this repo's executor-pickling rule."""
        import pandas as pd

        gap = 1800
        user_id = key[0]
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {"user_id": [user_id], "n_events": [n],
                     "session_start": [start], "session_end": [last]}
                )
            return

        times: list[int] = []
        for pdf in pdfs:
            times.extend(int(t.value // 1_000_000_000) for t in pdf["ts"])
        times.sort()
        if not times:
            return

        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = times[0], times[0], 0

        closed = []
        for t in times:
            if t - last > gap:
                closed.append((start, last, n))
                start, n = t, 0
            last = max(last, t)
            n += 1
        # A drained backlog can deliver only old events for a key after the
        # watermark already advanced past last+gap; arming a timeout at or
        # before the current watermark makes Spark throw and kill the query.
        # In that case the session is already stale — close it immediately.
        timeout_ms = last * 1000 + gap * 1000
        wm_ms = state.getCurrentWatermarkMs()
        if timeout_ms <= wm_ms:
            closed.append((start, last, n))
            if state.exists:
                state.remove()
        else:
            state.update((start, last, n))
            state.setTimeoutTimestamp(timeout_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "n_events": [c[2] for c in closed],
                    "session_start": [c[0] for c in closed],
                    "session_end": [c[1] for c in closed],
                }
            )

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )
    sessions = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            session_fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return start_file_sink(sessions, out_dir, checkpoint_dir)
