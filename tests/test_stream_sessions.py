"""Stateful streaming sessionization (applyInPandasWithState): sessions close
across micro-batch boundaries and match the batch gap semantics."""

from __future__ import annotations

import datetime as dt

import pytest

from s3bigdatasync_spark.streaming.sessions import EVENT_SCHEMA, stream_sessionize

from .conftest import drop_last_commit

BASE = dt.datetime(2024, 1, 15, 7, 0, 0)


def _events(rows):
    return [(uid, eid, BASE + dt.timedelta(seconds=s)) for uid, eid, s in rows]


@pytest.fixture(scope="module")
def sessionized(spark, tmp_path_factory):
    """Two runs of the stream: file 1 holds a burst per user; file 2 holds
    user 1's second burst >30 min later and a far-future event for user 2
    that pushes the watermark past both first sessions. Returns (events,
    out, checkpoint)."""
    root = tmp_path_factory.mktemp("sessions")
    ev_dir, out, ck = str(root / "ev"), str(root / "sessions"), str(root / "ck")
    for rows in (
        [(1, 1, 0), (1, 2, 60), (1, 3, 120), (2, 10, 0)],
        [(1, 4, 4000), (1, 5, 4060), (2, 11, 100000)],
    ):
        spark.createDataFrame(_events(rows), EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(ev_dir)
        stream_sessionize(spark, ev_dir, out, ck, max_files_per_trigger=1).awaitTermination(180)
    return ev_dir, out, ck


def _sessions(df) -> list[tuple]:
    return sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in df.collect()
    )


def test_sessions_close_across_batches(spark, sessionized):
    got = set(_sessions(spark.read.parquet(sessionized[1])))
    base_s = int(BASE.timestamp())
    # user 1's first session (0..120s, 3 events) must have closed via the gap
    assert (1, base_s, base_s + 120, 3) in got
    # user 2's first session closed by the 100000s event's gap
    assert (2, base_s, base_s, 1) in got


def test_crash_replay_double_append(spark, sessionized):
    """Kill window: the last batch's closed sessions landed but its
    checkpoint commit did not. The restart replays the batch against the
    restored state; the file sink has logged that batch id and skips it, so
    a plain read still shows each closed session once with its original
    end/count. An orphaned attempt (the same rows appended without a log
    entry) reads as zero extra rows."""
    ev_dir, out, ck = sessionized
    committed = spark.read.parquet(out)
    before = _sessions(committed)
    assert before

    drop_last_commit(ck)
    stream_sessionize(spark, ev_dir, out, ck, max_files_per_trigger=1).awaitTermination(180)
    assert _sessions(spark.read.parquet(out)) == before

    committed.write.mode("append").parquet(out)
    assert _sessions(spark.read.parquet(out)) == before
