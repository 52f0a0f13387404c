"""Stream-stream interval join: streaming output must equal the batch join
on the same data (parity oracle), and left-outer must surface never-acked
dispatches once the watermark passes their deadline."""

from __future__ import annotations

import json

import pytest

from s3bigdatasync_spark.streaming.ack_join import (
    ACK_SCHEMA,
    DISPATCH_SCHEMA,
    joined_frame,
    stream_ack_join,
)

from .conftest import drop_last_commit


def _write(path, items, fname):
    path.mkdir(parents=True, exist_ok=True)
    with open(path / fname, "w") as f:
        for it in items:
            f.write(json.dumps(it) + "\n")


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    """The dispatch and ack dirs every test here streams: 20 dispatches, 12
    in-window acks, 4 late ones, and a far-future event on each side."""
    root = tmp_path_factory.mktemp("ack_join")
    d, a = root / "dispatch", root / "ack"
    dispatches = [
        {"key": f"k{i:02d}", "size": 100 + i, "dispatched_at": "2024-01-15T07:00:00"}
        for i in range(20)
    ]
    acks = (
        # 12 in-window acks (5 minutes later)
        [{"key": f"k{i:02d}", "status": "DONE", "acked_at": "2024-01-15T07:05:00"} for i in range(12)]
        # 4 LATE acks — past the 30-minute deadline, must NOT match
        + [{"key": f"k{i:02d}", "status": "DONE", "acked_at": "2024-01-15T08:30:00"} for i in range(12, 16)]
        # watermark pushers on both streams (far-future events, unmatched keys)
        + [{"key": "zz", "status": "DONE", "acked_at": "2024-01-15T12:00:00"}]
    )
    late_dispatch = [{"key": "zz2", "size": 1, "dispatched_at": "2024-01-15T12:00:00"}]
    _write(d, dispatches, "d1.json")
    _write(d, late_dispatch, "d2.json")
    _write(a, acks, "a1.json")
    return str(d), str(a)


@pytest.fixture(scope="module")
def left_outer(spark, inputs, tmp_path_factory):
    """The left-outer stream drained once; returns (out, checkpoint)."""
    root = tmp_path_factory.mktemp("left_outer")
    out, ck = str(root / "out"), str(root / "ck")
    stream_ack_join(spark, *inputs, out, ck, how="left_outer").awaitTermination(180)
    return out, ck


def _batch_join(spark, inputs):
    d, a = inputs
    batch_d = spark.read.schema(DISPATCH_SCHEMA).json(d)
    batch_a = spark.read.schema(ACK_SCHEMA).json(a)
    return joined_frame(batch_d, batch_a, "inner")


def test_inner_join_matches_batch_parity(spark, inputs, tmp_path):
    q = stream_ack_join(spark, *inputs, str(tmp_path / "out"), str(tmp_path / "ck"))
    q.awaitTermination(180)

    got = spark.read.parquet(str(tmp_path / "out"))
    want = _batch_join(spark, inputs)

    assert got.count() == 12  # in-window acks only; late acks excluded
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_left_outer_surfaces_unacked_dispatches(spark, left_outer):
    got = spark.read.parquet(left_outer[0])

    matched = got.filter("status IS NOT NULL")
    unmatched = got.filter("status IS NULL")
    assert matched.count() == 12
    # k12..k19 never acked in-window; their watermark deadline has passed
    # (both streams advanced to 12:00), so all 8 must be emitted with NULLs
    keys = {r["key"] for r in unmatched.collect()}
    assert {f"k{i:02d}" for i in range(12, 20)} <= keys


def test_crash_replay_double_append(spark, inputs, left_outer):
    """Kill window: the last batch's matches landed but its checkpoint
    commit did not. The restart replays the batch; the file sink has logged
    that batch id and skips it, so a plain read still equals the pre-crash
    rows and the batch join, for both inner matches and left-outer
    never-acked rows. An orphaned attempt (the same rows appended without a
    log entry) reads as zero extra rows."""
    out, ck = left_outer
    committed = spark.read.parquet(out)
    before = sorted(map(tuple, committed.collect()))
    assert before

    drop_last_commit(ck)
    stream_ack_join(spark, *inputs, out, ck, how="left_outer").awaitTermination(180)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before

    committed.write.mode("append").parquet(out)
    got = spark.read.parquet(out)
    assert sorted(map(tuple, got.collect())) == before
    matched = got.filter("status IS NOT NULL")
    assert matched.count() == 12
    want = _batch_join(spark, inputs)
    assert matched.exceptAll(want).count() == 0
    assert want.exceptAll(matched).count() == 0
    keys = {r["key"] for r in got.filter("status IS NULL").collect()}
    assert {f"k{i:02d}" for i in range(12, 20)} <= keys
