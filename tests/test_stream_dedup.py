"""dropDuplicatesWithinWatermark: duplicates inside the horizon are dropped;
state stays bounded by the watermark."""

from __future__ import annotations

import json

import pytest

from s3bigdatasync_spark.streaming.dedup import stream_dedup_tasks

from .conftest import drop_last_commit


def _write(path, items, fname):
    path.mkdir(parents=True, exist_ok=True)
    with open(path / fname, "w") as f:
        for it in items:
            f.write(json.dumps(it) + "\n")


def _task(i, at):
    return {
        "bucket": "b1",
        "key": f"k{i:03d}",
        "size": 1000 + i,
        "etag": f"e{i}",
        "dst_bucket": "b2",
        "enqueued_at": at,
    }


@pytest.fixture(scope="module")
def drained(spark, tmp_path_factory):
    """The queue drained once: 10 tasks, then the same 10 re-enqueued five
    minutes later (producer retry) plus 5 new, then 3 new and 2 retries
    stamped inside the horizon. The last file moves no watermark, so its
    batch, which emits the 3 new tasks, is the stream's last. Returns
    (queue, out, checkpoint)."""
    root = tmp_path_factory.mktemp("dedup")
    q = root / "queue"
    t0 = "2024-01-15T07:00:00"
    t1 = "2024-01-15T07:05:00"
    _write(q, [_task(i, t0) for i in range(10)], "a.json")
    _write(q, [_task(i, t1) for i in range(15)], "b.json")
    _write(q, [_task(i, "2024-01-15T07:01:00") for i in (3, 4, 15, 16, 17)], "c.json")
    out, ck = str(root / "out"), str(root / "ck")
    stream_dedup_tasks(spark, str(q), out, ck, max_files_per_trigger=1).awaitTermination(180)
    return str(q), out, ck


def test_duplicates_within_watermark_dropped(spark, drained):
    out = spark.read.parquet(drained[1])
    assert out.count() == 18  # 10 originals + 5 + 3 new; 12 retries dropped
    assert out.select("msg_id").distinct().count() == 18


def test_crash_replay_double_append(spark, drained):
    """Kill window: the last batch's unique tasks landed but its checkpoint
    commit did not. The restart replays the batch (same restored dedup
    state); the file sink has logged that batch id and skips it, so a plain
    read still shows each msg_id once. An orphaned attempt (the same rows
    appended without a log entry) reads as zero extra rows."""
    q, out_dir, ck = drained
    committed = spark.read.parquet(out_dir)
    before = sorted(map(tuple, committed.collect()))
    assert len(before) == 18

    drop_last_commit(ck)
    stream_dedup_tasks(spark, q, out_dir, ck, max_files_per_trigger=1).awaitTermination(180)
    assert sorted(map(tuple, spark.read.parquet(out_dir).collect())) == before

    committed.write.mode("append").parquet(out_dir)
    got = spark.read.parquet(out_dir)
    assert got.count() == 18
    assert got.select("msg_id").distinct().count() == 18
