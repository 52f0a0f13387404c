"""Streaming task-queue consumer (A7/B2/J3): drain, dedup, dead-letter, and
idempotent redelivery."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from s3bigdatasync_spark.plans.pipeline import COPY_LOG_SCHEMA
from s3bigdatasync_spark.streaming.queue import consume_task_queue


def _write_tasks(path, items):
    path.mkdir(parents=True, exist_ok=True)
    fname = path / f"batch-{len(list(path.iterdir()))}.json"
    with open(fname, "w") as f:
        for it in items:
            f.write(json.dumps(it) + "\n")


def _task(i, etag="e"):
    return {
        "bucket": "b1",
        "key": f"k{i:03d}",
        "size": 1000 + i,
        "etag": f"{etag}{i}",
        "dst_bucket": "b2",
    }


def test_queue_drain_dedup_and_dlq(spark, tmp_path):
    qdir = tmp_path / "queue"
    _write_tasks(qdir, [_task(i) for i in range(30)])
    # duplicate delivery of the same 10 tasks in a second file (producer retry)
    _write_tasks(qdir, [_task(i) for i in range(10)])

    dirs = {n: str(tmp_path / n) for n in ("log", "dead", "sent", "ckpt")}
    calls = spark.sparkContext.accumulator(0)

    def copy_fn(src, dst, key):
        calls.add(1)
        return not key.endswith("7")

    q = consume_task_queue(
        spark, str(qdir), copy_fn, dirs["log"], dirs["dead"], dirs["sent"], dirs["ckpt"],
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    assert calls.value == 30  # one copy per unique task
    log = spark.read.parquet(dirs["log"])
    assert log.count() == 30  # duplicates skipped (in-batch + sent-log dedup)
    # the copy log task_executor writes: same columns, same types
    assert log.dtypes == spark.createDataFrame([], COPY_LOG_SCHEMA).dtypes
    assert log.select("object_key").distinct().count() == 30
    dead = spark.read.parquet(dirs["dead"])
    assert sorted(r["object_key"] for r in dead.collect()) == ["k007", "k017", "k027"]
    assert spark.read.parquet(dirs["sent"]).count() == 30

    # redelivery after restart: new file with 5 already-sent + 5 new tasks
    _write_tasks(qdir, [_task(i) for i in range(25, 35)])
    q = consume_task_queue(
        spark, str(qdir), copy_fn, dirs["log"], dirs["dead"], dirs["sent"], dirs["ckpt"],
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert calls.value == 35
    log = spark.read.parquet(dirs["log"])
    assert log.count() == 35  # only the 5 genuinely-new tasks executed
    assert log.select("object_key").distinct().count() == 35
