"""Streaming dedup with bounded state: dropDuplicatesWithinWatermark.

The reference deduplicates forever against a DynamoDB msg-id table
(inventory_lib.py:146-191) — state grows without bound. The streaming-native
form keeps dedup state only within the watermark horizon: duplicates arriving
inside the window are dropped, state for older keys is evicted. Use this for
at-least-once producers whose retries happen within a bounded delay (the SQS
redrive case exactly); the queue consumer's sent-log anti-join remains the
full-history guarantee.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .commit import start_file_sink
from .queue import TASK_SCHEMA, msg_id

WATERMARK = "30 minutes"
EVENT_TIME_COL = "enqueued_at"


def stream_dedup_tasks(
    spark: SparkSession,
    queue_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Drain the task-queue dir, dropping duplicate msg_ids that arrive
    within the watermark horizon; unique tasks append to out_dir."""
    schema = f"{TASK_SCHEMA}, {EVENT_TIME_COL} timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(queue_dir)
    )
    deduped = (
        msg_id(stream)
        .withWatermark(EVENT_TIME_COL, WATERMARK)
        .dropDuplicatesWithinWatermark(["msg_id"])
    )
    return start_file_sink(deduped, out_dir, checkpoint_dir)
