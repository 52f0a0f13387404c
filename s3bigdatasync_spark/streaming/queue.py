"""Streaming task-queue consumption (SURVEY §2 A7/B2/J3, §3.2 streaming leg).

The reference's executor fleet long-polls N SQS queues in a random-start
round-robin, processes ≤10-message batches, deletes on success and routes
failures to a dead-letter queue with a redrive cap
(TaskExecutor/TaskExecutor.py:18-147, libs/sqs_utils.py:93-119). The Spark
translation:

  queue dir of JSON task files  →  file-stream source (maxFilesPerTrigger =
  the backpressure knob)  →  foreachBatch:
      1. msg-id dedup inside the batch (dropDuplicates) AND against the
         sent log (left-anti) — the J1/J3 idempotence pattern: a
         redelivered task file or a producer retry copies nothing again;
      2. plans.pipeline.copy_tasks, the copy stage task_executor runs: one
         copy per task, both statuses to copy_log, failures to dead_letter;
      3. append the batch's msg_ids to the sent log.

Not exactly-once: a crash after step 2 and before step 3 and the checkpoint
commit replays the batch, which copies and logs its tasks again.
task_executor has the same window: a re-run after its copy-log append copies
every task again. Closing it is ROADMAP direction 1 (restartable,
exactly-once migration).

At 100 TB the queue dir is an S3 prefix the producer writes ~100-object task
files into; competing consumers ≙ one streaming query with as many executors
as you like — Spark assigns files to tasks, so the random-queue-pick /
round-robin machinery disappears.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import pipeline

TASK_SCHEMA = pipeline.TASK_SCHEMA + ", etag string"


def msg_id(df: DataFrame) -> DataFrame:
    """Dedup key per task row: md5(bucket/key/etag/dst) — hardened vs the
    reference's md5(endpoint+name+event) which collides on same-key
    re-uploads (SURVEY §7.4 risk 4)."""
    return df.withColumn(
        "msg_id",
        F.md5(F.concat_ws("/", "bucket", "key", F.coalesce("etag", F.lit("")), "dst_bucket")),
    )


def consume_task_queue(
    spark: SparkSession,
    queue_dir: str,
    copy_fn: pipeline.CopyFn,
    copy_log_dir: str,
    dead_letter_dir: str,
    sent_log_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
):
    """Start the streaming consumer; returns the StreamingQuery (availableNow
    trigger — drains the queue then stops, ≙ one executor polling session)."""
    stream = (
        spark.readStream.schema(TASK_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(queue_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = msg_id(batch_df).dropDuplicates(["msg_id"])
        # anti-join against the sent log (J3 idempotent sink): re-delivered
        # files (checkpoint loss, producer retry) are skipped, mirroring the
        # "已经发送" check (inventory_lib.py:146-162).
        try:
            sent = batch.sparkSession.read.schema("msg_id string").parquet(sent_log_dir)
            batch = batch.join(F.broadcast(sent), "msg_id", "left_anti")
        except AnalysisException as e:
            # Only a missing sent-log (first batch ever) may skip the dedup
            # anti-join. Any other read error must fail the batch so the
            # checkpoint retries it — swallowing it would silently disable
            # idempotence and re-execute delivered copies.
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise
        pipeline.copy_tasks(batch, copy_fn, copy_log_dir, dead_letter_dir)
        batch.select("msg_id").write.mode("append").parquet(sent_log_dir)

    return (
        stream.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
