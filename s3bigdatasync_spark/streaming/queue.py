"""Streaming task-queue consumption (SURVEY §2 A7/B2/J3, §3.2 streaming leg).

The reference's executor fleet long-polls N SQS queues in a random-start
round-robin, processes ≤10-message batches, deletes on success and routes
failures to a dead-letter queue with a redrive cap
(TaskExecutor/TaskExecutor.py:18-147, libs/sqs_utils.py:93-119). The Spark
translation:

  queue dir of JSON task files  →  file-stream source (maxFilesPerTrigger =
  the backpressure knob)  →  foreachBatch:
      1. msg-id dedup inside the batch (dropDuplicates) AND against the
         committed log (left-anti) — the J1/J3 idempotence pattern, which
         with checkpointing upgrades at-least-once file delivery to
         effectively-exactly-once;
      2. execute the copy callable per partition;
      3. append results to copy_log, failures additionally to dead_letter.

At 100 TB the queue dir is an S3 prefix the producer writes ~100-object task
files into; competing consumers ≙ one streaming query with as many executors
as you like — Spark assigns files to tasks, so the random-queue-pick /
round-robin machinery disappears.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

TASK_SCHEMA = StructType(
    [
        StructField("bucket", StringType()),
        StructField("key", StringType()),
        StructField("size", LongType()),
        StructField("etag", StringType()),
        StructField("dst_bucket", StringType()),
    ]
)


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
    copy_fn: Callable[[str, str, str], bool],
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
    fn = copy_fn

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = msg_id(batch_df).dropDuplicates(["msg_id"])
        # anti-join against the committed sent-log (J3 idempotent sink):
        # re-delivered files (checkpoint loss, producer retry) are skipped,
        # mirroring the "已经发送" check (inventory_lib.py:146-162).
        spark_l = batch.sparkSession
        try:
            sent = spark_l.read.parquet(sent_log_dir).select("msg_id")
            batch = batch.join(F.broadcast(sent), "msg_id", "left_anti")
        except AnalysisException as e:
            # Only a missing sent-log (first batch ever) may skip the dedup
            # anti-join. Any other read error must fail the batch so the
            # checkpoint retries it — swallowing it would silently disable
            # idempotence and re-execute delivered copies.
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise

        def run_partition(rows):
            import time as _t

            for r in rows:
                ok = False
                try:
                    ok = fn(r["bucket"], r["dst_bucket"], r["key"])
                except Exception:
                    ok = False
                yield (r["msg_id"], r["key"], float(_t.time()), 1 if ok else 0, r["size"])

        result_schema = StructType(
            [
                StructField("msg_id", StringType()),
                StructField("object_key", StringType()),
                StructField("replication_time_s", DoubleType()),
                StructField("replication_status", LongType()),
                StructField("size", LongType()),
            ]
        )
        rdd = batch.rdd.mapPartitions(run_partition)
        results = (
            spark_l.createDataFrame(rdd, result_schema)  # explicit schema: batch may be empty
            .withColumn("replication_time", F.timestamp_seconds("replication_time_s"))
            .drop("replication_time_s")
            .cache()
        )
        results.select(
            "object_key", "replication_time", "replication_status", "size"
        ).write.mode("append").parquet(copy_log_dir)
        failed = results.filter(F.col("replication_status") == 0)
        if failed.take(1):
            failed.write.mode("append").parquet(dead_letter_dir)
        results.select("msg_id").write.mode("append").parquet(sent_log_dir)
        results.unpersist()

    return (
        stream.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
