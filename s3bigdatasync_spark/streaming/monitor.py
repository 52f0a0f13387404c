"""Streaming monitor/stat pipeline (SURVEY §2 D4/D5 streaming leg, §3.3).

The reference's batch stat job restarts from a high-water mark and its PUT
upsert clobbers partially-filled buckets on re-run (s3_monitor_statistic.py:
59-68, 209-248 — the correctness wart called out in SURVEY §7.4.1). The
Spark-native fix is exactly the built-in machinery:

  readStream(copy_log dir) → withWatermark → window agg → parquet file sink

* watermark bounds state AND defines the late-data policy explicitly
  (rows later than WATERMARK_DELAY are dropped, never silently clobbered);
* checkpointing replaces the hand-rolled HWM, and the file sink's batch log
  makes a restart exactly-once: a replayed batch is skipped, not appended
  again (streaming/commit.py:start_file_sink);
* maxFilesPerTrigger is the backpressure knob (≙ the reference's queue
  high-watermark 1000, AzureEtagCheck/mpmgr.py:139-145).

The stream reads the copy log with the pipeline's COPY_LOG_SCHEMA and emits
the batch stat table's rows (operators.windows: STAT_SCHEMA, stat_sums), so
plans.pipeline.dashboard_report and operators.windows.read_stat_table read a
streamed stat dir unchanged. A stat dir written by an older sink of this
stream (a foreachBatch append, or the (status, total_size, total_num)
shape) must not be reused: delete it and its checkpoint and rebuild them
from the copy log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import stat_rollup, stat_sums
from ..plans.pipeline import COPY_LOG_SCHEMA
from .commit import start_file_sink

WATERMARK_DELAY = "10 minutes"


def _windowed_stat(stream: DataFrame, minutes: int) -> DataFrame:
    """stat rows at one time unit; append mode needs the grouping on the
    watermarked column's window (a start_time computed from it would not
    carry the watermark)."""
    stat = (
        stream.withWatermark("replication_time", WATERMARK_DELAY)
        .groupBy(F.window("replication_time", f"{minutes} minutes").alias("w"))
        .agg(*stat_sums())
    )
    return stat.select(
        F.lit(minutes).alias("time_unit"),
        F.col("w.start").cast("long").alias("start_time"),
        *stat.columns[1:],
    )


def stream_time_rollup(
    spark: SparkSession,
    copy_log_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    minutes: int = 1,
    max_files_per_trigger: int = 10,
):
    """Start the streaming stat job; returns the StreamingQuery.

    Each micro-batch appends its closed windows to a parquet stat table
    partitioned by time_unit (the watermark guarantees append mode emits
    each (time_unit, start_time) row once). Rows hold STAT_SCHEMA at the
    one time unit `minutes`.
    """
    stream = (
        spark.readStream.schema(COPY_LOG_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(copy_log_dir)
    )
    return start_file_sink(
        _windowed_stat(stream, minutes), out_dir, checkpoint_dir, partition_by=("time_unit",)
    )


def batch_equivalent(spark: SparkSession, copy_log_dir: str, minutes: int = 1) -> DataFrame:
    """The batch query the stream must converge to (parity oracle for tests:
    run the stream over incremental appends, compare to this): the batch
    kernel at the one time unit `minutes`."""
    return stat_rollup(spark.read.schema(COPY_LOG_SCHEMA).parquet(copy_log_dir), (minutes,))
