"""Streaming monitor/stat pipeline (SURVEY §2 D4/D5 streaming leg, §3.3).

The reference's batch stat job restarts from a high-water mark and its PUT
upsert clobbers partially-filled buckets on re-run (s3_monitor_statistic.py:
59-68, 209-248 — the correctness wart called out in SURVEY §7.4.1). The
Spark-native fix is exactly the built-in machinery:

  readStream(copy_log dir) → withWatermark → window agg → foreachBatch upsert

* watermark bounds state AND defines the late-data policy explicitly
  (rows later than WATERMARK_DELAY are dropped, never silently clobbered);
* checkpointing replaces the hand-rolled HWM (restart-safe, exactly-once
  into an idempotent sink);
* maxFilesPerTrigger is the backpressure knob (≙ the reference's queue
  high-watermark 1000, AzureEtagCheck/mpmgr.py:139-145).

The stream reads the copy log with the pipeline's COPY_LOG_SCHEMA and emits
the batch stat table's rows (operators.windows: STAT_SCHEMA, stat_sums), so
plans.pipeline.dashboard_report reads a streamed stat dir unchanged. A
checkpoint or stat dir written by the older (status, total_size, total_num)
shape of this stream must not be reused (read_stats and dashboard_report
raise ValueError on such a stat dir): delete both and rebuild them from the
copy log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import read_stat_table, stat_rollup, stat_sums
from ..plans.pipeline import COPY_LOG_SCHEMA

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

    foreachBatch writes each micro-batch's closed windows to a parquet stat
    table partitioned by time_unit — append of finalized windows (the
    watermark guarantees no (time_unit, start_time) row is emitted twice in
    append mode). Rows hold STAT_SCHEMA at the one time unit `minutes`.
    """
    stream = (
        spark.readStream.schema(COPY_LOG_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(copy_log_dir)
    )
    stat = _windowed_stat(stream, minutes)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # CRASH WINDOW: a kill after this append but before the checkpoint
        # commit replays the batch — append mode re-emits the SAME closed
        # windows with identical totals (they were final when the watermark
        # closed them). read_stats() dedups; out_dir raw is at-least-once.
        batch_df.write.mode("append").partitionBy("time_unit").parquet(out_dir)

    return (
        stat.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def read_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """The exactly-once view of the stat table: a declared STAT_SCHEMA read
    (operators.windows.read_stat_table), full-row distinct() — (time_unit,
    start_time) is unique in committed output (append mode emits each closed
    window once) and crash-replayed rows are byte-identical, so this removes
    only replay re-appends. See
    ack_join.read_matches for the reader-contract rationale."""
    return read_stat_table(spark, out_dir).distinct()


def batch_equivalent(spark: SparkSession, copy_log_dir: str, minutes: int = 1) -> DataFrame:
    """The batch query the stream must converge to (parity oracle for tests:
    run the stream over incremental appends, compare to this): the batch
    kernel at the one time unit `minutes`."""
    return stat_rollup(spark.read.schema(COPY_LOG_SCHEMA).parquet(copy_log_dir), (minutes,))
