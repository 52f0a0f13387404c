"""Stream-stream interval join: dispatch events matched to completion acks.

The reference's monitor polls DynamoDB to pair a dispatched copy task with
its completion record (TaskMonitor/s3_monitor_prepare.py walks the table per
status). The streaming-native form joins the two live streams directly:
an ack matches its dispatch iff it arrives within ACK_WINDOW of the dispatch
time. Watermarks on BOTH sides bound the join state — Spark evicts buffered
dispatch rows once no in-window ack can still arrive, so state is
O(throughput × window), not O(history).

With left-outer semantics the unmatched rows surface as (dispatch, NULL ack)
once the watermark passes their deadline — exactly the "copy never acked"
alert the monitor exists to raise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

from .commit import start_file_sink

ACK_WINDOW = "30 minutes"
WATERMARK = "30 minutes"

DISPATCH_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("size", LongType()),
        StructField("dispatched_at", TimestampType()),
    ]
)

ACK_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("status", StringType()),
        StructField("acked_at", TimestampType()),
    ]
)

_JOIN_COND = (
    "d_key = a_key AND acked_at >= dispatched_at "
    f"AND acked_at <= dispatched_at + interval {ACK_WINDOW}"
)


def joined_frame(dispatch: DataFrame, ack: DataFrame, how: str = "inner") -> DataFrame:
    """The join plan, shared verbatim by the streaming and batch (parity
    oracle) paths: equi-join on key plus the ack-deadline interval."""
    d = dispatch.select(
        F.col("key").alias("d_key"), "size", "dispatched_at"
    ).withWatermark("dispatched_at", WATERMARK) if dispatch.isStreaming else dispatch.select(
        F.col("key").alias("d_key"), "size", "dispatched_at"
    )
    a = ack.select(
        F.col("key").alias("a_key"), "status", "acked_at"
    ).withWatermark("acked_at", WATERMARK) if ack.isStreaming else ack.select(
        F.col("key").alias("a_key"), "status", "acked_at"
    )
    return d.join(a, F.expr(_JOIN_COND), how).select(
        F.col("d_key").alias("key"),
        "size",
        "dispatched_at",
        "status",
        "acked_at",
    )


def stream_ack_join(
    spark: SparkSession,
    dispatch_dir: str,
    ack_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    how: str = "inner",
):
    """Join the dispatch and ack file-streams; matches append to out_dir.
    `how='left_outer'` additionally emits never-acked dispatches (NULL
    status/acked_at) once the watermark proves no ack can still arrive."""
    dispatch = spark.readStream.schema(DISPATCH_SCHEMA).json(dispatch_dir)
    ack = spark.readStream.schema(ACK_SCHEMA).json(ack_dir)
    return start_file_sink(joined_frame(dispatch, ack, how), out_dir, checkpoint_dir)
