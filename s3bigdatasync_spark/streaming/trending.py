"""Streaming windowed top-k ("trending") — ranking inside a stream.

Spark's streaming engine forbids window functions over unbounded streams
(rank needs the whole partition), so the pattern is: watermarked tumbling
window aggregation in APPEND mode — which, by the watermark contract, emits
each window exactly once and COMPLETE — then rank within the just-closed
windows inside foreachBatch, where they are plain finite DataFrames. The
stream stays incremental, the rank is exact, and state is bounded by the
watermark.

Reference analogue: the UICenter dashboard's per-hour bar chart
(UICenter/BackEnd/ddbModel.py:252-275) shows totals; any real dashboard's
next ask is "top event types per window", which the reference could not
answer incrementally at all.

At 100 TB: the windowed count state is |window × type| (vocabulary-bounded);
ranking runs on closed windows only — a few hundred rows per trigger —
regardless of event volume.

Unlike the append-only streams (streaming/commit.py:start_file_sink), this
one stays on foreachBatch: the per-window rank needs a finite batch, and
its out dir holds only the top k that `trending --k` asks for, not every
row the stream emits, so a file sink has nothing to write directly. A
replayed batch appends again; read_trending is the exactly-once view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

WATERMARK_DELAY = "10 minutes"


def _rank_windows(batch_df: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        batch_df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def stream_trending_types(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_minutes: int = 5,
    k: int = 3,
    max_files_per_trigger: int = 10,
):
    """Start the trending query; returns the StreamingQuery (availableNow —
    drains the backlog and stops, restart-safe via the checkpoint)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )
    counts = (
        stream.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(
            F.window("ts", f"{window_minutes} minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
        )
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # append mode ⇒ every window in this batch is closed AND complete,
        # so a per-window rank over the batch is the exact global rank.
        # CRASH WINDOW: a kill after this append but before the checkpoint
        # commit replays the batch — the same closed windows append again,
        # byte-identical (closed windows are final, the rank deterministic).
        # read_trending() dedups on (window_start, event_type), which is
        # exact for replays; out_dir raw is at-least-once by design.
        _rank_windows(batch_df, k).write.mode("append").parquet(out_dir)

    return (
        counts.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def read_trending(spark: SparkSession, out_dir: str) -> DataFrame:
    """The exactly-once view of the trending sink. The foreachBatch append
    is at-least-once under a crash between the parquet append and the
    checkpoint commit (the replayed batch re-appends the SAME closed
    windows); (window_start, event_type) is a unique key of the final
    output — append mode emits each window once and complete, and the rank
    within it is deterministic — so dedup here removes only replay
    re-appends, never two genuinely different rows
    (tests/test_stream_trending.py::test_crash_replay_double_append).
    Implemented as full-row distinct(): equivalent here (replays are
    byte-identical and the key is unique in committed output) and it avoids
    the Deduplicate-with-first() plan shape of dropDuplicates(subset),
    which tripped Catalyst attribute binding under a downstream exceptAll
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)."""
    return spark.read.parquet(out_dir).distinct()


def batch_equivalent(
    spark: SparkSession, events_dir: str, window_minutes: int = 5, k: int = 3
) -> DataFrame:
    """The batch query the stream must converge to on closed windows."""
    ev = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    counts = (
        ev.groupBy(
            F.window("ts", f"{window_minutes} minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return _rank_windows(counts, k)
