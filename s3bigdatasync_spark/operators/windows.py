"""Time-window aggregations (SURVEY §2 D4-D6, F1) — the monitor/stat pipeline.

The reference streams monitor rows through three concurrent hand-rolled
tumbling buckets (TaskMonitor/s3_monitor_statistic.py:177-207, 250-301) and
upserts closed buckets into DynamoDB with a clobber-on-rerun PUT (59-68).

This module owns the stat-table format: STAT_SCHEMA, the four conditional
sums of a stat row (`stat_sums`) and the batch kernel `stat_rollup`, which
explodes each copy-log row into its time units and aggregates them in one
groupBy(time_unit, start_time) — one scan and one small shuffle for all
granularities (map-side partial aggregation; a few rows per bucket, no
skew). Every stat table is built from them: `time_rollup` and
`hwm_incremental` here, `plans.pipeline.monitor_stats` (the batch leg,
written partitioned by time_unit) and `streaming.monitor` (the watermarked
leg, which groups by `F.window` instead because append mode needs it), so
`plans.pipeline.dashboard_report` reads either stat dir.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import prepared
from ..views import oracle_cte, parquet_footer

TIME_UNITS = (1, 5, 60)  # minutes — TaskMonitor/ddb.yaml:85-109
# one stat row per (time_unit, start_time); start_time is the window start in
# epoch seconds (bigint — portable, tz-free)
STAT_SCHEMA = (
    "start_time long, success_object_size long, success_object_num long, "
    "failed_object_size long, failed_object_num long, time_unit int"
)


def read_stat_table(spark: SparkSession, path: str) -> DataFrame:
    """The stat table at `path` (monitor_stats or streaming.monitor output),
    read with the declared STAT_SCHEMA: no inference job. A declared read
    gives null for a column its files lack, so a dir of another shape (the
    old (status, total_size, total_num) stream) would report zero copies;
    instead, when the data files' footer columns plus the path's partition
    columns miss a STAT_SCHEMA column, this raises ValueError naming them
    (no Spark job either). A dir with no data file is an empty table; a
    missing path raises in the read."""
    footer = parquet_footer(path)
    have = set(footer.schema.names) | set(footer.partitions)
    missing = [c for c, _ in (d.split() for d in STAT_SCHEMA.split(", ")) if c not in have]
    if footer.schema and missing:
        raise ValueError(f"{path} is not a stat table: its files lack {', '.join(missing)}")
    return spark.read.schema(STAT_SCHEMA).parquet(path)


def stat_sums() -> list[Column]:
    """The four stat columns as sums over copy-log rows
    (replication_status 1 = copied, 0 = failed)."""
    ok = F.col("replication_status") == 1
    failed = F.col("replication_status") == 0
    return [
        F.sum(F.when(ok, F.col("size")).otherwise(0)).alias("success_object_size"),
        F.sum(F.when(ok, 1).otherwise(0)).alias("success_object_num"),
        F.sum(F.when(failed, F.col("size")).otherwise(0)).alias("failed_object_size"),
        F.sum(F.when(failed, 1).otherwise(0)).alias("failed_object_num"),
    ]


def stat_rollup(log: DataFrame, units: tuple[int, ...] = TIME_UNITS) -> DataFrame:
    """copy-log rows → stat rows (time_unit, start_time, the stat_sums) at
    each granularity in `units` (minutes): each row is exploded into its
    units and aggregated in a single groupBy — a union of per-unit aggs would
    scan the source once per unit for identical output."""
    exploded = log.select(
        "replication_time",
        "replication_status",
        "size",
        F.explode(F.array(*[F.lit(m) for m in units])).alias("time_unit"),
    )
    secs = F.col("time_unit").cast("long") * 60
    # cast(double as long) truncates in Spark; inputs are positive so this is
    # floor-division, matching the oracle's // operator.
    start = (F.col("replication_time").cast("long") / secs).cast("long") * secs
    return exploded.groupBy("time_unit", start.alias("start_time")).agg(*stat_sums())


def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: the 1/5/60-minute stat table (≙ GROUPING SETS over window
    granularities), one scan and one shuffle via stat_rollup."""
    return stat_rollup(prepared(spark, sf_dir).table("copy_log"))


def _rollup_unit_sql(minutes: int) -> str:
    secs = minutes * 60
    return f"""
SELECT {minutes} AS time_unit,
       (epoch_us(replication_time) // 1000000) // {secs} * {secs} AS start_time,
       cast(sum(CASE WHEN replication_status = 1 THEN size ELSE 0 END) AS BIGINT) AS success_object_size,
       cast(sum(CASE WHEN replication_status = 1 THEN 1 ELSE 0 END) AS BIGINT) AS success_object_num,
       cast(sum(CASE WHEN replication_status = 0 THEN size ELSE 0 END) AS BIGINT) AS failed_object_size,
       cast(sum(CASE WHEN replication_status = 0 THEN 1 ELSE 0 END) AS BIGINT) AS failed_object_num
FROM copy_log GROUP BY 2"""


_TIME_ROLLUP_SQL = oracle_cte("copy_log") + "\nUNION ALL\n".join(
    _rollup_unit_sql(m) for m in TIME_UNITS
)


def hwm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: high-water-mark incremental aggregation.

    Reference restarts the stat job from max(stat.StartTime)
    (s3_monitor_statistic.py:209-248). Batch form: recompute only buckets at
    or after the HWM — here the HWM is the last *closed* hour boundary before
    the max event, and we aggregate the tail at 1-minute grain. The scalar HWM
    is broadcast (a 1-row cross join), so no driver collect in the plan.
    """
    log = prepared(spark, sf_dir).table("copy_log")
    hwm = log.agg(
        ((F.max("replication_time").cast("long") / 3600).cast("long") * 3600).alias("hwm")
    )
    tail = log.crossJoin(F.broadcast(hwm)).filter(
        F.col("replication_time").cast("long") >= F.col("hwm")
    )
    return stat_rollup(tail, (1,))


_HWM_SQL = oracle_cte("copy_log") + """
SELECT 1 AS time_unit,
       (epoch_us(replication_time) // 1000000) // 60 * 60 AS start_time,
       cast(sum(CASE WHEN replication_status = 1 THEN size ELSE 0 END) AS BIGINT) AS success_object_size,
       cast(sum(CASE WHEN replication_status = 1 THEN 1 ELSE 0 END) AS BIGINT) AS success_object_num,
       cast(sum(CASE WHEN replication_status = 0 THEN size ELSE 0 END) AS BIGINT) AS failed_object_size,
       cast(sum(CASE WHEN replication_status = 0 THEN 1 ELSE 0 END) AS BIGINT) AS failed_object_num
FROM copy_log
WHERE epoch_us(replication_time) // 1000000
      >= (SELECT (epoch_us(max(replication_time)) // 1000000) // 3600 * 3600 FROM copy_log)
GROUP BY 2
"""


def min_max_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: min/max monitor timestamps per status (the reference's four
    Limit=1 index probes, s3_monitor_statistic.py:304-354, as one agg)."""
    log = prepared(spark, sf_dir).table("copy_log")
    return (
        log.groupBy("replication_status")
        .agg(
            F.min("replication_time").cast("long").alias("min_ts"),
            F.max("replication_time").cast("long").alias("max_ts"),
        )
    )


_MIN_MAX_SQL = oracle_cte("copy_log") + """
SELECT replication_status,
       epoch_us(min(replication_time)) // 1000000 AS min_ts,
       epoch_us(max(replication_time)) // 1000000 AS max_ts
FROM copy_log GROUP BY replication_status
"""


def earliest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: ORDER BY ts LIMIT 1 (ScanIndexForward probe,
    s3_monitor_statistic.py:330-344) with a deterministic tiebreak."""
    log = prepared(spark, sf_dir).table("copy_log")
    return (
        log.select("object_key", "etag", F.col("replication_time").cast("long").alias("ts"))
        .orderBy("ts", "etag")
        .limit(1)
    )


_EARLIEST_SQL = oracle_cte("copy_log") + """
SELECT object_key, etag, epoch_us(replication_time) // 1000000 AS ts
FROM copy_log ORDER BY ts, etag LIMIT 1
"""


QUERIES = {
    "time_rollup": time_rollup,
    "hwm_incremental": hwm_incremental,
    "min_max_timestamps": min_max_timestamps,
    "earliest_event": earliest_event,
}

ORACLES = {
    "time_rollup": _TIME_ROLLUP_SQL,
    "hwm_incremental": _HWM_SQL,
    "min_max_timestamps": _MIN_MAX_SQL,
    "earliest_event": _EARLIEST_SQL,
}
