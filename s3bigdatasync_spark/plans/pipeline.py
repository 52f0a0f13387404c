"""The three reference lifecycles (SURVEY §3) as composable Spark jobs.

§3.1 ListProducer  → list_producer():  inventory scan → stats + task store
§3.2 TaskExecutor  → task_executor():  task store → copy_tasks() → copy_log + DLQ
§3.3 Monitor/UI    → monitor_stats():  copy_log → 1/5/60-minute stat table
                   → dashboard_report(): stat table → progress + graph JSON

The reference moves data through SQS/DynamoDB with hand-rolled batching,
retries and dead-lettering; here the task store is a file table (each
output file ≙ one SQS message batch of at most TASK_BATCH_SIZE objects),
the copy is a pluggable per-row callable (boto3 in production, local FS in
tests), and failures are quarantined by a filter. Each stage is one pass:
its counts are Observation metrics of its own write.

Not idempotent yet: copy_log and dead_letter are append-only, so a re-run
over the same task store copies and logs every object again. The queue
consumer (streaming.queue) skips redelivered tasks, but not a batch replayed
after a crash. Skipping logged objects (a copy_log anti-join, the
operators.joins.dedup_anti_join pattern) is ROADMAP direction 1.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import observed
from ..operators.stats import size_stats_exprs
from ..operators.windows import STAT_SCHEMA, read_stat_table, stat_rollup  # noqa: F401 (re-export)

TASK_BATCH_SIZE = 100  # objects per task file ≙ message_body_max_num (ListProducer.py:17)

TASK_SCHEMA = "bucket string, dst_bucket string, key string, size long"
COPY_LOG_SCHEMA = (
    "object_key string, replication_time timestamp, replication_status long, size long"
)
# dashboard_report's graph arrays and the stat column each one reads
_GRAPH_COLUMNS = {
    "success_objects": "success_object_num",
    "failure_objects": "failed_object_num",
    "success_bytes": "success_object_size",
    "failure_bytes": "failed_object_size",
}
_LOG_COLUMNS = ["object_key", "replication_time", "replication_status", "size"]
# what the Arrow copy emits: replication_time as epoch seconds, converted on
# the JVM side exactly as the log has always stored it
_COPY_OUT_SCHEMA = COPY_LOG_SCHEMA.replace(
    "replication_time timestamp", "replication_time double"
)


def list_producer(
    spark: SparkSession,
    inv: DataFrame,
    dst_bucket: str,
    tasks_dir: str,
    stats_path: str | None = None,
) -> dict:
    """§3.1: inventory → size stats + batched task store, in one pass.

    One write of the task store, at most TASK_BATCH_SIZE objects per file
    (`maxRecordsPerFile` cuts files inside each write task: no count, no
    shuffle). An Observation on that write collects the count, total bytes
    and SIZE_BUCKETS histogram of exactly the objects the store holds.
    Returns the job stats dict (≙ job.json, ListProducer.py:135-157).
    """
    obs = Observation()
    tasks = inv.withColumn("dst_bucket", F.lit(dst_bucket)).observe(obs, *size_stats_exprs())
    tasks.write.mode("overwrite").option("maxRecordsPerFile", TASK_BATCH_SIZE).json(tasks_dir)
    stats = observed(obs, "list_producer")
    n = stats["total_objects"]
    job = {"statistics": stats, "job_info": {"dst_bucket": dst_bucket, "n_tasks": n}}
    if stats_path:
        with open(stats_path, "w") as f:
            json.dump(job, f, default=str)
    return job


CopyFn = Callable[[str, str, str], bool]
"""(src_bucket, dst_bucket, key) -> success. Production: boto3 server-side
copy (libs/s3_utils.py:17-35); tests: local FS toucher."""


def _copy_batches(fn: CopyFn) -> Callable[[Iterator], Iterator]:
    """The mapInArrow kernel: calls `fn` once per task row, in a per-row
    try so a raising copy is a failed copy (status 0), and emits one log
    row per task with replication_time as epoch seconds. A closure, so
    Spark pickles it by value and workers need not import this package."""

    def copy(batches: Iterator) -> Iterator:
        import time

        import pyarrow as pa

        for b in batches:
            status, stamp = [], []
            rows = zip(*(b.column(c).to_pylist() for c in ("bucket", "dst_bucket", "key")))
            for src, dst, key in rows:
                try:
                    ok = fn(src, dst, key)
                except Exception:
                    ok = False
                status.append(1 if ok else 0)
                stamp.append(time.time())
            stamps, statuses = pa.array(stamp, pa.float64()), pa.array(status, pa.int64())
            cols = [b.column("key"), stamps, statuses, b.column("size")]
            yield pa.RecordBatch.from_arrays(cols, names=_LOG_COLUMNS)

    return copy


def _data_files(spark: SparkSession, path: str) -> set[str]:
    """The data files directly under `path` (names starting with '_' or '.'
    are metadata, as Spark reads them), listed through the Hadoop
    FileSystem so a directory that does not exist yet is an empty set, not
    a failed read."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return set()
    paths = (st.getPath() for st in fs.listStatus(jpath))
    return {p.toString() for p in paths if not p.getName().startswith(("_", "."))}


def task_executor(
    spark: SparkSession,
    tasks_dir: str,
    copy_fn: CopyFn,
    copy_log_dir: str,
    dead_letter_dir: str,
) -> tuple[int, int]:
    """§3.2: consume the task store with copy_tasks. The task store is read
    with its declared TASK_SCHEMA, so no inference job runs. Returns
    (n_success, n_failed)."""
    tasks = spark.read.schema(TASK_SCHEMA).json(tasks_dir)
    return copy_tasks(tasks, copy_fn, copy_log_dir, dead_letter_dir)


def copy_tasks(
    tasks: DataFrame, copy_fn: CopyFn, copy_log_dir: str, dead_letter_dir: str
) -> tuple[int, int]:
    """The copy stage of task_executor and of the streaming queue consumer
    (streaming.queue): copy every task row's object once, log both
    statuses, quarantine failures (B8/B9).

    `tasks` holds at least TASK_SCHEMA's columns. They are copied by
    `mapInArrow` with a declared output schema, so no copy runs twice to
    infer types — the Spark translation of the competing-consumers loop
    (TaskExecutor.py:18-102). The log, holding BOTH statuses like the
    reference's (TaskExecutor.py:66-80), is written once; an Observation on
    that write counts rows and failures. Failures also go to the
    dead-letter table (79-85), read back from the log files this call
    added, so an earlier call's failures are not dead-lettered again. That
    assumes one writer per copy_log_dir: one task_executor call or one
    queue consumer at a time. The job stays 'successful' like the
    reference; task retries replace SQS redrive. Returns (n_success,
    n_failed).
    """
    spark = tasks.sparkSession
    obs = Observation()
    failed = F.col("replication_status") == 0
    log = (
        tasks.mapInArrow(_copy_batches(copy_fn), _COPY_OUT_SCHEMA)
        .withColumn("replication_time", F.timestamp_seconds("replication_time"))
        .observe(obs, F.count("*").alias("n"), F.count(F.when(failed, 1)).alias("failed"))
    )
    before = _data_files(spark, copy_log_dir)
    log.write.mode("append").parquet(copy_log_dir)
    counts = observed(obs, "task_executor")
    n, n_failed = counts["n"], counts["failed"]
    if n_failed:
        added = sorted(_data_files(spark, copy_log_dir) - before)
        dead = spark.read.schema(COPY_LOG_SCHEMA).parquet(*added).filter(failed)
        dead.write.mode("append").parquet(dead_letter_dir)
    return n - n_failed, n_failed


def monitor_stats(spark: SparkSession, copy_log_dir: str, stat_dir: str) -> None:
    """§3.3 batch leg: copy_log → the 1/5/60-minute stat table (STAT_SCHEMA,
    unique per (time_unit, start_time)), overwritten partitioned by
    time_unit. A declared-schema read (no inference job; an int32
    replication_status is widened to long) feeds the shared
    operators.windows.stat_rollup kernel and one write: 2 Spark jobs. The
    watermarked streaming leg (streaming.monitor) writes the same shape."""
    log = spark.read.schema(COPY_LOG_SCHEMA).parquet(copy_log_dir)
    stat_rollup(log).write.mode("overwrite").partitionBy("time_unit").parquet(stat_dir)


def dashboard_report(
    spark: SparkSession,
    stat_dir: str,
    total_objects: int | None = None,
    total_size: int | None = None,
    window_minutes: int = 60,
) -> dict:
    """§3.3 serving leg: the one JSON report covering BOTH UICenter routes
    (`/totalProgress` + `/tasksGraph`, `UICenter/BackEnd/server.py:10-45`)
    from a stat dir written by monitor_stats or streaming.monitor.

      progress — the D7/D8 rollup (success/failed counts + bytes), plus
          start_time/end_time bounds, estimate_speed in bytes/min
          (`returnTotalProgressData`'s successSize/elapsed-minutes formula,
          ddbModel.py:244-247, with the stat table's own [min,max] span as
          the elapsed clock — deterministic, serving-time-free), and, when
          the manifest totals are supplied (the route reads them from the
          job statistics), pct_objects / pct_size / eta_seconds.
      graph — the zero-filled per-minute series of the last
          `window_minutes` minutes ending at the stat table's newest minute
          (no wall clock), as the route's parallel arrays.

    One read of the time_unit=1 partition with the declared STAT_SCHEMA
    (operators.windows.read_stat_table: no inference job; a stat table with
    no rows is an empty report, a missing stat_dir or a dir of another
    shape raises) feeds one aggregate, and the driver collects one row:
    the totals, the bounds and the newest `window_minutes` minute rows —
    2 Spark jobs. start_time is unique per partition: monitor_stats writes
    one row per (time_unit, start_time), and so does the streaming leg,
    whose file sink reads back only logged batches, so a restart that
    replays a batch adds no row. So those rows cover every minute of the
    window, each once; the window is
    then zero-filled in Python, as `ddbModel.returnTasksGraphData` builds
    60 zero slots and overwrites the minutes that have a row
    (`UICenter/BackEnd/ddbModel.py:253-275`)."""
    if window_minutes < 1:
        raise ValueError(f"window_minutes must be >= 1, got {window_minutes}")
    stat = read_stat_table(spark, stat_dir).filter(F.col("time_unit") == 1)
    minute = F.struct("start_time", *_GRAPH_COLUMNS.values())
    row = stat.agg(
        F.sum("success_object_size").alias("success_size"),
        F.sum("success_object_num").alias("success_num"),
        F.sum("failed_object_size").alias("failed_size"),
        F.sum("failed_object_num").alias("failed_num"),
        F.min("start_time").alias("t_lo"),
        F.max("start_time").alias("t_hi"),
        F.slice(F.sort_array(F.collect_list(minute), asc=False), 1, window_minutes).alias("recent"),
    ).collect()[0]
    progress = {
        "success_size": int(row["success_size"] or 0),
        "success_num": int(row["success_num"] or 0),
        "failed_size": int(row["failed_size"] or 0),
        "failed_num": int(row["failed_num"] or 0),
        "start_time": None if row["t_lo"] is None else int(row["t_lo"]),
        "end_time": None if row["t_hi"] is None else int(row["t_hi"]),
    }
    elapsed_min = (
        (progress["end_time"] - progress["start_time"]) / 60 + 1
        if progress["start_time"] is not None
        else 0
    )
    speed = progress["success_size"] / elapsed_min if elapsed_min else 0.0
    progress["estimate_speed"] = round(speed, 3)
    if total_objects is not None:
        progress["total_objects"] = int(total_objects)
        progress["pct_objects"] = round(
            100.0 * progress["success_num"] / total_objects, 3
        ) if total_objects else None
    if total_size is not None:
        progress["total_size"] = int(total_size)
        progress["pct_size"] = round(
            100.0 * progress["success_size"] / total_size, 3
        ) if total_size else None
        remaining = max(0, int(total_size) - progress["success_size"])
        progress["eta_seconds"] = (
            round(remaining / speed * 60, 3) if speed > 0 else None
        )
    hi = progress["end_time"]
    starts = [] if hi is None else list(range(hi - 60 * (window_minutes - 1), hi + 1, 60))
    recent = {r["start_time"]: r for r in row["recent"]}
    zero = dict.fromkeys(_GRAPH_COLUMNS.values(), 0)
    slots = [recent.get(t, zero) for t in starts]
    graph = {"start_times": starts}
    for key, col in _GRAPH_COLUMNS.items():
        graph[key] = [int(s[col] or 0) for s in slots]
    return {"progress": progress, "graph": graph}
