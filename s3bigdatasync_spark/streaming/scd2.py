"""Streaming SCD2 maintenance — the operational leg of
operators/timeline.snapshot_history_merge.

Inventory snapshots land as files in a directory (one version per file,
rows carry their version number `v`); each micro-batch folds the new
versions into the persistent run table with the O(snapshot + churn)
incremental merge — history is never recollapsed. The parity oracle
(tests/test_stream_scd2.py) pins

    streamed run table  ==  batch collapse_runs over every version seen

after every round of appends.

Exactly-once without a batch-id log: the merge's natural idempotence key is
the version number. The run table's max(v_to) only advances when version v
is applied, so a retried batch (or an out-of-order redelivery of an old
file) sees v <= max(v_to) and skips it — the domain's own monotonic
watermark, the same idea as the reference's HWM restart
(TaskMonitor/s3_monitor_statistic.py:209-231) but applied to a state table
that a re-run cannot clobber.

Scale: per-batch work is keyed joins between one snapshot and the run
table, all hash-partitioned on the object key; the run table rewrite is the
only full-table write, landed as a pointer-swapped version dir
(streaming/commit.py, the protocol every streaming state shares) so no
crash window can corrupt the current table (at production scale: a MERGE
into a Delta/Iceberg table, same plan shape — the table format supplies
the atomic pointer). A runs dir in the flat layout that predates the
pointer swap (bare parquet files, no meta) is refused with a ValueError,
never read as empty: rebuild it by streaming the snapshots into an empty
runs dir.

Write-amplification audit (round-10, prompted by dedup_gate's segmented
rework): this module DOES rewrite the full run table per batch, and unlike
dedup_gate that is inherent to the run ENCODING, not the storage layout —
every key present in a snapshot advances its open run's v_to each version,
so O(|inventory|) rows genuinely change per applied snapshot and neither
hash-bucketing nor an LSM segment log can shrink the delta below that.
The two real fixes change the encoding or the table format: (a) open-run
encoding — v_to NULL until the run closes, so unchanged keys' rows never
change and the per-batch delta is O(churn), or (b) the Delta/Iceberg
MERGE named above, where copy-on-write lands at file granularity. Fix (a)
is SHIPPED as `streaming/scd2_open.py` (round 10): an append-only
OPEN/CLOSE/SIZE event log on the segmented LSM store whose closed-form
view equals collapse_runs exactly (gaps, size-min, disappearance — pinned
in tests/test_stream_scd2_open.py), with a zero-churn version writing a
single watermark-sentinel row. THIS module stays as the materialized-
table variant: acceptable at the reference's own daily-snapshot operating
point (one scan-sized parquet write per applied version), and its
read_runs is a plain table scan where the open-run variant pays a
segment merge-agg per read — pick by read/write ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, IntegerType, StringType, StructField, StructType

from ..operators.timeline import snapshot_history_merge
from .commit import commit, committed_version, part_path, read_part

SNAPSHOT_STREAM_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("v", IntegerType()),
        StructField("etag", StringType()),
        StructField("size", LongType()),
    ]
)

_RUNS_SCHEMA = (
    "key string, run_id long, etag string, v_from int, v_to int, size long"
)
_PARTS = ("runs",)


def read_runs(spark: SparkSession, runs_dir: str) -> DataFrame:
    """Current run table — the version the meta pointer names (empty before
    the first snapshot). STRICTLY READ-ONLY (round-3 ADVICE: a read that
    writes lets two concurrent readers race the runs_v0/meta overwrites).
    The state is pointer-swapped through streaming/commit.py, never
    overwritten in place: a plain `overwrite` of the run table is not
    atomic (a crash mid-commit leaves a corrupt dir whose max(v_to)
    watermark regresses, and the next merge silently re-applies history).
    A lost meta is recovered by scanning for the newest committed runs_v*
    dir; a flat-layout dir raises ValueError."""
    return _runs_at(spark, runs_dir, committed_version(spark, runs_dir, _PARTS))


def _runs_at(spark: SparkSession, runs_dir: str, last: int) -> DataFrame:
    if last < 0:
        # createDataFrame, not read_part's literal-NULL local_rel: folding a
        # 12-version backlog over the latter measured ~40% slower
        return spark.createDataFrame([], _RUNS_SCHEMA)
    return read_part(spark, runs_dir, "runs", last, _RUNS_SCHEMA)


def stream_snapshot_history(
    spark: SparkSession,
    snapshots_dir: str,
    runs_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
):
    """Maintain the SCD2 run table over an append-only snapshot dir.
    Returns the StreamingQuery (availableNow: drains, then stops)."""
    stream = (
        spark.readStream.schema(SNAPSHOT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(snapshots_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        last = committed_version(sess, runs_dir, _PARTS)
        runs = _runs_at(sess, runs_dir, last)
        applied = runs.agg(F.max("v_to").alias("m")).collect()[0]["m"]
        applied = -1 if applied is None else applied
        versions = sorted(
            r["v"]
            for r in batch_df.select("v").distinct().collect()
            if r["v"] > applied
        )
        if not versions:
            return  # retry / stale redelivery — idempotent skip
        for v in versions:
            snap = batch_df.filter(F.col("v") == v).select("key", "etag", "size")
            # Per-version lineage truncation (round 11): the merge references
            # `runs` three times (open-run probe, max_run, untouched anti-
            # join), so chaining k versions without truncation builds a plan
            # whose run-table subtree appears O(3^k) times — at the default
            # max_files_per_trigger=10 a backlog drain carries 10 versions
            # and PLANNING alone ran >9 minutes at 20k keys (caught by
            # tools/probe_scd2_read.py; the scd2_open/dedup_clusters cliff,
            # previously unexercised here because tests folded <=2 versions
            # per batch). Eager localCheckpoint holds each fold's plan flat;
            # the merge already scans the full run relation per fold, so the
            # materialization adds no asymptotic cost.
            runs = snapshot_history_merge(runs, snap, v).localCheckpoint(
                eager=True
            )
        # pointer-swap state: the merge writes the NEXT version dir (never
        # the one it read, so no crash can corrupt the current table), then
        # flips the meta. (Production shape: a Delta/Iceberg MERGE — same
        # plan, the table format supplies the atomic pointer.)
        runs.select(
            "key", "run_id", "etag", "v_from", "v_to", "size"
        ).write.mode("overwrite").parquet(part_path(runs_dir, "runs", last + 1))
        commit(sess, runs_dir, last + 1, _PARTS)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
