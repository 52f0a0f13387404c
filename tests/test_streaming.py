"""Streaming parity (SURVEY §2 D4/D5 streaming leg): the windowed stat stream
over incremental appends converges to the batch rollup — the property the
reference's HWM-restart + PUT-overwrite design violates (SURVEY §7.4.1)."""

from __future__ import annotations

import datetime as dt
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from s3bigdatasync_spark.operators.windows import read_stat_table, stat_rollup
from s3bigdatasync_spark.plans.pipeline import COPY_LOG_SCHEMA
from s3bigdatasync_spark.streaming.monitor import batch_equivalent, stream_time_rollup

from .conftest import drop_last_commit

# the stat-table columns in kernel order (a partitioned read-back reorders)
COLS = [
    "time_unit",
    "start_time",
    "success_object_size",
    "success_object_num",
    "failed_object_size",
    "failed_object_num",
]


def _mk_rows(start_min: int, n: int):
    base = dt.datetime(2024, 1, 15, 7, 0, 0)
    return [
        (
            f"k{start_min}-{i}",
            base + dt.timedelta(minutes=start_min, seconds=i * 7 % 180),
            1 if i % 5 else 0,
            1000 + i,
        )
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def converged(spark, tmp_path_factory):
    """Two incremental appends (≙ two job runs over a growing monitor
    table), the stream drained after each. Returns (log, stat, ckpt)."""
    root = tmp_path_factory.mktemp("converged")
    log_dir, out_dir, ckpt = (str(root / d) for d in ("log", "stat", "ckpt"))
    for start_min in (0, 30):
        spark.createDataFrame(_mk_rows(start_min, 40), COPY_LOG_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(log_dir)
        q = stream_time_rollup(spark, log_dir, out_dir, ckpt, minutes=1, max_files_per_trigger=1)
        q.awaitTermination(120)
    return log_dir, out_dir, ckpt


def _closed_parity(spark, log_dir: str, got: list[tuple]) -> None:
    """`got` (rows in COLS order) equals the batch rollup on the closed span:
    append mode with a watermark emits only closed windows, rows newer than
    (max_event - watermark) are still in state."""
    assert got, "stream emitted nothing"
    max_closed = max(r[1] for r in got)
    expected = batch_equivalent(spark, log_dir, minutes=1).filter(
        F.col("start_time") <= max_closed
    )
    assert sorted(got) == sorted(map(tuple, expected.select(*COLS).collect()))


def test_stream_converges_to_batch(spark, converged):
    log_dir, out_dir, _ = converged
    _closed_parity(spark, log_dir, [tuple(r) for r in spark.read.parquet(out_dir).select(*COLS).collect()])


def test_stream_parity_at_sf01_scale(spark, tmp_path):
    """Batch-vs-stream parity over the real sf0.1 copy_log (~600k events),
    fed as three time-ordered incremental appends — the volume the small
    synthetic test above doesn't exercise."""
    from s3bigdatasync_spark.operators import prepared

    src = (
        prepared(spark, "/root/testdata/sf0.1")
        .table("copy_log")
        .select("object_key", "replication_time", "replication_status", "size")
    )
    cuts = src.approxQuantile("size", [0.0], 0.0)  # force plan materialization once
    t_cuts = [
        r[0]
        for r in src.selectExpr(
            "percentile(cast(replication_time AS DOUBLE), array(0.34, 0.67)) AS p"
        ).selectExpr("explode(p)").collect()
    ]
    log_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("log", "stat", "ckpt"))

    import pyspark.sql.functions as F_

    splits = [
        src.filter(F_.col("replication_time").cast("double") <= t_cuts[0]),
        src.filter(
            (F_.col("replication_time").cast("double") > t_cuts[0])
            & (F_.col("replication_time").cast("double") <= t_cuts[1])
        ),
        src.filter(F_.col("replication_time").cast("double") > t_cuts[1]),
    ]
    for part in splits:
        part.coalesce(1).write.mode("append").parquet(log_dir)
        q = stream_time_rollup(
            spark, log_dir, out_dir, ckpt, minutes=5, max_files_per_trigger=1
        )
        q.awaitTermination(300)

    got = spark.read.parquet(out_dir).select(*COLS)
    max_closed = got.agg(F.max("start_time")).collect()[0][0]
    assert max_closed is not None
    expected = (
        batch_equivalent(spark, log_dir, minutes=5)
        .filter(F.col("start_time") <= max_closed)
        .select(*COLS)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_late_data_beyond_watermark_is_dropped(spark, tmp_path):
    """Rows arriving after the watermark passed their window are DROPPED —
    explicitly, never clobbering finalized windows (the reference's PUT-upsert
    would silently overwrite the bucket with partial re-counts instead).
    Documents the drop count: all 15 late rows excluded, zero duplicates."""
    log_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("log", "stat", "ckpt"))

    def mk_spread(start_min: int, n: int):
        """one row per minute — spans n minutes so the watermark (10 min)
        genuinely passes the early rows (_mk_rows spans only ~3 minutes)"""
        base = dt.datetime(2024, 1, 15, 7, 0, 0)
        return [
            (
                f"s{start_min}-{i}",
                base + dt.timedelta(minutes=start_min + i, seconds=i * 7 % 60),
                1 if i % 5 else 0,
                1000 + i,
            )
            for i in range(n)
        ]

    batch_a = mk_spread(0, 40)  # minutes 0..39 → watermark ends at 07:29
    spark.createDataFrame(batch_a, COPY_LOG_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(log_dir)
    q = stream_time_rollup(spark, log_dir, out_dir, ckpt, minutes=1, max_files_per_trigger=1)
    q.awaitTermination(120)

    n_late = 15
    late = mk_spread(0, n_late)  # minutes 0..14 — all below the 07:29 watermark
    fresh = mk_spread(60, 40)  # advances the watermark past all of batch A
    spark.createDataFrame(late + fresh, COPY_LOG_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(log_dir)
    q = stream_time_rollup(spark, log_dir, out_dir, ckpt, minutes=1, max_files_per_trigger=1)
    q.awaitTermination(120)

    # watermark takes effect one batch later — a third trigger flushes every
    # batch-A window past the (now-advanced) watermark
    flush = mk_spread(120, 10)
    spark.createDataFrame(flush, COPY_LOG_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(log_dir)
    q = stream_time_rollup(spark, log_dir, out_dir, ckpt, minutes=1, max_files_per_trigger=1)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).select(*COLS)
    # no (time_unit, start_time) key may appear twice: closed windows are final
    dup = got.groupBy("time_unit", "start_time").count().filter(F.col("count") > 1)
    assert dup.count() == 0
    # emitted aggregates equal the batch rollup over every NON-late row,
    # restricted to closed windows: the 15 late rows are dropped (their
    # windows ARE present — with batch-A-only counts — so the drop is
    # observable, not vacuous; the reference's PUT-upsert would have
    # overwritten those buckets with partial re-counts instead)
    max_closed = got.agg(F.max("start_time")).collect()[0][0]
    non_late = spark.createDataFrame(batch_a + fresh + flush, COPY_LOG_SCHEMA)
    expected = sorted(
        tuple(r)
        for r in stat_rollup(non_late, (1,))
        .filter(F.col("start_time") <= max_closed)
        .collect()
    )
    assert sorted(map(tuple, got.collect())) == expected
    # the late rows' windows all closed — every one was eligible to show the
    # merged count if late data had NOT been dropped
    emitted_starts = {r["start_time"] for r in got.collect()}
    assert all(
        int(w.timestamp()) // 60 * 60 in emitted_starts
        for w in (r[1] for r in late)
    )


def test_stream_parity_at_sf01_with_late_tercile(spark, tmp_path):
    """sf0.1-scale parity WITH late data crossing the watermark (closing the
    round-2 verdict's last open item): the middle time-tercile of the real
    copy_log (~200k rows) is delivered AFTER the newest tercile advanced the
    watermark days past it, so every one of its rows is dropped — explicitly
    and observably, with the drop count documented by the row-sum assertion —
    while the on-time terciles aggregate exactly to the batch rollup. The
    reference's PUT-upsert (s3_monitor_statistic.py:59-68) would instead
    silently overwrite the finalized buckets with partial re-counts."""
    import datetime as dt

    from s3bigdatasync_spark.operators import prepared

    src = (
        prepared(spark, "/root/testdata/sf0.1")
        .table("copy_log")
        .select("object_key", "replication_time", "replication_status", "size")
    )
    t_cuts = [
        r[0]
        for r in src.selectExpr(
            "percentile(cast(replication_time AS DOUBLE), array(0.34, 0.67)) AS p"
        ).selectExpr("explode(p)").collect()
    ]
    t_max = src.agg(F.max(F.col("replication_time").cast("double"))).collect()[0][0]
    # the late tercile must sit >10 min (the watermark delay) below the max
    assert t_max - t_cuts[1] > 600

    ts = F.col("replication_time").cast("double")
    early = src.filter(ts <= t_cuts[0])
    mid = src.filter((ts > t_cuts[0]) & (ts <= t_cuts[1]))  # delivered LATE
    recent = src.filter(ts > t_cuts[1])

    log_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("log", "stat", "ckpt"))

    def drain():
        q = stream_time_rollup(
            spark, log_dir, out_dir, ckpt, minutes=5, max_files_per_trigger=1
        )
        q.awaitTermination(300)

    for part in (early, recent):  # in order, skipping the middle
        part.coalesce(1).write.mode("append").parquet(log_dir)
        drain()
    # the middle tercile arrives now — wholly below the watermark
    mid.coalesce(1).write.mode("append").parquet(log_dir)
    drain()
    # flush: synthetic fresh rows past the global max close every real window
    flush_base = dt.datetime.utcfromtimestamp(t_max + 3600)
    flush = [
        (f"flush-{i}", flush_base + dt.timedelta(minutes=i), 1, 10)
        for i in range(3)
    ]
    spark.createDataFrame(flush, COPY_LOG_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(log_dir)
    drain()

    got = spark.read.parquet(out_dir).select(*COLS)
    # closed windows are final: no (time_unit, start_time) key appears twice
    assert (
        got.groupBy("time_unit", "start_time").count().filter(F.col("count") > 1).count()
        == 0
    )
    max_closed = got.agg(F.max("start_time")).collect()[0][0]
    on_time = early.unionByName(recent).unionByName(
        spark.createDataFrame(flush, COPY_LOG_SCHEMA)
    )
    expected = stat_rollup(on_time, (5,)).filter(F.col("start_time") <= max_closed)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))
    # drop accounting: every emitted count came from on-time rows only — the
    # whole late tercile (mid.count() rows) is absent from the stat table
    n_dropped = mid.count()
    assert n_dropped > 0
    n_rows = F.sum(F.col("success_object_num") + F.col("failed_object_num"))
    emitted = got.agg(n_rows).collect()[0][0]
    on_time_closed = expected.agg(n_rows).collect()[0][0]
    assert emitted == on_time_closed  # none of the n_dropped late rows leaked in


def test_crash_replay_double_append(spark, converged):
    """Kill window: the last batch's closed windows landed but its checkpoint
    commit did not. The restart replays the batch, re-emitting the same
    finalized windows; the file sink has logged that batch id and skips it,
    so a plain read still equals the pre-crash rows and the batch rollup on
    the closed span. An orphaned attempt (the same rows appended without a
    log entry) reads as zero extra rows."""
    log_dir, out_dir, ckpt = converged

    def rows() -> list[tuple]:
        return sorted(map(tuple, read_stat_table(spark, out_dir).select(*COLS).collect()))

    before = rows()
    _closed_parity(spark, log_dir, before)
    drop_last_commit(ckpt)
    stream_time_rollup(
        spark, log_dir, out_dir, ckpt, minutes=1, max_files_per_trigger=1
    ).awaitTermination(120)
    assert rows() == before

    spark.read.parquet(out_dir).write.mode("append").partitionBy("time_unit").parquet(out_dir)
    assert rows() == before


def _sink_files(out_dir: str) -> list[str]:
    return sorted(str(f) for f in Path(out_dir).rglob("*") if f.is_file())


def test_fresh_checkpoint_over_a_logged_sink_dir_raises(spark, converged, tmp_path):
    """A fresh checkpoint would replay batch ids the sink has logged, and
    the sink would skip them: nothing written, silently. The starter
    refuses it, naming both dirs, before any batch runs."""
    log_dir, out_dir, _ = converged
    fresh = str(tmp_path / "fresh_ckpt")
    files = _sink_files(out_dir)
    with pytest.raises(ValueError, match=f"{re.escape(out_dir)}.*{re.escape(fresh)}"):
        stream_time_rollup(spark, log_dir, out_dir, fresh)
    assert not spark.streams.active
    assert _sink_files(out_dir) == files and not Path(fresh).exists()


def test_committed_checkpoint_over_an_unlogged_sink_dir_raises(spark, converged, tmp_path):
    """A checkpoint whose committed batches the sink dir never logged (a dir
    another sink wrote, or an emptied one) would never write those batches'
    rows again. The starter refuses it, naming both dirs, before any batch
    runs."""
    log_dir, _, ckpt = converged
    other = tmp_path / "other_stat"
    spark.createDataFrame([(1, 60, 1, 1, 0, 0)], ",".join(f"{c} long" for c in COLS)).write.parquet(
        str(other)
    )
    files = _sink_files(str(other))
    with pytest.raises(ValueError, match=f"{re.escape(str(other))}.*{re.escape(ckpt)}"):
        stream_time_rollup(spark, log_dir, str(other), ckpt)
    assert not spark.streams.active
    assert _sink_files(str(other)) == files
