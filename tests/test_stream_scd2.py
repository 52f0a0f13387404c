"""Streaming SCD2 maintenance: the streamed run table must equal batch
collapse_runs over every version seen, after every round of appends; a
checkpoint replay of already-applied versions must be a no-op."""

from __future__ import annotations

import shutil

from s3bigdatasync_spark.operators.timeline import collapse_runs
from s3bigdatasync_spark.streaming.scd2 import (
    SNAPSHOT_STREAM_SCHEMA,
    read_runs,
    stream_snapshot_history,
)

ROWS = [
    # v1
    ("steady", 1, "e", 5), ("churn", 1, "a", 9), ("gone", 1, "z", 1),
    # v2: churn's etag flips, gone disappears, late appears
    ("steady", 2, "e", 4), ("churn", 2, "b", 9), ("late", 2, "x", 2),
    # v3: everyone persists; churn's size shrinks (run size = min over members)
    ("steady", 3, "e", 5), ("churn", 3, "b", 8), ("late", 3, "x", 2),
]


def _runs_set(df):
    return {
        (r["key"], r["run_id"], r["etag"], r["v_from"], r["v_to"], r["size"])
        for r in df.collect()
    }


def test_stream_scd2_matches_batch(spark, tmp_path):
    snaps = str(tmp_path / "snaps")
    runs_dir = str(tmp_path / "runs")
    ckpt = str(tmp_path / "ckpt")

    def append(vs):
        rows = [r for r in ROWS if r[1] in vs]
        spark.createDataFrame(rows, SNAPSHOT_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(snaps)

    def drain():
        q = stream_snapshot_history(spark, snaps, runs_dir, ckpt, max_files_per_trigger=1)
        q.awaitTermination(120)

    def batch_expected(vs):
        rows = [r for r in ROWS if r[1] in vs]
        versions = spark.createDataFrame(
            rows, "key string, v int, etag string, size long"
        )
        return _runs_set(collapse_runs(versions))

    append({1})
    drain()
    assert _runs_set(read_runs(spark, runs_dir)) == batch_expected({1})

    append({2, 3})  # two versions in one batch — applied in ascending order
    drain()
    assert _runs_set(read_runs(spark, runs_dir)) == batch_expected({1, 2, 3})

    # replay from a wiped checkpoint: every file redelivers, the version
    # watermark (max v_to) skips them all, state is unchanged
    before = _runs_set(read_runs(spark, runs_dir))
    shutil.rmtree(ckpt)
    drain()
    assert _runs_set(read_runs(spark, runs_dir)) == before


def test_meta_loss_recovery(spark, tmp_path):
    """A crash inside the meta pointer overwrite leaves versioned run tables
    but no pointer; read_runs must recover the newest committed runs_v*
    instead of regressing to an empty table (whose max(v_to) watermark of -1
    would re-apply all history on the next merge) — round-3 ADVICE."""
    snaps = str(tmp_path / "snaps")
    runs_dir = str(tmp_path / "runs")
    ckpt = str(tmp_path / "ckpt")
    rows = [r for r in ROWS if r[1] <= 2]
    spark.createDataFrame(rows, SNAPSHOT_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(snaps)
    q = stream_snapshot_history(spark, snaps, runs_dir, ckpt)
    q.awaitTermination(120)
    before = _runs_set(read_runs(spark, runs_dir))

    shutil.rmtree(f"{runs_dir}/meta")  # crash inside the pointer overwrite
    assert _runs_set(read_runs(spark, runs_dir)) == before

    # and the next version still merges on top of the recovered state
    v3 = [r for r in ROWS if r[1] == 3]
    spark.createDataFrame(v3, SNAPSHOT_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(snaps)
    q2 = stream_snapshot_history(spark, snaps, runs_dir, ckpt)
    q2.awaitTermination(120)
    versions = spark.createDataFrame(
        ROWS, "key string, v int, etag string, size long"
    )
    assert _runs_set(read_runs(spark, runs_dir)) == _runs_set(collapse_runs(versions))


def test_flat_layout_fails_loudly(spark, tmp_path):
    """A run table in the flat layout that predates the pointer swap (bare
    parquet files, no meta, no runs_v* dirs) must raise, naming the layout,
    without a Spark job — read as empty it would regress the max(v_to)
    watermark and re-apply all history (round-3 ADVICE). The stream refuses
    it too, and nothing is written into the dir."""
    from pathlib import Path

    import pytest

    from .test_pipeline import _in_job_group

    snaps = str(tmp_path / "snaps")
    runs_dir = str(tmp_path / "runs")
    versions = spark.createDataFrame(
        [r for r in ROWS if r[1] <= 2], "key string, v int, etag string, size long"
    )
    collapse_runs(versions).coalesce(1).write.parquet(runs_dir)

    def read():
        with pytest.raises(ValueError, match="flat layout"):
            read_runs(spark, runs_dir)

    assert _in_job_group(spark, read)[1] == 0

    spark.createDataFrame(ROWS, SNAPSHOT_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(snaps)
    q = stream_snapshot_history(spark, snaps, runs_dir, str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="flat layout"):
        q.awaitTermination(120)
    assert sorted(p.name for p in Path(runs_dir).iterdir() if p.is_dir()) == []


def test_deep_backlog_batch_folds_without_planning_cliff(spark, tmp_path):
    """Round 11: snapshot_history_merge references the run relation three
    times per fold, so a backlog batch carrying k versions built a plan with
    O(3^k) run-table subtrees — at the default max_files_per_trigger=10 a
    12-version drain hung >9 minutes in PLANNING at 20k keys before the
    per-version eager localCheckpoint landed (tools/probe_scd2_read.py
    caught it; tests only folded <=2 versions per batch). Pin: 12 versions
    folded in two batches (10 + 2) complete promptly and match
    collapse_runs."""
    import time

    snaps = str(tmp_path / "snaps")
    runs_dir = str(tmp_path / "runs")
    ckpt = str(tmp_path / "ckpt")

    rows = []
    for v in range(1, 13):
        for k in range(40):
            # key k churns its etag at versions where (k + v) % 5 == 0
            gen = max(
                [0] + [u for u in range(1, v + 1) if (k + u) % 5 == 0]
            )
            rows.append((f"k{k:03d}", v, f"{k}:{gen}", 100 + k))
    for v in range(1, 13):
        spark.createDataFrame(
            [r for r in rows if r[1] == v], SNAPSHOT_STREAM_SCHEMA
        ).coalesce(1).write.mode("append").parquet(snaps)

    t0 = time.perf_counter()
    q = stream_snapshot_history(spark, snaps, runs_dir, ckpt)  # 10/trigger
    q.awaitTermination(300)
    elapsed = time.perf_counter() - t0
    assert elapsed < 240, f"deep-backlog drain took {elapsed:.0f}s"

    versions = spark.createDataFrame(
        rows, "key string, v int, etag string, size long"
    )
    assert _runs_set(read_runs(spark, runs_dir)) == _runs_set(
        collapse_runs(versions)
    )
