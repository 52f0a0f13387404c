"""Open-run streaming SCD2 (the O(churn) encoding): the closed-form view
must equal batch collapse_runs over every version seen — including run
breaks on version-number gaps, size-min semantics, and disappearance —
while per-version written deltas stay at churn size (a zero-churn version
writes only the watermark sentinel)."""

from __future__ import annotations

from pyspark.sql import functions as F

from s3bigdatasync_spark.operators.timeline import collapse_runs
from s3bigdatasync_spark.streaming.scd2_open import (
    _WM_KEY,
    SNAPSHOT_STREAM_SCHEMA,
    read_runs_closed,
    read_runs_open,
    read_watermark,
    stream_snapshot_history_open,
)

ROWS = [
    # v1
    ("steady", 1, "e", 5), ("churn", 1, "a", 9), ("gone", 1, "z", 1),
    # v2: churn's etag flips, gone disappears, late appears
    ("steady", 2, "e", 4), ("churn", 2, "b", 9), ("late", 2, "x", 2),
    # v3: everyone persists; churn's size shrinks (run size = min over members)
    ("steady", 3, "e", 5), ("churn", 3, "b", 8), ("late", 3, "x", 2),
    # v5 (NOTE the gap — no v4 ever existed): presence at 3 and 5 is two
    # runs in collapse_runs; 'gone' reappears with its old etag
    ("steady", 5, "e", 5), ("churn", 5, "b", 8), ("gone", 5, "z", 1),
]


def _runs_set(df):
    return {
        (r["key"], r["run_id"], r["etag"], r["v_from"], r["v_to"], r["size"])
        for r in df.collect()
    }


def _norm(s):
    """collapse_runs numbers runs 1..n per key in (v, etag) order; the
    open-run merge numbers max+1 in arrival order — the same ordering, but
    re-normalize defensively so the comparison pins intervals + sizes, not
    incidental numbering."""
    per_key = {}
    out = set()
    for key, run_id, etag, v_from, v_to, size in sorted(
        s, key=lambda t: (t[0], t[3], t[2])
    ):
        per_key[key] = per_key.get(key, 0) + 1
        out.add((key, per_key[key], etag, v_from, v_to, size))
    return out


def _drain(spark, snaps, state_dir, ckpt):
    q = stream_snapshot_history_open(
        spark, snaps, state_dir, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)


def _append(spark, snaps, vs):
    rows = [r for r in ROWS if r[1] in vs]
    spark.createDataFrame(rows, SNAPSHOT_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(snaps)


def _batch_expected(spark, vs):
    rows = [r for r in ROWS if r[1] in vs]
    versions = spark.createDataFrame(
        rows, "key string, v int, etag string, size long"
    )
    return _norm(_runs_set(collapse_runs(versions)))


def test_closed_form_matches_collapse_runs(spark, tmp_path):
    snaps = str(tmp_path / "snaps")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    _append(spark, snaps, {1})
    _drain(spark, snaps, state_dir, ckpt)
    assert read_watermark(spark, state_dir) == 1
    assert _norm(_runs_set(read_runs_closed(spark, state_dir))) == _batch_expected(
        spark, {1}
    )

    _append(spark, snaps, {2, 3})  # two versions in one file-batch sequence
    _drain(spark, snaps, state_dir, ckpt)
    assert read_watermark(spark, state_dir) == 3
    assert _norm(_runs_set(read_runs_closed(spark, state_dir))) == _batch_expected(
        spark, {1, 2, 3}
    )

    _append(spark, snaps, {5})  # the version-number gap: every run breaks
    _drain(spark, snaps, state_dir, ckpt)
    assert read_watermark(spark, state_dir) == 5
    assert _norm(_runs_set(read_runs_closed(spark, state_dir))) == _batch_expected(
        spark, {1, 2, 3, 5}
    )


def test_zero_churn_version_writes_only_the_sentinel(spark, tmp_path):
    """The module's reason to exist: a version where nothing changed must
    write an O(1) delta (the watermark sentinel), never touch the steady
    keys' rows."""
    from s3bigdatasync_spark.streaming.segments import _read_manifest

    snaps = str(tmp_path / "snaps")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    base = [("k%03d" % i, 1, "e%d" % i, 10 + i) for i in range(50)]
    spark.createDataFrame(base, SNAPSHOT_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(snaps)
    _drain(spark, snaps, state_dir, ckpt)

    # v2 = identical inventory, new version number: zero churn
    v2 = [(k, 2, e, s) for k, _v, e, s in base]
    spark.createDataFrame(v2, SNAPSHOT_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(snaps)
    _drain(spark, snaps, state_dir, ckpt)

    manifest = _read_manifest(spark, state_dir)
    newest = max(manifest, key=lambda e: e[0])  # seg_v2_* sorts last
    assert newest[2] == 1, manifest  # ONE row: the sentinel
    seg = spark.read.parquet(f"{state_dir}/{newest[0]}")
    assert [r["key"] for r in seg.collect()] == [_WM_KEY]
    # and the closed view still extends every run to the new watermark
    assert read_watermark(spark, state_dir) == 2
    closed = read_runs_closed(spark, state_dir)
    assert closed.filter(F.col("v_to") == 2).count() == 50


def test_replay_and_crash_window_are_exactly_once(spark, tmp_path):
    """Re-draining with no new files is a no-op; the segments crash window
    (all data writes committed, no meta flip) leaves the old state
    reachable and the replayed batch lands exactly once."""
    from s3bigdatasync_spark.streaming.commit import committed_version
    from s3bigdatasync_spark.streaming.segments import _PARTS

    snaps = str(tmp_path / "snaps")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    _append(spark, snaps, {1})
    _drain(spark, snaps, state_dir, ckpt)
    before_meta = committed_version(spark, state_dir, _PARTS)
    before = _norm(_runs_set(read_runs_closed(spark, state_dir)))

    _drain(spark, snaps, state_dir, ckpt)  # nothing new
    assert committed_version(spark, state_dir, _PARTS) == before_meta
    assert _norm(_runs_set(read_runs_closed(spark, state_dir))) == before

    _append(spark, snaps, {2, 3})
    _drain(spark, snaps, state_dir, ckpt)
    assert _norm(_runs_set(read_runs_closed(spark, state_dir))) == _batch_expected(
        spark, {1, 2, 3}
    )
    # open runs really are open in the raw view
    assert read_runs_open(spark, state_dir).filter(
        F.col("v_to").isNull()
    ).count() > 0


def test_crash_between_segment_commit_and_meta_flip(spark, tmp_path):
    """The torn-write window, hand-executed on the event-log shape: the
    batch's tier-0 segment, files log AND manifest fully committed under
    the next version, killed before the meta flip. Everything under the new
    version must stay unreachable, and the redelivered batch must land
    exactly once — no doubled events, no moved watermark."""
    from pyspark.sql import functions as F  # noqa: F811

    from s3bigdatasync_spark.streaming.commit import committed_version
    from s3bigdatasync_spark.streaming.scd2_open import (
        _bucket,
        _make_events_fn,
    )
    from s3bigdatasync_spark.streaming.segments import (
        _PARTS,
        _read_manifest,
    )

    snaps = str(tmp_path / "snaps")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    _append(spark, snaps, {1})
    _drain(spark, snaps, state_dir, ckpt)
    assert committed_version(spark, state_dir, _PARTS) == 0
    state_v0 = _norm(_runs_set(read_runs_closed(spark, state_dir)))
    manifest_v0 = _read_manifest(spark, state_dir)

    # drop {2,3} lands; its batch crashes after ALL v1 data writes
    _append(spark, snaps, {2, 3})
    landed = spark.read.schema(SNAPSHOT_STREAM_SCHEMA).parquet(snaps)
    tagged = landed.withColumn("file_path", F.input_file_name())
    applied = spark.read.parquet(f"{state_dir}/files_v0")
    fresh = tagged.join(applied, "file_path", "left_anti")
    events = _make_events_fn(state_dir)(fresh).withColumn("bucket", _bucket())
    n0 = events.count()
    events.coalesce(1).write.mode("overwrite").parquet(
        f"{state_dir}/seg_v1_t0_0"
    )
    applied.unionByName(fresh.select("file_path").distinct()).distinct().write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/files_v1")
    spark.createDataFrame(
        manifest_v0 + [("seg_v1_t0_0", 0, n0)], "seg string, tier int, n_rows long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{state_dir}/manifest_v1")
    # CRASH here: no meta flip

    assert committed_version(spark, state_dir, _PARTS) == 0
    assert read_watermark(spark, state_dir) == 1  # v1 events unreachable
    assert _norm(_runs_set(read_runs_closed(spark, state_dir))) == state_v0

    _drain(spark, snaps, state_dir, ckpt)  # the redelivery
    assert committed_version(spark, state_dir, _PARTS) == 1
    assert read_watermark(spark, state_dir) == 3
    assert _norm(_runs_set(read_runs_closed(spark, state_dir))) == _batch_expected(
        spark, {1, 2, 3}
    )


def test_deep_backlog_batch_folds_without_planning_cliff(spark, tmp_path):
    """The open-run merge folds each version of a batch over the previous
    fold's output, which references the state several times; without the
    per-version eager localCheckpoint a batch carrying k versions plans
    O(c^k) state subtrees (the scd2.py planning cliff). Pin: 12 versions in
    ONE trigger complete promptly and the closed form matches
    collapse_runs."""
    import time

    snaps = str(tmp_path / "snaps")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    rows = []
    for v in range(1, 13):
        for k in range(6):
            # key k churns its etag at versions where (k + v) % 5 == 0
            gen = max([0] + [u for u in range(1, v + 1) if (k + u) % 5 == 0])
            rows.append((f"k{k}", v, f"{k}:{gen}", 100 + k))
    for v in range(1, 13):
        spark.createDataFrame(
            [r for r in rows if r[1] == v], SNAPSHOT_STREAM_SCHEMA
        ).coalesce(1).write.mode("append").parquet(snaps)

    t0 = time.perf_counter()
    stream_snapshot_history_open(
        spark, snaps, state_dir, ckpt, max_files_per_trigger=12
    ).awaitTermination(300)
    elapsed = time.perf_counter() - t0
    assert elapsed < 240, f"deep-backlog drain took {elapsed:.0f}s"

    assert read_watermark(spark, state_dir) == 12
    versions = spark.createDataFrame(
        rows, "key string, v int, etag string, size long"
    )
    assert _norm(_runs_set(read_runs_closed(spark, state_dir))) == _norm(
        _runs_set(collapse_runs(versions))
    )
