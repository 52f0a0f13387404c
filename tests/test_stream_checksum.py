"""Incremental-fingerprint parity: the streaming checksum state over
append-only inventory files must equal the one-pass batch fingerprint after
every round of appends — the associativity property that makes the 100 TB
no-rescan design sound."""

from __future__ import annotations

from s3bigdatasync_spark.streaming.checksum import (
    INVENTORY_STREAM_SCHEMA,
    batch_equivalent,
    read_state,
    stream_table_checksum,
)
from s3bigdatasync_spark.streaming.commit import committed_version
from s3bigdatasync_spark.streaming.drift import _PARTS


def _mk_rows(tag: str, n: int):
    return [(f"obj/{tag}/{i}", 1_000_000 + i * 37, f"etag-{tag}-{i}") for i in range(n)]


def test_incremental_checksum_equals_batch(spark, tmp_path):
    inv_dir = str(tmp_path / "inv")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    for round_tag, n in (("a", 50), ("b", 35), ("c", 15)):
        spark.createDataFrame(_mk_rows(round_tag, n), INVENTORY_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(inv_dir)
        q = stream_table_checksum(
            spark, inv_dir, state_dir, ckpt, max_files_per_trigger=1
        )
        q.awaitTermination(120)
        state = read_state(spark, state_dir)
        expect = batch_equivalent(spark, inv_dir)
        assert state["n_rows"] == expect["n_rows"]
        assert state["total_size"] == expect["total_size"]
        assert state["checksum"] == expect["checksum"]

    # the final state saw all three appends exactly once
    assert state["n_rows"] == 100
    assert state["checksum"] > 0


def test_duplicate_batch_is_skipped(spark, tmp_path):
    """Re-delivering an applied batch must not double-count (the
    foreachBatch retry case)."""
    inv_dir = str(tmp_path / "inv")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(_mk_rows("x", 20), INVENTORY_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(inv_dir)
    q = stream_table_checksum(spark, inv_dir, state_dir, ckpt)
    q.awaitTermination(120)
    before = read_state(spark, state_dir)
    assert committed_version(spark, state_dir, _PARTS) == 0

    # same checkpoint, no new files: the drained stream re-fires nothing;
    # state and committed version stay untouched
    q2 = stream_table_checksum(spark, inv_dir, state_dir, ckpt)
    q2.awaitTermination(120)
    after = read_state(spark, state_dir)
    assert after == before  # no new files, no re-application
    assert committed_version(spark, state_dir, _PARTS) == 0


def test_crash_between_state_commit_and_checkpoint_commit(spark, tmp_path):
    """The sink's kill window (r6 verdict item 5, the drift pattern): state
    v1 fully committed — meta flipped, B's file in the applied-files log —
    but the process dies BEFORE the streaming checkpoint commits batch 1. A
    restart redelivers B under the SAME batch_id; the files log must make
    it contribute nothing, and the final fingerprint must equal one batch
    pass — no double-count."""
    from pathlib import Path

    from s3bigdatasync_spark.streaming.checksum import _sink

    inv_dir = str(tmp_path / "inv")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(_mk_rows("a", 40), INVENTORY_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(inv_dir)
    q = stream_table_checksum(spark, inv_dir, state_dir, ckpt)
    q.awaitTermination(120)
    assert committed_version(spark, state_dir, _PARTS) == 0

    # drop B lands; run EXACTLY the sink's batch-1 commit over B's file by
    # hand (the stream never runs, so the checkpoint still only knows batch
    # 0 — the restart below redelivers B under batch_id 1, like a real kill
    # after the state commit)
    landed = set(Path(inv_dir).glob("*.parquet"))
    spark.createDataFrame(_mk_rows("b", 25), INVENTORY_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(inv_dir)
    (b_file,) = set(Path(inv_dir).glob("*.parquet")) - landed
    _sink(state_dir)(
        spark.read.schema(INVENTORY_STREAM_SCHEMA).parquet(str(b_file)), 1
    )
    assert committed_version(spark, state_dir, _PARTS) == 1
    assert read_state(spark, state_dir)["n_rows"] == 65
    # CRASH here: checkpoint never committed batch 1

    q2 = stream_table_checksum(spark, inv_dir, state_dir, ckpt)
    q2.awaitTermination(120)
    got = read_state(spark, state_dir)
    expect = batch_equivalent(spark, inv_dir)
    assert got["n_rows"] == expect["n_rows"] == 65
    assert got["total_size"] == expect["total_size"]
    assert got["checksum"] == expect["checksum"]


def test_checkpoint_replacement_counts_a_new_drop_once(spark, tmp_path):
    """A replaced checkpoint renumbers batches from 0: a drop that lands
    after the loss rides batch 0 together with every re-listed old file. It
    must count exactly once and the old files not at all (a batch-id guard
    skipped the whole batch: n_rows 100 against 107)."""
    import shutil

    inv_dir = str(tmp_path / "inv")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for tag, n in (("a", 50), ("b", 35), ("c", 15)):
        spark.createDataFrame(_mk_rows(tag, n), INVENTORY_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(inv_dir)
    stream_table_checksum(
        spark, inv_dir, state_dir, ckpt, max_files_per_trigger=1
    ).awaitTermination(120)
    assert read_state(spark, state_dir)["n_rows"] == 100

    shutil.rmtree(ckpt)
    spark.createDataFrame(_mk_rows("d", 7), INVENTORY_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(inv_dir)
    stream_table_checksum(spark, inv_dir, state_dir, ckpt).awaitTermination(120)

    got = read_state(spark, state_dir)
    expect = batch_equivalent(spark, inv_dir)
    assert got["n_rows"] == expect["n_rows"] == 107
    assert got["total_size"] == expect["total_size"]
    assert got["checksum"] == expect["checksum"]


def test_torn_state_dir_fails_loudly(spark, tmp_path):
    """A torn state (the committed version's data files, or the meta
    pointer, gone or garbage) must propagate the read error — treating it
    as 'no state' would silently reset the fingerprint AND the applied-files
    log, double-applying all history on the retry. The same for a state dir
    of the older single-row layout: bare parquet, no meta."""
    from pathlib import Path

    import pytest

    inv_dir = str(tmp_path / "inv")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(_mk_rows("a", 10), INVENTORY_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(inv_dir)
    q = stream_table_checksum(spark, inv_dir, state_dir, ckpt)
    q.awaitTermination(120)

    for sub in ("counts_v0", "meta"):
        torn = Path(state_dir) / sub
        saved = {f: f.read_bytes() for f in torn.glob("*.parquet")}
        for f in saved:
            f.unlink()
        (torn / "part-torn.parquet").write_bytes(b"not parquet")
        with pytest.raises(Exception):
            read_state(spark, state_dir)
        (torn / "part-torn.parquet").unlink()
        for f, data in saved.items():
            f.write_bytes(data)
    assert read_state(spark, state_dir)["n_rows"] == 10

    legacy = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(10, 1, 1, 0)], "n_rows long, total_size long, checksum long, last_batch_id long"
    ).write.parquet(legacy)
    with pytest.raises(ValueError, match="no meta"):
        read_state(spark, legacy)


def test_one_file_batch_job_budget(spark, tmp_path):
    """A one-file micro-batch of the checksum sink runs at most 9 Spark
    jobs: the batch's file-filtered rows are persisted once for both state
    writes, and the applied-files log is one distinct over the union (10
    jobs when it was two)."""
    inv_dir = str(tmp_path / "inv")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    sc = spark.sparkContext
    for round_tag in ("a", "b"):  # round a warms up; round b is measured
        for i in range(3):
            spark.createDataFrame(
                _mk_rows(f"{round_tag}{i}", 50), INVENTORY_STREAM_SCHEMA
            ).coalesce(1).write.mode("append").parquet(inv_dir)
        q = stream_table_checksum(spark, inv_dir, state_dir, ckpt, max_files_per_trigger=1)
        q.awaitTermination(120)
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert n_batches == 3
    assert n_jobs <= 9 * n_batches
    assert read_state(spark, state_dir)["n_rows"] == 300

