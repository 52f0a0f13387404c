"""Incremental source-drift parity: the KL report over the streaming count
state must equal the batch report over everything seen, after every round of
appends — counts are the sufficient statistic, so addition-merged state loses
nothing. Also pins the versioned-state idempotence on retry."""

from __future__ import annotations

from s3bigdatasync_spark.streaming.commit import committed_version
from s3bigdatasync_spark.streaming.drift import (
    DOCS_STREAM_SCHEMA,
    _PARTS,
    batch_equivalent,
    drift_report,
    read_counts,
    stream_source_drift,
)


def _mk_docs(tag: str, n: int, srcs: int = 3):
    return [
        (
            # deterministic, collision-free across rounds (hash() is salted
            # per process via PYTHONHASHSEED and could merge two docs)
            ord(tag) * 10_000 + i,
            f"alpha beta {tag} tok{i % 7} gamma delta tok{i % 3} epsilon",
            f"src{i % srcs}",
        )
        for i in range(n)
    ]


def _report_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_drift_equals_batch(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    for round_tag, n in (("a", 40), ("b", 25), ("c", 10)):
        spark.createDataFrame(_mk_docs(round_tag, n), DOCS_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(docs_dir)
        q = stream_source_drift(spark, docs_dir, state_dir, ckpt, max_files_per_trigger=1)
        q.awaitTermination(120)
        got = _report_rows(drift_report(spark, state_dir))
        want = _report_rows(batch_equivalent(spark, docs_dir))
        assert got == want
    assert len(got) == 3  # one row per source, all rounds applied


def test_drift_state_is_vocab_bounded(spark, tmp_path):
    """The state relation is |sources × vocabulary| rows regardless of how
    many documents contributed — the property that makes the no-rescan
    design hold at corpus scale."""
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(_mk_docs("x", 200), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_source_drift(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)
    state = read_counts(spark, state_dir)
    n_src = 3
    # vocabulary: alpha beta x gamma delta epsilon + tok{0..6} + tok{0..2}
    vocab_max = 6 + 7 + 3
    assert state.count() <= n_src * vocab_max
    # superseded versions are GC'd — exactly one counts/files version remains
    from pathlib import Path

    names = [d.name for d in Path(state_dir).iterdir()]
    assert sum(n.startswith("counts_v") for n in names) == 1
    assert sum(n.startswith("files_v") for n in names) == 1


def test_duplicate_batch_is_skipped(spark, tmp_path):
    """Re-delivering an applied batch_id must not double-count: the meta
    pointer guards, and a re-run merge would read the OLD version anyway."""
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(_mk_docs("x", 30), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_source_drift(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)
    before_meta = committed_version(spark, state_dir, _PARTS)
    before = _report_rows(drift_report(spark, state_dir))
    assert before_meta >= 0

    q2 = stream_source_drift(spark, docs_dir, state_dir, ckpt)
    q2.awaitTermination(120)
    assert committed_version(spark, state_dir, _PARTS) == before_meta
    assert _report_rows(drift_report(spark, state_dir)) == before


def test_checkpoint_replacement_is_exactly_once(spark, tmp_path):
    """Losing the checkpoint renumbers batches from 0; the applied-files log
    must keep old files from double-counting while new files (delivered
    under the renumbered ids) are still applied exactly once."""
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")

    spark.createDataFrame(_mk_docs("a", 30), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_source_drift(spark, docs_dir, state_dir, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)

    # checkpoint lost: new drop lands, stream restarts on a FRESH checkpoint
    # and re-delivers everything (old file + new file) as renumbered batches
    spark.createDataFrame(_mk_docs("b", 20), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q2 = stream_source_drift(
        spark, docs_dir, state_dir, str(tmp_path / "ckpt2"), max_files_per_trigger=1
    )
    q2.awaitTermination(120)

    got = _report_rows(drift_report(spark, state_dir))
    want = _report_rows(batch_equivalent(spark, docs_dir))
    assert got == want  # old file not double-counted, new file applied once


def test_meta_loss_recovery(spark, tmp_path):
    """The meta pointer is rewritten by a parquet dir overwrite; a crash in
    that delete-then-recreate window leaves no meta. Recovery must rescan for
    the newest complete counts/files version instead of bootstrapping to -1 —
    bootstrapping would orphan all accumulated counts AND the applied-files
    log (old files never re-deliver under an intact checkpoint), silently
    losing the state (round-3 ADVICE)."""
    import shutil

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(_mk_docs("a", 40), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_source_drift(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)

    shutil.rmtree(f"{state_dir}/meta")  # crash inside the pointer overwrite
    got = _report_rows(drift_report(spark, state_dir))
    assert got == _report_rows(batch_equivalent(spark, docs_dir))
    assert committed_version(spark, state_dir, _PARTS) >= 0  # recovered, not bootstrapped

    # the next round merges ON TOP of the recovered state under the intact
    # checkpoint (old files are not re-delivered — state had to survive)
    spark.createDataFrame(_mk_docs("b", 25), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q2 = stream_source_drift(spark, docs_dir, state_dir, ckpt)
    q2.awaitTermination(120)
    got = _report_rows(drift_report(spark, state_dir))
    assert got == _report_rows(batch_equivalent(spark, docs_dir))


def test_crash_between_counts_commit_and_meta_flip(spark, tmp_path):
    """The sink's crash window the versioning exists for: counts_v{N+1} and
    files_v{N+1} fully committed, killed BEFORE the meta flip. The
    half-committed version must be unreachable (reads stay on the old
    consistent state), and the redelivered batch must overwrite it and land
    exactly once — no double count, no lost drop (round-4 item 9)."""
    from pyspark.sql import functions as F

    from s3bigdatasync_spark.operators.curation import source_token_counts

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    drop_a = _mk_docs("a", 30)
    spark.createDataFrame(drop_a, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)
    q = stream_source_drift(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)
    assert committed_version(spark, state_dir, _PARTS) == 0
    report_v0 = _report_rows(drift_report(spark, state_dir))

    # drop B lands; its batch CRASHES after writing counts_v1/files_v1
    # (complete, _SUCCESS present) but before the meta flip — simulated by
    # performing exactly the sink's first two writes by hand. The stream
    # never ran, so the checkpoint doesn't know B: a restart redelivers it,
    # exactly like a real mid-sink kill.
    drop_b = _mk_docs("b", 20)
    spark.createDataFrame(drop_b, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)
    b_docs = spark.read.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir).withColumn(
        "file_path", F.input_file_name()
    )
    applied = spark.read.parquet(f"{state_dir}/files_v0")
    fresh = b_docs.join(applied, "file_path", "left_anti")
    merged = (
        read_counts(spark, state_dir)
        .unionByName(source_token_counts(fresh))
        .groupBy("source", "token")
        .agg(F.sum("c").alias("c"))
    )
    merged.write.mode("overwrite").parquet(f"{state_dir}/counts_v1")
    applied.unionByName(fresh.select("file_path").distinct()).distinct().write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/files_v1")
    # CRASH here: no meta flip

    # the half-committed v1 is unreachable — reads stay on v0
    assert committed_version(spark, state_dir, _PARTS) == 0
    assert _report_rows(drift_report(spark, state_dir)) == report_v0

    # restart: the checkpoint redelivers B; the sink overwrites the orphaned
    # v1 and flips meta. Exactly once, end to end.
    q2 = stream_source_drift(spark, docs_dir, state_dir, ckpt)
    q2.awaitTermination(120)
    assert committed_version(spark, state_dir, _PARTS) == 1
    got = _report_rows(drift_report(spark, state_dir))
    assert got == _report_rows(batch_equivalent(spark, docs_dir))
