"""Streaming entity-resolution parity: the accumulated match log over
arriving dirty-record drops must equal the one-shot batch matcher over
everything seen — per-record verdicts against a read-only catalog compose
trivially, so any divergence means the incremental path lost or re-matched
records."""

from __future__ import annotations

from pyspark.sql import functions as F

from s3bigdatasync_spark.streaming.resolve import (
    DIRTY_STREAM_SCHEMA,
    batch_equivalent,
    read_match_log,
    stream_resolve,
)

_CATALOG = [
    (1, "amber bronze copper dim"),
    (2, "amber bronze copper dime"),
    (3, "lavender rose mint sky"),
    (4, "goldenrod plum navy sea"),
    (5, "turquoise coral jade ash"),
]


def _catalog_df(spark):
    return spark.createDataFrame(_CATALOG, "p_partkey long, p_name string")


def _drop(name: str, i: int) -> tuple:
    # one-character deletions of catalog names → always matchable at lev 1
    return (1000 + i, name[:3] + name[4:])


def test_stream_resolve_matches_batch(spark, tmp_path):
    dirty_dir = str(tmp_path / "dirty")
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    cat = _catalog_df(spark)

    rows = []
    for rnd, names in enumerate((["amber bronze copper dim", "lavender rose mint sky"],
                                 ["goldenrod plum navy sea"],
                                 ["turquoise coral jade ash"])):
        batch = [_drop(n, rnd * 10 + j) for j, n in enumerate(names)]
        rows.extend(batch)
        spark.createDataFrame(batch, DIRTY_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(dirty_dir)
        q = stream_resolve(spark, dirty_dir, cat, log_dir, ckpt, max_files_per_trigger=1)
        q.awaitTermination(120)
        got = sorted(
            tuple(r)
            for r in read_match_log(spark, log_dir).drop("batch_id").collect()
        )
        want = sorted(
            tuple(r) for r in batch_equivalent(spark, dirty_dir, cat).collect()
        )
        assert got == want
    assert len(got) == len(rows)  # every arriving record got a verdict
    assert all(r[3] <= 1 for r in got)  # best_lev <= 1: full-recall blocking


def test_stream_resolve_replay_is_skipped(spark, tmp_path):
    dirty_dir = str(tmp_path / "dirty")
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    cat = _catalog_df(spark)
    spark.createDataFrame(
        [_drop("amber bronze copper dim", 0)], DIRTY_STREAM_SCHEMA
    ).coalesce(1).write.mode("append").parquet(dirty_dir)
    q = stream_resolve(spark, dirty_dir, cat, log_dir, ckpt)
    q.awaitTermination(120)
    before = read_match_log(spark, log_dir).count()

    q2 = stream_resolve(spark, dirty_dir, cat, log_dir, ckpt)
    q2.awaitTermination(120)
    assert read_match_log(spark, log_dir).count() == before


def test_checkpoint_replacement_no_loss_no_dupes(spark, tmp_path):
    """Batch ids renumber from 0 when a lost checkpoint is replaced.
    Identity-based idempotence must neither skip the renumbered batches'
    genuinely-new records nor double-append the re-delivered old ones —
    an id-based '>=' skip guard did both (round-3 ADVICE)."""
    import shutil

    dirty_dir = str(tmp_path / "dirty")
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    cat = _catalog_df(spark)

    first = [_drop("amber bronze copper dim", 0), _drop("lavender rose mint sky", 1)]
    spark.createDataFrame(first, DIRTY_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirty_dir)
    q = stream_resolve(spark, dirty_dir, cat, log_dir, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)

    # checkpoint lost → replaced: every old file re-delivers under batch ids
    # restarting at 0, alongside a NEW record
    shutil.rmtree(ckpt)
    new = [_drop("goldenrod plum navy sea", 2)]
    spark.createDataFrame(new, DIRTY_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirty_dir)
    q2 = stream_resolve(spark, dirty_dir, cat, log_dir, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(120)

    log = read_match_log(spark, log_dir)
    got = sorted(tuple(r) for r in log.drop("batch_id").collect())
    want = sorted(tuple(r) for r in batch_equivalent(spark, dirty_dir, cat).collect())
    assert got == want  # new record admitted, nothing lost
    ids = [r["dirty_id"] for r in log.select("dirty_id").collect()]
    assert len(ids) == len(set(ids)) == 3  # re-delivered records not duplicated


def test_updated_name_gets_fresh_verdict(spark, tmp_path):
    """Identity is the (dirty_id, dirty_name) PAIR: re-delivering an id with
    an UPDATED name is a new record version and must be re-matched — keying
    on dirty_id alone kept the stale verdict forever (round-3 ADVICE)."""
    dirty_dir = str(tmp_path / "dirty")
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    cat = _catalog_df(spark)

    v1 = [(1000, "amber bronze copper di")]  # matches key 1 at lev 1... and 2
    spark.createDataFrame(v1, DIRTY_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirty_dir)
    stream_resolve(spark, dirty_dir, cat, log_dir, ckpt).awaitTermination(120)

    # the feed corrects the record: same id, new name (now nearest key 3)
    v2 = [(1000, "lavender rose mint sk")]
    spark.createDataFrame(v2, DIRTY_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirty_dir)
    stream_resolve(spark, dirty_dir, cat, log_dir, ckpt).awaitTermination(120)

    log = read_match_log(spark, log_dir)
    got = sorted(tuple(r) for r in log.drop("batch_id").collect())
    want = sorted(tuple(r) for r in batch_equivalent(spark, dirty_dir, cat).collect())
    assert got == want
    assert len(got) == 2  # one verdict per record VERSION
    by_name = {r[1]: r[4] for r in got}  # dirty_name -> matched_key
    assert by_name["lavender rose mint sk"] == 3  # the update was re-matched


def test_zero_candidate_record_logged_once(spark, tmp_path):
    """A record no catalog name comes near must still log exactly one
    n_candidates=0 verdict row — the matcher's inner fan-back drops it, and
    an unlogged identity was re-matched on every redelivery (round-3
    ADVICE)."""
    import shutil

    dirty_dir = str(tmp_path / "dirty")
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    cat = _catalog_df(spark)

    rows = [(2000, "zzzzzzzzzzzzzzzzzzzzzz"), _drop("amber bronze copper dim", 0)]
    spark.createDataFrame(rows, DIRTY_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirty_dir)
    stream_resolve(spark, dirty_dir, cat, log_dir, ckpt).awaitTermination(120)

    log = read_match_log(spark, log_dir)
    zero = {tuple(r) for r in log.filter(F.col("dirty_id") == 2000).drop("batch_id").collect()}
    assert zero == {(2000, "zzzzzzzzzzzzzzzzzzzzzz", 0, None, None, None)}
    got = sorted(tuple(r) for r in log.drop("batch_id").collect())
    want = sorted(tuple(r) for r in batch_equivalent(spark, dirty_dir, cat).collect())
    assert got == want

    # replay under a REPLACED checkpoint: the zero-candidate identity is in
    # the log, so redelivery appends nothing — no per-redelivery re-match
    shutil.rmtree(ckpt)
    stream_resolve(spark, dirty_dir, cat, log_dir, ckpt).awaitTermination(120)
    assert read_match_log(spark, log_dir).count() == 2


def test_unmigrated_legacy_log_fails_loudly(spark, tmp_path):
    """Streaming over a legacy log must refuse to run (saying to rebuild
    the log), never silently double-append. The probe fires at
    stream START (the sink can never write a NULL-name row itself, so a
    clean log cannot become legacy mid-stream) — the failure surfaces
    before any micro-batch runs."""
    import pytest

    dirty_dir = str(tmp_path / "dirty")
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    cat = _catalog_df(spark)

    feed = [_drop("amber bronze copper dim", 0)]
    spark.createDataFrame(feed, DIRTY_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirty_dir)
    batch_equivalent(spark, dirty_dir, cat).drop("dirty_name").withColumn(
        "batch_id", F.lit(0).cast("long")
    ).coalesce(1).write.mode("append").parquet(log_dir)

    with pytest.raises(RuntimeError, match="rebuild the log from the dirty feed"):
        stream_resolve(spark, dirty_dir, cat, log_dir, ckpt)


def test_checkpoint_replacement_with_updated_name(spark, tmp_path):
    """Checkpoint replacement × pair identity: after the checkpoint is lost,
    every old file redelivers under renumbered batch ids ALONGSIDE a new
    drop that re-delivers a known dirty_id with an UPDATED name. The old
    version's verdict must survive untouched, the new version must get a
    fresh verdict, and nothing double-appends (round-4 item 9, the
    newly-interesting window after the pair-identity rework)."""
    import shutil

    dirty_dir = str(tmp_path / "dirty")
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    cat = _catalog_df(spark)

    v1 = [(1000, "amber bronze copper di"), _drop("lavender rose mint sky", 1)]
    spark.createDataFrame(v1, DIRTY_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirty_dir)
    stream_resolve(spark, dirty_dir, cat, log_dir, ckpt).awaitTermination(120)

    # checkpoint lost; the corrected record (same id, new name) lands and
    # EVERYTHING redelivers as batches renumbered from 0
    shutil.rmtree(ckpt)
    v2 = [(1000, "goldenrod plum navy se")]
    spark.createDataFrame(v2, DIRTY_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirty_dir)
    q = stream_resolve(
        spark, dirty_dir, cat, log_dir, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)

    log = read_match_log(spark, log_dir)
    got = sorted(tuple(r) for r in log.drop("batch_id").collect())
    want = sorted(tuple(r) for r in batch_equivalent(spark, dirty_dir, cat).collect())
    assert got == want
    verdicts_1000 = {r[1]: r[4] for r in got if r[0] == 1000}
    assert verdicts_1000 == {
        "amber bronze copper di": 1,   # original version's verdict kept
        "goldenrod plum navy se": 4,   # updated version freshly matched
    }
    assert len(got) == 3  # two versions of id 1000 + one other record


def test_null_name_record_does_not_brick_or_duplicate(spark, tmp_path):
    """A feed row with dirty_name=NULL must neither spoof the legacy-log
    detector (bricking the stream with an un-clearable migrate demand) nor
    re-append on redelivery: its identity normalizes to (id, '') at every
    boundary, so it logs exactly one n_candidates=0 verdict and the log
    stays equal to batch_equivalent across replays."""
    dirty_dir = str(tmp_path / "dirty")
    log_dir = str(tmp_path / "log")
    cat = _catalog_df(spark)

    batch = [(7, None), (8, "amber bronze copper dim")]
    spark.createDataFrame(batch, DIRTY_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirty_dir)
    for rnd in ("ckpt1", "ckpt2"):  # second drain = full redelivery replay
        q = stream_resolve(
            spark, dirty_dir, cat, log_dir, str(tmp_path / rnd), max_files_per_trigger=1
        )
        q.awaitTermination(120)
        log = read_match_log(spark, log_dir)
        got = sorted(tuple(r) for r in log.drop("batch_id").collect())
        want = sorted(
            tuple(r) for r in batch_equivalent(spark, dirty_dir, cat).collect()
        )
        assert got == want
        null_rows = log.filter(F.col("dirty_id") == 7).collect()
        assert len(null_rows) == 1
        assert null_rows[0]["dirty_name"] == ""
        assert null_rows[0]["n_candidates"] == 0
