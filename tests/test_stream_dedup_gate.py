"""Streaming dedup-gate parity: the content-hash index maintained by the
shared versioned sink must equal exact_dedup's batch core over everything
landed, after every round of appends — counts merge by sum, keepers by min,
both batching-independent. The crash-window guarantees are drift.py's; one
kill test pins that the shared machinery holds for the min-merge key shape
too (the 13th exactly-once module)."""

from __future__ import annotations

import pytest

from s3bigdatasync_spark.streaming.dedup_gate import (
    DOCS_STREAM_SCHEMA,
    admission_report,
    batch_equivalent,
    dedup_state,
    read_dedup_state,
    stream_dedup_state,
)
from s3bigdatasync_spark.streaming.commit import committed_version
from s3bigdatasync_spark.streaming.segments import _PARTS


def _mk_docs(tag: str, n: int, dup_every: int = 3):
    """Deterministic docs with REAL duplicate structure: every dup_every-th
    doc reuses the text of the doc dup_every before it (within and across
    rounds a/b/c share no text — the keeper contract is exercised by the
    within-stream dups plus the cross-round redelivery tests)."""
    rows = []
    for i in range(n):
        base = i - (i % dup_every) if i % dup_every == dup_every - 1 else i
        rows.append(
            (
                # deterministic ids (ord-offset pattern — hash() is salted)
                ord(tag) * 10_000 + i,
                f"alpha {tag} body tok{base % 7} gamma tok{base % 5} omega",
                f"lang{i % 2}",
            )
        )
    return rows


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _landed(spark, docs_dir):
    return spark.read.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir)


def test_incremental_state_equals_batch(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    for round_tag, n in (("a", 40), ("b", 25), ("c", 10)):
        spark.createDataFrame(_mk_docs(round_tag, n), DOCS_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(docs_dir)
        q = stream_dedup_state(spark, docs_dir, state_dir, ckpt, max_files_per_trigger=1)
        q.awaitTermination(120)
        got = _rows(dedup_state(spark, state_dir))
        want = _rows(batch_equivalent(spark, docs_dir))
        assert got == want
    assert len(got) < 75  # the dup structure actually collapsed something


def test_admission_report_matches_batch_decision(spark, tmp_path):
    """Every landed doc is gated; admit iff it is the global keeper of its
    content — recomputed independently from the batch core."""
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    for round_tag, n in (("a", 30), ("b", 20)):
        spark.createDataFrame(_mk_docs(round_tag, n), DOCS_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(docs_dir)
        q = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
        q.awaitTermination(120)

    rep = {r["doc_id"]: r for r in admission_report(
        spark, state_dir, _landed(spark, docs_dir)
    ).collect()}
    assert len(rep) == 50
    keepers = {
        r["content_hash"]: r["keeper_doc_id"]
        for r in batch_equivalent(spark, docs_dir).collect()
    }
    n_admit = 0
    for doc_id, r in rep.items():
        assert r["admit"] == (keepers[r["content_hash"]] == doc_id)
        n_admit += bool(r["admit"])
    assert n_admit == len(keepers)  # exactly one admit per distinct content


def test_admission_report_refuses_stale_state(spark, tmp_path):
    """A file landing AFTER the drain has hashes the index never saw; an
    absent hash would read as 'admit' — the one wrong default for a dedup
    gate. The report must fail loudly, then succeed after a merge."""
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(_mk_docs("a", 20), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)

    straggler = [(999_001, "entirely novel straggler content", "lang0")]
    spark.createDataFrame(straggler, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)
    with pytest.raises(ValueError, match="stale against"):
        admission_report(spark, state_dir, _landed(spark, docs_dir))

    q2 = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
    q2.awaitTermination(120)
    rep = admission_report(spark, state_dir, _landed(spark, docs_dir))
    row = rep.filter(rep.doc_id == 999_001).collect()[0]
    assert row["admit"] and row["n_copies"] == 1


def test_admission_report_refuses_duplicate_content_straggler(spark, tmp_path):
    """Round-10 ADVICE: a straggler whose content DUPLICATES existing state
    content passes the novel-hash check (its hash resolves), but the state
    under-counts its group — and if it holds the lowest doc_id it should own
    the group. Both partial-stale shapes must fail loudly, and a merge must
    heal them."""
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    merged = [(100, "shared duplicate content", "lang0"),
              (101, "some other content", "lang0")]
    spark.createDataFrame(merged, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)
    q = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)

    # (a) duplicate-content straggler with a HIGHER doc_id: hash resolves,
    # but the handed group count (2) exceeds state n_copies (1)
    spark.createDataFrame(
        [(200, "shared duplicate content", "lang0")], DOCS_STREAM_SCHEMA
    ).coalesce(1).write.mode("append").parquet(docs_dir)
    with pytest.raises(ValueError, match="stale against"):
        admission_report(spark, state_dir, _landed(spark, docs_dir))

    # (b) duplicate-content straggler that UNDERCUTS the stored keeper —
    # gate it alone (group count check can't fire: 1 handed vs 1 in state)
    spark.createDataFrame(
        [(7, "some other content", "lang0")], DOCS_STREAM_SCHEMA
    ).coalesce(1).write.mode("append").parquet(docs_dir)
    lone = spark.createDataFrame(
        [(7, "some other content", "lang0")], DOCS_STREAM_SCHEMA
    ).select("doc_id", "text")
    with pytest.raises(ValueError, match="stale against"):
        admission_report(spark, state_dir, lone)

    # merging heals both: 200 is gated out (keeper 100), 7 takes ownership
    q2 = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
    q2.awaitTermination(120)
    rep = admission_report(spark, state_dir, _landed(spark, docs_dir))
    rows = {r["doc_id"]: r for r in rep.collect()}
    assert not rows[200]["admit"] and rows[200]["keeper_doc_id"] == 100
    assert rows[7]["admit"] and not rows[101]["admit"]
    assert rows[7]["n_copies"] == 2


def test_duplicate_batch_is_skipped(spark, tmp_path):
    """Re-delivering an applied batch must not inflate n_copies or move a
    keeper — min(keeper) is idempotent and the file log blocks re-counting."""
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(_mk_docs("x", 30), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)
    before_meta = committed_version(spark, state_dir, _PARTS)
    before = _rows(dedup_state(spark, state_dir))

    q2 = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
    q2.awaitTermination(120)
    assert committed_version(spark, state_dir, _PARTS) == before_meta
    assert _rows(dedup_state(spark, state_dir)) == before


def test_checkpoint_replacement_is_exactly_once(spark, tmp_path):
    """Checkpoint loss renumbers batches from 0; old files must not
    double-count (n_copies would inflate) while new files still apply."""
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")

    spark.createDataFrame(_mk_docs("a", 30), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_dedup_state(spark, docs_dir, state_dir, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)

    spark.createDataFrame(_mk_docs("b", 20), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q2 = stream_dedup_state(
        spark, docs_dir, state_dir, str(tmp_path / "ckpt2"), max_files_per_trigger=1
    )
    q2.awaitTermination(120)

    assert _rows(dedup_state(spark, state_dir)) == _rows(
        batch_equivalent(spark, docs_dir)
    )


def test_crash_between_segment_commit_and_meta_flip(spark, tmp_path):
    """The segmented sink's crash window: the batch's tier-0 segment, files
    log, AND manifest are all fully committed under version 1, killed before
    the meta flip. Everything under v1 must stay unreachable (the v0
    manifest is the reachability root), and the redelivered batch must land
    exactly once — keepers stable, n_copies not doubled."""
    from pyspark.sql import functions as F

    from s3bigdatasync_spark.streaming.dedup_gate import _BUCKET, _hash_counts
    from s3bigdatasync_spark.streaming.segments import (
        _read_manifest,
    )

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(_mk_docs("a", 30), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)
    assert committed_version(spark, state_dir, _PARTS) == 0
    state_v0 = _rows(dedup_state(spark, state_dir))
    manifest_v0 = _read_manifest(spark, state_dir)

    # drop B lands; its batch crashes after ALL v1 data writes (segment,
    # files log, manifest — the sink's write sequence performed by hand)
    # but before the meta flip
    spark.createDataFrame(_mk_docs("b", 20), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    b_docs = _landed(spark, docs_dir).withColumn("file_path", F.input_file_name())
    applied = spark.read.parquet(f"{state_dir}/files_v0")
    fresh = b_docs.join(applied, "file_path", "left_anti")
    fresh_counts = _hash_counts(fresh).withColumn("bucket", _BUCKET())
    n0 = fresh_counts.count()
    fresh_counts.coalesce(1).write.mode("overwrite").parquet(
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
    assert _rows(dedup_state(spark, state_dir)) == state_v0  # v1 unreachable

    q2 = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
    q2.awaitTermination(120)
    assert committed_version(spark, state_dir, _PARTS) == 1
    assert _rows(dedup_state(spark, state_dir)) == _rows(
        batch_equivalent(spark, docs_dir)
    )


def test_meta_loss_recovery_segmented(spark, tmp_path):
    """The meta pointer is a parquet dir overwrite (delete-then-recreate);
    a crash inside that window leaves segments + manifest + files intact
    but NO meta. The segmented recovery scan must find the newest complete
    (manifest, files) version — never bootstrap over live state, which
    would orphan the whole index AND the applied-files log."""
    import shutil
    from pathlib import Path

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    for tag in ("a", "b"):
        spark.createDataFrame(_mk_docs(tag, 15), DOCS_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(docs_dir)
        q = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
        q.awaitTermination(120)
    assert committed_version(spark, state_dir, _PARTS) == 1
    before = _rows(dedup_state(spark, state_dir))

    # crash mid-pointer-overwrite: meta dir gone, everything else intact
    shutil.rmtree(Path(state_dir) / "meta")
    assert committed_version(spark, state_dir, _PARTS) == 1  # recovery scan
    assert _rows(dedup_state(spark, state_dir)) == before

    # and the next drain proceeds normally from the recovered version
    spark.createDataFrame(_mk_docs("c", 10), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)
    assert committed_version(spark, state_dir, _PARTS) == 2
    assert _rows(dedup_state(spark, state_dir)) == _rows(
        batch_equivalent(spark, docs_dir)
    )


def test_compaction_preserves_state_and_bounds_segments(spark, tmp_path):
    """Many small drops must tier-merge: after N drops the live segment
    count stays well under N (tiered compaction ran), segments above the
    bucket threshold carry the hash-prefix partition layout on disk, and
    the assembled state still equals the batch recomputation bitwise."""
    from s3bigdatasync_spark.streaming.segments import (
        MERGE_FANOUT,
        _read_manifest,
    )

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # fanout + 2 drops: one tier-0 merge fires (drop 4) and two tier-0
    # segments land after it — compaction, both layouts, and the merged
    # state all exercised in 6 drains instead of 9 (durations surgery)
    n_drops = MERGE_FANOUT + 2
    for i in range(n_drops):
        spark.createDataFrame(
            _mk_docs(chr(ord("a") + i), 12), DOCS_STREAM_SCHEMA
        ).coalesce(1).write.mode("append").parquet(docs_dir)
        # bucket_min_rows=30: tier-0 drops (<=12 distinct rows) stay
        # single-file, merged tier-1 segments (~36+ rows) cross the
        # threshold and must land bucket-partitioned — both layouts
        # exercised in one run, exactly the size-aware rule's contract
        q = stream_dedup_state(
            spark, docs_dir, state_dir, ckpt, bucket_min_rows=30
        )
        q.awaitTermination(120)

    manifest = _read_manifest(spark, state_dir)
    assert manifest
    assert len(manifest) < n_drops  # compaction actually folded segments
    per_tier: dict[int, int] = {}
    for _seg, tier, _n in manifest:
        per_tier[tier] = per_tier.get(tier, 0) + 1
    assert all(n < MERGE_FANOUT for n in per_tier.values()), manifest
    # size-aware layout on disk: big (merged) segments carry bucket= dirs,
    # small tier-0 segments are a single parquet file
    from pathlib import Path

    big = [s for s, t, n in manifest if n >= 30]
    small = [s for s, t, n in manifest if n < 30]
    assert big and small, manifest
    assert any(
        p.name.startswith("bucket=")
        for p in (Path(state_dir) / big[0]).iterdir()
    )
    assert not any(
        p.name.startswith("bucket=")
        for p in (Path(state_dir) / small[0]).iterdir()
    )
    assert _rows(dedup_state(spark, state_dir)) == _rows(
        batch_equivalent(spark, docs_dir)
    )


def test_pruned_admission_equals_full_and_bounds_agg_input(spark, tmp_path):
    """Round-11 read path: the pruned gate (default) must equal the full
    assembly row-for-row, and the rows entering the merge-agg must track the
    BATCH's hash set, not the state."""
    import pyspark.sql.functions as F

    from s3bigdatasync_spark.streaming import segments
    from s3bigdatasync_spark.streaming.dedup_gate import (
        _STATE_SCHEMA,
        _norm_text,
    )

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    for round_tag, n in (("a", 60), ("b", 40)):
        spark.createDataFrame(_mk_docs(round_tag, n), DOCS_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(docs_dir)
        q = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
        q.awaitTermination(120)

    gate = _landed(spark, docs_dir).filter(F.col("doc_id") < ord("a") * 10_000 + 9)
    full = admission_report(spark, state_dir, gate, prune=False)
    pruned = admission_report(spark, state_dir, gate, prune=True)
    assert _rows(full) == _rows(pruned)

    # the claim's direct axis: agg input rows O(batch hashes), not O(state)
    union = None
    for seg, _t, _n in segments._read_manifest(spark, state_dir):
        part = segments._read_segment(spark, state_dir, seg, _STATE_SCHEMA)
        union = part if union is None else union.unionByName(part)
    probe = gate.select(F.md5(_norm_text()).alias("content_hash")).distinct()
    n_probe = probe.count()
    pruned_input = union.join(
        F.broadcast(probe), "content_hash", "left_semi"
    ).count()
    assert union.count() > pruned_input  # full assembly reads more
    # <= one state row per probed hash per live segment (tight when no
    # hash spans segments)
    assert pruned_input <= n_probe * len(
        segments._read_manifest(spark, state_dir)
    )


def test_point_lookup_pushes_filter_into_sorted_scan(spark, tmp_path):
    """point_keys lookups must (a) return the same merged totals as the full
    assembly restricted to those keys, and (b) carry the isin() predicate
    into the parquet scan (PushedFilters In[...]) — where the key-sorted
    segment layout makes row-group min/max an effective zone map."""
    from s3bigdatasync_spark.streaming.dedup_gate import (
        _MERGE_AGGS,
        _STATE_SCHEMA,
    )
    from s3bigdatasync_spark.streaming.segments import read_segmented_counts

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    for round_tag in ("a", "b"):
        spark.createDataFrame(_mk_docs(round_tag, 30), DOCS_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(docs_dir)
        q = stream_dedup_state(spark, docs_dir, state_dir, ckpt)
        q.awaitTermination(120)

    full = {r["content_hash"]: r for r in read_dedup_state(spark, state_dir).collect()}
    keys = sorted(full)[:3]
    looked = read_segmented_counts(
        spark,
        state_dir,
        _STATE_SCHEMA,
        ["content_hash"],
        _MERGE_AGGS(),
        point_keys=keys,
    )
    got = {r["content_hash"]: r for r in looked.collect()}
    assert set(got) == set(keys)
    for k in keys:
        assert (got[k]["c"], got[k]["keeper"]) == (full[k]["c"], full[k]["keeper"])
    plan = looked._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(content_hash" in plan, plan[:2000]

    # segment files are key-sorted on disk (the zone-map precondition)
    from s3bigdatasync_spark.streaming.segments import (
        _read_manifest,
        _read_segment,
    )

    for seg, _t, _n in _read_manifest(spark, state_dir):
        hashes = [
            r["content_hash"]
            for r in _read_segment(spark, state_dir, seg, _STATE_SCHEMA)
            .limit(10_000)
            .collect()
        ]
        assert hashes == sorted(hashes), seg

    # past the cap the call must refuse (isin would degrade to a useless
    # min/max range filter on uniform hashes) and point to the probe path
    with pytest.raises(AssertionError, match="probe DataFrame"):
        read_segmented_counts(
            spark,
            state_dir,
            _STATE_SCHEMA,
            ["content_hash"],
            _MERGE_AGGS(),
            point_keys=sorted(full)[:11],
        )


def test_second_sink_takeover_makes_stale_sink_raise(spark, tmp_path):
    """Single-writer contract (r12): the sink caches the flipped version
    across batches, so a SECOND sink created for the same state_dir takes
    over the dir and the stale first closure must raise on its next batch —
    writing with its cached pointer would recompute the same next version
    and clobber the new writer's committed segments. (Cross-process writers
    are the deployment's lock to exclude — documented in segments.py.)"""
    import pytest as _pytest

    from s3bigdatasync_spark.streaming.dedup_gate import (
        _BUCKET,
        _MERGE_AGGS,
        _STATE_KEYS,
        _STATE_SCHEMA,
        _hash_counts,
    )
    from s3bigdatasync_spark.streaming.segments import segmented_count_sink

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    spark.createDataFrame(_mk_docs("a", 20), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)

    def mk_sink():
        return segmented_count_sink(
            state_dir,
            _STATE_SCHEMA,
            _STATE_KEYS,
            _hash_counts,
            bucket_col=_BUCKET,
            agg_exprs=_MERGE_AGGS(),
        )

    sink_a = mk_sink()
    sink_a(_landed(spark, docs_dir), 0)  # A owns the dir; batch commits
    state_after_a = _rows(dedup_state(spark, state_dir))

    sink_b = mk_sink()  # takeover: B is now the writer for state_dir
    with _pytest.raises(RuntimeError, match="single-writer"):
        sink_a(_landed(spark, docs_dir), 1)
    # the stale sink raised BEFORE touching the dir: state is intact...
    assert _rows(dedup_state(spark, state_dir)) == state_after_a

    # ...and the new writer operates normally (idempotent redelivery of the
    # same files is a no-op flip, new files merge in)
    sink_b(_landed(spark, docs_dir), 0)
    spark.createDataFrame(_mk_docs("b", 10), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    sink_b(_landed(spark, docs_dir), 1)
    assert _rows(dedup_state(spark, state_dir)) == _rows(
        batch_equivalent(spark, docs_dir)
    )


def test_takeover_guard_sees_one_dir_under_two_spellings(spark, tmp_path):
    """The single-writer guard keys the state dir by its resolved path, so a
    second sink created under another spelling of the SAME directory (a
    trailing slash, a `..` detour) still takes it over and the first sink
    raises before it touches the dir."""
    from s3bigdatasync_spark.streaming.dedup_gate import (
        _BUCKET,
        _MERGE_AGGS,
        _STATE_KEYS,
        _STATE_SCHEMA,
        _hash_counts,
    )
    from s3bigdatasync_spark.streaming.segments import segmented_count_sink

    (tmp_path / "other").mkdir()
    spellings = [
        str(tmp_path / "state"),
        str(tmp_path / "state") + "/",
        str(tmp_path / "other" / ".." / "state"),
    ]

    def mk_sink(state_dir):
        return segmented_count_sink(
            state_dir,
            _STATE_SCHEMA,
            _STATE_KEYS,
            _hash_counts,
            bucket_col=_BUCKET,
            agg_exprs=_MERGE_AGGS(),
        )

    for first, second in zip(spellings, spellings[1:] + spellings[:1]):
        stale = mk_sink(first)
        mk_sink(second)  # takeover under another spelling
        with pytest.raises(RuntimeError, match="single-writer"):
            stale(spark.range(0), 0)
    assert not (tmp_path / "state").exists()  # every stale sink raised first
