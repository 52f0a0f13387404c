"""Streaming perplexity-gate parity: scores from the incrementally-maintained
per-language LM state must equal the batch scoring core over everything seen,
after every round of appends — and the full tercile report over the real
documents table must equal the batch perplexity_buckets operator bit for bit.
The crash-window guarantees are drift.py's (shared `versioned_count_sink`);
one kill test pins that the shared machinery holds for this key shape too."""

from __future__ import annotations

from s3bigdatasync_spark.streaming.commit import committed_version
from s3bigdatasync_spark.streaming.drift import _PARTS
from s3bigdatasync_spark.streaming.ppl_gate import (
    DOCS_STREAM_SCHEMA,
    batch_equivalent,
    ppl_gate_report,
    ppl_scores,
    read_lm_counts,
    stream_ppl_state,
)

SF = "/root/testdata/sf0.001"


def _mk_docs(tag: str, n: int, langs: int = 3):
    return [
        (
            # deterministic, collision-free across rounds (hash() is salted
            # per process via PYTHONHASHSEED and could merge two docs)
            ord(tag) * 10_000 + i,
            f"alpha beta {tag} tok{i % 7} gamma delta tok{i % 3} epsilon",
            f"lang{i % langs}",
        )
        for i in range(n)
    ]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _landed(spark, docs_dir):
    return spark.read.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir)


def test_incremental_scores_equal_batch(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    for round_tag, n in (("a", 40), ("b", 25), ("c", 10)):
        spark.createDataFrame(_mk_docs(round_tag, n), DOCS_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(docs_dir)
        q = stream_ppl_state(spark, docs_dir, state_dir, ckpt, max_files_per_trigger=1)
        q.awaitTermination(120)
        got = _rows(ppl_scores(spark, state_dir, _landed(spark, docs_dir)))
        want = _rows(batch_equivalent(spark, docs_dir))
        assert got == want
    assert len(got) == 75  # every landed doc scored, all rounds applied


def test_gate_report_matches_batch_operator(spark, tmp_path):
    """Stream the REAL sf0.001 documents table through the state, then the
    state-backed tercile report must equal the committed batch operator's
    output exactly (same NTILE boundaries, same keep flags) — the streaming
    leg computes the identical decision without the corpus re-scan."""
    from s3bigdatasync_spark.operators import prepared
    from s3bigdatasync_spark.operators.curation import perplexity_buckets

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    docs = prepared(spark, SF).table("documents").select("doc_id", "text", "lang")
    docs.coalesce(2).write.mode("append").parquet(docs_dir)
    q = stream_ppl_state(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)

    got = _rows(ppl_gate_report(spark, state_dir, _landed(spark, docs_dir)))
    want = _rows(perplexity_buckets(spark, SF))
    assert got == want


def test_gate_report_refuses_stale_state(spark, tmp_path):
    """A file landing AFTER the stream drained carries tokens the LM never
    saw; its documents would silently vanish from the gate population via
    the inner LM join. The report must fail loudly instead (round-9
    ADVICE) — and succeed again once the straggler is merged."""
    import pytest

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(_mk_docs("a", 20), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_ppl_state(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)

    # straggler with an entirely out-of-support vocabulary, NOT merged
    straggler = [(999_001, "zzq qqz zqq", "lang0")]
    spark.createDataFrame(straggler, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)
    with pytest.raises(ValueError, match="no in-support tokens"):
        ppl_gate_report(spark, state_dir, _landed(spark, docs_dir))

    # merging the straggler restores the contract
    q2 = stream_ppl_state(spark, docs_dir, state_dir, ckpt)
    q2.awaitTermination(120)
    got = ppl_gate_report(spark, state_dir, _landed(spark, docs_dir))
    assert got.filter(got.doc_id == 999_001).count() == 1


def test_gate_report_tolerates_zero_token_docs(spark, tmp_path):
    """Round-10 ADVICE: an empty/whitespace-only doc can never be scored —
    the batch operator drops it silently, and re-running the stream merges
    no tokens for it, so the old staleness guard made the report
    permanently unrenderable on a remediation that could not succeed. The
    report must render (excluding the token-less doc), and a REAL straggler
    alongside one must still fail loudly."""
    import pytest

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    rows = _mk_docs("a", 20) + [(777, "   ", "lang0"), (778, "", "lang1")]
    spark.createDataFrame(rows, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)
    q = stream_ppl_state(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)

    got = ppl_gate_report(spark, state_dir, _landed(spark, docs_dir))
    ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert 777 not in ids and 778 not in ids and len(ids) == 20

    # zero-token docs must not mask a genuine straggler
    spark.createDataFrame(
        [(999_002, "zzq qqz zqq", "lang0")], DOCS_STREAM_SCHEMA
    ).coalesce(1).write.mode("append").parquet(docs_dir)
    with pytest.raises(ValueError, match="no in-support tokens"):
        ppl_gate_report(spark, state_dir, _landed(spark, docs_dir))


def test_lm_state_is_vocab_bounded(spark, tmp_path):
    """The LM state is |languages x vocabulary| rows no matter how many
    documents contributed — the no-rescan property at corpus scale."""
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(_mk_docs("x", 200), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_ppl_state(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)
    state = read_lm_counts(spark, state_dir)
    n_langs = 3
    vocab_max = 6 + 7 + 3  # alpha beta x gamma delta epsilon + tok{0..6} + tok{0..2}
    assert state.count() <= n_langs * vocab_max
    from pathlib import Path

    names = [d.name for d in Path(state_dir).iterdir()]
    assert sum(n.startswith("counts_v") for n in names) == 1
    assert sum(n.startswith("files_v") for n in names) == 1


def test_crash_between_counts_commit_and_meta_flip(spark, tmp_path):
    """The shared sink's crash window, exercised on THIS key shape:
    counts_v1/files_v1 fully committed, killed before the meta flip. The
    half-committed version must stay unreachable, and the redelivered batch
    must land exactly once."""
    from pyspark.sql import functions as F

    from s3bigdatasync_spark.operators.curation import lang_token_counts

    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(_mk_docs("a", 30), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    q = stream_ppl_state(spark, docs_dir, state_dir, ckpt)
    q.awaitTermination(120)
    assert committed_version(spark, state_dir, _PARTS) == 0
    scores_v0 = _rows(ppl_scores(spark, state_dir, _landed(spark, docs_dir)))

    # drop B lands; its batch crashes after the counts/files writes but
    # before the meta flip — simulated by performing the sink's first two
    # writes by hand (the checkpoint never saw B, so a restart redelivers)
    spark.createDataFrame(_mk_docs("b", 20), DOCS_STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(docs_dir)
    b_docs = _landed(spark, docs_dir).withColumn("file_path", F.input_file_name())
    applied = spark.read.parquet(f"{state_dir}/files_v0")
    fresh = b_docs.join(applied, "file_path", "left_anti")
    merged = (
        read_lm_counts(spark, state_dir)
        .unionByName(lang_token_counts(fresh))
        .groupBy("lang", "token")
        .agg(F.sum("c").alias("c"))
    )
    merged.write.mode("overwrite").parquet(f"{state_dir}/counts_v1")
    applied.unionByName(fresh.select("file_path").distinct()).distinct().write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/files_v1")
    # CRASH here: no meta flip

    assert committed_version(spark, state_dir, _PARTS) == 0
    # scoring drop A against the still-v0 state is unchanged
    a_only = _landed(spark, docs_dir).join(
        fresh.select("doc_id"), "doc_id", "left_anti"
    )
    assert _rows(ppl_scores(spark, state_dir, a_only)) == scores_v0

    q2 = stream_ppl_state(spark, docs_dir, state_dir, ckpt)
    q2.awaitTermination(120)
    assert committed_version(spark, state_dir, _PARTS) == 1
    got = _rows(ppl_scores(spark, state_dir, _landed(spark, docs_dir)))
    assert got == _rows(batch_equivalent(spark, docs_dir))
