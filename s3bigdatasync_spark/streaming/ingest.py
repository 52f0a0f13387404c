"""Streaming corpus admission — the incremental leg of plans/llm_corpus.

The batch composition builds a training corpus from a finished snapshot; in
production documents keep ARRIVING, and re-running the whole pipeline per
drop is O(corpus) every time. This stream admits each micro-batch of new
documents through the same per-row gates (quality keep + language-ID, the
exact expressions from operators/text — one projection, no Python) and an
INCREMENTAL exact-dedup: a content-hash seen-log accumulates across batches,
and a new doc is admitted only if its hash is unseen (first arrival wins;
within a batch the lowest doc_id wins, deterministically).

Exactly-once: foreachBatch is at-least-once on retry, so both sinks
(admitted docs, seen-log) write under a batch_id guard — the seen-log rows
record the batch that wrote them, and a replayed batch_id is skipped
entirely. With the checkpoint intact (the normal retry path) the guard is
exact; recovering by REPLACING a lost checkpoint additionally assumes no
new drops landed since the loss (a replayed batch_id could otherwise cover
a new file) — drain once on the new checkpoint before accepting new drops.
The read-modify-write states (drift, segments, scd2, checksum) avoid that
assumption with file-identity or watermark idempotence under the
versioned commit of streaming/commit.py; this log keeps the batch-id guard.

Scale: per-batch cost is O(|batch|) gate evaluation plus one anti-join of
the batch's hashes against the seen-log — the batch side is small and
broadcast, the log scan prunes to the hash column (at 100 TB the log is a
hash-bucketed table and the anti-join is a bucket-local probe; the corpus
itself is never rescanned). Parity contract (tests/test_stream_ingest.py):
after draining any sequence of arrival-ordered drops, admitted docs ==
the batch gates + keep-first-arrival exact dedup over everything seen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.utils import AnalysisException

from ..operators.dedup import _norm_text
from ..operators.text import pred_lang_col, quality_cols

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ]
)


def _gated(docs: DataFrame) -> DataFrame:
    """Per-row admission columns in ONE projection: quality keep, language
    argmax, content hash. Shared by the stream sink and the batch oracle."""
    qc = quality_cols()
    return docs.select(
        "doc_id",
        "lang",
        "source",
        pred_lang_col().alias("pred_lang"),
        qc["n_tok"].cast("long").alias("n_tokens"),
        qc["keep"].alias("quality_keep"),
        F.md5(_norm_text()).alias("content_hash"),
    )


def _seen_hashes(spark: SparkSession, seen_dir: str) -> DataFrame:
    """The accumulated seen-log (empty before the first batch). Only a
    missing path may be treated as empty — any other read error propagates
    (a transient failure read as 'nothing seen' would re-admit dups)."""
    try:
        return spark.read.parquet(seen_dir)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        return spark.createDataFrame([], "content_hash string, batch_id long")


def stream_corpus_ingest(
    spark: SparkSession,
    incoming_dir: str,
    corpus_dir: str,
    seen_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Drain incoming JSONL document drops through the admission gates.
    availableNow trigger: processes the backlog then stops — re-run on the
    same checkpoint to pick up later drops."""
    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(incoming_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        seen = _seen_hashes(sess, seen_dir)
        if seen.filter(F.col("batch_id") >= batch_id).limit(1).count() > 0:
            return  # retry of an applied batch — idempotent skip
        gated = _gated(batch_df)
        # within-batch exact dedup: lowest doc_id per hash wins
        from pyspark.sql import Window

        first = F.col("doc_id") == F.min("doc_id").over(
            Window.partitionBy("content_hash")
        )
        fresh = (
            gated.withColumn("batch_first", first)
            .filter("batch_first")
            .drop("batch_first")
            # cross-batch exact dedup: hash unseen in every prior batch
            .join(seen.select("content_hash"), "content_hash", "left_anti")
        )
        admitted = fresh.filter(
            F.col("quality_keep") & (F.col("pred_lang") != "und")
        )
        # WRITE ORDER + CRASH WINDOW: corpus append first, seen-log commit
        # second. A crash between them re-runs the batch (the seen-log has
        # no row for it yet), re-appending the same admitted rows — so the
        # corpus dir is at-least-once and read_corpus() dedups on
        # content_hash (exact by construction: a committed corpus has one
        # row per hash, and replayed rows are byte-identical). The reverse
        # order would be worse: seen-log first + crash = admitted docs
        # recorded as seen but never written — silent data loss.
        admitted.drop("quality_keep").write.mode("append").parquet(corpus_dir)
        # every fresh hash (admitted or gate-rejected) becomes seen: a
        # rejected doc's later identical copy must not be re-evaluated
        fresh.select(
            "content_hash", F.lit(batch_id).cast("long").alias("batch_id")
        ).write.mode("append").parquet(seen_dir)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def read_corpus(
    spark: SparkSession, corpus_dir: str, key: tuple[str, ...] = ("content_hash",)
) -> DataFrame:
    """The admitted corpus, exactly-once: the appends in both ingest sinks
    are at-least-once across the corpus-append/log-commit crash window, so
    consumers read through this key-dedup. A committed corpus has one row
    per key by construction (admission is keep-first-per-hash here,
    one-row-per-doc_id in stream_neardup_ingest — pass key=("doc_id",) for
    that corpus); replayed rows are byte-identical so which copy survives
    is immaterial."""
    return spark.read.parquet(corpus_dir).dropDuplicates(list(key))


def stream_neardup_ingest(
    spark: SparkSession,
    incoming_dir: str,
    corpus_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Near-dup admission at ingestion time: each arriving document is
    admitted only if its MinHash-LSH bands collide with neither (a) the
    accumulated band index of previously ADMITTED documents nor (b) a
    lower-doc_id document in the same micro-batch. Admitted documents
    append their bands to the index — the streaming counterpart of
    operators/dedup.incremental_neardup, closing the loop from "report
    candidates" to "gate the corpus".

    Semantics are deterministic, not chain-greedy: a same-batch collision
    rejects against the lower doc_id regardless of whether that doc is
    itself admitted (order-independent, batch-SQL-expressible). Documents
    too short to shingle (< SHINGLE_N tokens) have no bands: always
    admitted, never indexed.

    Exactly-once: both sinks write under the index's batch_id guard (same
    contract as stream_corpus_ingest). Scale: per-batch cost is the batch's
    own signature agg plus one semi-join probe of batch bands (small,
    broadcast) against the index — at 100 TB the index is a table
    partitioned by (band, sig-prefix) and the probe prunes partitions; the
    admitted corpus is never rescanned."""
    from ..operators.dedup import _banded, signatures_for

    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(incoming_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        try:
            index = sess.read.parquet(index_dir)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise
            index = sess.createDataFrame(
                [], "doc_id long, band int, sig string, batch_id long"
            )
        if index.filter(F.col("batch_id") >= batch_id).limit(1).count() > 0:
            return  # retry of an applied batch — idempotent skip
        bands = _banded(signatures_for(batch_df)).cache()
        prior_hit = (
            bands.join(index.select("band", "sig"), ["band", "sig"], "left_semi")
            .select("doc_id")
            .distinct()
        )
        a, b = bands.alias("a"), bands.alias("b")
        batch_hit = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") > F.col("b.doc_id")),
                "left_semi",
            )
            .select("doc_id")
            .distinct()
        )
        rejected = prior_hit.union(batch_hit).distinct()
        admitted = batch_df.join(rejected, "doc_id", "left_anti")
        # same crash-window trade as stream_corpus_ingest: corpus append
        # first (at-least-once; read_corpus(key=("doc_id",)) dedups), index
        # commit second — reversed order would lose admitted docs
        admitted.write.mode("append").parquet(corpus_dir)
        bands.join(rejected, "doc_id", "left_anti").withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).write.mode("append").parquet(index_dir)
        bands.unpersist()

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def batch_equivalent(spark: SparkSession, incoming_dir: str) -> DataFrame:
    """What the admitted corpus must equal for arrival-ordered drops (doc_id
    nondecreasing across files): gates + keep-lowest-doc_id exact dedup in
    one batch pass over everything that ever arrived."""
    from pyspark.sql import Window

    docs = spark.read.schema(DOC_STREAM_SCHEMA).json(incoming_dir)
    gated = _gated(docs)
    keeper = F.col("doc_id") == F.min("doc_id").over(
        Window.partitionBy("content_hash")
    )
    return (
        gated.withColumn("k", keeper)
        .filter("k")
        .filter(F.col("quality_keep") & (F.col("pred_lang") != "und"))
        .drop("k", "quality_keep")
    )
