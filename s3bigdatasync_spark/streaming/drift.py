"""Incremental source-drift maintenance — the streaming leg of
operators/curation.source_kl_divergence.

The batch operator scans the whole corpus per report; at 100 TB you don't
want a full re-tokenize every time a new document drop lands. The
(source, token) unigram counts are the report's sufficient statistic and
merge by plain addition, so each micro-batch contributes its own counts and
the running state is the summed relation; the KL report replays over the
state (kl_report_from_counts) without touching any document ever seen.
The parity oracle (tests/test_stream_drift.py) pins

    report(stream-over-appends state)  ==  batch report over everything seen

after every round of appends.

Exactly-once, from two mechanisms working together:
  * versioned state — every batch commits a new (counts, files) version
    through streaming/commit.py, the protocol every read-modify-write
    streaming state shares: the next monotonic version is written, the
    meta pointer flips last, and a crash before the flip replays the batch
    from the still-pointed-at old version.
  * file-identity filtering — the state carries the applied-FILES log and
    every batch anti-joins its rows by input file before counting. There is
    deliberately NO batch-id skip guard: batch ids restart at 0 when a lost
    checkpoint is replaced, so an id-based skip would silently drop a
    renumbered batch carrying a genuinely-new file (and an id-based accept
    would double-count old ones). File identity doesn't renumber —
    checkpoint replacement degrades to a harmless re-listing where applied
    files contribute nothing and new files count exactly once; a
    checkpoint-intact retry just rewrites an identical state version.
    (streaming/ingest.py gets the same property from its content-hash
    seen-log; counts have no natural content key, hence the file log.)

Scale: per-batch work is one tokenize+agg over the NEW documents only plus a
merge bounded by |vocabulary × sources| — the state never grows with corpus
size, only with vocabulary. The report is the batch plan over that bounded
relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.curation import kl_report_from_counts, source_token_counts
from .commit import commit, committed_version, part_path, read_part

DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ]
)

_COUNTS_SCHEMA = "source string, token string, c long"
_FILES_SCHEMA = "file_path string"
_PARTS = ("counts", "files")


def read_versioned_counts(
    spark: SparkSession, state_dir: str, counts_schema: str
) -> DataFrame:
    """The running count state — the version the meta points at (empty
    relation before the first applied batch). Schema-parametric: the same
    versioned protocol backs differently-keyed count states (source-drift's
    (source, token), ppl_gate's (lang, token), checksum's keyless row)."""
    last = committed_version(spark, state_dir, _PARTS)
    return read_part(spark, state_dir, "counts", last, counts_schema)


def read_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """The running (source, token, c) state — the version the meta points at
    (empty relation before the first applied batch)."""
    return read_versioned_counts(spark, state_dir, _COUNTS_SCHEMA)


def drift_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """The KL drift report over the current running state — identical shape
    and semantics to the batch source_kl_divergence output."""
    return kl_report_from_counts(read_counts(spark, state_dir))


def stream_source_drift(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
):
    """Maintain the running unigram-count state over an append-only document
    dir. Returns the StreamingQuery (availableNow trigger: drains the
    backlog, then stops — re-run on the same checkpoint for new files)."""
    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    sink = versioned_count_sink(
        state_dir, _COUNTS_SCHEMA, ["source", "token"], source_token_counts
    )
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def versioned_count_sink(
    state_dir: str, counts_schema: str, key_cols, count_fn, agg_exprs=None
):
    """foreachBatch sink maintaining an addition-merged count state under
    the versioned exactly-once protocol this module documents — parametric
    over the count key so differently-keyed BOUNDED states (source-drift
    here, the ppl_gate LM in streaming/ppl_gate.py, and with no key at all
    the one-row fingerprint of streaming/checksum.py) share ONE sink instead
    of cloning it. This sink rewrites
    the full merged relation per batch, which is the right trade ONLY while
    the state is bounded (|keys × vocabulary| here); an unbounded state
    (one row per distinct corpus content) pays O(state) per batch and must
    use streaming/segments.segmented_count_sink instead — dedup_gate moved
    there in round 10.

    agg_exprs optionally overrides the merge aggregation (default
    [sum(c) AS c]): any per-key aggregates that are associative and
    commutative over union keep the exactly-once argument intact — the
    merge of (old state ∪ fresh counts) is order- and batching-independent,
    so a replay from the still-pointed-at old version reproduces the same
    state (e.g. min(keeper): min is idempotent under re-union, exactly like
    sum over the file-filtered fresh rows)."""
    merge_aggs = agg_exprs if agg_exprs is not None else [F.sum("c").alias("c")]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        # NO batch-id skip guard: after checkpoint replacement batches
        # renumber from 0, and an id-based skip would silently drop a
        # renumbered batch that carries a genuinely-new file. The file log
        # makes every delivery idempotent instead — a retry of a fully
        # applied batch just rewrites an identical state version.
        last = committed_version(sp, state_dir, _PARTS)
        applied = read_part(sp, state_dir, "files", last, _FILES_SCHEMA)
        # file-identity filter: a replaced checkpoint renumbers batches, so
        # rows from already-applied files must contribute nothing
        tagged = batch_df.withColumn("file_path", F.input_file_name())
        # read by both writes below: persisted, so the batch's files are
        # scanned and anti-joined once, not once per write
        fresh = tagged.join(applied, "file_path", "left_anti").persist()
        try:
            old = read_part(sp, state_dir, "counts", last, counts_schema)
            merged = (
                old.unionByName(count_fn(fresh))
                .groupBy(*key_cols)
                .agg(*merge_aggs)
            )
            files = applied.unionByName(fresh.select("file_path")).distinct()
            # versioned dirs: the write target is never the read source, so
            # the merge needs no localCheckpoint materialization
            merged.write.mode("overwrite").parquet(part_path(state_dir, "counts", last + 1))
            files.write.mode("overwrite").parquet(part_path(state_dir, "files", last + 1))
            commit(sp, state_dir, last + 1, _PARTS)
        finally:
            fresh.unpersist()

    return sink


def batch_equivalent(spark: SparkSession, docs_dir: str) -> DataFrame:
    """What the state-backed report must equal: the batch KL report over one
    pass of everything that has landed."""
    docs = spark.read.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir)
    return kl_report_from_counts(source_token_counts(docs))
