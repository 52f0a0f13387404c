"""Streaming entity-resolution admission — the operational leg of
operators/resolve.fuzzy_match_segments.

Dirty catalog records arrive as files (re-encoded listings, typo'd feeds);
each micro-batch is matched against the CLEAN catalog with the Pass-Join
segment matcher and the verdicts append to a match log: the ER
counterpart of streaming/ingest.py's near-dup admission ("report candidates"
→ "gate what arrives"). The parity oracle (tests/test_stream_resolve.py)
pins

    accumulated match log  ==  batch match_names_segments over everything seen

after every round of drops.

Exactly-once: IDENTITY-based, not batch-id-based — each batch anti-joins its
arriving records against the log and appends verdicts only for the fresh
ones. Batch ids renumber from 0 when a lost checkpoint is replaced, so an
id-based skip guard would silently drop renumbered batches carrying
genuinely-new records and double-append re-delivered old files under
higher-than-logged ids (the drift.py rationale); record identity never
renumbers. The identity is the PAIR (dirty_id, dirty_name), not dirty_id
alone: a feed that re-delivers an id with an UPDATED name is a new record
version and gets a fresh verdict (keying on id alone would keep the stale
verdict forever — round-3 ADVICE). And EVERY fresh record logs exactly one
row: records with zero candidates get an n_candidates=0 verdict (null
match columns) instead of no row, so they are never re-matched on
redelivery. A partially-appended batch followed by a replay self-heals:
only the missing identities append. Admission verdicts are per-record and
the catalog is read-only state, so unlike drift.py no read-modify-write
versioning is needed; the log itself is the idempotence record (the
streaming/ingest.py seen-log pattern). A log written before pair identity
(rows with dirty_name NULL) is refused at stream start and must be
rebuilt from the dirty feed into an empty log dir.

Scale: per batch, only the ARRIVING records are q-grammed; the catalog
prefix index is computed once per batch from the catalog table (in
production: persisted and broadcast — it is |catalog|×PREFIX_K rows of one
short string). The candidate join inherits the prefix-filter bound, so
per-batch cost is proportional to batch size, never to history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.utils import AnalysisException

from ..operators.resolve import match_names_segments

DIRTY_STREAM_SCHEMA = StructType(
    [
        StructField("dirty_id", LongType()),
        StructField("dirty_name", StringType()),
    ]
)

_LOG_SCHEMA = (
    "dirty_id long, dirty_name string, n_candidates long, best_lev long,"
    " matched_key long, self_match boolean, batch_id long"
)


def read_match_log(spark: SparkSession, log_dir: str) -> DataFrame:
    """The accumulated match log (empty before the first verdict)."""
    try:
        return spark.read.schema(_LOG_SCHEMA).parquet(log_dir)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        return spark.createDataFrame([], _LOG_SCHEMA)


def _normalized(dirty: DataFrame) -> DataFrame:
    """NULL dirty_name → '' at every input boundary. The identity anti-join
    is null-UNSAFE, so a NULL-name record would never match its own logged
    verdict (re-appended on every redelivery) AND its logged row would spoof
    the legacy-log detector, bricking the stream. Normalizing at the
    boundary makes every identity non-null: a NULL-name feed row IS the
    record version with the empty name."""
    return dirty.withColumn("dirty_name", F.coalesce("dirty_name", F.lit("")))


def _complete_verdicts(dirty: DataFrame, catalog_df: DataFrame) -> DataFrame:
    """One verdict row per distinct (dirty_id, dirty_name): the matcher's
    verdict where candidates exist, an n_candidates=0 row (null match
    columns) where none do — the matcher's inner fan-back drops
    zero-candidate records, which would leave their identity unlogged and
    re-match them on every redelivery (round-3 ADVICE)."""
    matched = match_names_segments(dirty, catalog_df, keep_name=True)
    return dirty.join(matched, ["dirty_id", "dirty_name"], "left").select(
        "dirty_id",
        "dirty_name",
        F.coalesce("n_candidates", F.lit(0).cast("long")).alias("n_candidates"),
        "best_lev",
        "matched_key",
        "self_match",
    )


def stream_resolve(
    spark: SparkSession,
    dirty_dir: str,
    catalog_df: DataFrame,
    log_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
):
    """Match arriving dirty records against `catalog_df` (a (p_partkey,
    p_name) relation) and append verdicts to the match log. availableNow
    trigger: drains the backlog, then stops."""
    stream = (
        spark.readStream.schema(DIRTY_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dirty_dir)
    )

    # A pre-pair-identity log reads back with dirty_name=NULL; the
    # null-unsafe pair anti-join in the sink would never match those rows,
    # so every legacy record would silently re-match on redelivery and the
    # log would diverge from batch_equivalent forever. Fail loudly instead
    # (round-4 ADVICE, medium). Checked ONCE at start, not per batch: the
    # sink normalizes names and so never writes a NULL-name row itself — a
    # clean log cannot become legacy mid-stream, and the per-batch probe
    # was one wasted log-scan job per micro-batch.
    if read_match_log(spark, log_dir).where(F.col("dirty_name").isNull()).take(1):
        raise RuntimeError(
            f"match log at {log_dir} contains legacy rows with "
            "dirty_name=NULL (written before pair identity); rebuild the "
            "log from the dirty feed: stream it into an empty log dir"
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        log = read_match_log(sess, log_dir)
        # Identity-based idempotence (NO batch-id comparison — ids renumber
        # from 0 under a replaced checkpoint; see module docstring): only
        # record VERSIONS — (dirty_id, dirty_name) pairs — not already
        # logged are matched and appended, so retries, renumbered batches,
        # partial appends, and updated feed rows all converge to exactly one
        # verdict per record version. Per-batch cost is one anti-join probe
        # of the log's identity columns (in production the log is an indexed
        # table; here a column-pruned parquet scan).
        fresh = _normalized(batch_df).distinct().join(
            log.select("dirty_id", "dirty_name").distinct(),
            ["dirty_id", "dirty_name"],
            "left_anti",
        )
        if not fresh.take(1):
            return  # fully-applied retry — nothing new
        verdicts = _complete_verdicts(fresh, catalog_df)
        verdicts.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(log_dir)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def batch_equivalent(
    spark: SparkSession, dirty_dir: str, catalog_df: DataFrame
) -> DataFrame:
    """What the accumulated log must equal: one batch match over every
    distinct record version that has arrived, zero-candidate verdicts
    included."""
    dirty = _normalized(
        spark.read.schema(DIRTY_STREAM_SCHEMA).parquet(dirty_dir)
    ).distinct()
    return _complete_verdicts(dirty, catalog_df)
