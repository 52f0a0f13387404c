"""Incremental table-fingerprint maintenance — the streaming leg of
operators/stats.table_checksum.

The batch operator fingerprints a snapshot in one pass; at 100 TB you don't
want to re-scan the table every time new inventory files land. Because the
fingerprint is a commutative/associative SUM of per-row 40-bit md5 chunks,
it is exactly incrementalizable: each micro-batch contributes its partial
(n_rows, total_size, checksum) and the running state is the element-wise sum
(the checksum modulo CHECKSUM_MOD, which is associative over residues).
The parity oracle (tests/test_stream_checksum.py) pins

    stream-over-appends state  ==  batch table_checksum over everything seen

after every round of appends.

Exactly-once: the state is drift.versioned_count_sink's with no key — one
row, committed as a new version through streaming/commit.py, with the
applied-files log as the idempotence record. A retried batch, or every old
file re-listed under a replaced checkpoint, contributes nothing; a new file
counts once whatever batch id it rides. (A batch-id guard cannot do that:
batch ids restart at 0 under a replaced checkpoint, so a new file riding a
renumbered batch would be skipped.) A state dir of the older single-row
layout (bare parquet, no meta) raises ValueError: rebuild it by draining
the inventory into an empty state dir.

Scale: per-batch work is one map-side-combinable agg over the new files only
plus the files log; the state is ONE row regardless of table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.stats import checksum_chunk, checksum_sum
from .drift import read_versioned_counts, versioned_count_sink

INVENTORY_STREAM_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("size", LongType()),
        StructField("etag", StringType()),
    ]
)

_STATE_SCHEMA = "n_rows long, total_size long, checksum long"


def _fingerprint(df: DataFrame) -> DataFrame:
    """The one-row (n_rows, total_size, checksum) of `df`."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum("size"), F.lit(0)).alias("total_size"),
        F.coalesce(checksum_sum(checksum_chunk()), F.lit(0)).alias("checksum"),
    )


def read_state(spark: SparkSession, state_dir: str):
    """Current running fingerprint (zeros before the first batch)."""
    rows = read_versioned_counts(spark, state_dir, _STATE_SCHEMA).collect()
    if not rows:
        return {"n_rows": 0, "total_size": 0, "checksum": 0}
    return rows[0].asDict()


def _sink(state_dir: str):
    """The foreachBatch sink: the one-row state, merged under the versioned
    commit."""
    return versioned_count_sink(
        state_dir,
        _STATE_SCHEMA,
        [],
        _fingerprint,
        agg_exprs=[
            F.sum("n_rows").alias("n_rows"),
            F.sum("total_size").alias("total_size"),
            # modular addition: (a+b) mod p == ((a mod p)+(b mod p)) mod p
            checksum_sum(F.col("checksum")).alias("checksum"),
        ],
    )


def stream_table_checksum(
    spark: SparkSession,
    inventory_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
):
    """Maintain the running fingerprint over an append-only inventory dir.
    Returns the StreamingQuery (availableNow trigger: drains the backlog,
    then stops — re-run on the same checkpoint to pick up new files)."""
    stream = (
        spark.readStream.schema(INVENTORY_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(inventory_dir)
    )
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink(state_dir))
        .trigger(availableNow=True)
        .start()
    )


def batch_equivalent(spark: SparkSession, inventory_dir: str) -> dict:
    """What the running state must equal: one batch pass over everything."""
    df = spark.read.schema(INVENTORY_STREAM_SCHEMA).parquet(inventory_dir)
    return _fingerprint(df).collect()[0].asDict()
