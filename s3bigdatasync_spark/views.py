"""Portable derived views: reference-native tables from the testdata star schema.

The driver's correctness gate runs our Spark queries against DuckDB oracle SQL
on the same parquet tables, so every reference-native input table
(`FIXTURES.md §2`) is derived with ONE portable SQL text that parses and
evaluates identically in Spark SQL and DuckDB. The Spark side registers these
as temp views; the oracle side inlines them as CTEs.

Portability rules (validated in tests/test_views.py):
  * double→int conversion always goes through floor()/round() — DuckDB rounds
    on CAST, Spark truncates.
  * CAST(x AS STRING) is accepted by both dialects.
  * md5(), concat(), date_trunc('unit', ts), %, CASE are identical.
  * No strftime/date_format/epoch in view text (dialects differ).

Reference schemas being modeled (cited file:line into /root/reference):
  * s3_inventory        ListProducer/manifest.json:6, ListProducer/ListProducer.py:44-58
  * copy_log (monitor)  TaskMonitor/ddb.yaml:40-55, TaskMonitor/s3_monitor_prepare.py:162-180
  * azure_inventory_diff AzureTaskProducer/diff_azure_inventory_sqs.py:26-35
  * etag_check_input    AzureEtagCheck/etag_app.py:176-192
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType, LongType, StructField, StructType, TimestampNTZType

BASE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# (l_orderkey, l_linenumber) alone is NOT unique in the testdata; the
# 4-column composite is unique at sf0.01/sf0.1 but NOT at sf0.001 (6,000 rows,
# 5,999 distinct — the colliding pair differs in l_extendedprice, hence in
# derived size). Every global-order consumer therefore sorts by (key, size),
# which IS a total order at every sf — pinned by
# tests/test_determinism.py::test_order_key_tiebreak_unique_at_every_sf.
# listing_anomalies deliberately exploits the sf0.001 duplicate.
_KEY = (
    "concat(cast(l_orderkey AS STRING), '/', cast(l_linenumber AS STRING), "
    "'/', cast(l_partkey AS STRING), '-', cast(l_suppkey AS STRING))"
)

# Object size in bytes. Exact-integer arithmetic (floor before multiply) so
# Spark and DuckDB agree bit-for-bit; the (l_orderkey % 997 + 1) factor spreads
# sizes across every reference histogram bucket boundary (1e6 … 5e9 bytes,
# ListProducer/ListProducer.py:63-100) including >5 GB outliers.
_SIZE = "cast(floor(l_extendedprice * 100) AS BIGINT) * ((l_orderkey % 997) + 1)"

# --- s3_inventory: src and dst snapshots -----------------------------------
# One row per "object". key/size/etag/storage_class/flags per the inventory
# fileSchema (ListProducer/manifest.json:6); stringly 'true'/'false' multipart
# flag and ''-vs-set replication status per TaskExecutor/TaskExecutor.py:58-64.
INVENTORY_SRC_SQL = f"""
SELECT
  'src-bucket' AS bucket,
  {_KEY} AS key,
  {_SIZE} AS size,
  l_shipdate AS last_modified,
  md5({_KEY}) AS etag,
  CASE cast(l_suppkey % 3 AS INT)
    WHEN 0 THEN 'STANDARD' WHEN 1 THEN 'STANDARD_IA' ELSE 'GLACIER'
  END AS storage_class,
  CASE WHEN l_quantity > 25 THEN 'true' ELSE 'false' END AS is_multipart_uploaded,
  CASE WHEN l_returnflag = 'N' THEN '' ELSE 'COMPLETED' END AS replication_status
FROM lineitem
""".strip()

# dst snapshot: drops every linenumber=1 object (→ "New" in the diff) and
# drifts etag+size where l_returnflag='R' (→ "Update"); objects only in dst
# (l_linenumber = 7 ∧ flag N re-keyed) become "Delete".
INVENTORY_DST_SQL = f"""
SELECT
  'dst-bucket' AS bucket,
  CASE WHEN l_linenumber = 7 AND l_returnflag = 'N'
       THEN concat({_KEY}, '/dst-only') ELSE {_KEY} END AS key,
  CASE WHEN l_returnflag = 'R'
       THEN {_SIZE} + 17
       ELSE {_SIZE} END AS size,
  l_shipdate AS last_modified,
  CASE WHEN l_returnflag = 'R'
       THEN md5(concat({_KEY}, '#v2')) ELSE md5({_KEY}) END AS etag,
  CASE cast(l_suppkey % 3 AS INT)
    WHEN 0 THEN 'STANDARD' WHEN 1 THEN 'STANDARD_IA' ELSE 'GLACIER'
  END AS storage_class,
  CASE WHEN l_quantity > 25 THEN 'true' ELSE 'false' END AS is_multipart_uploaded,
  CASE WHEN l_returnflag = 'N' THEN '' ELSE 'COMPLETED' END AS replication_status
FROM lineitem
WHERE l_linenumber <> 1
""".strip()

# --- copy_log: one row per attempted object copy ----------------------------
# Monitor-table semantics (status 1 success / 0 failed, docs/Schema.txt:46-62)
# over the events stream.
COPY_LOG_SQL = """
SELECT
  cast(user_id AS STRING) AS object_key,
  ts AS replication_time,
  CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END AS replication_status,
  cast(floor(value * 1000000) AS BIGINT) AS size,
  ts AS last_modified,
  md5(cast(event_id AS STRING)) AS etag,
  CASE WHEN event_type = 'purchase' THEN 'STANDARD_IA' ELSE 'STANDARD' END AS storage_class,
  event_type = 'purchase' AS is_multipart_uploaded
FROM events
""".strip()

# --- azure_inventory_diff: diff rows with Variance ---------------------------
# Schema per AzureTaskProducer/diff_azure_inventory_sqs.py:26-35; Variance is
# mixed-case on purpose to exercise the .upper() branch (diff:60-63).
AZURE_DIFF_SQL = f"""
SELECT
  concat('acct', cast(l_suppkey % 5 AS STRING)) AS storage_account,
  concat('data/', {_KEY}) AS name,
  l_shipdate AS creation_time,
  l_shipdate AS last_modified,
  md5({_KEY}) AS etag,
  {_SIZE} AS content_length,
  CASE
    WHEN l_returnflag = 'R' AND l_linenumber % 2 = 0 THEN 'Delete'
    WHEN l_returnflag = 'R' THEN 'delete'
    WHEN l_returnflag = 'A' THEN 'Update'
    WHEN l_linenumber % 2 = 0 THEN 'New'
    ELSE 'new'
  END AS variance
FROM lineitem
""".strip()

# --- etag_check_input: verification worklist + paired metadata --------------
# Worklist columns per AzureEtagCheck/etag_app.py:176-192 (nullable s3_key →
# coalesce, etag_app.py:185-187); paired s3/blob metadata for the J5 compare
# (mtime/size checks etag_app.py:93-94); part geometry covers single-part,
# exact-multiple, and remainder cases (etag_app.py:38-52).
ETAG_CHECK_INPUT_SQL = """
SELECT
  concat('sa', cast(s_suppkey % 4 AS STRING)) AS storage_account,
  'container1' AS container_name,
  p_name AS blob_name,
  'dst-bucket' AS s3_bucket,
  CASE WHEN p_partkey % 10 = 0 THEN NULL ELSE p_name END AS s3_key,
  cast(p_partkey * 100 AS BIGINT) AS s3_mtime,
  cast(p_size AS BIGINT) * 3000000 + cast(p_partkey % 7 AS BIGINT) AS s3_size,
  CASE WHEN p_partkey % 11 = 0
       THEN cast(p_partkey * 100 + 60 AS BIGINT)
       ELSE cast(p_partkey * 100 AS BIGINT) END AS blob_mtime,
  CASE WHEN p_partkey % 13 = 0
       THEN cast(p_size AS BIGINT) * 3000000 + cast(p_partkey % 7 AS BIGINT) + 1
       ELSE cast(p_size AS BIGINT) * 3000000 + cast(p_partkey % 7 AS BIGINT) END AS blob_size,
  cast(8388608 AS BIGINT) AS part_size
FROM part
JOIN supplier ON (p_partkey % 100) + 1 = s_suppkey
""".strip()

DERIVED_VIEWS: dict[str, str] = {
    "inventory_src": INVENTORY_SRC_SQL,
    "inventory_dst": INVENTORY_DST_SQL,
    "copy_log": COPY_LOG_SQL,
    "azure_inventory_diff": AZURE_DIFF_SQL,
    "etag_check_input": ETAG_CHECK_INPUT_SQL,
}


class Footer(NamedTuple):
    """A parquet table as its footers describe it (see parquet_footer)."""

    schema: StructType  # the file columns, declared as the file source infers them
    nanos: list[str]  # TIMESTAMP(NANOS) columns, declared as long
    partitions: list[str]  # hive-style `k=v` directory columns (the read adds them)
    size: int  # bytes over every data file
    rows: int  # rows over every data file
    row_groups: int  # row groups over every data file


def parquet_footer(path: str) -> Footer:
    """Describe the table at `path` from its parquet footers alone: no Spark
    job. A table is one parquet file (the testdata layout) or a directory of
    part files as Spark writes them: names starting with `_` or `.` are not
    data (`_SUCCESS`, `.crc`, `_temporary`), `k=v` subdirectories are
    partitions. The first data file's footer speaks for the schema; bytes,
    rows and row groups sum over all of them. A directory with no data file
    is an empty schema; a missing path is a directory with no data file.

    The schema is what Spark's parquet inference gives (`from_arrow_type`;
    micros/millis timestamps without UTC adjustment are NTZ), except that a
    TIMESTAMP(NANOS) column, which Spark has no type for, is declared `long`
    as `spark.sql.legacy.parquet.nanosAsLong` reads it. Every field is
    nullable, as the file source makes it."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat
    from pyspark.sql.pandas.types import from_arrow_type

    files = [path] if os.path.isfile(path) else []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        files += sorted(os.path.join(root, n) for n in names if not n.startswith(("_", ".")))
    metas = [pq.read_metadata(f) for f in files]
    arrow = metas[0].schema.to_arrow_schema() if metas else []
    nanos = [f.name for f in arrow if pat.is_timestamp(f.type) and f.type.unit == "ns"]
    schema = StructType(
        [
            StructField(f.name, LongType() if f.name in nanos else from_arrow_type(f.type, True))
            for f in arrow
        ]
    )
    parts = os.path.relpath(os.path.dirname(files[0]), path).split(os.sep) if metas else []
    return Footer(
        schema,
        nanos,
        [p.split("=", 1)[0] for p in parts if "=" in p],
        sum(os.path.getsize(f) for f in files),
        sum(m.num_rows for m in metas),
        sum(m.num_row_groups for m in metas),
    )


# Rebalance low-parallelism base scans at registration time. Parquet row
# groups are the unit of scan parallelism, so a file with few row groups (the
# testbed's single-row-group tables) hands the ENTIRE scan — and every
# expression fused into the scan stage by the derived views (md5 etag
# derivations, regex projections, Expand for multi-distinct) — to ONE task,
# stranding the other cores. Registering the base table behind one round-robin
# exchange of the raw columns lets all downstream view expressions compute
# cores-wide. Guarded three ways so it is a NO-OP anywhere it isn't needed:
#   * scans of >= defaultParallelism/2 row groups, summed over the footers
#     (every real cluster scale — 100 TB holds thousands of row groups), skip
#     it: counted from the footers, not from the scan's splits, whose
#     planning costs ~1 s on a cold JVM and which overstate parallelism when
#     a large single-row-group file splits into byte ranges only one of
#     which holds data;
#   * tiny dimension tables (< _WIDEN_MIN_BYTES summed over the data files,
#     so a directory of part files is sized like one file) skip it, so
#     broadcast dims don't pay a shuffle stage;
#   * tests/test_plans.py flips WIDEN_SMALL_SCANS off to pin the pure plan
#     shapes — exactly the shapes that run at scale.
WIDEN_SMALL_SCANS = True
# r12: 1 MiB left the 0.6 MB documents table — whose rows explode 100-300×
# into shingles/grams/minhashes downstream — on ONE core for the whole text
# family (the scan stage carries every fused map expression). 512 KiB keeps
# true broadcast dims (customer 0.3 MB, part 0.2 MB, nation/region/supplier)
# narrow while giving the text corpus cores-wide map stages: measured
# (N=3 medians, sf0.1) minhash_lsh_pairs 2.18→0.88, incremental_neardup
# 2.42→0.85, boilerplate_report 2.02→1.26, shared_substring_spans
# 1.89→1.02, bpe_merges 3.35→1.55 with identical results.
_WIDEN_MIN_BYTES = 512 * 1024
# Vector tables (array-typed columns) feed Arrow/pandas kernels that want
# batch-sized inputs: shredding a sub-batch table (< one
# arrow.maxRecordsPerBatch of rows) across cores multiplies Python worker
# round-trips instead of adding parallelism — measured pq_encode 1.56→2.50
# and coreset_kcenter 2.14→3.25 when the 2k-row embeddings table was
# widened. At production scale vector tables far exceed one batch per core
# and the narrow-scan guard below makes this moot.
_WIDEN_MIN_VECTOR_ROWS = 10_000


def _widen_if_narrow(spark: SparkSession, df, footer: Footer):
    if not WIDEN_SMALL_SCANS:
        return df
    target = spark.sparkContext.defaultParallelism
    if footer.size < _WIDEN_MIN_BYTES or footer.row_groups * 2 >= target:
        return df
    is_vector = any(isinstance(f.dataType, ArrayType) for f in footer.schema)
    if is_vector and footer.rows < _WIDEN_MIN_VECTOR_ROWS:
        return df
    return df.repartition(target)


def register_base_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register the testdata parquet tables as temp views (idempotent).

    Each table is read with the schema its parquet footer declares
    (parquet_footer), so registration runs no Spark job: an inferred
    `spark.read.parquet` runs one schema-inference job per table. The
    declared schema is the inferred one, so every plan below a view is
    unchanged."""
    from pyspark.sql import functions as F

    # The driver may hand us a vanilla session; these must hold regardless.
    # nanosAsLong: testdata parquet uses TIMESTAMP(NANOS) which Spark cannot
    # read natively. UTC: oracle comparability / location-independence.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    for name in BASE_TABLES:
        path = f"{sf_dir}/{name}.parquet"
        footer = parquet_footer(path)
        if not footer.schema:
            raise FileNotFoundError(f"no parquet data file at {path}")
        df = spark.read.schema(footer.schema).parquet(path)
        for c in footer.nanos:
            # integer division keeps full precision (nanos ~1.7e18 exceeds
            # double's 53-bit mantissa); truncation matches DuckDB ns→us.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        for f in df.schema.fields:
            # micros/millis parquet without UTC adjustment reads as NTZ, which
            # Spark refuses to cast to epoch seconds; normalize to LTZ (session
            # tz is UTC, so wall-clock values are unchanged).
            if isinstance(f.dataType, TimestampNTZType):
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        df = _widen_if_narrow(spark, df, footer)
        df.createOrReplaceTempView(name)


def register_derived_views(spark: SparkSession) -> None:
    """Register the reference-native derived views on top of the base tables."""
    for name, sql in DERIVED_VIEWS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {sql}")


def register_all(spark: SparkSession, sf_dir: str) -> None:
    register_base_tables(spark, sf_dir)
    register_derived_views(spark)


def oracle_cte(*views: str) -> str:
    """WITH-clause prefix inlining the named derived views for DuckDB oracle SQL.

    The oracle runs against the same base parquet views the driver registers,
    so the CTE text is exactly the Spark view text — one source of truth.
    """
    parts = [f"{name} AS ({DERIVED_VIEWS[name]})" for name in views]
    return "WITH " + ",\n".join(parts) + "\n"
