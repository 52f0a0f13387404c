"""Source-analysis aggregations (SURVEY §2 D1-D3, D7-D9, F4).

Re-expresses the reference's per-row accumulator loops as single declarative
aggregations: one parquet scan, map-side partial aggregation, one tiny shuffle
of partial states. At 100 TB this is scan-bound (no wide shuffle — the groupBy
keys here have tiny cardinality), which is the right shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import prepared
from ..views import oracle_cte

# Cumulative size-bucket thresholds in bytes — ListProducer/ListProducer.py:22,
# 60-100 (keys also docs/Schema.txt:27-34). Bucket = count of objects with
# size <= threshold (cumulative, matching the reference's += per threshold).
SIZE_BUCKETS: list[tuple[str, int]] = [
    ("sub_1mb", 1_000_000),
    ("sub_5mb", 5_000_000),
    ("sub_10mb", 10_000_000),
    ("sub_50mb", 50_000_000),
    ("sub_100mb", 100_000_000),
    ("sub_1gb", 1_000_000_000),
    ("sub_5gb", 5_000_000_000),
]


def size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: cumulative size histogram over the source inventory.

    Reference walks every row incrementing 7 cumulative counters
    (ListProducer/ListProducer.py:60-100); here it's one whole-stage-codegen
    aggregate — map-side partials, single-row result, no wide shuffle.
    """
    inv = prepared(spark, sf_dir).table("inventory_src")
    return inv.agg(*size_stats_exprs())


def size_stats_exprs() -> list[Column]:
    """The D1 aggregates: object count, total bytes and one cumulative
    count per SIZE_BUCKETS threshold. Shared by size_histogram and the
    Observation on list_producer's task-store write."""
    return [
        F.count("*").alias("total_objects"),
        F.sum("size").alias("total_size_bytes"),
    ] + [
        F.sum(F.when(F.col("size") <= t, 1).otherwise(0)).alias(name)
        for name, t in SIZE_BUCKETS
    ]


_SIZE_HISTOGRAM_SQL = oracle_cte("inventory_src") + """
SELECT
  count(*) AS total_objects,
  cast(sum(size) AS BIGINT) AS total_size_bytes,
""" + ",\n".join(
    f"  cast(sum(CASE WHEN size <= {t} THEN 1 ELSE 0 END) AS BIGINT) AS {name}"
    for name, t in SIZE_BUCKETS
) + "\nFROM inventory_src"


def inventory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/D3: per-storage-class object counts + total size (stat-merge).

    The reference merges per-file stat dicts (ListProducer.py:135-149) and
    keeps running count/size accumulators (diff_azure_inventory_sqs.py:83-84);
    both are one groupBy over the unioned scan.
    """
    inv = prepared(spark, sf_dir).table("inventory_src")
    return (
        inv.groupBy("storage_class")
        .agg(
            F.count("*").alias("object_count"),
            F.sum("size").alias("total_size"),
            F.sum(F.when(F.col("is_multipart_uploaded") == "true", 1).otherwise(0)).alias(
                "multipart_count"
            ),
        )
    )


_INVENTORY_STATS_SQL = oracle_cte("inventory_src") + """
SELECT storage_class,
       count(*) AS object_count,
       cast(sum(size) AS BIGINT) AS total_size,
       cast(sum(CASE WHEN is_multipart_uploaded = 'true' THEN 1 ELSE 0 END) AS BIGINT) AS multipart_count
FROM inventory_src
GROUP BY storage_class
"""


def progress_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7/D8: global progress + derived throughput.

    UICenter sums success size/num across all TimeUnit-1 stat rows via a full
    paged scan (ddbModel.py:223-250) and derives estimateSpeed (243-246). Here:
    one filter+agg over copy_log, speed as a post-agg scalar expression.
    """
    log = prepared(spark, sf_dir).table("copy_log")
    agg = log.agg(
        F.sum(F.when(F.col("replication_status") == 1, F.col("size")).otherwise(0)).alias(
            "success_size"
        ),
        F.sum(F.when(F.col("replication_status") == 1, 1).otherwise(0)).alias("success_num"),
        F.sum(F.when(F.col("replication_status") == 0, F.col("size")).otherwise(0)).alias(
            "failed_size"
        ),
        F.sum(F.when(F.col("replication_status") == 0, 1).otherwise(0)).alias("failed_num"),
        (
            (F.max("replication_time").cast("long") - F.min("replication_time").cast("long"))
            / 60.0
        ).alias("elapsed_minutes"),
    )
    return agg.select(
        "success_size",
        "success_num",
        "failed_size",
        "failed_num",
        F.round("elapsed_minutes", 4).alias("elapsed_minutes"),
        F.round(F.col("success_size") / F.greatest(F.col("elapsed_minutes"), F.lit(1.0)), 4).alias(
            "bytes_per_minute"
        ),
    )


_PROGRESS_ROLLUP_SQL = oracle_cte("copy_log") + """
WITH_AGG: SELECT
  success_size, success_num, failed_size, failed_num,
  round(elapsed_minutes, 4) AS elapsed_minutes,
  round(success_size / greatest(elapsed_minutes, 1.0), 4) AS bytes_per_minute
FROM (
  SELECT
    cast(sum(CASE WHEN replication_status = 1 THEN size ELSE 0 END) AS BIGINT) AS success_size,
    cast(sum(CASE WHEN replication_status = 1 THEN 1 ELSE 0 END) AS BIGINT) AS success_num,
    cast(sum(CASE WHEN replication_status = 0 THEN size ELSE 0 END) AS BIGINT) AS failed_size,
    cast(sum(CASE WHEN replication_status = 0 THEN 1 ELSE 0 END) AS BIGINT) AS failed_num,
    (epoch_us(max(replication_time)) // 1000000
       - epoch_us(min(replication_time)) // 1000000) / 60.0 AS elapsed_minutes
  FROM copy_log
)
"""


def sync_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 complete: estimateSpeed + ETA against the job total.

    UICenter derives speed = success_bytes / elapsed_minutes and the frontend
    divides remaining bytes by it (ddbModel.py:243-246, common.js:55-65);
    here the manifest total is the inventory sum and the whole derivation is
    one two-source aggregate (both single-row, broadcast-combined).
    """
    spark = prepared(spark, sf_dir)
    inv_total = spark.table("inventory_src").agg(F.sum("size").alias("total_bytes"))
    log = spark.table("copy_log")
    prog = log.agg(
        F.sum(F.when(F.col("replication_status") == 1, F.col("size")).otherwise(0)).alias(
            "done_bytes"
        ),
        (
            (F.max("replication_time").cast("long") - F.min("replication_time").cast("long"))
            / 60.0
        ).alias("elapsed_minutes"),
    )
    joined = prog.crossJoin(F.broadcast(inv_total))
    speed = F.col("done_bytes") / F.greatest(F.col("elapsed_minutes"), F.lit(1.0))
    return joined.select(
        "total_bytes",
        "done_bytes",
        F.round("elapsed_minutes", 4).alias("elapsed_minutes"),
        F.round(speed, 4).alias("bytes_per_minute"),
        F.round(
            (F.col("total_bytes") - F.col("done_bytes")) / F.greatest(speed, F.lit(1.0)), 4
        ).alias("eta_minutes"),
    )


_SYNC_ETA_SQL = oracle_cte("inventory_src", "copy_log") + """
SELECT total_bytes, done_bytes,
       round(elapsed_minutes, 4) AS elapsed_minutes,
       round(done_bytes / greatest(elapsed_minutes, 1.0), 4) AS bytes_per_minute,
       round((total_bytes - done_bytes)
             / greatest(done_bytes / greatest(elapsed_minutes, 1.0), 1.0), 4) AS eta_minutes
FROM (
  SELECT cast(sum(CASE WHEN replication_status = 1 THEN size ELSE 0 END) AS BIGINT) AS done_bytes,
         (epoch_us(max(replication_time)) // 1000000
            - epoch_us(min(replication_time)) // 1000000) / 60.0 AS elapsed_minutes
  FROM copy_log
), (SELECT cast(sum(size) AS BIGINT) AS total_bytes FROM inventory_src)
"""


def status_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9: success/error row counters (AzureEtagCheck/etag_app.py:219-282)."""
    log = prepared(spark, sf_dir).table("copy_log")
    return log.groupBy("replication_status").agg(
        F.count("*").alias("n_rows"), F.sum("size").alias("total_size")
    )


_STATUS_COUNTERS_SQL = oracle_cte("copy_log") + """
SELECT replication_status, count(*) AS n_rows, cast(sum(size) AS BIGINT) AS total_size
FROM copy_log GROUP BY replication_status
"""


def large_object_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: >5 GB outliers (excluded from buckets, ListProducer.py:63-65) —
    these get the separate multipart plan (README.md:13). At scale this is a
    pushed-down parquet min/max-pruned filter, not a full scan."""
    inv = prepared(spark, sf_dir).table("inventory_src")
    return (
        inv.filter(F.col("size") > 5_000_000_000)
        .select("key", "size", "storage_class")
    )


_LARGE_OUTLIERS_SQL = oracle_cte("inventory_src") + """
SELECT key, size, storage_class FROM inventory_src
WHERE size > 5000000000
"""


# --- data_profile: per-column quality/statistics profile ---------------------

# (column, is_numeric) — timestamps excluded: their string rendering is
# engine-specific; epoch projections are profiled elsewhere (min_max_timestamps)
_PROFILE_COLS = [
    ("key", False),
    ("size", True),
    ("storage_class", False),
    ("is_multipart_uploaded", False),
    ("replication_status", False),
]


def data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the inventory snapshot — null counts, distinct
    cardinality, min/max per column — the schema-drift / data-quality gate a
    pipeline runs before trusting a new snapshot drop.

    TWO single-row aggs over the scan, crossJoined (r12): the r11 shape was
    ONE wide agg mixing the five countDistincts with min/max — Catalyst
    plans multi-distinct via Expand (6× rows), and because the fused agg
    buffer then carries min/max over STRING columns (not a mutable
    fixed-size type), every aggregate in the Expand pipeline fell back to
    SortAggregate: a full Sort of the 3.6M expanded wide rows on a 6-part
    key dominated the query (3.4 s of its 3.7 s total, OPTIMIZATION_r12.md).
    Splitting min/max+counts (no Expand, global agg needs no sort) from the
    countDistincts (Expand path, but with count-only buffers every stage is
    a HashAggregate) removes the sort entirely — same scan count per side,
    both results are 1 row, the crossJoin is trivial. min/max computed in
    the column's native type, cast to string only for the canonical layout
    (lexicographic min of casts would be wrong for numerics); the 1-row
    result is unpivoted driver-free with explode."""
    inv = prepared(spark, sf_dir).table("inventory_src")
    plain = [F.count(F.lit(1)).alias("n_rows")]
    for c, _ in _PROFILE_COLS:
        plain += [
            F.count(c).alias(f"{c}__cnt"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    nd = [F.countDistinct(c).alias(f"{c}__nd") for c, _ in _PROFILE_COLS]
    row = inv.agg(*plain).crossJoin(inv.agg(*nd))
    entries = [
        F.struct(
            F.lit(c).alias("col"),
            (F.col("n_rows") - F.col(f"{c}__cnt")).alias("n_null"),
            F.col(f"{c}__nd").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_s"),
            F.col(f"{c}__max").alias("max_s"),
        )
        for c, _ in _PROFILE_COLS
    ]
    return row.select(
        F.explode(F.array(*entries)).alias("kv"), "n_rows"
    ).select("kv.col", "n_rows", "kv.n_null", "kv.n_distinct", "kv.min_s", "kv.max_s")


def _profile_sql() -> str:
    ag = ["count(*) AS n_rows"]
    sel = []
    for c, _ in _PROFILE_COLS:
        ag += [
            f"count({c}) AS {c}__cnt",
            f"count(DISTINCT {c}) AS {c}__nd",
            f"cast(min({c}) AS VARCHAR) AS {c}__min",
            f"cast(max({c}) AS VARCHAR) AS {c}__max",
        ]
        sel.append(
            f"SELECT '{c}' AS col, n_rows, n_rows - {c}__cnt AS n_null,"
            f" {c}__nd AS n_distinct, {c}__min AS min_s, {c}__max AS max_s FROM ag"
        )
    return (
        oracle_cte("inventory_src")
        + ", ag AS (SELECT "
        + ", ".join(ag)
        + " FROM inventory_src)\n"
        + "\nUNION ALL\n".join(sel)
    )


# --- table_checksum: orderless snapshot fingerprint --------------------------

_CHK_HEX = 10  # 40-bit per-row hash: sum over 600k rows < 2^60, no overflow


def checksum_chunk(key="key", size="size", etag="etag"):
    """The per-row 40-bit md5 chunk the fingerprint sums — shared by the batch
    operator below and the incremental stream (streaming/checksum.py), so the
    two can never drift apart."""
    sig = F.md5(F.concat_ws("|", F.col(key), F.col(size).cast("string"), F.col(etag)))
    return F.conv(F.substring(sig, 1, _CHK_HEX), 16, 10).cast("long")


# The fingerprint is the chunk sum reduced mod 2^61. The ACCUMULATION must be
# overflow-free: random 40-bit chunks summed over >2^23 rows exceed a 64-bit
# long in the worst case, which under ANSI mode fails the whole job exactly
# at the scale the operator exists for (measured: 30x sf0.1 = 18M rows
# overflows). Spark accumulates in DECIMAL(38,0) (safe past 10^18 rows);
# DuckDB's sum(BIGINT) already widens to HUGEINT; both reduce mod 2^61 only
# at the end, so every test-scale value is numerically unchanged.
CHECKSUM_MOD = 2**61


def checksum_sum(chunk) -> "F.Column":
    """Overflow-free orderless fingerprint aggregate: sum in decimal, fold
    to [0, 2^61) at the end. (a+b) mod p == ((a mod p)+(b mod p)) mod p, so
    partial fingerprints merge with modular addition (streaming/checksum)."""
    return (
        F.sum(chunk.cast("decimal(38,0)")) % F.lit(CHECKSUM_MOD)
    ).cast("long")


def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orderless content fingerprint of each inventory snapshot — compare two
    copies of a table WITHOUT moving either: per-row 40-bit md5 chunk, summed.
    The sum is commutative/associative → map-side partial aggregation, a
    few-bytes shuffle regardless of table size; at 100 TB each side computes
    its own 2-row result next to its data and only the fingerprints travel.
    This is the sync-verification primitive the reference's etag sampling
    approximates (AzureEtagCheck/etag_app.py:176-192) made exact and cheap."""
    p = prepared(spark, sf_dir)
    out = []
    for side in ("src", "dst"):
        t = p.table(f"inventory_{side}")
        chunk = checksum_chunk()
        out.append(
            t.agg(
                F.lit(side).alias("side"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("size").alias("total_size"),
                checksum_sum(chunk).alias("checksum"),
            )
        )
    return out[0].unionByName(out[1])


def _checksum_sql() -> str:
    from .curation import _hex_bucket_sql

    selects = []
    for side in ("src", "dst"):
        chunk = _hex_bucket_sql("concat(key, '|', cast(size AS VARCHAR), '|', etag)", _CHK_HEX)
        selects.append(
            f"SELECT '{side}' AS side, count(*) AS n_rows,"
            f" cast(sum(size) AS BIGINT) AS total_size,"
            f" cast(sum({chunk}) % {2**61} AS BIGINT) AS checksum FROM inventory_{side}"
        )
    return oracle_cte("inventory_src", "inventory_dst") + "\nUNION ALL\n".join(selects)


# --- schema_drift: snapshot-vs-snapshot profile comparison -------------------


def schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level drift report between the src and dst inventory snapshots:
    null-count, distinct-cardinality, and bounds deltas per shared column —
    the check a sync pipeline runs when a diff looks suspicious ("did the
    upstream exporter change semantics?"). Two single-scan wide aggs (one per
    snapshot), unpivoted and joined on column name — a ≤#columns-row join.
    Distinct-cardinality drift beyond _DRIFT_PCT flags the column."""
    p = prepared(spark, sf_dir)
    sides = {}
    for side in ("src", "dst"):
        inv = p.table(f"inventory_{side}")
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c, _ in _PROFILE_COLS:
            aggs += [
                F.count(c).alias(f"{c}__cnt"),
                F.countDistinct(c).alias(f"{c}__nd"),
            ]
        row = inv.agg(*aggs)
        entries = [
            F.struct(
                F.lit(c).alias("col"),
                (F.col("n_rows") - F.col(f"{c}__cnt")).alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
            )
            for c, _ in _PROFILE_COLS
        ]
        sides[side] = row.select(
            F.explode(F.array(*entries)).alias("kv"), "n_rows"
        ).select(
            "kv.col",
            F.col("n_rows").alias(f"{side}_rows"),
            F.col("kv.n_null").alias(f"{side}_null"),
            F.col("kv.n_distinct").alias(f"{side}_distinct"),
        )
    drift = (
        (F.col("dst_distinct") - F.col("src_distinct")).cast("double")
        / F.greatest(F.col("src_distinct"), F.lit(1)).cast("double")
    )
    return (
        sides["src"]
        .join(sides["dst"], "col")
        .select(
            "col",
            "src_rows",
            "dst_rows",
            "src_null",
            "dst_null",
            "src_distinct",
            "dst_distinct",
            F.round(drift, 6).alias("distinct_drift"),
            (F.abs(drift) > _DRIFT_PCT).alias("drifted"),
        )
    )


_DRIFT_PCT = 0.10


def _schema_drift_sql() -> str:
    per_side = []
    for side in ("src", "dst"):
        ag = ["count(*) AS n_rows"] + [
            x
            for c, _ in _PROFILE_COLS
            for x in (f"count({c}) AS {c}__cnt", f"count(DISTINCT {c}) AS {c}__nd")
        ]
        sel = [
            f"SELECT '{c}' AS col, n_rows AS {side}_rows,"
            f" n_rows - {c}__cnt AS {side}_null, {c}__nd AS {side}_distinct"
            f" FROM ag_{side}"
            for c, _ in _PROFILE_COLS
        ]
        per_side.append(
            f"ag_{side} AS (SELECT {', '.join(ag)} FROM inventory_{side}),\n"
            f"prof_{side} AS ({' UNION ALL '.join(sel)})"
        )
    drift = (
        "cast(dst_distinct - src_distinct AS DOUBLE)"
        " / cast(greatest(src_distinct, 1) AS DOUBLE)"
    )
    return (
        oracle_cte("inventory_src", "inventory_dst")
        + ", "
        + ",\n".join(per_side)
        + f"""
SELECT col, src_rows, dst_rows, src_null, dst_null, src_distinct, dst_distinct,
       round({drift}, 6) AS distinct_drift,
       abs({drift}) > {_DRIFT_PCT} AS drifted
FROM prof_src JOIN prof_dst USING (col)
"""
    )


# --- quantile_sketch: mergeable log-bin histogram quantiles ------------------

_QS_QUANTILES = (50, 90, 99)


def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate size quantiles from a mergeable log₂-bin histogram — the
    sketch-shaped alternative to exact percentiles: one map-side-combinable
    groupBy over ~40 buckets of fixed state, no global order anywhere (exact
    percentiles need one — see size_percentiles/prefix for that path). The
    estimate is the upper bound of the first bucket whose cumulative count
    reaches q·n: deterministic, so the whole ESTIMATE is oracle-checkable —
    unlike engine-native t-digest/GK sketches whose internals differ.
    Per-bucket error is bounded by the log₂ bin width (≤2× on size)."""
    inv = prepared(spark, sf_dir).table("inventory_src")
    # floor(log2(x)) via binary-string length — integer-exact in both engines
    # (Spark's log2 is ln(x)/ln(2), whose 1-ulp error flips floor at powers
    # of two; bit length cannot)
    bucket = (F.length(F.bin(F.greatest(F.col("size"), F.lit(1)))) - 1).cast("long")
    hist = (
        inv.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    # ~40 buckets total: the single-partition window is over sketch state,
    # not data — the same driver-sized merge every sketch implementation does
    cum = hist.withColumn("cum", F.sum("n").over(w)).crossJoin(
        F.broadcast(inv.agg(F.count(F.lit(1)).alias("n_total")))
    )
    out = None
    for q in _QS_QUANTILES:
        est = (
            cum.filter(F.col("cum") * 100 >= F.col("n_total") * q)
            .groupBy()
            .agg(F.min("bucket").alias("bucket"))
            # empty corpus: the agg-over-nothing row carries a NULL bucket —
            # no data, no estimate (oracle mirrors via HAVING)
            .filter(F.col("bucket").isNotNull())
            .select(
                F.lit(q).alias("q"),
                "bucket",
                (F.pow(F.lit(2.0), F.col("bucket") + 1) - 1).cast("long").alias("size_upper"),
            )
        )
        out = est if out is None else out.unionByName(est)
    return out


def _quantile_sketch_sql() -> str:
    selects = []
    for q in _QS_QUANTILES:
        selects.append(
            f"""
SELECT {q} AS q, min(bucket) AS bucket,
       cast(pow(2.0, min(bucket) + 1) - 1 AS BIGINT) AS size_upper
FROM cum WHERE cum * 100 >= n_total * {q}
HAVING min(bucket) IS NOT NULL"""
        )
    return (
        oracle_cte("inventory_src")
        + f"""
, hist AS (
  SELECT cast(length(bin(greatest(size, 1))) - 1 AS BIGINT) AS bucket, count(*) AS n
  FROM inventory_src GROUP BY 1
),
cum AS (
  SELECT bucket, n, sum(n) OVER (ORDER BY bucket) AS cum,
         (SELECT count(*) FROM inventory_src) AS n_total
  FROM hist
)
"""
        + "\nUNION ALL\n".join(selects)
    )


# --- layout_advisor: partitioning recommendations from table stats ----------

TARGET_FILE_BYTES = 512 * 1024 * 1024  # parquet file target (~512 MB)
TARGET_TASK_BYTES = 128 * 1024 * 1024  # shuffle-partition target (~128 MB)
_BUCKET_UNIT = 1 << 30  # one bucket per GiB, rounded up to a power of two
_POW2_MAX = 30


def _pow2_ceil_cases(expr: str) -> str:
    """Smallest power of two >= expr as a generated CASE ladder — exact
    integer comparison in both engines (log2+ceil would ride libm's last
    ulp across engines)."""
    whens = " ".join(
        f"WHEN {expr} <= {1 << k} THEN {1 << k}" for k in range(_POW2_MAX + 1)
    )
    return f"(CASE {whens} ELSE {1 << (_POW2_MAX + 1)} END)"


def layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout recommendation from one stats pass over the inventory:
    how many ~512 MB files to write, how many ~128 MB shuffle partitions to
    configure, and the power-of-two bucket count for the key-bucketed layout
    SCALING.md measures (one bucket per GiB, rounded up) — the knobs the
    brief says to size so partitions fit executor memory at the target SF.
    Everything is exact integer arithmetic (ceil-div via (a+b-1) div b and a
    generated power-of-two CASE ladder), so the advice is engine-identical
    at any byte scale."""
    inv = prepared(spark, sf_dir).table("inventory_src")
    agg = inv.agg(
        F.count("*").alias("n_objects"), F.sum("size").alias("total_bytes")
    )
    # exact integer ceil-div (`div`, not `/` — a double quotient can land a
    # last-ulp away from DuckDB's integer `//` at scale)
    ceil_div = lambda a, b: F.expr(f"({a} + {b - 1}) div {b}")  # noqa: E731
    n_files = F.greatest(F.lit(1).cast("long"), ceil_div("total_bytes", TARGET_FILE_BYTES))
    n_parts = F.greatest(F.lit(1).cast("long"), ceil_div("total_bytes", TARGET_TASK_BYTES))
    n_gib = F.greatest(F.lit(1).cast("long"), ceil_div("total_bytes", _BUCKET_UNIT))
    out = agg.select(
        "n_objects",
        "total_bytes",
        n_files.alias("n_files_512mb"),
        n_parts.alias("shuffle_partitions_128mb"),
        n_gib.alias("n_gib_ceil"),
    )
    return out.selectExpr(
        "n_objects",
        "total_bytes",
        "n_files_512mb",
        "shuffle_partitions_128mb",
        f"CAST({_pow2_ceil_cases('n_gib_ceil')} AS BIGINT) AS bucket_count",
    )


def _layout_advisor_sql() -> str:
    from ..views import oracle_cte

    return oracle_cte("inventory_src") + f"""
, agg AS (
  SELECT count(*) AS n_objects, cast(sum(size) AS BIGINT) AS total_bytes
  FROM inventory_src
),
derived AS (
  SELECT n_objects, total_bytes,
         greatest(1, (total_bytes + {TARGET_FILE_BYTES - 1}) // {TARGET_FILE_BYTES}) AS n_files_512mb,
         greatest(1, (total_bytes + {TARGET_TASK_BYTES - 1}) // {TARGET_TASK_BYTES}) AS shuffle_partitions_128mb,
         greatest(1, (total_bytes + {_BUCKET_UNIT - 1}) // {_BUCKET_UNIT}) AS n_gib_ceil
  FROM agg
)
SELECT n_objects, total_bytes,
       cast(n_files_512mb AS BIGINT) AS n_files_512mb,
       cast(shuffle_partitions_128mb AS BIGINT) AS shuffle_partitions_128mb,
       cast({_pow2_ceil_cases('n_gib_ceil')} AS BIGINT) AS bucket_count
FROM derived
"""


def listing_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory data-quality audit: duplicate key listings per snapshot
    side. A real S3 inventory lists each key once; eventual-consistency
    windows and mid-listing mutations produce duplicates that silently
    corrupt downstream window/run logic (collapse_runs dedupes them first
    for exactly this reason — and the sf0.001 fixture genuinely contains
    one). One map-side-combinable groupBy(side, key) + a 2-row rollup."""
    sp = prepared(spark, sf_dir)
    src = sp.table("inventory_src").select(F.lit("src").alias("side"), "key")
    dst = sp.table("inventory_dst").select(F.lit("dst").alias("side"), "key")
    per_key = (
        src.unionByName(dst).groupBy("side", "key").agg(F.count("*").alias("n"))
    )
    return per_key.groupBy("side").agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("dup_keys"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0)).alias("extra_rows"),
    )


def _listing_anomalies_sql() -> str:
    from ..views import oracle_cte

    return oracle_cte("inventory_src", "inventory_dst") + """
, per_key AS (
  SELECT side, key, count(*) AS n FROM (
    SELECT 'src' AS side, key FROM inventory_src
    UNION ALL
    SELECT 'dst' AS side, key FROM inventory_dst
  ) GROUP BY side, key
)
SELECT side,
       count(*) AS n_keys,
       cast(sum(n) AS BIGINT) AS n_rows,
       cast(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_keys,
       cast(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS extra_rows
FROM per_key GROUP BY side
"""


QUERIES = {
    "layout_advisor": layout_advisor,
    "listing_anomalies": listing_anomalies,
    "size_histogram": size_histogram,
    "inventory_stats": inventory_stats,
    "progress_rollup": progress_rollup,
    "sync_eta": sync_eta,
    "status_counters": status_counters,
    "large_object_outliers": large_object_outliers,
    "data_profile": data_profile,
    "table_checksum": table_checksum,
    "schema_drift": schema_drift,
    "quantile_sketch": quantile_sketch,
}

ORACLES = {
    "layout_advisor": _layout_advisor_sql(),
    "listing_anomalies": _listing_anomalies_sql(),
    "size_histogram": _SIZE_HISTOGRAM_SQL,
    "inventory_stats": _INVENTORY_STATS_SQL,
    "progress_rollup": _PROGRESS_ROLLUP_SQL.replace("WITH_AGG: ", ""),
    "sync_eta": _SYNC_ETA_SQL,
    "status_counters": _STATUS_COUNTERS_SQL,
    "large_object_outliers": _LARGE_OUTLIERS_SQL,
    "data_profile": _profile_sql(),
    "table_checksum": _checksum_sql(),
    "schema_drift": _schema_drift_sql(),
    "quantile_sketch": _quantile_sketch_sql(),
}
