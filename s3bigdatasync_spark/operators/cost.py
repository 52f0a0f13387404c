"""Transfer-cost estimation + incremental diff (reference README.md:4 goals
2 and 4: "decompose transfer into parallel tasks … quantify cost").

The reference *declares* cost quantification but ships no implementation;
these operators make it concrete over the J4 diff:

  transfer_cost_estimate — bytes/requests per variance class priced with a
      simple published-rate model (cross-region $/GB + per-request fee +
      multipart overhead for >5 GB objects). Integer/decimal-free arithmetic
      with explicit rounding so the oracle agrees bitwise.
  inventory_diff_incremental — the diff restricted to objects modified since
      a cutoff: the watermark-pruned form of J4. At 100 TB with
      date-partitioned inventories this prunes to the touched partitions
      (PartitionFilters in the scan) instead of re-diffing the world.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import prepared
from .joins import _diff_base, diff_kernel
from .prefix import load_table_layout, with_global_order
from ..views import oracle_cte

# Simple public-rate-shaped constants (illustrative, not a price sheet).
USD_PER_GB = 0.02
USD_PER_1K_REQUESTS = 0.005
MULTIPART_PART_BYTES = 5 * 1024**3  # one request per started 5 GB part


def transfer_cost_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost rollup per variance class: bytes to move, request count
    (multipart-aware), and a priced estimate."""
    d = _diff_base(spark, sf_dir)
    moved = F.when(F.col("variance").isin("New", "Update"), F.col("src_size")).otherwise(0)
    requests = F.when(
        F.col("variance").isin("New", "Update"),
        F.greatest(F.ceil(F.col("src_size") / F.lit(MULTIPART_PART_BYTES)), F.lit(1)),
    ).otherwise(F.lit(1))  # deletes are one request
    agg = d.groupBy("variance").agg(
        F.count("*").alias("n_objects"),
        F.sum(moved).alias("bytes_to_move"),
        F.sum(requests).cast("long").alias("n_requests"),
    )
    cost = F.round(
        F.col("bytes_to_move") / (1024.0**3) * USD_PER_GB
        + F.col("n_requests") / 1000.0 * USD_PER_1K_REQUESTS,
        6,
    )
    return agg.select("variance", "n_objects", "bytes_to_move", "n_requests", cost.alias("est_usd"))


_DIFF_CTE = """
, src AS (SELECT key, size AS src_size, etag AS src_etag FROM inventory_src),
  dst AS (SELECT key, size AS dst_size, etag AS dst_etag FROM inventory_dst),
  diff AS (
    SELECT coalesce(src.key, dst.key) AS key, src_size, dst_size,
           CASE WHEN dst_etag IS NULL THEN 'New'
                WHEN src_etag IS NULL THEN 'Delete'
                WHEN src_etag <> dst_etag OR src_size <> dst_size THEN 'Update'
                ELSE 'Same' END AS variance
    FROM src FULL OUTER JOIN dst ON src.key = dst.key
  ), changes AS (SELECT * FROM diff WHERE variance <> 'Same')
"""

_COST_SQL = oracle_cte("inventory_src", "inventory_dst") + _DIFF_CTE + f"""
SELECT variance,
       count(*) AS n_objects,
       cast(sum(CASE WHEN variance IN ('New','Update') THEN src_size ELSE 0 END) AS BIGINT)
         AS bytes_to_move,
       cast(sum(CASE WHEN variance IN ('New','Update')
                     THEN greatest(cast(ceil(src_size / {MULTIPART_PART_BYTES}.0) AS BIGINT), 1)
                     ELSE 1 END) AS BIGINT) AS n_requests,
       round(sum(CASE WHEN variance IN ('New','Update') THEN src_size ELSE 0 END) / ({1024.0**3})
               * {USD_PER_GB}
             + sum(CASE WHEN variance IN ('New','Update')
                        THEN greatest(cast(ceil(src_size / {MULTIPART_PART_BYTES}.0) AS BIGINT), 1)
                        ELSE 1 END) / 1000.0 * {USD_PER_1K_REQUESTS}, 6) AS est_usd
FROM changes
GROUP BY variance
"""

INCREMENTAL_CUTOFF = "1999-01-01 00:00:00"  # splits the 1995-2001 shipdate range


def inventory_diff_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-pruned J4: only objects modified since the cutoff enter the
    join. The filter lands in the scan (DataFilters; with date-partitioned
    inventories, PartitionFilters) — the incremental-sync query shape."""
    spark = prepared(spark, sf_dir)
    since = F.col("last_modified") >= F.lit(INCREMENTAL_CUTOFF).cast("timestamp")
    return diff_kernel(
        spark.table("inventory_src").filter(since),
        spark.table("inventory_dst").filter(since),
    )


_INCREMENTAL_SQL = oracle_cte("inventory_src", "inventory_dst") + f"""
, src AS (SELECT key, size AS src_size, etag AS src_etag FROM inventory_src
          WHERE last_modified >= TIMESTAMP '{INCREMENTAL_CUTOFF}'),
  dst AS (SELECT key, size AS dst_size, etag AS dst_etag FROM inventory_dst
          WHERE last_modified >= TIMESTAMP '{INCREMENTAL_CUTOFF}')
SELECT coalesce(src.key, dst.key) AS key, src_size, dst_size,
       CASE WHEN dst_etag IS NULL THEN 'New'
            WHEN src_etag IS NULL THEN 'Delete'
            WHEN src_etag <> dst_etag OR src_size <> dst_size THEN 'Update'
       END AS variance
FROM src FULL OUTER JOIN dst ON src.key = dst.key
WHERE (CASE WHEN dst_etag IS NULL THEN 'New'
            WHEN src_etag IS NULL THEN 'Delete'
            WHEN src_etag <> dst_etag OR src_size <> dst_size THEN 'Update'
            ELSE 'Same' END) <> 'Same'
"""

TARGET_FILE_BYTES = 512 * 1024 * 1024


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: assign objects to ~512 MB output bins
    by running-size prefix sums (the planning half of an OPTIMIZE/compact
    job; execution is a partitioned rewrite).

    DISTRIBUTED prefix sum, not a single-partition global window: range-
    partition by key, local running sums per partition, then add per-
    partition offsets (a ≤#partitions-row driver list — the one legitimate
    collect). Result is identical to the global window (prefix sums are
    associative), which the unsorted-GROUP-BY-free oracle pins; wall-clock
    stays flat as data grows instead of serializing on one task.
    """
    # a maintained range layout (sf_dir/_layouts/inventory_src + manifest)
    # supplies the boundaries and per-range sums — boundary-discovery job gone
    layout = load_table_layout(spark, sf_dir, "inventory_src", ["key", "size"], sum_col="size")
    if layout is not None:
        ranked = with_global_order(
            layout[0].select("key", "size"), ["key", "size"], sum_col="size", ranges=layout[1]
        )
    else:
        inv = prepared(spark, sf_dir).table("inventory_src").select("key", "size")
        # (key, size) is a total order here: key collides only at sf0.001
        # (views.py key-uniqueness note) and the colliding rows differ in size —
        # the tiebreaker keeps the prefix sum engine-unambiguous at every sf.
        ranked = with_global_order(inv, ["key", "size"], sum_col="size")
    # integer `div`, not double `/`+cast: a double quotient 1 ulp above an
    # exact multiple would truncate to a different bin than the oracle's //
    binned = ranked.withColumn("bin", F.expr(f"global_cumsum_ex div {TARGET_FILE_BYTES}"))
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_files"),
        F.sum("size").alias("bin_bytes"),
    )


_COMPACTION_SQL = oracle_cte("inventory_src") + f"""
SELECT bin, count(*) AS n_files, cast(sum(size) AS BIGINT) AS bin_bytes
FROM (
  SELECT key, size,
         -- CAST: DuckDB's windowed sum(BIGINT) is HUGEINT and // preserves it;
         -- without the cast the oracle's bin is decimal128 vs Spark's int64
         -- (the r2/r3 driver hash-mismatch — value-equal, type-unequal)
         cast((sum(size) OVER (ORDER BY key, size ROWS UNBOUNDED PRECEDING) - size)
           // {TARGET_FILE_BYTES} AS BIGINT) AS bin
  FROM inventory_src
)
GROUP BY bin
"""


QUERIES = {
    "transfer_cost_estimate": transfer_cost_estimate,
    "inventory_diff_incremental": inventory_diff_incremental,
    "compaction_plan": compaction_plan,
}

ORACLES = {
    "transfer_cost_estimate": _COST_SQL,
    "inventory_diff_incremental": _INCREMENTAL_SQL,
    "compaction_plan": _COMPACTION_SQL,
}
