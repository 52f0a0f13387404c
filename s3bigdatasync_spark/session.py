"""SparkSession factory.

Sized to the box it runs on (local[cores this process may use], a heap of
half the RAM, at most 16g), with settings that hold on a real multi-executor
cluster at ~100 TB: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), sane shuffle partition count, Arrow enabled for the few
pandas-UDF operators, UTC session timezone so results are oracle-comparable
and cluster-location-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM override the box's own size.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
_RAM_GIB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
DEFAULT_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(16, _RAM_GIB // 2))}g")


def get_spark(app_name: str = "s3bigdatasync-spark", cpus: int | None = None) -> SparkSession:
    """Return (or create) the engine's SparkSession.

    At 100 TB on a 1000-executor cluster the only knobs here that would change
    are master/shuffle-partitions (set by the cluster manager / AQE target
    size); everything else is scale-independent policy.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: coalesce tiny shuffle partitions, split skewed ones, re-plan
        # joins with runtime stats. At 100 TB this is what converts a static
        # 200-partition plan into right-sized stages.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Baseline pre-AQE shuffle width = cores here; on a cluster this would
        # be ~2-3x total cores and AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Arrow for pandas UDF operators (multipart ETag, embedding ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic, oracle-comparable timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast small dimension tables aggressively (region/nation/spines
        # are tiny; the 10 MB default is fine but make intent explicit).
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Local mode: ONE JVM hosts driver + all executor threads, so this is
        # the whole engine's heap. 8g survived a 104-query bench pass but
        # OOM'd at 109 queries (accumulated codegen classes + broadcasts +
        # the round's new CC loop, ~12k stages in); 16g was the ceiling on a
        # 128 GiB box. Half the RAM leaves the rest to Python workers and the
        # page cache. A real cluster splits this across executors and none
        # of it applies.
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        # Always use the sort-based shuffle writer, never the bypass-merge
        # writer (r11 optimization, guide §2.2). With R reduce partitions
        # below spark.shuffle.sort.bypassMergeThreshold (default 200), each
        # map task writes R separate partition files and then concatenates
        # them — R file creates + a merge pass per map task. At production
        # scale R >> 200, so the bypass writer NEVER runs there; only
        # small-R runs (local mode, R = cores) pick this pathological path.
        # Thread-sampling the bench showed 105/232 running-task samples in
        # DiskBlockObjectWriter.initialize + 46 in copyFileStreamNIO — file
        # creation/merging, not query work. Forcing the production writer
        # (one sorted file per map task) cut the 110-query headline total
        # 210.1 s -> 137.2 s (-35%) with zero semantic change.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # Testdata parquet carries TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert (views.register_base_tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    # Deployment-specific overrides (cluster size, disk layout, codec) without
    # code edits: JSON dict of conf key -> value. Used by the r11 optimization
    # A/Bs; empty in normal runs so the driver's bench stays comparable.
    extra = os.environ.get("SPARK_GRAFT_CONF_JSON")
    if extra:
        import json

        for k, v in json.loads(extra).items():
            builder = builder.config(k, str(v))
    return builder.getOrCreate()
