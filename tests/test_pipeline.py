"""End-to-end lifecycle test (SURVEY §3): inventory → list_producer →
task_executor (local-FS copy with injected failures) → monitor_stats →
dashboard, all on temp dirs."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from s3bigdatasync_spark.operators.stats import SIZE_BUCKETS
from s3bigdatasync_spark.plans.pipeline import (
    TASK_BATCH_SIZE,
    dashboard_progress,
    list_producer,
    monitor_stats,
    task_executor,
)


def test_full_lifecycle(spark, tmp_path):
    inv = (
        spark.table("inventory_src")
        .select("bucket", "key", "size")
        .limit(500)
        .cache()
    )
    n_inv = inv.count()

    tasks_dir = str(tmp_path / "tasks")
    job = list_producer(spark, inv, "dst-bucket", tasks_dir, str(tmp_path / "job.json"))
    assert job["job_info"]["n_tasks"] == n_inv
    assert job["statistics"]["total_objects"] == n_inv

    # task files ≈ 100 objects each (B1 batching at the sink)
    tasks = spark.read.json(tasks_dir)
    assert tasks.count() == n_inv
    assert tasks.columns and "dst_bucket" in tasks.columns

    # copy with deterministic injected failures (~keys ending in '3')
    def copy_fn(src_bucket: str, dst_bucket: str, key: str) -> bool:
        return not key.endswith("3")

    copy_log = str(tmp_path / "copy_log")
    dlq = str(tmp_path / "dead")
    n_ok, n_fail = task_executor(spark, tasks_dir, copy_fn, copy_log, dlq)
    assert n_ok + n_fail == n_inv
    assert n_fail > 0  # injection hit something
    # monitor table carries both statuses (TaskExecutor.py:66-80); DLQ gets
    # the failed actions additionally (79-85)
    assert spark.read.parquet(copy_log).count() == n_inv
    assert spark.read.parquet(dlq).count() == n_fail

    # monitor rollup + dashboard (D4 + D7)
    stat_dir = str(tmp_path / "stat")
    monitor_stats(spark, copy_log, stat_dir)
    stat = spark.read.parquet(stat_dir)
    assert set(r["time_unit"] for r in stat.select("time_unit").distinct().collect()) == {1, 5, 60}
    prog = dashboard_progress(spark, stat_dir).collect()[0]
    assert prog["success_num"] == n_ok
    inv.unpersist()


# -- one pass per stage, copy exactly once ------------------------------------

_GROUP_SEQ = iter(range(10**6))


def _in_job_group(spark, fn):
    """fn() under a fresh job group → (result, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"pipeline-jobs-{next(_GROUP_SEQ)}"
    sc.setJobGroup(group, "pipeline job-count guard")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _fails(key: str) -> bool:
    return key.endswith("3")


def _stats_of(sizes: list[int]) -> dict:
    """The statistics block recomputed in Python from the object sizes."""
    want = {"total_objects": len(sizes), "total_size_bytes": sum(sizes)}
    want.update({name: sum(1 for s in sizes if s <= t) for name, t in SIZE_BUCKETS})
    return want


def _n_lines(path: str) -> int:
    with open(path) as f:
        return sum(1 for _ in f)


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    """list_producer then task_executor over a 500-object inventory listed
    in three partitions (sizes 0 to 6.5 GB, so every SIZE_BUCKETS bucket
    is hit), each stage under its own job group, with a copy function that
    counts its calls and raises for the keys it fails."""
    inv = spark.range(0, 500, numPartitions=3).select(
        F.lit("src-bucket").alias("bucket"),
        F.format_string("obj/%05d", "id").alias("key"),
        (F.col("id") * 13_000_017).alias("size"),
    )
    rows = sorted(inv.collect())
    root = tmp_path_factory.mktemp("staged")
    dirs = {k: str(root / k) for k in ("tasks", "log", "dead")}
    calls = spark.sparkContext.accumulator(0)

    def copy_fn(src_bucket: str, dst_bucket: str, key: str) -> bool:
        calls.add(1)
        if _fails(key):
            raise OSError("injected copy failure")
        return True

    job, lp_jobs = _in_job_group(
        spark,
        lambda: list_producer(spark, inv, "dst-bucket", dirs["tasks"], str(root / "job.json")),
    )
    (n_ok, n_fail), te_jobs = _in_job_group(
        spark,
        lambda: task_executor(spark, dirs["tasks"], copy_fn, dirs["log"], dirs["dead"]),
    )
    return {
        "rows": rows,
        "dirs": dirs,
        "job": job,
        "stats_path": str(root / "job.json"),
        "jobs": {"list_producer": lp_jobs, "task_executor": te_jobs},
        "copy_calls": calls.value,
        "result": (n_ok, n_fail),
        "copy_fn": copy_fn,
    }


def test_task_files_hold_the_inventory_in_batches(spark, staged):
    """Every task file holds at most TASK_BATCH_SIZE objects, and together
    the files hold exactly the inventory, however it is partitioned."""
    tasks_dir = staged["dirs"]["tasks"]
    files = [f for f in os.listdir(tasks_dir) if f.endswith(".json")]
    per_file = [_n_lines(os.path.join(tasks_dir, f)) for f in files]
    assert max(per_file) <= TASK_BATCH_SIZE
    assert sum(per_file) == len(staged["rows"])
    stored = spark.read.json(tasks_dir)
    assert {r["dst_bucket"] for r in stored.select("dst_bucket").collect()} == {"dst-bucket"}
    got = sorted(tuple(r) for r in stored.select("bucket", "key", "size").collect())
    assert got == [tuple(r) for r in staged["rows"]]


def test_statistics_equal_a_direct_aggregate(spark, staged):
    """job["statistics"] (an Observation on the task-store write) equals a
    direct aggregate of the inventory, every SIZE_BUCKETS count included,
    and the stats_path JSON holds the same job dict."""
    sizes = [r["size"] for r in staged["rows"]]
    job = staged["job"]
    assert job["statistics"] == _stats_of(sizes)
    assert job["job_info"] == {"dst_bucket": "dst-bucket", "n_tasks": len(sizes)}
    with open(staged["stats_path"]) as f:
        assert json.load(f) == job


def test_statistics_describe_the_written_task_store(spark, tmp_path):
    """The statistics come from the same pass that writes the task store:
    over a live listing that returns different sizes on every read, they
    still equal an aggregate of the task files actually written."""
    import random

    live_size = F.udf(lambda k: random.randrange(1, 2_000_000_000), "long").asNondeterministic()
    inv = (
        spark.table("inventory_src")
        .select("bucket", "key")
        .limit(300)
        .withColumn("size", live_size("key"))
    )
    tasks_dir = str(tmp_path / "tasks")
    job = list_producer(spark, inv, "dst-bucket", tasks_dir)
    sizes = [r["size"] for r in spark.read.json(tasks_dir).select("size").collect()]
    assert job["statistics"] == _stats_of(sizes)


def test_copy_runs_exactly_once_per_object(staged):
    """The side-effecting copy runs once per object: no schema inference or
    recomputation calls it again."""
    n_ok, n_fail = staged["result"]
    n = len(staged["rows"])
    assert staged["copy_calls"] == n
    assert (n_ok + n_fail, n_fail) == (n, sum(_fails(r["key"]) for r in staged["rows"]))


def test_stages_run_at_most_three_spark_jobs(staged):
    """Job-count guard: each stage is one pass, so a change that brings
    back a count, a separate stats scan or a schema-inference job fails
    here."""
    assert staged["jobs"]["list_producer"] <= 3, staged["jobs"]
    assert staged["jobs"]["task_executor"] <= 3, staged["jobs"]


def test_dead_letters_cover_only_this_run(spark, staged, tmp_path):
    """copy_log and dead_letter are append-only: a second task_executor call
    into the same dirs dead-letters only its own failures, so after two
    calls the DLQ holds exactly twice one call's failures."""
    import shutil

    dirs = {k: str(tmp_path / k) for k in ("log", "dead")}
    shutil.copytree(staged["dirs"]["log"], dirs["log"])
    shutil.copytree(staged["dirs"]["dead"], dirs["dead"])
    n = len(staged["rows"])
    _, n_fail = staged["result"]
    assert task_executor(
        spark, staged["dirs"]["tasks"], staged["copy_fn"], dirs["log"], dirs["dead"]
    ) == staged["result"]
    assert spark.read.parquet(dirs["log"]).count() == 2 * n
    dead = spark.read.parquet(dirs["dead"])
    assert dead.count() == 2 * n_fail
    assert dead.filter(F.col("replication_status") != 0).count() == 0


def test_copy_log_schema_is_unchanged(spark, staged):
    """copy_log and dead_letter keep their schema."""
    want = [
        ("object_key", "string"),
        ("replication_time", "timestamp"),
        ("replication_status", "bigint"),
        ("size", "bigint"),
    ]
    for d in ("log", "dead"):
        assert spark.read.parquet(staged["dirs"][d]).dtypes == want


def test_observed_waits_boundedly_and_falls_back_to_get(monkeypatch):
    """`observed` returns obs.get for an Observation without a Java object
    (Spark Connect), and fails loudly instead of hanging when a classic
    Observation's metrics never arrive."""
    from types import SimpleNamespace

    import s3bigdatasync_spark.operators as ops

    assert ops.observed(SimpleNamespace(get={"n": 3}), "connect") == {"n": 3}

    never = SimpleNamespace(isDefined=lambda: False)
    stuck = SimpleNamespace(_jo=SimpleNamespace(getRowOrEmpty=lambda: never), get=None)
    monkeypatch.setattr(ops, "_OBSERVATION_WAIT_S", 0.05)
    with pytest.raises(RuntimeError, match="stuck: the action completed"):
        ops.observed(stuck, "stuck")
