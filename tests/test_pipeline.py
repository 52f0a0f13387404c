"""End-to-end lifecycle test (SURVEY §3): inventory → list_producer →
task_executor (local-FS copy with injected failures) → monitor_stats →
dashboard, all on temp dirs."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from s3bigdatasync_spark.operators.stats import SIZE_BUCKETS
from s3bigdatasync_spark.operators.windows import TIME_UNITS, read_stat_table
from s3bigdatasync_spark.plans.pipeline import (
    COPY_LOG_SCHEMA,
    STAT_SCHEMA,
    TASK_BATCH_SIZE,
    dashboard_report,
    list_producer,
    monitor_stats,
    task_executor,
)
from s3bigdatasync_spark.streaming.monitor import stream_time_rollup

from .conftest import drop_last_commit


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
    direct = stat.filter(F.col("time_unit") == 1).agg(
        F.sum("success_object_num").alias("success_num"),
        F.sum("failed_object_num").alias("failed_num"),
        F.sum("success_object_size").alias("success_size"),
    ).collect()[0]
    prog = dashboard_report(spark, stat_dir)["progress"]
    assert prog["success_num"] == direct["success_num"] == n_ok
    assert prog["failed_num"] == direct["failed_num"] == n_fail
    assert prog["success_size"] == direct["success_size"]
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


# -- dashboard_report: one read, one aggregate ---------------------------------

_T0 = 1_700_000_040  # a minute boundary
# (minute offset, success_num, failed_num) of the time_unit=1 rows: about
# four hours with gaps, failure-only minutes and one all-zero minute
_MINUTES = [
    (0, 3, 0), (1, 5, 1), (2, 0, 2), (7, 4, 0), (30, 1, 0), (31, 0, 0),
    (95, 9, 3), (150, 2, 0), (151, 7, 1), (152, 0, 4), (200, 6, 0),
    (230, 1, 1), (236, 8, 0), (237, 0, 1), (239, 5, 2),
]


def _gapped_stat_rows() -> list[tuple]:
    """Stat rows in the monitor_stats shape (column order of STAT_SCHEMA).
    The time_unit 5 and 60 rows carry large counts and end after the last
    minute, so reading them would change both the totals and the window."""
    rows = [
        (_T0 + 60 * m, ok * 1_000 + m, ok, bad * 700 + m, bad, 1)
        for m, ok, bad in _MINUTES
    ]
    rows += [(_T0 + 300 * i, 10**9, 10**6, 10**9, 10**6, 5) for i in range(52)]
    rows += [(_T0 + 3600 * i, 10**9, 10**6, 10**9, 10**6, 60) for i in range(6)]
    return rows


def _reference_report(rows, total_objects, total_size, window_minutes) -> dict:
    """dashboard_report computed in Python from the stat rows."""
    ones = [r for r in rows if r[5] == 1]
    col = lambda i: sum(r[i] for r in ones)  # noqa: E731
    lo, hi = min(r[0] for r in ones), max(r[0] for r in ones)
    progress = {
        "success_size": col(1), "success_num": col(2),
        "failed_size": col(3), "failed_num": col(4),
        "start_time": lo, "end_time": hi,
    }
    speed = progress["success_size"] / ((hi - lo) / 60 + 1)
    progress["estimate_speed"] = round(speed, 3)
    if total_objects is not None:
        progress["total_objects"] = total_objects
        progress["pct_objects"] = (
            round(100.0 * progress["success_num"] / total_objects, 3) if total_objects else None
        )
    if total_size is not None:
        progress["total_size"] = total_size
        progress["pct_size"] = (
            round(100.0 * progress["success_size"] / total_size, 3) if total_size else None
        )
        remaining = max(0, total_size - progress["success_size"])
        progress["eta_seconds"] = round(remaining / speed * 60, 3)
    starts = [hi - 60 * i for i in reversed(range(window_minutes))]
    by_start = {r[0]: r for r in ones}
    slot = lambda i: [by_start[t][i] if t in by_start else 0 for t in starts]  # noqa: E731
    graph = {
        "start_times": starts,
        "success_objects": slot(2), "failure_objects": slot(4),
        "success_bytes": slot(1), "failure_bytes": slot(3),
    }
    return {"progress": progress, "graph": graph}


@pytest.fixture(scope="module")
def gapped_stat(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("gapped") / "stat")
    rows = _gapped_stat_rows()
    spark.createDataFrame(rows, STAT_SCHEMA).write.partitionBy("time_unit").parquet(path)
    return path, rows


@pytest.mark.parametrize("window_minutes", [60, 5, 300])
@pytest.mark.parametrize("totals", ["none", "zero", "positive"])
def test_dashboard_report_equals_python_reference(gapped_stat, spark, window_minutes, totals):
    """The report over a gapped multi-hour stat table equals a pure-Python
    computation from its time_unit=1 rows: a 60- and a 5-minute window,
    and a 300-minute window longer than the table (leading zero slots),
    each without manifest totals, with zero totals and with positive ones."""
    path, rows = gapped_stat
    objects, size = {
        "none": (None, None),
        "zero": (0, 0),
        "positive": (200, 10**6),
    }[totals]
    got = dashboard_report(spark, path, objects, size, window_minutes=window_minutes)
    assert got == _reference_report(rows, objects, size, window_minutes)
    assert len(got["graph"]["start_times"]) == window_minutes
    if window_minutes == 300:
        assert got["graph"]["success_objects"][:60] == [0] * 60


@pytest.fixture(scope="module")
def staged_stat(spark, staged, tmp_path_factory):
    """monitor_stats over the staged copy log."""
    stat_dir = str(tmp_path_factory.mktemp("staged_stat") / "stat")
    monitor_stats(spark, staged["dirs"]["log"], stat_dir)
    return stat_dir


def test_stat_schema_is_what_monitor_stats_writes(spark, staged_stat):
    """dashboard_report reads with the declared STAT_SCHEMA, so it must
    stay the schema monitor_stats writes."""
    assert spark.read.parquet(staged_stat).dtypes == spark.createDataFrame([], STAT_SCHEMA).dtypes


def test_dashboard_report_runs_at_most_two_spark_jobs(spark, staged, staged_stat):
    """Job-count guard: one declared-schema read, one aggregate, one
    collect. A schema-inference read, a second aggregate or a spine join
    fails here."""
    report, jobs = _in_job_group(spark, lambda: dashboard_report(spark, staged_stat))
    assert jobs <= 2, jobs
    n_ok, n_fail = staged["result"]
    assert (report["progress"]["success_num"], report["progress"]["failed_num"]) == (n_ok, n_fail)


@pytest.mark.parametrize("window_minutes", [0, -5])
def test_dashboard_report_rejects_an_empty_window(spark, staged_stat, window_minutes):
    """window_minutes < 1 (the CLI's --window-minutes) is a ValueError
    raised before any Spark job."""

    def call():
        with pytest.raises(ValueError, match="window_minutes"):
            dashboard_report(spark, staged_stat, window_minutes=window_minutes)

    assert _in_job_group(spark, call)[1] == 0


def test_dashboard_report_of_an_empty_stat_table(spark, tmp_path):
    """A migration that has copied nothing yet: monitor_stats over an empty
    copy log writes no data file, and the report is zero totals, no time
    bounds and empty graph arrays. A stat dir that does not exist still
    raises."""
    from pyspark.errors import AnalysisException

    log, stat_dir = str(tmp_path / "log"), str(tmp_path / "stat")
    spark.createDataFrame([], COPY_LOG_SCHEMA).write.parquet(log)
    monitor_stats(spark, log, stat_dir)
    assert dashboard_report(spark, stat_dir, total_objects=10, total_size=1_000) == {
        "progress": {
            "success_size": 0, "success_num": 0, "failed_size": 0, "failed_num": 0,
            "start_time": None, "end_time": None, "estimate_speed": 0.0,
            "total_objects": 10, "pct_objects": 0.0,
            "total_size": 1_000, "pct_size": 0.0, "eta_seconds": None,
        },
        "graph": {
            "start_times": [], "success_objects": [], "failure_objects": [],
            "success_bytes": [], "failure_bytes": [],
        },
    }
    with pytest.raises(AnalysisException):
        dashboard_report(spark, str(tmp_path / "missing"))


def test_a_stat_dir_of_another_shape_fails_loudly(spark, tmp_path):
    """A stat dir of the old streaming shape (status, total_size, total_num)
    lacks the stat columns: a declared read would give null sums and a
    report of zero copies. Both readers raise ValueError naming the missing
    columns, from the footers alone (no Spark job)."""
    old = str(tmp_path / "old")
    spark.createDataFrame(
        [(1, 60, "ok", 10, 1), (1, 120, "failed", 20, 2)],
        "time_unit int, start_time long, status string, total_size long, total_num long",
    ).write.partitionBy("time_unit").parquet(old)
    for read in (lambda: dashboard_report(spark, old), lambda: read_stat_table(spark, old)):

        def call(read=read):
            with pytest.raises(ValueError, match="success_object_size, success_object_num"):
                read()

        assert _in_job_group(spark, call)[1] == 0


# -- one stat rollup: batch and stream write one stat-table shape -------------

_STAT_COLS = [
    "time_unit",
    "start_time",
    "success_object_size",
    "success_object_num",
    "failed_object_size",
    "failed_object_num",
]


def _spread_log_rows() -> list[tuple]:
    """Copy-log rows over ~3 hours: gaps, and minutes with only copies or
    only failures."""
    t0 = dt.datetime(2024, 1, 15, 6, 58, 30)
    return [
        (f"k{i}", t0 + dt.timedelta(seconds=i * 37 % 11_000), int(i % 7 != 3), 1_000 + 13 * i)
        for i in range(600)
    ]


def _reference_stat(rows) -> list[tuple]:
    """The stat rows computed in Python from copy-log rows."""
    acc: dict[tuple, list[int]] = {}
    for _, ts, status, size in rows:
        sec = int(ts.timestamp())
        for unit in TIME_UNITS:
            sums = acc.setdefault((unit, sec // (60 * unit) * 60 * unit), [0, 0, 0, 0])
            i = 0 if status == 1 else 2
            sums[i] += size
            sums[i + 1] += 1
    return sorted((*key, *sums) for key, sums in acc.items())


def test_monitor_stats_equals_python_reference_in_two_jobs(spark, tmp_path):
    """monitor_stats is one declared-schema read, the stat_rollup kernel and
    one partitioned write: at most 2 Spark jobs (a union of per-unit
    group-bys ran 5), and its rows at every time unit equal the rollup
    computed in Python."""
    rows = _spread_log_rows()
    log, stat_dir = str(tmp_path / "log"), str(tmp_path / "stat")
    spark.createDataFrame(rows, COPY_LOG_SCHEMA).write.parquet(log)
    _, jobs = _in_job_group(spark, lambda: monitor_stats(spark, log, stat_dir))
    assert jobs <= 2, jobs
    got = spark.read.schema(STAT_SCHEMA).parquet(stat_dir).select(*_STAT_COLS).collect()
    assert sorted(map(tuple, got)) == _reference_stat(rows)


@pytest.fixture(scope="module")
def streamed(spark, staged, tmp_path_factory):
    """The staged task_executor log plus one row an hour after it (which
    moves the watermark past every staged minute), rolled up by
    monitor_stats and by the stream; returns the dirs (the two stat dirs,
    the log and the stream's checkpoint) and the newest window the stream
    closed."""
    import shutil

    root = tmp_path_factory.mktemp("streamed")
    log = str(root / "log")
    shutil.copytree(staged["dirs"]["log"], log)
    t_max = spark.read.parquet(log).agg(F.max("replication_time")).collect()[0][0]
    flush = [("flush", t_max + dt.timedelta(hours=1), 1, 7)]
    spark.createDataFrame(flush, COPY_LOG_SCHEMA).write.mode("append").parquet(log)
    dirs = {n: str(root / n) for n in ("batch", "stream", "ckpt")} | {"log": log}
    monitor_stats(spark, log, dirs["batch"])
    stream_time_rollup(spark, log, dirs["stream"], dirs["ckpt"]).awaitTermination(120)
    closed = spark.read.parquet(dirs["stream"]).agg(F.max("start_time")).collect()[0][0]
    return dirs, closed


def test_stream_over_a_task_executor_log_equals_monitor_stats(spark, staged, streamed):
    """The stream reads a real copy log (long replication_status) and its
    closed windows are monitor_stats' time_unit=1 rows, row for row."""
    dirs, closed = streamed
    assert closed is not None, "stream emitted nothing"
    got = read_stat_table(spark, dirs["stream"]).select(*_STAT_COLS)
    want = (
        spark.read.schema(STAT_SCHEMA).parquet(dirs["batch"])
        .filter((F.col("time_unit") == 1) & (F.col("start_time") <= closed))
        .select(*_STAT_COLS)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    n_ok, n_fail = staged["result"]
    totals = got.agg(F.sum("success_object_num"), F.sum("failed_object_num")).collect()[0]
    assert tuple(totals) == (n_ok, n_fail)  # every staged minute closed


def test_dashboard_report_reads_either_stat_table(spark, staged, streamed, tmp_path):
    """dashboard_report over the streamed stat dir equals the report over
    monitor_stats' dir cut to the windows the watermark has closed, and
    stays the same after a crash between the stream's last write and its
    checkpoint commit is replayed: the sink does not count the replay."""
    dirs, closed = streamed
    cut = str(tmp_path / "cut")
    spark.read.parquet(dirs["batch"]).filter(F.col("start_time") <= closed).write.partitionBy(
        "time_unit"
    ).parquet(cut)
    stats = staged["job"]["statistics"]
    totals = (stats["total_objects"], stats["total_size_bytes"])
    report = dashboard_report(spark, dirs["stream"], *totals)
    assert report == dashboard_report(spark, cut, *totals)
    assert report["progress"]["success_num"] == staged["result"][0]
    drop_last_commit(dirs["ckpt"])
    stream_time_rollup(spark, dirs["log"], dirs["stream"], dirs["ckpt"]).awaitTermination(120)
    assert dashboard_report(spark, dirs["stream"], *totals) == report
