"""CLI surface: the reference's operational verbs (start.sh scripts, monitor
main, UICenter routes) as subcommands, plus ad-hoc query/SQL access."""

from __future__ import annotations

import json

import pytest

from s3bigdatasync_spark import cli

SF = "/root/testdata/sf0.001"


def run(spark, *argv) -> int:
    return cli.main(list(argv), spark=spark)


def test_list_queries(spark, capsys):
    assert run(spark, "list-queries") == 0
    out = capsys.readouterr().out
    assert "inventory_diff" in out and "driver-registry entries" in out


def test_query_runs_and_limits(spark, capsys):
    assert run(spark, "query", "diff_summary", "--sf-dir", SF) == 0
    out = capsys.readouterr().out
    assert "variance" in out


def test_query_unknown_name(spark, capsys):
    assert run(spark, "query", "nope_not_a_query") == 2


def test_query_explain(spark, capsys):
    assert run(spark, "query", "inventory_stats", "--sf-dir", SF, "--explain") == 0
    assert "Physical Plan" in capsys.readouterr().out


def test_query_csv_out(spark, tmp_path):
    out = tmp_path / "res"
    assert run(spark, "query", "diff_summary", "--sf-dir", SF, "--out", str(out)) == 0
    files = list(out.glob("*.csv"))
    assert files and "variance" in files[0].read_text().splitlines()[0]


def test_sql_over_views(spark, capsys):
    # The sql verb registers ONLY the views the statement references
    # (round 11): plan construction is the cost (~187 constructions incl.
    # model-training collects for the full catalog — the r10 suite's single
    # largest test at 80 s), and an ad-hoc statement needs one or two. The
    # full-catalog path stays covered by test_sql_surface.py and the
    # --all-views flag.
    SF_DIR = "/root/testdata/sf0.01"  # == conftest.SF_DIR

    rc = run(
        spark,
        "sql",
        "SELECT variance, n_objects FROM diff_summary_v ORDER BY variance",
        "--sf-dir",
        SF_DIR,
    )
    assert rc == 0
    assert "New" in capsys.readouterr().out
    # subset semantics: the referenced view exists, an unreferenced one
    # was NOT built by this statement (unless an earlier full registration
    # in this session already populated the catalog)
    from s3bigdatasync_spark.sql_views import referenced_queries

    assert referenced_queries(
        "SELECT variance, n_objects FROM diff_summary_v ORDER BY variance"
    ) == ["diff_summary"]
    assert spark.catalog.tableExists("diff_summary_v")


def test_pipeline_lifecycle(spark, tmp_path, capsys):
    tasks = str(tmp_path / "tasks")
    stats = str(tmp_path / "job.json")
    log = str(tmp_path / "copy_log")
    dlq = str(tmp_path / "dlq")
    stat = str(tmp_path / "stat")
    dst = str(tmp_path / "dst")

    assert (
        run(
            spark,
            "list-producer",
            "--sf-dir",
            SF,
            "--dst-bucket",
            "dst-bucket",
            "--tasks-dir",
            tasks,
            "--stats-path",
            stats,
        )
        == 0
    )
    job = json.loads(open(stats).read())
    n_tasks = job["job_info"]["n_tasks"]
    assert n_tasks > 0

    assert (
        run(
            spark,
            "task-executor",
            "--tasks-dir",
            tasks,
            "--copy-log-dir",
            log,
            "--dead-letter-dir",
            dlq,
            "--copy-backend",
            "touch",
            "--dst-root",
            dst,
        )
        == 0
    )
    out = capsys.readouterr().out
    assert f"success={n_tasks} failed=0" in out

    assert run(spark, "monitor", "--copy-log-dir", log, "--stat-dir", stat) == 0

    # dashboard = the combined UICenter serving report; its fields must
    # agree with aggregates computed directly from the stat table it fronts
    total_size = int(json.loads(open(stats).read())["statistics"].get(
        "total_size_bytes", 0
    )) or None
    argv = ["dashboard", "--stat-dir", stat, "--total-objects", str(n_tasks)]
    if total_size:
        argv += ["--total-size", str(total_size)]
    capsys.readouterr()  # drain the monitor verb's status line
    assert run(spark, *argv) == 0
    report = json.loads(capsys.readouterr().out)

    minutes = spark.read.parquet(stat).filter("time_unit = 1").collect()
    prog = {
        "success_num": sum(r["success_object_num"] for r in minutes),
        "success_size": sum(r["success_object_size"] for r in minutes),
        "failed_num": sum(r["failed_object_num"] for r in minutes),
    }
    assert report["progress"]["success_num"] == prog["success_num"] == n_tasks
    assert report["progress"]["success_size"] == prog["success_size"]
    assert report["progress"]["failed_num"] == prog["failed_num"] == 0
    assert report["progress"]["total_objects"] == n_tasks
    assert report["progress"]["pct_objects"] == 100.0
    if total_size:
        assert report["progress"]["pct_size"] == 100.0
        assert report["progress"]["eta_seconds"] == 0.0
    assert report["progress"]["estimate_speed"] > 0

    # the graph: the 60 minutes ending at the newest stat minute, zero-filled
    hi = max(r["start_time"] for r in minutes)
    per_minute = {r["start_time"]: r["success_object_num"] for r in minutes}
    window = list(range(hi - 59 * 60, hi + 1, 60))
    assert report["graph"]["start_times"] == window
    assert len(report["graph"]["success_objects"]) == 60
    assert report["graph"]["success_objects"] == [per_minute.get(t, 0) for t in window]
    # the graph window covers the whole (single-minute) test run, so the
    # zero-filled series must account for every object exactly once
    assert sum(report["graph"]["success_objects"]) == n_tasks
    assert sum(report["graph"]["failure_objects"]) == 0


def test_copy_fn_backends(tmp_path):
    src = tmp_path / "src"
    (src / "a").mkdir(parents=True)
    (src / "a" / "k.txt").write_bytes(b"payload")
    dst = tmp_path / "dst"

    fs = cli._make_copy_fn("fs", str(src), str(dst))
    assert fs("ignored", "ignored", "a/k.txt")
    assert (dst / "a" / "k.txt").read_bytes() == b"payload"

    touch = cli._make_copy_fn("touch", None, str(dst))
    assert touch("ignored", "ignored", "b/empty.bin")
    assert (dst / "b" / "empty.bin").exists()


def test_s3_copy_fn_pickles():
    """Spark ships the copy function to its workers, so the `s3` backend
    must pickle: it builds its boto3 client in each worker, not on the
    driver, whose client holds an unpicklable SSLContext. No request is
    made."""
    pytest.importorskip("boto3")
    from pyspark import cloudpickle

    cloudpickle.dumps(cli._make_copy_fn("s3", None, None))


def test_monitor_stream_subcommand(spark, tmp_path, capsys):
    """The streaming leg as a CLI verb: copy_log parquet in, checkpointed
    watermarked rollup out, availableNow drain-and-exit semantics."""
    import datetime as dt

    schema = (
        "object_key string, replication_time timestamp, replication_status int,"
        " size long"
    )
    log = str(tmp_path / "copy_log")
    stat = str(tmp_path / "stat")
    ckpt = str(tmp_path / "ckpt")
    early = [
        ("k1", dt.datetime(2024, 1, 1, 7, 0, 10), 1, 100),
        ("k2", dt.datetime(2024, 1, 1, 7, 0, 40), 0, 50),
        ("k3", dt.datetime(2024, 1, 1, 7, 5, 5), 1, 10),
    ]
    spark.createDataFrame(early, schema).coalesce(1).write.mode("append").parquet(log)
    args = ["monitor-stream", "--copy-log-dir", log, "--stat-dir", stat,
            "--checkpoint-dir", ckpt, "--max-files-per-trigger", "1"]
    assert run(spark, *args) == 0

    # append-mode emits only watermark-closed windows; a later append (well
    # past the 10-minute delay) + second drain flushes the early ones
    late = [("k4", dt.datetime(2024, 1, 1, 8, 0, 0), 1, 7)]
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(log)
    assert run(spark, *args) == 0

    out = spark.read.parquet(stat)
    # the two early minutes closed, one stat row each; the log's int32
    # replication_status is read as the declared long
    got = [
        (r["success_object_size"], r["success_object_num"],
         r["failed_object_size"], r["failed_object_num"])
        for r in out.orderBy("start_time").collect()
    ]
    assert got == [(100, 1, 50, 1), (10, 1, 0, 0)]
    assert {r["time_unit"] for r in out.select("time_unit").distinct().collect()} == {1}


def test_trending_subcommand(spark, tmp_path):
    """Streaming top-k as a CLI verb over an events parquet dir."""
    import datetime as dt

    from s3bigdatasync_spark.streaming.trending import EVENTS_SCHEMA

    t0 = dt.datetime(2024, 1, 1, 7, 0, 0)
    early = [
        (i, t0 + dt.timedelta(seconds=10 * i), i, "click" if i % 2 else "view", 1.0)
        for i in range(8)
    ]
    ev = str(tmp_path / "events")
    spark.createDataFrame(early, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(ev)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    args = ["trending", "--events-dir", ev, "--out-dir", out, "--checkpoint-dir", ckpt]
    assert run(spark, *args) == 0
    late = [(99, t0 + dt.timedelta(hours=2), 99, "click", 1.0)]
    spark.createDataFrame(late, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(ev)
    assert run(spark, *args) == 0
    res = spark.read.parquet(out)
    assert res.count() >= 2 and "rank" in res.columns


def test_validate_manifest_subcommand(spark, tmp_path, capsys):
    """validate-manifest: exit 0 when all entries check out, 1 otherwise."""
    import hashlib
    import json as _json

    good = tmp_path / "g.csv"
    good.write_bytes(b"row\n")
    man = {
        "files": [
            {
                "key": str(good),
                "size": good.stat().st_size,
                "MD5checksum": hashlib.md5(good.read_bytes()).hexdigest(),
            }
        ]
    }
    mp = tmp_path / "manifest.json"
    mp.write_text(_json.dumps(man))
    assert run(spark, "validate-manifest", "--manifest", str(mp)) == 0

    man["files"].append({"key": str(tmp_path / "gone.csv"), "size": 3, "MD5checksum": ""})
    mp.write_text(_json.dumps(man))
    assert run(spark, "validate-manifest", "--manifest", str(mp)) == 1
    assert "failed validation" in capsys.readouterr().out


def test_drift_subcommand(spark, tmp_path, capsys):
    """Incremental drift maintenance as a CLI verb: document parquet drops
    in, versioned count state out, per-source KL report printed."""
    docs_dir = str(tmp_path / "docs")
    rows = [
        (i, f"alpha beta tok{i % 5} gamma delta", f"src{i % 3}") for i in range(60)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).coalesce(1).write.mode("append").parquet(docs_dir)
    args = [
        "drift",
        "--docs-dir", docs_dir,
        "--state-dir", str(tmp_path / "state"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ]
    assert run(spark, *args) == 0
    out = capsys.readouterr().out
    assert "kl_bits" in out and "src0" in out


def test_ppl_gate_subcommand(spark, tmp_path, capsys):
    """Streaming perplexity gate as a CLI verb: document drops in, versioned
    per-language LM state out, tercile report printed."""
    docs_dir = str(tmp_path / "docs")
    rows = [
        (i, f"alpha beta tok{i % 5} gamma delta", f"lang{i % 2}") for i in range(60)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).coalesce(1).write.mode("append").parquet(docs_dir)
    args = [
        "ppl-gate",
        "--docs-dir", docs_dir,
        "--state-dir", str(tmp_path / "state"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ]
    assert run(spark, *args) == 0
    out = capsys.readouterr().out
    assert "bits_per_token" in out and "ppl_bucket" in out and "lang0" in out


@pytest.mark.parametrize("verb", ["ppl-gate", "dedup-gate"])
def test_gate_verbs_fail_loudly_on_drain_then_land(
    spark, tmp_path, capsys, verb
):
    """The drain-then-land window at the VERB level (round-9 verdict item 7):
    a file landing AFTER the stream drained leaves the state stale for its
    docs; invoked with --report-only (report against the CURRENT state, no
    drain) the verb must exit nonzero and carry the sample doc ids in the
    message — never print a silently smaller gate. A normal re-run (which
    drains first) must then heal it."""
    docs_dir = str(tmp_path / "docs")
    rows = [
        (i, f"alpha beta tok{i % 5} gamma delta", f"lang{i % 2}")
        for i in range(20)
    ]
    schema = "doc_id long, text string, lang string"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)
    args = [
        verb,
        "--docs-dir", docs_dir,
        "--state-dir", str(tmp_path / "state"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ]
    assert run(spark, *args) == 0
    capsys.readouterr()

    # the straggler lands after the drain
    spark.createDataFrame(
        [(999, "entirely novel straggler body words", "lang0")], schema
    ).coalesce(1).write.mode("append").parquet(docs_dir)
    assert run(spark, *args, "--report-only") == 1
    err = capsys.readouterr().err
    assert "999" in err and "stale" in err

    # a draining re-run merges the straggler and the report renders again
    assert run(spark, *args) == 0


def test_cli_layout_rewrite_range_roundtrip(spark, tmp_path):
    """layout-rewrite --mode range writes a range-clustered copy + manifest;
    the loaded manifest drives with_global_order to the same result as
    self-discovery."""
    from s3bigdatasync_spark.cli import build_parser
    from s3bigdatasync_spark.operators.prefix import (
        load_range_manifest,
        with_global_order,
    )

    out = str(tmp_path / "ranged_inv")
    args = build_parser().parse_args(
        [
            "layout-rewrite", "--mode", "range", "--table", "inventory_src",
            "--keys", "key,size", "--n", "8", "--sum-col", "size",
            "--sf-dir", "/root/testdata/sf0.001", "--out", out,
        ]
    )
    assert args.fn(spark, args) == 0

    ranged = spark.read.parquet(out).select("key", "size")
    manifest = load_range_manifest(out)
    assert sum(c for _, c, _ in manifest) == ranged.count()
    got = with_global_order(ranged, ["key", "size"], sum_col="size", ranges=manifest)
    ref = with_global_order(ranged, ["key", "size"], sum_col="size")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_cli_layout_rewrite_bucketed(spark, tmp_path):
    from pyspark.sql import functions as F

    from s3bigdatasync_spark.cli import build_parser

    out = str(tmp_path / "bucketed_inv")
    args = build_parser().parse_args(
        [
            "layout-rewrite", "--mode", "bucketed", "--table", "inventory_src",
            "--keys", "key", "--n", "8", "--name", "t_bucketed_cli",
            "--sf-dir", "/root/testdata/sf0.001", "--out", out,
        ]
    )
    assert args.fn(spark, args) == 0
    t = spark.table("t_bucketed_cli")
    # bucketed scan feeds a keyed agg with NO exchange before the agg
    plan = (
        t.groupBy("key").agg(F.count("*"))._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Exchange hashpartitioning(key" not in plan
    spark.sql("DROP TABLE IF EXISTS t_bucketed_cli")


def test_cli_layout_rewrite_interrupted_by_source_change(
    spark, tmp_path, monkeypatch
):
    """The crash-window adversarial test for the BATCH CLI (r7 verdict item
    8, the streaming kill-test pattern applied to `layout-rewrite`): the
    source tables change inside the rewrite's read→save window — injected by
    wrapping collect_range_manifest, which runs strictly after the rewrite
    read the source and strictly before save_range_manifest re-verifies.
    The end-to-end CLI invocation must REFUSE (RuntimeError from the
    pre-read fingerprint mismatch), and the convention layout path must be
    left without a consultable manifest — auto-consult can never be served
    layout data computed from files that no longer exist."""
    import shutil
    from pathlib import Path

    from s3bigdatasync_spark.cli import build_parser
    from s3bigdatasync_spark.operators import _PREPARED
    from s3bigdatasync_spark.operators import prefix
    from s3bigdatasync_spark.operators.prefix import (
        LAYOUTS_DIR,
        load_table_layout,
    )

    root = tmp_path / "sf_clone"
    root.mkdir()
    for f in Path(SF).glob("*.parquet"):
        shutil.copy(f, root / f.name)
    out = root / LAYOUTS_DIR / "inventory_src"

    real_collect = prefix.collect_range_manifest

    def racing_collect(df, keys, sum_col=None):
        # the interruption: source mutates after the rewrite's read
        (root / "lineitem.parquet").touch()
        return real_collect(df, keys, sum_col=sum_col)

    monkeypatch.setattr(prefix, "collect_range_manifest", racing_collect)
    _PREPARED.clear()
    args = build_parser().parse_args(
        [
            "layout-rewrite", "--mode", "range", "--table", "inventory_src",
            "--keys", "key,size", "--n", "8", "--sum-col", "size",
            "--sf-dir", str(root), "--out", str(out),
        ]
    )
    with pytest.raises(RuntimeError, match="changed between"):
        args.fn(spark, args)
    # the torn layout is never consultable: parquet may exist, manifest no
    assert not (out / "_range_manifest.json").exists()
    assert load_table_layout(spark, str(root), "inventory_src", ["key", "size"]) is None
    _PREPARED.clear()


def test_dedup_gate_subcommand(spark, tmp_path, capsys):
    from s3bigdatasync_spark.streaming.dedup_gate import DOCS_STREAM_SCHEMA

    docs_dir = str(tmp_path / "docs")
    rows = [
        (1, "same content here", "lang0"),
        (2, "same content here", "lang0"),
        (3, "unique content", "lang1"),
    ]
    spark.createDataFrame(rows, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)
    rc = run(
        spark,
        "dedup-gate",
        "--docs-dir", docs_dir,
        "--state-dir", str(tmp_path / "state"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "admit" in out and "keeper_doc_id" in out
    # doc 1 owns the duplicated content, doc 2 is gated out, doc 3 admits
    assert out.count("true") == 2 and out.count("false") == 1
