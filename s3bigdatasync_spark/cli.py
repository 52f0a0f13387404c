"""Command-line surface: every reference entry point as one `python -m
s3bigdatasync_spark <job>` subcommand.

The reference is operated through per-module scripts — `ListProducer.py`
(`ListProducer/start.sh`), `TaskExecutor.py <job.json>` (`TaskExecutor/
start.sh`), `s3_monitor_statistic.py main` (TaskMonitor), and the UICenter
HTTP routes `/totalProgress` + `/tasksGraph` (`UICenter/BackEnd/server.py:
10-45`). A user switching from the reference gets the same operational
verbs here, plus what the reference never had: an ad-hoc query/SQL surface
over every registered operator (SURVEY §3: "no query language, no IR").

    list-queries                       enumerate the operator registry
    query NAME [--sf-dir D]            run one registry query, show/save it
    sql "SELECT ..." [--sf-dir D]      ANSI SQL over base tables + *_v views
    list-producer  ...                 §3.1 inventory → stats + task store
    task-executor  ...                 §3.2 task store → copy → copy_log/DLQ
    monitor        ...                 §3.3 batch 1/5/60-min stat rollup
    dashboard      ...                 §3.3 serving-leg progress+graph JSON
    corpus         [--sf-dir D]        north-star training-corpus build

Every subcommand accepts an injected SparkSession (tests) or builds the
standard local one (`session.get_spark`).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def _emit(df: DataFrame, args) -> None:
    limit = getattr(args, "limit", None)
    if getattr(args, "explain", False):
        df.explain("formatted")
        return
    out = getattr(args, "out", None)
    if out:
        (df.limit(limit) if limit else df).coalesce(1).write.mode(
            "overwrite"
        ).option("header", "true").csv(out)
        print(f"wrote {out}")
    else:
        df.show(limit or 20, truncate=False)


def _cmd_list_queries(spark: SparkSession, args) -> int:
    from . import registry

    full = registry.full_queries()
    driver = set(registry.all_queries())
    for name in sorted(full):
        fn = full[name]
        doc = (fn.__doc__ or "").strip().splitlines()
        head = doc[0] if doc else ""
        tag = "driver" if name in driver else "pack-member"
        print(f"{name:28s} [{tag}] {head[:90]}")
    print(f"\n{len(full)} queries ({len(driver)} driver-registry entries)")
    return 0


def _cmd_query(spark: SparkSession, args) -> int:
    from . import registry

    full = registry.full_queries()
    if args.name not in full:
        print(f"unknown query {args.name!r}; see `list-queries`", file=sys.stderr)
        return 2
    _emit(full[args.name](spark, args.sf_dir), args)
    return 0


def _cmd_sql(spark: SparkSession, args) -> int:
    from .sql_views import referenced_queries, register_query_views

    # register only the views the statement references (plan construction is
    # the cost — ~187 constructions incl. model-training collects for the
    # full catalog; one ad-hoc statement usually needs one or two). Base
    # tables and reference-native views always register; --all-views forces
    # the full catalog for exploratory sessions.
    if args.all_views:
        register_query_views(spark, args.sf_dir)
    else:
        register_query_views(
            spark, args.sf_dir, only=referenced_queries(args.statement)
        )
    _emit(spark.sql(args.statement), args)
    return 0


def _cmd_list_producer(spark: SparkSession, args) -> int:
    from .operators import prepared
    from .plans.pipeline import list_producer

    inv = prepared(spark, args.sf_dir).table("inventory_src")
    job = list_producer(
        spark, inv, args.dst_bucket, args.tasks_dir, stats_path=args.stats_path
    )
    print(job["statistics"])
    print(f"n_tasks={job['job_info']['n_tasks']} tasks_dir={args.tasks_dir}")
    return 0


def _make_copy_fn(backend: str, src_root: str | None, dst_root: str | None):
    """CopyFn factory. `touch` marks success by creating an empty dst file
    (test/dry-run); `fs` copies src_root/key → dst_root/key; `s3` is the
    production boto3 server-side copy, sources.metadata.make_s3_copy_fn
    (its client is built lazily in each worker process, so the function
    pickles)."""
    if backend == "s3":
        from .sources.metadata import make_s3_copy_fn

        return make_s3_copy_fn()

    from pathlib import Path

    def fs_copy(src_bucket: str, dst_bucket: str, key: str) -> bool:
        dst = Path(dst_root or dst_bucket) / key
        dst.parent.mkdir(parents=True, exist_ok=True)
        if backend == "fs":
            src = Path(src_root or src_bucket) / key
            dst.write_bytes(src.read_bytes())
        else:  # touch
            dst.touch()
        return True

    return fs_copy


def _cmd_task_executor(spark: SparkSession, args) -> int:
    from .plans.pipeline import task_executor

    fn = _make_copy_fn(args.copy_backend, args.src_root, args.dst_root)
    n_ok, n_fail = task_executor(
        spark, args.tasks_dir, fn, args.copy_log_dir, args.dead_letter_dir
    )
    print(f"success={n_ok} failed={n_fail}")
    return 0 if n_fail == 0 else 1


def _cmd_monitor(spark: SparkSession, args) -> int:
    from .plans.pipeline import monitor_stats

    monitor_stats(spark, args.copy_log_dir, args.stat_dir)
    print(f"stat table written to {args.stat_dir}")
    return 0


def _cmd_validate_manifest(spark: SparkSession, args) -> int:
    from pyspark.sql import functions as F

    from .sources.inventory import read_manifest, validate_manifest

    manifest = read_manifest(spark, args.manifest)
    res = validate_manifest(spark, manifest, base=args.base or "").cache()
    n_bad = res.filter(F.col("status") != "ok").count()
    res.show(100, truncate=False)
    print(f"{res.count()} files checked, {n_bad} failed validation")
    res.unpersist()
    return 0 if n_bad == 0 else 1


def _cmd_monitor_stream(spark: SparkSession, args) -> int:
    from .streaming.monitor import stream_time_rollup

    q = stream_time_rollup(
        spark,
        args.copy_log_dir,
        args.stat_dir,
        args.checkpoint_dir,
        minutes=args.minutes,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    q.awaitTermination()  # availableNow trigger: drains the backlog, then stops
    print(f"streamed stat table written to {args.stat_dir}")
    return 0


def _cmd_drift(spark: SparkSession, args) -> int:
    from .streaming.drift import drift_report, stream_source_drift

    q = stream_source_drift(
        spark,
        args.docs_dir,
        args.state_dir,
        args.checkpoint_dir,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    q.awaitTermination()  # availableNow trigger: drains the backlog, then stops
    drift_report(spark, args.state_dir).orderBy("source").show(100, truncate=False)
    return 0


def _cmd_ppl_gate(spark: SparkSession, args) -> int:
    from .streaming.ppl_gate import (
        DOCS_STREAM_SCHEMA,
        ppl_gate_report,
        stream_ppl_state,
    )

    if not args.report_only:
        q = stream_ppl_state(
            spark,
            args.docs_dir,
            args.state_dir,
            args.checkpoint_dir,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        q.awaitTermination()  # availableNow: drains the backlog, then stops
    docs = spark.read.schema(DOCS_STREAM_SCHEMA).parquet(args.docs_dir)
    # the drain-then-land window: a file landing between the drain above and
    # this read makes the state stale for its docs; the report refuses to
    # render (library loud-failure contract) and the verb exits nonzero with
    # the sample ids instead of printing a silently smaller gate
    try:
        report = ppl_gate_report(spark, args.state_dir, docs)
    except ValueError as e:
        print(f"ppl-gate: {e}", file=sys.stderr)
        return 1
    report.orderBy("lang", "ppl_bucket", "doc_id").show(
        args.limit, truncate=False
    )
    return 0


def _cmd_dedup_gate(spark: SparkSession, args) -> int:
    from .streaming.dedup_gate import (
        DOCS_STREAM_SCHEMA,
        admission_report,
        stream_dedup_state,
    )

    if not args.report_only:
        q = stream_dedup_state(
            spark,
            args.docs_dir,
            args.state_dir,
            args.checkpoint_dir,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        q.awaitTermination()  # availableNow: drains the backlog, then stops
    docs = spark.read.schema(DOCS_STREAM_SCHEMA).parquet(args.docs_dir)
    try:
        report = admission_report(spark, args.state_dir, docs)
    except ValueError as e:
        print(f"dedup-gate: {e}", file=sys.stderr)
        return 1
    report.orderBy("content_hash", "doc_id").show(args.limit, truncate=False)
    return 0


def _cmd_trending(spark: SparkSession, args) -> int:
    from .streaming.trending import stream_trending_types

    q = stream_trending_types(
        spark,
        args.events_dir,
        args.out_dir,
        args.checkpoint_dir,
        window_minutes=args.window_minutes,
        k=args.k,
    )
    q.awaitTermination()
    print(f"trending windows written to {args.out_dir}")
    return 0


def _cmd_dashboard(spark: SparkSession, args) -> int:
    """The combined UICenter serving report (`/totalProgress` +
    `/tasksGraph` as one JSON document) — the drift/ppl-gate verb pattern
    applied to the §3.3 serving leg."""
    import json

    from .plans.pipeline import dashboard_report

    report = dashboard_report(
        spark,
        args.stat_dir,
        total_objects=args.total_objects,
        total_size=args.total_size,
        window_minutes=args.window_minutes,
    )
    print(json.dumps(report, indent=2, sort_keys=True))
    return 0


def _cmd_corpus(spark: SparkSession, args) -> int:
    from .plans.llm_corpus import corpus_yield_report

    _emit(corpus_yield_report(spark, args.sf_dir), args)
    return 0


def _cmd_compact(spark: SparkSession, args) -> int:
    """Execute small-file compaction (the action half of compaction_plan)."""
    from .plans.compaction import compact_files

    res = compact_files(spark, args.src, args.out, target_bytes=args.target_bytes)
    print(
        f"compacted {res.n_input_files} files ({res.input_bytes} B) into "
        f"{len(res.output_files)} files / {res.n_bins} bins; "
        f"rows {res.rows_in} -> {res.rows_out}"
    )
    return 0 if res.rows_in == res.rows_out else 1


def _cmd_layout_rewrite(spark: SparkSession, args) -> int:
    """Rewrite a registered table into one of the measured scale layouts
    (SCALING.md): `bucketed` (bucketBy+sortBy — removes the exchange from
    every key-partitioned join/window/agg over it) or `range` (range-
    clustered parquet + a saved per-file manifest that lets
    with_global_order skip boundary discovery)."""
    from .operators import prepared
    from .operators.prefix import (
        _source_fingerprint,
        collect_range_manifest,
        save_range_manifest,
    )

    # capture BEFORE the rewrite reads the source (r6 ADVICE): if the live
    # tables change while the rewrite runs, save_range_manifest re-takes the
    # fingerprint and refuses — never a fresh-looking manifest on stale data
    fp_before = _source_fingerprint(args.sf_dir)
    df = prepared(spark, args.sf_dir).table(args.table)
    keys = args.keys.split(",")
    if args.mode == "bucketed":
        spark.sql(f"DROP TABLE IF EXISTS {args.name}")
        (
            df.write.bucketBy(args.n, keys[0], *keys[1:])
            .sortBy(keys[0], *keys[1:])
            .option("path", args.out)
            .saveAsTable(args.name)
        )
        print(f"bucketed table {args.name}: {args.n} buckets on {keys} at {args.out}")
    else:
        df.repartitionByRange(args.n, *keys).write.mode("overwrite").parquet(args.out)
        manifest = collect_range_manifest(
            spark.read.parquet(args.out), keys, sum_col=args.sum_col
        )
        # keys/sum_col metadata lets queries auto-consult this layout: write
        # to {sf_dir}/_layouts/{table} and task_batches / dedup_anti_join /
        # compaction_plan skip their boundary-discovery job automatically
        path = save_range_manifest(
            manifest,
            args.out,
            keys=keys,
            sum_col=args.sum_col,
            source_dir=args.sf_dir,
            source_fp=fp_before,
        )
        print(
            f"range layout: {args.n} write-ranges -> {len(manifest)} manifest"
            f" ranges on {keys} at {args.out}; manifest {path}"
        )
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="s3bigdatasync_spark", description=__doc__.splitlines()[0]
    )
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, fn, **kw):
        sp = sub.add_parser(name, **kw)
        sp.set_defaults(fn=fn)
        return sp

    add("list-queries", _cmd_list_queries, help="enumerate the operator registry")

    q = add("query", _cmd_query, help="run one registry query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    q.add_argument("--limit", type=int, default=None)
    q.add_argument("--explain", action="store_true", help="print the physical plan")
    q.add_argument("--out", default=None, help="write result CSV here instead of showing")

    s = add("sql", _cmd_sql, help="run SQL over base tables and *_v query views")
    s.add_argument("statement")
    s.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    s.add_argument("--limit", type=int, default=None)
    s.add_argument("--explain", action="store_true")
    s.add_argument("--out", default=None)
    s.add_argument(
        "--all-views",
        action="store_true",
        help="register every registry view up front (exploratory sessions);"
        " default registers only the views the statement references",
    )

    lp = add("list-producer", _cmd_list_producer, help="§3.1 inventory → stats + tasks")
    lp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    lp.add_argument("--dst-bucket", required=True)
    lp.add_argument("--tasks-dir", required=True)
    lp.add_argument("--stats-path", default=None)

    te = add("task-executor", _cmd_task_executor, help="§3.2 tasks → copy → log")
    te.add_argument("--tasks-dir", required=True)
    te.add_argument("--copy-log-dir", required=True)
    te.add_argument("--dead-letter-dir", required=True)
    te.add_argument("--copy-backend", choices=("touch", "fs", "s3"), default="touch")
    te.add_argument("--src-root", default=None)
    te.add_argument("--dst-root", default=None)

    mo = add("monitor", _cmd_monitor, help="§3.3 1/5/60-min stat rollup")
    mo.add_argument("--copy-log-dir", required=True)
    mo.add_argument("--stat-dir", required=True)

    vm = add(
        "validate-manifest",
        _cmd_validate_manifest,
        help="A2 integrity: check every manifest file's size+MD5 (exit 1 on"
        " any failure)",
    )
    vm.add_argument("--manifest", required=True)
    vm.add_argument("--base", default=None)

    ms = add(
        "monitor-stream",
        _cmd_monitor_stream,
        help="§3.3 streaming leg: watermarked windowed stat stream "
        "(checkpointed; drains available data and exits)",
    )
    ms.add_argument("--copy-log-dir", required=True)
    ms.add_argument("--stat-dir", required=True)
    ms.add_argument("--checkpoint-dir", required=True)
    ms.add_argument("--minutes", type=int, default=1)
    ms.add_argument("--max-files-per-trigger", type=int, default=10)

    dr = add(
        "drift",
        _cmd_drift,
        help="incremental source-drift state over new document drops; "
        "prints the per-source KL report (drains available data)",
    )
    dr.add_argument("--docs-dir", required=True)
    dr.add_argument("--state-dir", required=True)
    dr.add_argument("--checkpoint-dir", required=True)
    dr.add_argument("--max-files-per-trigger", type=int, default=10)

    pg = add(
        "ppl-gate",
        _cmd_ppl_gate,
        help="incremental per-language LM over new document drops; prints "
        "the CCNet tercile report for everything landed (drains available "
        "data)",
    )
    pg.add_argument("--docs-dir", required=True)
    pg.add_argument("--state-dir", required=True)
    pg.add_argument("--checkpoint-dir", required=True)
    pg.add_argument("--max-files-per-trigger", type=int, default=10)
    pg.add_argument("--limit", type=int, default=50)
    pg.add_argument(
        "--report-only",
        action="store_true",
        help="skip the drain and report against the CURRENT state; exits "
        "nonzero if any landed doc is not yet merged (stale state)",
    )

    dg = add(
        "dedup-gate",
        _cmd_dedup_gate,
        help="incremental content-hash dedup index over new document drops;"
        " prints the admission report (admit = global keeper) for"
        " everything landed (drains available data)",
    )
    dg.add_argument("--docs-dir", required=True)
    dg.add_argument("--state-dir", required=True)
    dg.add_argument("--checkpoint-dir", required=True)
    dg.add_argument("--max-files-per-trigger", type=int, default=10)
    dg.add_argument("--limit", type=int, default=50)
    dg.add_argument(
        "--report-only",
        action="store_true",
        help="skip the drain and report against the CURRENT state; exits "
        "nonzero if any landed doc is not yet merged (stale state)",
    )

    tr = add(
        "trending",
        _cmd_trending,
        help="streaming windowed top-k event types (drains available data)",
    )
    tr.add_argument("--events-dir", required=True)
    tr.add_argument("--out-dir", required=True)
    tr.add_argument("--checkpoint-dir", required=True)
    tr.add_argument("--window-minutes", type=int, default=5)
    tr.add_argument("-k", type=int, default=3)

    da = add(
        "dashboard",
        _cmd_dashboard,
        help="§3.3 serving leg: combined progress+graph JSON report "
        "(UICenter /totalProgress + /tasksGraph)",
    )
    da.add_argument("--stat-dir", required=True)
    da.add_argument("--total-objects", type=int, default=None,
                    help="manifest total object count (enables pct_objects)")
    da.add_argument("--total-size", type=int, default=None,
                    help="manifest total bytes (enables pct_size + eta_seconds)")
    da.add_argument("--window-minutes", type=int, default=60,
                    help="graph window length in minute slots (at least 1)")

    co = add("corpus", _cmd_corpus, help="north-star corpus yield report")
    co.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    co.add_argument("--limit", type=int, default=None)
    co.add_argument("--explain", action="store_true")
    co.add_argument("--out", default=None)

    cp = add(
        "compact",
        _cmd_compact,
        help="rewrite a many-small-files parquet table into ~target-size"
        " files (the execution of compaction_plan; exit 1 on row mismatch)",
    )
    cp.add_argument("--src", required=True)
    cp.add_argument("--out", required=True)
    cp.add_argument("--target-bytes", type=int, default=512 * 1024 * 1024)

    lr = add(
        "layout-rewrite",
        _cmd_layout_rewrite,
        help="rewrite a table into a measured scale layout (SCALING.md):"
        " bucketed (zero-shuffle keyed ops) or range (+ saved manifest for"
        " boundary-free global numbering)",
    )
    lr.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    lr.add_argument("--table", default="inventory_src")
    lr.add_argument("--mode", choices=("bucketed", "range"), required=True)
    lr.add_argument("--keys", default="key", help="comma-separated layout keys")
    lr.add_argument("--n", type=int, default=32, help="bucket / write-range count")
    lr.add_argument("--sum-col", default=None, help="range mode: manifest sum column")
    lr.add_argument("--out", required=True, help="layout output path")
    lr.add_argument("--name", default="bucketed_layout", help="bucketed: table name")

    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if spark is None:
        from .session import get_spark

        spark = get_spark("s3bigdatasync-cli", cpus=args.cpus)
    return args.fn(spark, args)


if __name__ == "__main__":
    raise SystemExit(main())
