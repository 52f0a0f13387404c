#!/usr/bin/env python3
"""Benchmark of record: the sync lifecycle and corpus curation workloads on
a local Spark session sized to the machine.

    python3 perfbench/run.py --workload sync_lifecycle --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics of a traced run with `--trace 1`.
The line before it holds the run's details (input row counts, sample
counts, check results). Everything the run writes lives under
`perfbench/.work/` and is removed at exit; traced runs also keep their spans
under `perfbench/.traces/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
import uuid
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent

# Layers whose failed tasks are reported (the modules the workloads call).
LAYERS = (
    "views",
    "plans.pipeline",
    "operators.joins",
    "operators.cost",
    "operators.stats",
    "operators.dedup",
    "plans.llm_corpus",
)


def machine() -> tuple[int, int]:
    """(cores this process may use, driver heap in GiB that fits the box)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(4, total_kb // (1024 * 1024) // 5))
    return cores, heap_gb


def prepare_env(work: Path) -> None:
    """Point every scratch location of Spark, the JVM and Python at `work`,
    and size the session through the program's own environment variables."""
    cores, heap_gb = machine()
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CONF_JSON=json.dumps(
            {
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            }
        ),
    )
    time.tzset()
    tempfile.tempdir = str(tmp)


# -- process tree ------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / (1024 * 1024)


class RssSampler(threading.Thread):
    """Peak RSS of this process and its descendants (JVM, Python workers),
    sampled every `interval` seconds."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak_mb


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait until
    every process this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far. Steal is time the
    hypervisor gave this VM's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


# -- metrics -----------------------------------------------------------------


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(wl, measured: dict) -> dict:
    req = measured["request_s"]
    return {
        "setup_s": metric(statistics.median(r["total"] for r in wl.setup_reps), "s"),
        "cold_start_s": metric(wl.setup_reps[0]["total"], "s"),
        "items_per_s": metric(measured["items"] / statistics.median(measured["batch_s"]), "1/s"),
        "request_p50_ms": metric(1000 * statistics.median(req), "ms"),
    }


def per_layer(wl, measured: dict, spans: list, peak_mb: float) -> tuple[dict, dict]:
    """The declared per-layer metrics of a traced run, and a report with
    every call's median time and each layer's self time. Per-call times stay
    in the report: a workload that never calls a layer has no time for it."""
    from spans import self_seconds

    med = statistics.median
    by_name = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    batches = [s for s in spans if s.name in ("batch", "lifecycle")]
    kids = {b.id: [s for s in spans if s.parent == b.id] for b in batches}

    def per_batch(f) -> float:
        return med(f(b, kids[b.id]) for b in batches)

    def med_attr(name: str, attr: str) -> float:
        found = by_name(name)
        return med(getattr(s, attr) for s in found) if found else 0

    setup = wl.setup_reps
    m = {
        "session.start_s": metric(med(r["session"] for r in setup), "s"),
        "views.register_s": metric(med(r["register"] for r in setup), "s"),
        "inputs.generate_s": metric(med(r["generate"] for r in setup), "s"),
        "batch.wall_s": metric(per_batch(lambda b, c: b.seconds), "s"),
        "batch.program_s": metric(per_batch(lambda b, c: sum(x.seconds for x in c)), "s"),
        "batch.bench_s": metric(
            per_batch(lambda b, c: b.seconds - sum(x.seconds + x.trace_s for x in c)), "s"
        ),
        "trace.overhead_s": metric(per_batch(lambda b, c: sum(x.trace_s for x in c)), "s"),
        "spark.jobs_per_batch": metric(per_batch(lambda b, c: sum(x.jobs for x in c)), "count"),
        "spark.tasks_per_batch": metric(per_batch(lambda b, c: sum(x.tasks for x in c)), "count"),
        "spark.failed_tasks": metric(sum(s.failed_tasks for s in spans), "count"),
        "process.peak_rss_mb": metric(peak_mb, "MB"),
    }
    dirs = measured.get("dirs")

    def files(key: str, suffix: str) -> int:
        return sum(1 for _ in Path(dirs[key]).rglob(f"*{suffix}")) if dirs else 0

    m.update(
        {
            "list_producer.files": metric(files("tasks", ".json"), "count"),
            "list_producer.spark_jobs": metric(med_attr("list_producer", "jobs"), "count"),
            "task_executor.files": metric(files("log", ".parquet") + files("dlq", ".parquet"), "count"),
            "task_executor.copy_calls_per_object": metric(
                measured["copy_calls"] / measured["objects"] if dirs else 0, "ratio"
            ),
            "monitor_stats.files": metric(files("stat", ".parquet"), "count"),
            "dashboard_report.spark_jobs": metric(med_attr("dashboard_report", "jobs"), "count"),
            "dedup_clusters.spark_jobs": metric(med_attr("dedup_clusters", "jobs"), "count"),
        }
    )
    from workloads import SyncLifecycle

    for q in SyncLifecycle.queries:
        m[f"{q}.tasks"] = metric(med_attr(q, "tasks"), "count")
        m[f"{q}.rows_out"] = metric(wl.rows_out.get(q, 0), "count")
    for layer in LAYERS:
        m[f"{layer}.failed_tasks"] = metric(
            sum(s.failed_tasks for s in spans if s.layer == layer), "count"
        )
    called = sorted({s.name for s in spans if s.layer != "bench"})
    report = {
        "call_s": {f"{n}.s": med(s.seconds for s in by_name(n)) for n in called},
        "call_spark_jobs": {f"{n}.spark_jobs": med(s.jobs for s in by_name(n)) for n in called},
        "call_tasks": {f"{n}.tasks": med(s.tasks for s in by_name(n)) for n in called},
        "layer_self_s": self_seconds(spans),
        "batch_s": measured["batch_s"],
        "trace_overhead_s_per_batch": m["trace.overhead_s"]["value"],
        "spans": len(spans),
    }
    return m, report


# -- main --------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark of record")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    try:
        import s3bigdatasync_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, percentile

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = uuid.uuid4().hex[:12]
    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{run_id}"
    prepare_env(work)
    from spans import Tracer

    tracer = Tracer(run_id, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, args.seconds, str(work), tracer)
    sampler = RssSampler()
    sampler.start()
    phases: dict[str, float] = {}

    def phase(name: str, fn, *a):
        t0 = time.perf_counter()
        out = fn(*a)
        phases[name] = time.perf_counter() - t0
        return out

    try:
        phase("setup", wl.setup)
        phase("warmup", wl.warmup)
        first = len(tracer.spans)
        steal0, total0 = cpu_ticks()
        measured = phase("measure", wl.measure)
        steal1, total1 = cpu_ticks()
        spans = tracer.spans[first:]
        peak_mb = sampler.stop()
        checked = phase("check", wl.check, measured)
        if args.trace:
            metrics, report = per_layer(wl, measured, spans, peak_mb)
        else:
            metrics, report = end_to_end(wl, measured), None
    except Exception:  # noqa: BLE001 - a call that raises fails the whole run
        traceback.print_exc()
        return 1
    finally:
        sampler.stop()
        stop_spark(wl.spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = len(wl.check_failures)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": wl.rows,
        "items": measured["items"],
        "batches": len(measured["batch_s"]),
        "requests": len(measured["request_s"]),
        # fewer than ten samples lie beyond it, so it is not a declared metric
        "request_p90_ms": 1000 * percentile(measured["request_s"], 90),
        "setup_reps": wl.setup_reps,
        "phase_s": phases,
        "peak_rss_mb": peak_mb,
        "measure_cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "checks": wl.n_checked,
        "check_failures": wl.check_failures,
        "rows_out": wl.rows_out,
        # sync_lifecycle: planning vs list-through-monitor share of the lifecycle
        **{k: measured[k] for k in ("plan_s", "sync_s") if k in measured},
        **checked,
    }
    if report is not None:
        detail["trace_report"] = report
        traces = BENCH / ".traces"
        traces.mkdir(exist_ok=True)
        tracer.write(str(traces / f"{args.workload}-seed{args.seed}-{run_id}.json"))
    print(json.dumps({"detail": detail}, default=str))
    result = {
        "correct": failed == 0,
        "attempted": tracer.calls,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
