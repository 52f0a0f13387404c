"""The workloads. Each drives the program through its public functions from
one process with one caller, one Spark job at a time.

A run has four phases, all timed through the tracer:
  setup    session start + input generation + view registration, repeated
           SETUP_REPS times. The first repetition is cold: it launches the
           JVM and registers the views for the first time. The later ones
           stop the SparkContext and start a new one in the same JVM, so
           settings read at JVM launch (the driver heap) keep their first
           value. A cold repetition costs about 14 s on a 4-core VM, so
           three of them would not fit the run budget.
  warmup   an untimed pass over the queries the run measures, which also
           checks their results against the DuckDB oracles
  measure  the timed phase
  check    output checks of what the measured phase wrote
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from checks import (
    check_sync,
    duck_connect,
    oracle_digest,
    result_digest,
    sync_expectations,
)
from gen import WORKLOAD_SIZES, generate
from spans import Tracer

SETUP_REPS = 3
PROGRAM = "s3bigdatasync_spark."


def percentile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method) of at least two values."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Workload:
    name = ""
    queries: tuple[str, ...] = ()  # registry queries checked in the warm-up

    def __init__(self, seed: int, seconds: float, work: str, tracer: Tracer) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.inputs = ""
        self.rows: dict[str, int] = {}
        self.setup_reps: list[dict[str, float]] = []
        self.check_failures: dict[str, list[str]] = {}
        self.n_checked = 0
        self.rows_out: dict[str, int] = {}
        self._registry = None

    def setup(self) -> None:
        from s3bigdatasync_spark import operators, session

        span = self.tracer.span
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            inputs = os.path.join(self.work, f"inputs{rep}")
            t0 = time.perf_counter()
            with span("setup", "bench"):
                with span("get_spark", "session"):
                    self.spark = session.get_spark("perfbench")
                t1 = time.perf_counter()
                self.spark.sparkContext.setLogLevel("ERROR")
                self.tracer.sc = self.spark.sparkContext
                with span("generate", "bench"):
                    self.rows = generate(inputs, self.seed, WORKLOAD_SIZES[self.name])
                t2 = time.perf_counter()
                with span("register_all", "views", spark=True):
                    operators.prepared(self.spark, inputs)
            t3 = time.perf_counter()
            self.setup_reps.append(
                {"total": t3 - t0, "session": t1 - t0, "generate": t2 - t1, "register": t3 - t2}
            )
            if self.inputs:
                shutil.rmtree(self.inputs, ignore_errors=True)
            self.inputs = inputs

    @property
    def registry(self) -> dict:
        if self._registry is None:
            from s3bigdatasync_spark import registry

            self._registry = registry.full_queries()
        return self._registry

    def run_query(self, name: str) -> float:
        """One closed-loop request: build the query and run it to the noop
        sink. Returns its latency in seconds."""
        fn = self.registry[name]
        with self.tracer.span(name, fn.__module__.removeprefix(PROGRAM), spark=True) as s:
            fn(self.spark, self.inputs).write.format("noop").mode("overwrite").save()
        return s.seconds

    def warmup(self) -> None:
        """Every query once, collected and compared with its DuckDB oracle
        on the generated inputs. The oracles run in a second thread while
        Spark warms up; neither is timed."""
        from s3bigdatasync_spark import registry
        from s3bigdatasync_spark.views import BASE_TABLES

        oracles = registry.full_oracles()
        con = duck_connect(self.inputs, BASE_TABLES)
        try:
            with ThreadPoolExecutor(1) as pool:
                wants = {q: pool.submit(oracle_digest, con, oracles[q]) for q in self.queries}
                self._check_queries(wants)
        finally:
            con.close()

    def _check_queries(self, wants: dict) -> None:
        for name in self.queries:
            fn = self.registry[name]
            with self.tracer.span(f"check:{name}", fn.__module__.removeprefix(PROGRAM), spark=True):
                df = fn(self.spark, self.inputs)
                got = [tuple(r) for r in df.collect()]
            want, n_want = wants[name].result()
            self.rows_out[name] = len(got)
            self.n_checked += 1
            if result_digest(df.columns, got) != want:
                self.check_failures.setdefault(name, []).append(
                    f"result differs from oracle ({len(got)} vs {n_want} rows)"
                )

    def measure(self) -> dict:
        raise NotImplementedError

    def check(self, measured: dict) -> dict:
        return {}


class CorpusCuration(Workload):
    """Near-dup clustering, yield report and release manifest over seeded
    documents, as a batch repeated until `seconds` have passed and at least
    MIN_BATCHES times. The request whose latency is reported is the release
    manifest, the curation's deliverable: one closed-loop call per batch."""

    name = "corpus_curation"
    queries = ("dedup_clusters", "corpus_yield_report", "corpus_release_manifest")
    REQUEST = "corpus_release_manifest"
    MIN_BATCHES = 3

    def measure(self) -> dict:
        batches, lat = [], []
        t0 = time.perf_counter()
        while len(batches) < self.MIN_BATCHES or time.perf_counter() - t0 < self.seconds:
            b0 = time.perf_counter()
            with self.tracer.span("batch", "bench"):
                for q in self.queries:
                    seconds = self.run_query(q)
                    if q == self.REQUEST:
                        lat.append(seconds)
            batches.append(time.perf_counter() - b0)
        return {"items": self.rows["documents"], "batch_s": batches, "request_s": lat}


class SyncLifecycle(Workload):
    """One migration from plan to progress report over the seeded
    inventory: the read-only planning queries over the src/dst inventories,
    then list_producer -> task_executor -> monitor_stats, then closed-loop
    dashboard_report requests on the stat table just written, until
    `seconds` have passed and at least MIN_REQUESTS were served."""

    name = "sync_lifecycle"
    queries = (
        "inventory_diff",
        "diff_summary",
        "transfer_cost_estimate",
        "inventory_stats",
        "verification_join",
    )
    MIN_REQUESTS = 20
    DST_BUCKET = "dst-bucket"

    def _copy_fn(self):
        """The benchmark's copy function and its call counter. It does no
        I/O and fails the seeded ~2% of keys that checks.copy_fails predicts
        (restated here: a closure is pickled by value, so Python workers need
        not import this directory). Copies recomputed after an eviction show
        as calls per object above 1.0."""
        acc = self.spark.sparkContext.accumulator(0)
        salt = f"{self.seed}:".encode()

        def copy(src_bucket: str, dst_bucket: str, key: str) -> bool:
            import hashlib

            acc.add(1)
            digest = hashlib.md5(salt + key.encode()).digest()
            return int.from_bytes(digest[:4], "big") % 50 != 0

        return copy, acc

    def lifecycle(self) -> dict:
        from s3bigdatasync_spark.plans import pipeline as P

        dirs = {k: os.path.join(self.work, "sync", k) for k in ("tasks", "log", "dlq", "stat")}
        span = self.tracer.span
        copy_fn, copy_calls = self._copy_fn()
        t0 = time.perf_counter()
        with span("lifecycle", "bench"):
            for q in self.queries:
                self.run_query(q)
            t1 = time.perf_counter()
            inv = self.spark.table("inventory_src")
            with span("list_producer", "plans.pipeline", spark=True):
                job = P.list_producer(self.spark, inv, self.DST_BUCKET, dirs["tasks"])
            with span("task_executor", "plans.pipeline", spark=True):
                n_ok, n_fail = P.task_executor(
                    self.spark, dirs["tasks"], copy_fn, dirs["log"], dirs["dlq"]
                )
            with span("monitor_stats", "plans.pipeline", spark=True):
                P.monitor_stats(self.spark, dirs["log"], dirs["stat"])
        t2 = time.perf_counter()
        stats = job["statistics"]
        return {
            "dirs": dirs,
            "plan_s": t1 - t0,
            "sync_s": t2 - t1,
            "lifecycle_s": t2 - t0,
            "objects": int(stats["total_objects"]),
            "total_size": int(stats["total_size_bytes"]),
            "n_success": n_ok,
            "n_failed": n_fail,
            "copy_calls": copy_calls.value,
        }

    def dashboard(self, res: dict) -> tuple[float, dict]:
        from s3bigdatasync_spark.plans import pipeline as P

        with self.tracer.span("dashboard_report", "plans.pipeline", spark=True) as s:
            report = P.dashboard_report(
                self.spark,
                res["dirs"]["stat"],
                total_objects=res["objects"],
                total_size=res["total_size"],
            )
        return s.seconds, report

    def measure(self) -> dict:
        t0 = time.perf_counter()
        res = self.lifecycle()
        lat, reports = [], []
        while len(lat) < self.MIN_REQUESTS or time.perf_counter() - t0 < self.seconds:
            s, report = self.dashboard(res)
            lat.append(s)
            reports.append(report)
        res.update(
            items=res["objects"],
            batch_s=[res["lifecycle_s"]],
            request_s=lat,
            dashboard=reports[-1],
            distinct_reports=len({repr(r) for r in reports}),
        )
        return res

    def check(self, measured: dict) -> dict:
        from s3bigdatasync_spark.views import BASE_TABLES

        con = duck_connect(self.inputs, BASE_TABLES)
        try:
            expect = sync_expectations(con, self.seed)
            bad = check_sync(con, expect, measured["dirs"], measured)
        finally:
            con.close()
        if measured["distinct_reports"] != 1:
            bad.setdefault("dashboard_report", []).append("reports differ between requests")
        self.n_checked += 4
        for call, msgs in bad.items():
            self.check_failures.setdefault(call, []).extend(msgs)
        return {"expected_copy_failures": len(expect["failing"])}


WORKLOADS = {w.name: w for w in (SyncLifecycle, CorpusCuration)}
