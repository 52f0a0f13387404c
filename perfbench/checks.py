"""Output checks, run once per run outside the clock.

Query results are compared with the program's DuckDB oracle SQL
(`registry.full_oracles()`) evaluated on the same generated parquet: column
names, row count and an order-insensitive SHA-256 over the canonical rows.
The sync lifecycle is checked against invariants recomputed with DuckDB from
the files it wrote and from the copy function's seeded failure rule.
"""

from __future__ import annotations

import hashlib
import math
import os
import tempfile
from typing import Any

import duckdb


def _norm(v: Any) -> Any:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def result_digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: columns sorted by name, rows
    canonicalised and sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


def duck_connect(inputs_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    # keep DuckDB's spill files and extension home inside the run's scratch
    # directory, and never fetch an extension
    scratch = tempfile.gettempdir()
    con.execute(f"SET temp_directory = '{scratch}'")
    con.execute(f"SET home_directory = '{scratch}'")
    con.execute("SET autoinstall_known_extensions = false")
    for name in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{inputs_dir}/{name}.parquet'"
        )
    return con


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[str, int]:
    tbl = con.execute(sql).fetch_arrow_table()
    cols = list(tbl.schema.names)
    rows = list(zip(*(c.to_pylist() for c in tbl.columns))) if tbl.num_columns else []
    return result_digest(cols, rows), len(rows)


def sync_expectations(con: duckdb.DuckDBPyConnection, seed: int) -> dict:
    """Objects, total bytes and the keys the seeded copy function fails,
    recomputed from the generated lineitem with the inventory_src key and
    size expressions (views.INVENTORY_SRC_SQL)."""
    from s3bigdatasync_spark.views import _KEY, _SIZE

    keys = [
        r[0]
        for r in con.execute(f"SELECT {_KEY} FROM lineitem").fetchall()
    ]
    n, size = con.execute(f"SELECT count(*), sum({_SIZE}) FROM lineitem").fetchone()
    salt = f"{seed}:".encode()
    failing = {k for k in keys if copy_fails(salt, k)}
    return {"objects": int(n), "total_size": int(size), "failing": failing}


def copy_fails(salt: bytes, key: str) -> bool:
    """The benchmark's copy failure rule: a seeded ~2% of keys (1 in 50)."""
    digest = hashlib.md5(salt + key.encode()).digest()
    return int.from_bytes(digest[:4], "big") % 50 == 0


def check_sync(
    con: duckdb.DuckDBPyConnection,
    expect: dict,
    dirs: dict[str, str],
    result: dict,
) -> dict[str, list[str]]:
    """Invariants of one lifecycle; returns {call: [failed check, ...]}."""
    bad: dict[str, list[str]] = {}

    def need(call: str, ok: bool, what: str) -> None:
        if not ok:
            bad.setdefault(call, []).append(what)

    q = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    (n_tasks,) = q(f"SELECT count(*) FROM read_json_auto('{dirs['tasks']}/*.json')")
    need("list_producer", n_tasks == expect["objects"], f"task store {n_tasks} != {expect['objects']}")
    n_ok, n_fail = result["n_success"], result["n_failed"]
    need("task_executor", n_ok + n_fail == n_tasks, f"{n_ok}+{n_fail} != task store {n_tasks}")
    need("task_executor", n_fail == len(expect["failing"]), f"n_failed {n_fail} != {len(expect['failing'])}")
    dlq = {r[0] for r in con.execute(f"SELECT object_key FROM '{dirs['dlq']}/*.parquet'").fetchall()}
    need("task_executor", dlq == expect["failing"], f"dead letters {len(dlq)} != predicted {len(expect['failing'])}")
    log = q(
        f"""SELECT count(*),
                   sum(CASE WHEN replication_status = 1 THEN 1 ELSE 0 END),
                   sum(CASE WHEN replication_status = 1 THEN size ELSE 0 END),
                   sum(CASE WHEN replication_status = 0 THEN 1 ELSE 0 END),
                   sum(CASE WHEN replication_status = 0 THEN size ELSE 0 END)
            FROM '{dirs['log']}/*.parquet'"""
    )
    need("task_executor", log[0] == n_tasks and log[1] == n_ok, f"copy log {log[:2]} vs {n_tasks}/{n_ok}")
    stat = con.execute(
        f"""SELECT time_unit, sum(success_object_num), sum(success_object_size),
                   sum(failed_object_num), sum(failed_object_size)
            FROM read_parquet('{dirs['stat']}/*/*.parquet', hive_partitioning = true)
            GROUP BY time_unit ORDER BY time_unit"""
    ).fetchall()
    need("monitor_stats", [r[0] for r in stat] == [1, 5, 60], f"time units {[r[0] for r in stat]}")
    for r in stat:
        need("monitor_stats", tuple(int(x) for x in r[1:]) == tuple(int(x) for x in log[1:]),
             f"time_unit={r[0]} totals {r[1:]} != copy log {log[1:]}")
    prog = result["dashboard"]["progress"]
    need("dashboard_report", prog["success_num"] == n_ok, f"success_num {prog['success_num']} != {n_ok}")
    need("dashboard_report", prog["failed_num"] == n_fail, f"failed_num {prog['failed_num']} != {n_fail}")
    need("dashboard_report", prog["success_size"] == int(log[2]), "success_size != copy log")
    return bad
