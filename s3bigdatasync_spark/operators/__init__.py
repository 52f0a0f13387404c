"""Operator library — one module per SURVEY.md §2 family.

Each module exports:
    QUERIES: dict[name -> Callable[(SparkSession, sf_dir) -> DataFrame]]
    ORACLES: dict[name -> DuckDB SQL str]   (omitted keys → rows-only check)
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..views import register_all

_PREPARED: set[tuple[int, str]] = set()

# --- query-scoped cache registry ---------------------------------------------
# Several operators cache a relation their returned plan references twice
# (both sides of a self-join, an agreement probe + a semi-join, …). The cache
# cannot be unpersisted inside the operator — the caller materializes the
# returned DataFrame later — so lifetimes are scoped to ONE registry query:
# every cache is recorded here, and the registry wrapper releases the previous
# query's caches when the next query begins. A 50-query driver session then
# holds at most one query's caches at a time instead of accumulating dozens
# (round-2 eviction-pressure hazard, VERDICT "What's wrong" #2).
#
# CONTRACT (one live query): construct registry query B only after
# materializing query A's DataFrame — constructing B releases A's caches, so
# A would still be correct (recompute is deterministic) but lose the
# shared-subtree dedup the caches exist for. The driver and pytest both
# construct-then-materialize serially; the lock below only makes the list
# mutation safe under concurrent construction, it does not lift the contract.
import threading
import time

_SCOPED_CACHES: list = []
_SCOPED_LOCK = threading.Lock()


def scoped_cache(df):
    """cache() whose lifetime is one registry query (released by the wrapper
    in registry.py when the next query is constructed)."""
    df = df.cache()
    with _SCOPED_LOCK:
        _SCOPED_CACHES.append(df)
    return df


_SCOPED_MEMO: dict = {}


def scoped_memo(key, builder):
    """Memoize a shared RELATION for the lifetime of one registry query
    (released together with the scoped caches). When two members of a pack
    — or any composition — build the same expensive sub-relation
    (span_removal_plan and span_removal_apply both build the winnow-runs
    chain), the second call returns the SAME DataFrame object, so the
    scoped caches inside it (grams / keep / cand) are shared instead of
    duplicated: one cache fill, not two per composition. The memo holds
    lazy plans, not data; correctness is unaffected if it were cleared
    early (recompute is deterministic)."""
    with _SCOPED_LOCK:
        if key in _SCOPED_MEMO:
            return _SCOPED_MEMO[key]
    df = builder()
    with _SCOPED_LOCK:
        return _SCOPED_MEMO.setdefault(key, df)


def release_caches() -> int:
    """Unpersist every scoped cache from the previous query. Returns count."""
    with _SCOPED_LOCK:
        drained, _SCOPED_CACHES[:] = _SCOPED_CACHES[:], []
        _SCOPED_MEMO.clear()
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


_OBSERVATION_WAIT_S = 120.0


def observed(obs, what: str) -> dict:
    """The metrics of an Observation whose action has returned, with a
    bounded wait. `obs.get` blocks until the Observation listener fires; on
    a runtime that never fires it for the action (a checkpoint under some
    runtimes) an unbounded get would hang silently. So on classic Spark
    poll the Java-side row, sleeping between polls, and fail loudly after
    _OBSERVATION_WAIT_S. An Observation without a Java object (Spark
    Connect) gets its metrics with the action's response, so `obs.get`
    returns at once. The metrics land within milliseconds of the action
    returning, so the first poll finds them in practice."""
    jo = getattr(obs, "_jo", None)
    deadline = time.monotonic() + _OBSERVATION_WAIT_S
    while jo is not None and not jo.getRowOrEmpty().isDefined():
        if time.monotonic() >= deadline:
            raise RuntimeError(
                f"{what}: the action completed but its Observation metrics "
                f"never arrived within {_OBSERVATION_WAIT_S:.0f} s — this "
                "runtime does not report observed metrics for this action"
            )
        time.sleep(0.002)
    return obs.get


def prepared(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Ensure base + derived temp views are registered for sf_dir (cached).

    The existence probe guards against a recycled id() from a NEW session
    (temp views are per-session) — cache says prepared, catalog disagrees.
    """
    key = (id(spark), sf_dir)
    if key not in _PREPARED or not spark.catalog.tableExists("inventory_src"):
        register_all(spark, sf_dir)
        _PREPARED.clear()  # one sf_dir active per session at a time
        _PREPARED.add(key)
    return spark


