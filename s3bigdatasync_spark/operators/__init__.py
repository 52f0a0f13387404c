"""Operator library — one module per SURVEY.md §2 family.

Each module exports:
    QUERIES: dict[name -> Callable[(SparkSession, sf_dir) -> DataFrame]]
    ORACLES: dict[name -> DuckDB SQL str]   (omitted keys → rows-only check)
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..views import register_all

# (applicationId, sessionUUID, sf_dir) of the session whose temp views are
# registered (see session_id and prepared)
_PREPARED: set[tuple[str, str, str]] = set()

# --- cache lifetimes ---------------------------------------------------------
# Two lifetimes, both process-global and released by this module:
#
# QUERY-SCOPED (scoped_cache, scoped_memo). Several operators cache a
# relation their returned plan references twice (both sides of a self-join,
# an agreement probe + a semi-join, …). The cache cannot be unpersisted
# inside the operator — the caller materializes the returned DataFrame later
# — so it lives for ONE registry query: every cache is recorded here, and the
# registry wrapper releases the previous query's caches and memos
# (release_query_caches) when the next query begins. A 50-query driver
# session then holds at most one query's caches at a time instead of
# accumulating dozens (round-2 eviction-pressure hazard, VERDICT "What's
# wrong" #2).
#
# SNAPSHOT-SCOPED (snapshot_memo). A relation that is a function of the
# files of the views it reads — the near-dup cluster labels (`documents`),
# the src/dst inventory diff (`inventory_src`, `inventory_dst`), the DSIR
# importance weights and the per-document corpus table (`documents`) —
# lives for one (SparkSession, sf_dir, snapshot of those files). It is built
# once and every later query over the same unchanged files reuses it. A
# changed listing, another sf_dir, another session or a new SparkContext is
# a miss that replaces the slot. The registry wrapper keeps these across
# queries; release_caches() drains both lifetimes. An entry is stored in
# one of two forms:
#   * a lazily filled persist() (the diff, the DSIR weights, the corpus
#     table): building a query on it runs no Spark job, the first action
#     fills it, and it spills to disk under memory pressure. Replacing or
#     releasing the slot unpersists it at once — a rewritten file keeps its
#     path, and Spark's cache lookup matches plans by path, so a stale entry
#     left registered would answer for the new files. A DataFrame built on
#     it stays valid after that (it recomputes from the files).
#   * an eager localCheckpoint (the cluster labels, whose fixpoint needs one
#     per round anyway). Replacing the slot only drops the reference, so a
#     DataFrame built on the old entry stays valid until its blocks are
#     collected; release_caches() unpersists them at once, after which such
#     a DataFrame fails.
#
# CONTRACT (one live query): construct registry query B only after
# materializing query A's DataFrame — constructing B releases A's
# query-scoped caches, so A would still be correct (recompute is
# deterministic) but lose the shared-subtree dedup the caches exist for.
# Materialize anything built on a snapshot entry before release_caches().
# The driver and pytest both construct-then-materialize serially; the locks
# below only make the bookkeeping safe under concurrent construction, they
# do not lift the contract.
import os
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


# name -> (snapshot key, value); one slot per name
_SNAPSHOT: dict = {}
# name -> lock held while that slot builds, so concurrent constructions
# (sql_views' thread pool) wait for one build instead of racing N of them
_SNAPSHOT_BUILD: dict = {}


def resolved_dir(path: str) -> str:
    """One key per directory however it is spelled: local paths are
    resolved (relative, `..`, symlinks, trailing slash); a URI (`s3a://…`)
    only loses its trailing slash, since realpath would mangle it."""
    if "://" in path:
        return path.rstrip("/")
    return os.path.realpath(path)


def session_id(spark: SparkSession) -> tuple[str, str]:
    """(applicationId, sessionUUID): one identity per SparkSession that is
    never reused. Temp views are per session, so newSession() is another
    identity, and a restarted SparkContext is another application. Unlike
    id(spark), it cannot be recycled by a later session object. Driver-side
    calls only, no Spark job."""
    return spark.sparkContext.applicationId, spark._jsparkSession.sessionUUID()


def snapshot_key(spark: SparkSession, sf_dir: str, views=("documents",)):
    """(session_id, resolved sf_dir, ((file, length, mtime), …)) over the
    union of the files the registered `views` read, or None when one of them
    reads no files (an in-memory relation has no listing to key on). The
    files come from each view's own file index and their length and
    modification time from the Hadoop FileSystem (so `s3a://` works) —
    driver-side calls only, no Spark job."""
    files = set()
    for view in views:
        listed = spark.table(view).inputFiles()
        if not listed:
            return None
        files.update(listed)
    sc = spark.sparkContext
    conf = sc._jsc.hadoopConfiguration()
    listing = []
    for f in sorted(files):
        path = sc._jvm.org.apache.hadoop.fs.Path(f)
        st = path.getFileSystem(conf).getFileStatus(path)
        listing.append((f, st.getLen(), st.getModificationTime()))
    return (session_id(spark), resolved_dir(sf_dir), tuple(listing))


def snapshot_memo(
    name: str, spark: SparkSession, sf_dir: str, builder, views=("documents",)
):
    """builder()'s value for the lifetime of one snapshot of the files the
    `views` read (see snapshot_key): the first call per snapshot builds,
    later calls return the stored value. The value must depend on nothing
    but those views, and must be a lazily persist()ed relation or an
    already materialized one (an eager localCheckpoint), so that it
    survives release_query_caches (see "cache lifetimes" above). A new key
    replaces the slot: the old entry is released before the build (a
    persisted one unpersisted, a checkpoint dropped for the collector). A
    view without a file listing is never stored: every call builds."""
    key = snapshot_key(prepared(spark, sf_dir), sf_dir, views)
    if key is None:
        return builder()
    with _SCOPED_LOCK:
        lock = _SNAPSHOT_BUILD.setdefault(name, threading.Lock())
    with lock:
        with _SCOPED_LOCK:
            if name in _SNAPSHOT and _SNAPSHOT[name][0] == key:
                return _SNAPSHOT[name][1]
            old = _SNAPSHOT.pop(name, None)
        if old is not None and old[1].is_cached:
            _release_entry(old[1])
        value = builder()
        with _SCOPED_LOCK:
            _SNAPSHOT[name] = (key, value)
        return value


def release_query_caches() -> int:
    """Unpersist every query-scoped cache and clear the query-scoped memo;
    snapshot-scoped entries stay. Returns the number of caches released."""
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


def _release_entry(df) -> int:
    """Release one snapshot entry: unpersist it if it is persisted, else
    unpersist the checkpointed RDDs it scans (the LogicalRDD leaves of its
    plan). Returns how many caches and checkpoints it released."""
    n = 0
    try:
        if df.is_cached:
            df.unpersist()
            return 1
        leaves = df._jdf.queryExecution().logical().collectLeaves().iterator()
        while leaves.hasNext():
            leaf = leaves.next()
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
                n += 1
    except Exception:
        pass  # its session is stopped — nothing to release
    return n


def release_caches() -> int:
    """Release both lifetimes: the query-scoped caches and memos, and every
    snapshot-scoped entry, unpersisted here and now rather than whenever the
    ContextCleaner collects the last reference (a poll of the
    persistent-RDD map pins what it lists until Python's GC detaches it, so
    a collector-timed release can lag indefinitely). So a DataFrame built on
    a checkpointed entry must be materialized before this call; the
    registry wrapper never calls it (release_query_caches), and
    construct-then-materialize callers never see the difference. Returns
    the number of caches and checkpoints released."""
    with _SCOPED_LOCK:
        drained = [value for _, value in _SNAPSHOT.values()]
        _SNAPSHOT.clear()
    return sum(_release_entry(df) for df in drained) + release_query_caches()


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
    """Ensure base + derived temp views are registered for sf_dir (cached
    per session_id: another session or a restarted context registers
    again)."""
    key = (*session_id(spark), sf_dir)
    if key not in _PREPARED:
        register_all(spark, sf_dir)
        _PREPARED.clear()  # one sf_dir active per session at a time
        _PREPARED.add(key)
    return spark
