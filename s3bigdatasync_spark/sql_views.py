"""SQL surface: every operator as a queryable temp view.

The reference has no SQL interface at all (SURVEY §3: "no query language, no
IR"); this engine's DataFrame programs are logical plans, so exposing them as
views is free — `spark.sql("SELECT * FROM inventory_diff_v WHERE variance =
'New'")` composes with further Catalyst optimization (filters push INTO the
view's plan).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import operators, registry

VIEW_SUFFIX = "_v"

# (applicationId, sessionUUID, sf_dir) -> registered view names.
# Construction builds all ~175 query plans (some train models / collect
# boundaries at plan-build time), ~100 s at sf0.001 — but temp views live in
# the session catalog, so repeat registration for the same (session, sf_dir)
# is pure waste (the r8 suite paid it three times, 18% of the wall clock).
# Keyed by operators.session_id: a new session (newSession() or a restarted
# context) gets a fresh catalog AND a fresh key; pass force=True after
# changing the underlying tables in place.
_REGISTERED: dict[tuple[str, str, str], list[str]] = {}


def referenced_queries(statement: str) -> list[str]:
    """Registry query names whose `<name>_v` view a SQL statement references
    — every identifier-shaped `x_v` token intersected with the registry, so
    `sql` consumers can register ONLY what a statement needs instead of
    constructing all ~187 plans (plan construction includes model-training
    collects; one ad-hoc query should not pay for the whole catalog)."""
    import re

    known = set(registry.raw_queries())
    return sorted(
        {
            m.group(1)
            for m in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)_v\b", statement)
            if m.group(1) in known
        }
    )


def register_query_views(
    spark: SparkSession, sf_dir: str, force: bool = False, only=None
) -> list[str]:
    """Register base tables, derived reference-native views, and one temp
    view per registry query (named `<query>_v`). Returns the view names.
    Memoized per (session, sf_dir) — the views persist in the session
    catalog, so re-registration only matters if the tables changed
    (force=True).

    `only=[names]` registers just those queries' views (plus the base
    tables): the subset path for statement-driven consumers (see
    referenced_queries). Subset registration is memoized per view via the
    catalog itself and never touches the full-registration memo."""
    if only is not None:
        operators.prepared(spark, sf_dir)
        raw = registry.raw_queries()
        names = []
        try:
            for name in only:
                view = f"{name}{VIEW_SUFFIX}"
                if force or not spark.catalog.tableExists(view):
                    raw[name](spark, sf_dir).createOrReplaceTempView(view)
                names.append(view)
        finally:
            operators.release_query_caches()
        return names
    key = (*operators.session_id(spark), sf_dir)
    if not force and key in _REGISTERED:
        return _REGISTERED[key]
    # Seed operators._PREPARED, not a bare register_all (round-10 ADVICE):
    # the pool below constructs queries that each call operators.prepared(),
    # and an unseeded memo would make the first ~8 concurrent constructions
    # re-run register_all concurrently — redundant catalog re-registration
    # racing sibling threads' actions against those same views.
    operators.prepared(spark, sf_dir)
    # Bulk construction tuned two ways (round-10 durations surgery, measured
    # at sf0.01 on the profile box):
    #   * raw (unwrapped) queries — construction does NOT release the
    #     previous query's scoped caches/memos, so model families train once
    #     instead of once per query; ONE release at the end (the
    #     one-live-query contract is documented safe-but-slow to violate,
    #     and for construction the release was the slow part);
    #   * an 8-thread pool — plan construction is Py4J-latency-bound and
    #     Py4J releases the GIL on socket waits, so threads overlap it:
    #     150 s sequential → 69 s. Temp-view names are distinct per thread;
    #     base tables are pre-registered by register_all above; concurrent
    #     scoped-memo fills waste a little work but compute identical state
    #     (training is deterministic), so results are unchanged.
    from concurrent.futures import ThreadPoolExecutor

    def build(item) -> str:
        name, fn = item
        view = f"{name}{VIEW_SUFFIX}"
        fn(spark, sf_dir).createOrReplaceTempView(view)
        return view

    # try/finally (round-10 ADVICE): if any build() raises, the scoped
    # caches accumulated across the ~185 raw constructions must still be
    # released — otherwise every one of them leaks into the session. Only
    # the query scope: the views read snapshot-scoped entries (the near-dup
    # cluster labels, the inventory diff, the DSIR weights), which must
    # outlive registration.
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            names = list(ex.map(build, registry.raw_queries().items()))
    finally:
        operators.release_query_caches()
    _REGISTERED.clear()  # one sf_dir's views live in the catalog at a time
    _REGISTERED[key] = names
    return names
