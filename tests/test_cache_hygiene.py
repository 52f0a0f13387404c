"""Cache lifecycle: a multi-query driver session must not accumulate caches.

Round 2 left every intra-plan `.cache()` pinned forever; a 50-query driver
session accumulated dozens of cached relations, and the resulting eviction
pressure was the best-candidate trigger for the compaction_plan flake
(VERDICT r2, "What's wrong" #2). Now every such cache is registered via
`operators.scoped_cache` and the registry wrapper releases the previous
query's caches when the next query is constructed — at most ONE query's
caches are live at any point in a driver session.
"""

from __future__ import annotations

from s3bigdatasync_spark import registry
from s3bigdatasync_spark.operators import release_caches

# Queries whose plans carry scoped caches (self-join both-sides, probe +
# semi-join reuse, iterative labels) — the heaviest cache users in the engine.
CACHE_HEAVY = [
    "dedup_anti_join",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "vocab_coverage",
    "bloom_semi_prune",
    "retention_cohorts",
    "tfidf_top_terms",
    "minhash_calibration",
]


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_scoped_caches_released_between_queries(spark, sf_dir):
    qs = registry.full_queries()
    release_caches()  # drop anything a previous test file's query left
    base = _n_persistent(spark)
    for name in CACHE_HEAVY:
        qs[name](spark, sf_dir).collect()
        # live caches = this query's own only, never an accumulating tail
        assert _n_persistent(spark) <= base + 8, f"cache pile-up after {name}"
    released = release_caches()
    assert released > 0  # the sweep exercised real caches, not a no-op
    assert _n_persistent(spark) <= base


def test_clustering_build_leaves_no_checkpoint(spark, sf_dir):
    """The clustering build checkpoints its symmetric edges and each
    label-propagation round; it releases each superseded round and the
    edges itself, and release_caches() the stored labels. So no checkpoint
    waits for the ContextCleaner: the count is back at baseline at once,
    with no GC poll."""
    release_caches()
    base = _n_persistent(spark)
    registry.full_queries()["dedup_clusters"](spark, sf_dir).collect()
    assert release_caches() > 0
    assert _n_persistent(spark) <= base


def test_release_caches_idempotent(spark, sf_dir):
    qs = registry.full_queries()
    qs["dedup_anti_join"](spark, sf_dir).collect()
    assert release_caches() > 0
    assert release_caches() == 0
