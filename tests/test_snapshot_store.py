"""Snapshot-scoped near-dup cluster labels: the pair graph and the
connected-components fixpoint run once per (SparkContext, sf_dir, documents
files), and every clustering query over the same snapshot reuses them.

All tests run on a private copy of the sf0.001 tables, so rewriting
`documents.parquet` never touches the shared testdata."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest

from s3bigdatasync_spark import operators, registry
from s3bigdatasync_spark.operators import dedup, release_caches
from s3bigdatasync_spark.views import register_all

from .conftest import REPO, SF_DIR, SF_SMALL
from .oracle_utils import assert_match
from .test_pipeline import _in_job_group

_ORACLES = registry.full_oracles()
# every registry query that clusters through dedup_clusters' labels
CLUSTERING = [
    "dedup_clusters",
    "cluster_sizes",
    "cluster_chain_audit",
    "dedup_canonical",
    "leakage_safe_split",
    "corpus_yield_report",
    "corpus_release_manifest",
]
BATCH = ("dedup_clusters", "corpus_yield_report", "corpus_release_manifest")


@pytest.fixture(scope="module", autouse=True)
def _restore_views_after(spark):
    """These tests point the session temp views at a private copy; restore
    the suite's sf0.01 views and drop the copy's stored labels afterwards."""
    yield
    release_caches()
    operators._PREPARED.clear()
    register_all(spark, SF_DIR)


@pytest.fixture
def sf_copy(tmp_path):
    d = tmp_path / "sf"
    shutil.copytree(SF_SMALL, d)
    release_caches()
    return str(d)


@pytest.fixture
def builds(monkeypatch):
    """Counts label-propagation fixpoints run by dedup_clusters' lineage."""
    calls = []
    real = dedup._cc_labels

    def counting(edges, what):
        calls.append(what)
        return real(edges, what)

    monkeypatch.setattr(dedup, "_cc_labels", counting)
    return calls


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _rewrite_documents(sf_dir: str) -> None:
    """Give every fifth document the text of document 0: a new, larger
    near-dup cluster, written in place under the same file name."""
    path = os.path.join(sf_dir, "documents.parquet")
    t = pq.read_table(path)
    first = t.column("text")[0].as_py()
    texts = [
        first if i % 5 == 0 else s
        for i, s in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    ]
    t = t.set_column(t.schema.get_field_index("text"), "text", [texts])
    pq.write_table(t, path + ".tmp", row_group_size=t.num_rows)
    os.replace(path + ".tmp", path)


def test_second_call_reuses_labels(spark, sf_copy, builds):
    q = registry.full_queries()["dedup_clusters"]
    cold = q(spark, sf_copy)
    assert_match(cold, _ORACLES["dedup_clusters"], sf_copy)
    assert builds == ["dedup_clusters"]
    warm, n_jobs = _in_job_group(spark, lambda: _rows(q(spark, sf_copy)))
    assert builds == ["dedup_clusters"]  # no label-propagation round
    assert warm == _rows(cold)
    assert n_jobs <= 5


def test_rewritten_documents_are_a_miss(spark, sf_copy, builds):
    q = registry.full_queries()["dedup_clusters"]
    before = _rows(q(spark, sf_copy))
    _rewrite_documents(sf_copy)
    register_all(spark, sf_copy)
    after = q(spark, sf_copy)
    assert builds == ["dedup_clusters", "dedup_clusters"]
    assert_match(after, _ORACLES["dedup_clusters"], sf_copy)
    assert _rows(after) != before  # the rewrite changed the clusters
    assert_match(
        registry.full_queries()["corpus_yield_report"](spark, sf_copy),
        _ORACLES["corpus_yield_report"],
        sf_copy,
    )
    assert len(builds) == 2


def test_registry_keeps_labels_until_release(spark, sf_copy, builds):
    qs = registry.full_queries()
    qs["dedup_clusters"](spark, sf_copy).collect()
    qs["cluster_sizes"](spark, sf_copy).collect()  # releases query scope only
    assert builds == ["dedup_clusters"]
    assert "dedup_labels" in operators._SNAPSHOT
    release_caches()
    assert not operators._SNAPSHOT
    assert_match(qs["cluster_sizes"](spark, sf_copy), _ORACLES["cluster_sizes"], sf_copy)
    assert len(builds) == 2


def test_concurrent_construction_builds_once(spark, sf_copy, builds):
    """The sql_views shape: unwrapped queries constructed on an 8-thread
    pool, one release at the end. One fixpoint feeds all of them."""
    raw = registry.raw_queries()
    operators.prepared(spark, sf_copy)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            dfs = list(ex.map(lambda n: raw[n](spark, sf_copy), CLUSTERING))
        assert builds == ["dedup_clusters"]
        for name, df in zip(CLUSTERING, dfs):
            assert_match(df, _ORACLES[name], sf_copy)
    finally:
        release_caches()


def test_warm_batch_job_budget(spark, sf_copy):
    """After one warm-up call the corpus-curation batch stays within 50
    Spark jobs (it ran 102 when every call rebuilt the labels), and a warm
    dedup_clusters within 5."""
    qs = registry.full_queries()
    for name in BATCH:
        qs[name](spark, sf_copy).collect()
    _, batch_jobs = _in_job_group(
        spark, lambda: [qs[n](spark, sf_copy).collect() for n in BATCH]
    )
    _, dc_jobs = _in_job_group(spark, lambda: qs["dedup_clusters"](spark, sf_copy).collect())
    assert batch_jobs <= 50
    assert dc_jobs <= 5


_RESTART = r"""
import sys
sys.path.insert(0, {repo!r})
from s3bigdatasync_spark import operators
from s3bigdatasync_spark.operators import dedup
from s3bigdatasync_spark.session import get_spark

calls = []
real = dedup._cc_labels
dedup._cc_labels = lambda edges, what: calls.append(what) or real(edges, what)
rows = []
for _ in range(2):
    spark = get_spark("snapshot-restart", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    operators._PREPARED.clear()
    rows.append(sorted(tuple(r) for r in dedup.dedup_clusters(spark, {sf!r}).collect()))
    spark.stop()
assert rows[0] == rows[1] and len(rows[0]) > 0, "rows differ across contexts"
assert len(calls) == 2, calls
print("RESTART-OK")
"""


def test_context_restart_is_a_miss(sf_copy):
    """A new SparkContext never reuses labels checkpointed in the old one
    (their blocks died with it): the second context rebuilds, no error."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _RESTART.format(repo=str(REPO), sf=sf_copy)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0 and "RESTART-OK" in out.stdout, out.stderr[-3000:]
