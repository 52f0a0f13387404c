"""The snapshot store (operators.snapshot_memo): a relation keyed by the
files of the views it reads is built once per (SparkSession, sf_dir, file
snapshot), and every query over the same snapshot reuses it —
  * the near-dup cluster labels (`documents`): the pair graph and the
    connected-components fixpoint;
  * the src/dst inventory diff (`inventory_src`, `inventory_dst`), shared by
    inventory_diff, diff_summary, transfer_cost_estimate, diff_apply_check;
  * the DSIR importance weights (`documents`), read by
    corpus_release_manifest through the corpus table;
  * the per-document corpus table, training_corpus (`documents`), which
    corpus_yield_report and corpus_release_manifest each aggregate once.

All tests run on a private copy of the sf0.001 tables, so rewriting
`documents.parquet` or `lineitem.parquet` never touches the shared
testdata."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest

from pyspark.storagelevel import StorageLevel

from s3bigdatasync_spark import operators, registry, sql_views
from s3bigdatasync_spark.operators import curation, dedup, joins, release_caches
from s3bigdatasync_spark.plans import llm_corpus
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
# the two reports over the stored corpus table
REPORTS = ("corpus_yield_report", "corpus_release_manifest")
# every registry query that reads the stored inventory diff
DIFF = ("inventory_diff", "diff_summary", "transfer_cost_estimate", "diff_apply_check")
# perfbench's sync_lifecycle planning leg
PLANNING = (
    "inventory_diff",
    "diff_summary",
    "transfer_cost_estimate",
    "inventory_stats",
    "verification_join",
)


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


@pytest.fixture
def stored(monkeypatch):
    """Counts builds of the stored diff ("diff"), DSIR weights ("dsir") and
    corpus table ("corpus"). The corpus builder reads the DSIR slot, so an
    empty corpus slot over an empty DSIR slot logs "corpus", "dsir"."""
    calls = []
    real_diff, real_dsir = joins.diff_kernel, curation._dsir_weights
    real_corpus = llm_corpus._corpus_gates

    def diff(src, dst):
        calls.append("diff")
        return real_diff(src, dst)

    def dsir(spark, sf_dir):
        calls.append("dsir")
        return real_dsir(spark, sf_dir)

    def corpus(spark, sf_dir):
        calls.append("corpus")
        return real_corpus(spark, sf_dir)

    monkeypatch.setattr(joins, "diff_kernel", diff)
    monkeypatch.setattr(curation, "_dsir_weights", dsir)
    monkeypatch.setattr(llm_corpus, "_corpus_gates", corpus)
    return calls


def _persistent(spark) -> set[int]:
    """Ids of the persisted RDDs (ids, not a count: a checkpoint an earlier
    test dropped may be collected at any moment)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


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


def _rewrite_lineitem(sf_dir: str) -> None:
    """Flag every third line item as returned ('R'): its dst object drifts
    in size and etag, so the diff gains Update rows. Written in place under
    the same file name."""
    path = os.path.join(sf_dir, "lineitem.parquet")
    t = pq.read_table(path)
    flags = [
        "R" if i % 3 == 0 else f for i, f in enumerate(t.column("l_returnflag").to_pylist())
    ]
    i = t.schema.get_field_index("l_returnflag")
    t = t.set_column(i, "l_returnflag", [flags])
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
    """After one warm-up call the corpus-curation batch stays within 10
    Spark jobs (102 when every call rebuilt the labels, 20 when each report
    rebuilt the corpus table), and a warm dedup_clusters within 5."""
    qs = registry.full_queries()
    for name in BATCH:
        qs[name](spark, sf_copy).collect()
    _, batch_jobs = _in_job_group(
        spark, lambda: [qs[n](spark, sf_copy).collect() for n in BATCH]
    )
    _, dc_jobs = _in_job_group(spark, lambda: qs["dedup_clusters"](spark, sf_copy).collect())
    assert batch_jobs <= 10
    assert dc_jobs <= 5


def test_repeated_diff_and_dsir_calls_build_once(spark, sf_copy, stored):
    """Four diff queries, each called twice, share one stored diff; three
    DSIR readers share one stored set of weights, and the two manifest calls
    one stored corpus table. Every result matches its DuckDB oracle."""
    qs = registry.full_queries()
    for name in DIFF + DIFF:
        assert_match(qs[name](spark, sf_copy), _ORACLES[name], sf_copy)
    assert stored == ["diff"]
    for name in ("dsir_importance", "corpus_release_manifest", "corpus_release_manifest"):
        assert_match(qs[name](spark, sf_copy), _ORACLES[name], sf_copy)
    assert stored == ["diff", "dsir", "corpus"]


def test_rewritten_lineitem_is_a_diff_miss(spark, sf_copy, stored):
    """A rewritten inventory file is a miss: the diff is built again, the
    old entry is unpersisted (a rewritten file keeps its path, so a stale
    entry left registered would answer for it), and every diff query
    matches its oracle on the new files."""
    qs = registry.full_queries()
    ids = _persistent(spark)
    before = _rows(qs["inventory_diff"](spark, sf_copy))
    old_diff = _persistent(spark) - ids
    _rewrite_lineitem(sf_copy)
    register_all(spark, sf_copy)
    after = _rows(qs["inventory_diff"](spark, sf_copy))
    assert stored == ["diff", "diff"]
    assert after != before  # the rewrite changed the diff
    assert old_diff and not old_diff & _persistent(spark)
    for name in DIFF:
        assert_match(qs[name](spark, sf_copy), _ORACLES[name], sf_copy)
    assert stored == ["diff", "diff"]


def test_rewritten_documents_are_a_dsir_miss(spark, sf_copy, stored):
    qs = registry.full_queries()
    before = _rows(qs["dsir_importance"](spark, sf_copy))
    _rewrite_documents(sf_copy)
    register_all(spark, sf_copy)
    after = qs["dsir_importance"](spark, sf_copy)
    assert stored == ["dsir", "dsir"]
    assert _rows(after) != before  # the rewrite changed the weights
    for name in ("dsir_importance", "corpus_release_manifest"):
        assert_match(qs[name](spark, sf_copy), _ORACLES[name], sf_copy)
    assert stored == ["dsir", "dsir", "corpus"]


def test_rewritten_documents_are_a_corpus_miss(spark, sf_copy, stored):
    """A rewritten documents file is a miss for the corpus table: it is
    built again, the old entry is unpersisted (not only replaced: a stale
    entry left registered could answer for the rewritten file), and both
    reports match their oracles on the new files."""
    qs = registry.full_queries()
    before = _rows(qs["corpus_yield_report"](spark, sf_copy))
    old = operators._SNAPSHOT["training_corpus"][1]
    assert old.storageLevel != StorageLevel.NONE
    _rewrite_documents(sf_copy)
    register_all(spark, sf_copy)
    after = qs["corpus_yield_report"](spark, sf_copy)
    assert stored == ["corpus", "dsir", "corpus", "dsir"]
    assert old.storageLevel == StorageLevel.NONE
    assert operators._SNAPSHOT["training_corpus"][1] is not old
    assert _rows(after) != before  # the rewrite changed the yield
    for name in REPORTS:
        assert_match(qs[name](spark, sf_copy), _ORACLES[name], sf_copy)
    assert stored == ["corpus", "dsir", "corpus", "dsir"]


def test_building_stored_queries_runs_no_job(spark, sf_copy, stored):
    """Building a query on an empty slot stores a lazy persist(): no Spark
    job until the caller's action. The corpus reports are built once the
    cluster labels are stored (their fixpoint is eager by design), so their
    first build measures the corpus and DSIR stores alone."""
    qs = registry.full_queries()
    qs["dedup_clusters"](spark, sf_copy).collect()
    for name in DIFF + REPORTS:
        df, jobs = _in_job_group(spark, lambda: qs[name](spark, sf_copy))
        assert jobs == 0, name
        _noop(df)
    # built on the first call, then reused
    assert stored == ["diff", "corpus", "dsir"]
    for name in DIFF + REPORTS:
        _, jobs = _in_job_group(spark, lambda: qs[name](spark, sf_copy))
        assert jobs == 0, name


def test_warm_planning_and_release_job_budgets(spark, sf_copy):
    """Warm, the planning leg reads one stored diff (22 jobs when each
    query rebuilt it), and each corpus report is one aggregate over the
    stored corpus table (the manifest ran 9 jobs and the yield report 7
    when each call rebuilt the table)."""
    qs = registry.full_queries()
    for name in PLANNING + REPORTS:
        _noop(qs[name](spark, sf_copy))
    _, plan_jobs = _in_job_group(spark, lambda: [_noop(qs[n](spark, sf_copy)) for n in PLANNING])
    report_jobs = {
        n: _in_job_group(spark, lambda: _noop(qs[n](spark, sf_copy)))[1] for n in REPORTS
    }
    assert plan_jobs <= 10
    assert report_jobs["corpus_release_manifest"] <= 2
    assert report_jobs["corpus_yield_report"] <= 2


def test_release_leaves_no_persisted_relation(spark, sf_copy, stored):
    """release_caches() unpersists the stored diff, DSIR and corpus
    relations at once: nothing they (or the query scope) persisted is
    left."""
    qs = registry.full_queries()
    ids = _persistent(spark)
    for name in DIFF + ("dsir_importance",) + REPORTS:
        _noop(qs[name](spark, sf_copy))
    added = _persistent(spark) - ids
    assert added
    assert {"inventory_diff", "dsir_importance", "training_corpus"} <= set(operators._SNAPSHOT)
    entries = [v for _, v in operators._SNAPSHOT.values()]
    assert release_caches() >= 2
    assert not operators._SNAPSHOT
    assert all(df.storageLevel == StorageLevel.NONE for df in entries)
    assert not added & _persistent(spark)


def test_new_session_registers_again(spark, sf_copy, monkeypatch):
    """operators.prepared and sql_views' registration memo are keyed by
    (applicationId, sessionUUID): a session from newSession() has its own
    temp views, so it registers again; the same session does not."""
    regs = []
    real_register = operators.register_all

    def counting(s, d):
        regs.append(operators.session_id(s))
        return real_register(s, d)

    monkeypatch.setattr(operators, "register_all", counting)
    operators.prepared(spark, sf_copy)
    regs.clear()
    operators.prepared(spark, sf_copy)
    assert regs == []
    other = spark.newSession()
    operators.prepared(other, sf_copy)
    assert regs == [operators.session_id(other)] != [operators.session_id(spark)]
    assert other.catalog.tableExists("inventory_src")

    built = []
    real_query = registry.raw_queries()["verification_join"]

    def one_query():
        return {"verification_join": lambda s, d: built.append(s) or real_query(s, d)}

    monkeypatch.setattr(registry, "raw_queries", one_query)
    saved = dict(sql_views._REGISTERED)
    try:
        a, b = spark.newSession(), spark.newSession()
        assert sql_views.register_query_views(a, sf_copy) == ["verification_join_v"]
        sql_views.register_query_views(a, sf_copy)
        assert built == [a]
        sql_views.register_query_views(b, sf_copy)
        assert built == [a, b]
        assert b.catalog.tableExists("verification_join_v")
    finally:
        sql_views._REGISTERED.clear()
        sql_views._REGISTERED.update(saved)


_RESTART = r"""
import sys
sys.path.insert(0, {repo!r})
from s3bigdatasync_spark import operators
from s3bigdatasync_spark.operators import dedup
from s3bigdatasync_spark.session import get_spark

calls = []
real = dedup._cc_labels
dedup._cc_labels = lambda edges, what: calls.append(what) or real(edges, what)
regs = []
real_register = operators.register_all
operators.register_all = lambda s, d: regs.append(d) or real_register(s, d)
rows = []
for _ in range(2):
    spark = get_spark("snapshot-restart", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    rows.append(sorted(tuple(r) for r in dedup.dedup_clusters(spark, {sf!r}).collect()))
    spark.stop()
assert rows[0] == rows[1] and len(rows[0]) > 0, "rows differ across contexts"
assert len(calls) == 2, calls
assert len(regs) == 2, regs
print("RESTART-OK")
"""


def test_context_restart_is_a_miss(sf_copy):
    """A new SparkContext never reuses labels checkpointed in the old one
    (their blocks died with it): the second context registers its views
    again and rebuilds, no error."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _RESTART.format(repo=str(REPO), sf=sf_copy)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0 and "RESTART-OK" in out.stdout, out.stderr[-3000:]
