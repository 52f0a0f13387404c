"""Semantic pins for the round-2 additions beyond the oracle hash-compare
(tests/test_queries_oracle.py already proves Spark == DuckDB for each; these
assert the operators also MEAN what they claim)."""

import pytest

from s3bigdatasync_spark.operators import curation, dedup, similarity, stats, text

SF = "/root/testdata/sf0.001"


def test_pii_redact_fires_on_every_doc(spark):
    rows = curation.pii_redact(spark, SF).collect()
    assert rows
    for r in rows:
        # one injected email + one injected dotted quad per doc, both caught
        assert r["n_emails"] >= 1
        assert r["n_ips"] >= 1


def test_span_dedup_flags_cross_doc_spans(spark):
    rows = dedup.span_dedup(spark, SF).collect()
    assert rows
    assert any(r["n_dup_spans"] > 0 for r in rows), "no duplicated span found"
    for r in rows:
        assert 0 <= r["n_dup_spans"] <= r["n_spans"]
        assert 0.0 <= r["dup_frac"] <= 1.0
        assert r["keep"] == (r["dup_frac"] < 0.5)


def test_bm25_ranking_shape(spark):
    rows = text.bm25_search(spark, SF).collect()
    assert 0 < len(rows) <= text.BM25_TOP_N
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r["n_query_terms"] <= len(text.BM25_QUERY) for r in rows)


def test_inverted_index_ordering(spark):
    rows = text.inverted_index(spark, SF).collect()
    assert 0 < len(rows) <= text.IDX_TOP_TOKENS
    dfs = [r["df"] for r in rows]
    assert dfs == sorted(dfs, reverse=True)
    for r in rows:
        assert r["tf_total"] >= r["df"] >= 1
        assert r["top_doc_tf"] >= 1


def test_kmeans_partitions_all_vectors(spark):
    out = similarity.kmeans_lloyd(spark, SF)
    rows = out.collect()
    n_vecs = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert len(rows) == n_vecs
    clusters = {r["cluster"] for r in rows}
    assert clusters <= set(range(similarity.KMEANS_K))
    assert len(clusters) > 1, "degenerate single-cluster solution"
    assert all(r["d2"] >= 0 for r in rows)


def test_kmeans_update_does_not_worsen_inertia(spark):
    """One Lloyd update must not increase total within-cluster d2."""
    import s3bigdatasync_spark.operators.similarity as sim

    orig = sim.KMEANS_ITERS
    try:
        sim.KMEANS_ITERS = 1
        i1 = sum(r["d2"] for r in sim.kmeans_lloyd(spark, SF).collect())
        sim.KMEANS_ITERS = 2
        i2 = sum(r["d2"] for r in sim.kmeans_lloyd(spark, SF).collect())
    finally:
        sim.KMEANS_ITERS = orig
    assert i2 <= i1 + 1e-6


def test_table_checksum_detects_drift(spark):
    rows = {r["side"]: r for r in stats.table_checksum(spark, SF).collect()}
    assert set(rows) == {"src", "dst"}
    # dst snapshot drops/drifts objects by construction → fingerprints differ
    assert rows["src"]["checksum"] != rows["dst"]["checksum"]
    assert rows["src"]["n_rows"] > 0


def test_data_profile_key_column(spark):
    prof = {r["col"]: r for r in stats.data_profile(spark, SF).collect()}
    assert set(prof) == {c for c, _ in stats._PROFILE_COLS}
    key = prof["key"]
    assert key["n_null"] == 0
    # the 4-col composite key has exactly one collision at sf0.001 (it is
    # verified unique at sf0.01/sf0.1 — views.py) — the profile's job is to
    # SURFACE that, which is what this pin documents
    assert key["n_distinct"] >= key["n_rows"] - 1
    sc = prof["storage_class"]
    assert sc["n_distinct"] <= 3


def test_semantic_dedup_consistency(spark):
    rows = similarity.semantic_dedup(spark, SF).collect()
    n_vecs = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert len(rows) == n_vecs
    for r in rows:
        assert r["keep"] == (r["n_close_lower"] == 0)
    # dropping is one-directional: the lowest-id vector of any cluster keeps
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for members in by_cluster.values():
        lowest = min(members, key=lambda r: r["vec_id"])
        assert lowest["keep"]


def test_ewma_tracks_counts(spark):
    rows = curation.ewma_smooth(spark, SF).collect()
    assert rows
    by_minute = sorted(rows, key=lambda r: r["minute"])
    # first observation of a day has ewma == its own count (weight-1 window)
    first = by_minute[0]
    assert abs(first["ewma"] - first["n"]) < 1e-9
    lo, hi = min(r["n"] for r in rows), max(r["n"] for r in rows)
    assert all(lo - 1e-9 <= r["ewma"] <= hi + 1e-9 for r in rows)


def test_cluster_sizes_accounting(spark):
    rows = dedup.cluster_sizes(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["n_removed"] == (r["cluster_size"] - 1) * r["n_clusters"]


def test_media_dedup_accounting(spark):
    from s3bigdatasync_spark.operators import multimodal

    rows = multimodal.media_dedup(spark, SF).collect()
    assert {r["media_type"] for r in rows} <= {"image", "audio", "video"}
    for r in rows:
        assert r["n_unique"] <= r["n_assets"]
        assert r["bytes_dedupable"] <= r["bytes_total"]
        if r["n_dup_groups"] == 0:
            assert r["bytes_dedupable"] == 0


def test_schema_drift_flags_dst_changes(spark):
    rows = {r["col"]: r for r in stats.schema_drift(spark, SF).collect()}
    assert set(rows) == {c for c, _ in stats._PROFILE_COLS}
    # dst drops linenumber=1 objects by construction -> row counts differ
    any_col = next(iter(rows.values()))
    assert any_col["dst_rows"] < any_col["src_rows"]
    for r in rows.values():
        assert r["drifted"] == (abs(r["distinct_drift"]) > stats._DRIFT_PCT)


def test_quantile_sketch_monotone_and_bounded(spark):
    rows = {r["q"]: r for r in stats.quantile_sketch(spark, SF).collect()}
    assert set(rows) == set(stats._QS_QUANTILES)
    assert rows[50]["size_upper"] <= rows[90]["size_upper"] <= rows[99]["size_upper"]
    # each estimate's bucket really covers >= q% of rows (sketch invariant)
    from s3bigdatasync_spark.operators import prepared
    from pyspark.sql import functions as F

    inv = prepared(spark, SF).table("inventory_src")
    n = inv.count()
    for q, r in rows.items():
        covered = inv.filter(F.col("size") <= r["size_upper"]).count()
        assert covered * 100 >= n * q


def test_group_sample_deterministic_per_source(spark):
    rows1 = sorted(map(tuple, curation.group_sample(spark, SF).collect()))
    rows2 = sorted(map(tuple, curation.group_sample(spark, SF).collect()))
    assert rows1 == rows2  # bitwise-stable across runs
    per_source = {}
    for r in curation.group_sample(spark, SF).collect():
        per_source.setdefault(r["source"], []).append(r["rank"])
    for ranks in per_source.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= curation.GS_K


def test_diff_is_invertible(spark, sf_dir):
    """Applying the computed diff to dst must reconstruct src exactly —
    checked at sf0.01 where the composite key is unique."""
    from s3bigdatasync_spark.operators import joins

    row = joins.diff_apply_check(spark, sf_dir).collect()[0]
    assert row["invertible"]
    assert row["n_missing"] == 0 and row["n_extra"] == 0
    assert row["n_reconstructed"] == row["n_src"]


def test_diff_apply_check_builds_no_job(spark, sf_dir):
    """diff_apply_check is one shuffle on key and one aggregate: building it
    runs no Spark job (the eager counts it replaced ran 28-35) and it still
    matches its DuckDB oracle. Run over the stored diff
    (operators.snapshot_memo) with the query scope released, as the
    registry wrapper does, it costs at most 5 jobs; it ran 29 when every
    run rebuilt the diff and 23 as five cross-joined one-row counts."""
    from s3bigdatasync_spark.operators import joins, release_query_caches

    from .oracle_utils import assert_match
    from .test_pipeline import _in_job_group
    from .test_plan_hygiene import assert_plan_hygiene

    df, jobs = _in_job_group(spark, lambda: joins.diff_apply_check(spark, sf_dir))
    assert jobs == 0
    assert_plan_hygiene(df, "diff_apply_check")
    assert_match(df, joins.ORACLES["diff_apply_check"], sf_dir)
    release_query_caches()
    _, run_jobs = _in_job_group(spark, lambda: joins.diff_apply_check(spark, sf_dir).collect())
    assert run_jobs <= 5


def test_snapshot_history_intervals_well_formed(spark):
    """SCD2 invariants: intervals are ordered and non-overlapping per key,
    every key's first run is the create, and every kept key really changed."""
    from s3bigdatasync_spark.operators import timeline

    per_key = {}
    for r in timeline.snapshot_history(spark, SF).collect():
        assert 1 <= r["v_from"] <= r["v_to"] <= 3
        per_key.setdefault(r["key"], []).append(r)
    assert per_key, "no churned keys at this SF"
    for runs in per_key.values():
        runs.sort(key=lambda r: r["v_from"])
        assert len(runs) > 1  # only changed keys are reported
        assert runs[0]["change"] == "create"
        for a, b in zip(runs, runs[1:]):
            assert b["change"] == "update"
            assert b["v_from"] == a["v_to"] + 1  # contiguous, non-overlapping
            assert b["etag"] != a["etag"]  # a run boundary is a real change


def test_retry_worklist_backoff_schedule(spark):
    from s3bigdatasync_spark.operators import timeline

    rows = timeline.retry_worklist(spark, SF).collect()
    assert rows, "no failed last attempts at this SF"
    for r in rows:
        assert 1 <= r["n_failures"] <= r["n_attempts"]
        assert r["backoff_bucket"] == min(r["n_failures"], timeline._MAX_BACKOFF)
        assert r["next_attempt_ts"] == r["last_ts"] + 60 * 2 ** r["backoff_bucket"]


def test_hot_prefix_report_shares_consistent(spark):
    from s3bigdatasync_spark.operators import timeline

    rows = timeline.hot_prefix_report(spark, SF).collect()
    assert 0 < len(rows) <= timeline._TOP_PREFIXES
    # sorted by bytes desc; shares are probabilities; hot matches skew
    bs = [r["bytes"] for r in rows]
    assert bs == sorted(bs, reverse=True)
    assert sum(r["share"] for r in rows) <= 1.000001
    for r in rows:
        assert r["hot"] == (r["skew_ratio"] > timeline._HOT_SKEW)


def test_collapse_runs_breaks_on_presence_gap(spark):
    """A key deleted in one snapshot and recreated later with the SAME etag
    must yield two runs (absence closes the interval), not one continuous
    [v1, v3] interval."""
    from s3bigdatasync_spark.operators.timeline import collapse_runs

    versions = spark.createDataFrame(
        [
            ("gap", 1, "e", 10),  # present v1
            ("gap", 3, "e", 10),  # absent v2, recreated v3 with same etag
            ("steady", 1, "e", 5),
            ("steady", 2, "e", 5),
            ("steady", 3, "e", 5),
        ],
        "key string, v int, etag string, size long",
    )
    runs = {
        (r["key"], r["v_from"], r["v_to"]) for r in collapse_runs(versions).collect()
    }
    assert ("gap", 1, 1) in runs and ("gap", 3, 3) in runs
    assert ("steady", 1, 3) in runs
    assert len([r for r in runs if r[0] == "gap"]) == 2


def test_snapshot_history_merge_equivalence(spark):
    """Folding snapshot v3 into collapse_runs(v<=2) must equal
    collapse_runs(v<=3) on a well-formed relation (one etag per key per
    snapshot) covering: steady key, etag change, delete+recreate-same-etag
    (gap), late create, and delete (absent from v3)."""
    from s3bigdatasync_spark.operators.timeline import (
        collapse_runs,
        snapshot_history_merge,
    )

    rows = [
        # steady across all three
        ("steady", 1, "e", 5), ("steady", 2, "e", 5), ("steady", 3, "e", 4),
        # etag changes at v3
        ("churn", 1, "a", 9), ("churn", 2, "a", 9), ("churn", 3, "b", 9),
        # present v1, absent v2, recreated v3 with the SAME etag
        ("gap", 1, "e", 7), ("gap", 3, "e", 7),
        # first appears at v3
        ("late", 3, "x", 2),
        # deleted before v3
        ("gone", 1, "z", 1), ("gone", 2, "z", 1),
    ]
    schema = "key string, v int, etag string, size long"
    all_v = spark.createDataFrame(rows, schema)
    upto2 = spark.createDataFrame([r for r in rows if r[1] <= 2], schema)
    v3 = spark.createDataFrame(
        [(k, e, s) for (k, v, e, s) in rows if v == 3],
        "key string, etag string, size long",
    )

    direct = {tuple(r) for r in collapse_runs(all_v).collect()}
    merged = {
        tuple(r)
        for r in snapshot_history_merge(collapse_runs(upto2), v3, 3).collect()
    }
    assert merged == direct


def test_snapshot_history_merge_incremental_cost(spark):
    """The merge never re-reads history beyond the run table: a key absent
    from the new snapshot passes through byte-identical (same run_id, same
    interval), and repeated merges compose (v3 then v4 == direct v<=4)."""
    from s3bigdatasync_spark.operators.timeline import (
        collapse_runs,
        snapshot_history_merge,
    )

    rows = [
        ("k1", 1, "a", 5), ("k1", 2, "a", 5), ("k1", 3, "b", 5), ("k1", 4, "b", 5),
        ("k2", 1, "e", 3), ("k2", 2, "e", 3), ("k2", 3, "e", 3), ("k2", 4, "e", 3),
        ("k3", 1, "z", 9), ("k3", 2, "z", 9),
    ]
    schema = "key string, v int, etag string, size long"
    all_v = spark.createDataFrame(rows, schema)
    upto2 = spark.createDataFrame([r for r in rows if r[1] <= 2], schema)

    def snap(v):
        return spark.createDataFrame(
            [(k, e, s) for (k, vv, e, s) in rows if vv == v],
            "key string, etag string, size long",
        )

    step3 = snapshot_history_merge(collapse_runs(upto2), snap(3), 3)
    step4 = snapshot_history_merge(step3, snap(4), 4)
    direct = {tuple(r) for r in collapse_runs(all_v).collect()}
    assert {tuple(r) for r in step4.collect()} == direct


def test_coreset_radii_non_increasing(spark):
    """k-center greedy invariant: each selection's coverage radius is the
    global max of min-distances, so radii must be non-increasing in rank
    (the property the 2-approximation proof rests on), all selected ids
    distinct, and the seed is the lowest vec_id."""
    rows = sorted(similarity.coreset_kcenter(spark, SF).collect(), key=lambda r: r["rank"])
    assert len(rows) == similarity.CORESET_K
    assert len({r["vec_id"] for r in rows}) == similarity.CORESET_K
    min_id = spark.read.parquet(f"{SF}/embeddings.parquet").agg({"vec_id": "min"}).collect()[0][0]
    assert rows[0]["vec_id"] == min_id and rows[0]["radius"] == 0.0
    radii = [r["radius"] for r in rows[1:]]
    assert all(r > 0 for r in radii)
    assert all(a >= b - 1e-9 for a, b in zip(radii, radii[1:]))


def test_lsh_band_plan_structure(spark):
    """Banding-evidence invariants: candidate volume strictly grows with
    band count (more, narrower bands collide more), recall grows with band
    count too (each band is another chance to collide), exactly one config
    is recommended, it meets the recall target when any config does, and the
    shipped 4x3 config's slot count is an upper bound on the distinct pairs
    minhash_lsh_pairs emits (slots count band-multiplicity)."""
    rows = {(r["bands"], r["rows_per_band"]): r for r in dedup.lsh_band_plan(spark, SF).collect()}
    assert len(rows) == len(dedup._LSH_CONFIGS)
    by_bands = [rows[c] for c in sorted(rows)]
    vols = [r["n_cand_pairs"] for r in by_bands]
    recalls = [r["recall"] for r in by_bands]
    assert vols == sorted(vols)
    assert recalls == sorted(recalls)
    rec = [r for r in rows.values() if r["recommended"]]
    assert len(rec) == 1
    if any(r["meets_target"] for r in rows.values()):
        assert rec[0]["meets_target"]
    shipped = rows[(dedup.BANDS, dedup.MINHASH_K // dedup.BANDS)]
    n_lsh = dedup.minhash_lsh_pairs(spark, SF).count()
    assert shipped["n_cand_pairs"] >= n_lsh


def test_leakage_safe_split_conserves_and_moves(spark):
    """Cluster-level assignment is a pure relabeling: per-source doc/char
    totals must equal dataset_split's (no doc appears or vanishes), every
    moved doc must be a member of a non-singleton near-dup cluster, and
    within each cluster all members land in one split (checked directly on
    the cluster relation)."""
    from pyspark.sql import functions as F

    rows = curation.leakage_safe_split(spark, SF).collect()
    base = {
        (r["source"], r["split"]): r for r in curation.dataset_split(spark, SF).collect()
    }
    by_source = {}
    for r in rows:
        agg = by_source.setdefault(r["source"], [0, 0, 0])
        agg[0] += r["n_docs"]
        agg[1] += r["total_chars"]
        agg[2] += r["n_moved"]
    base_by_source = {}
    for (src, _), r in base.items():
        agg = base_by_source.setdefault(src, [0, 0])
        agg[0] += r["n_docs"]
        agg[1] += r["total_chars"]
    assert {s: a[:2] for s, a in by_source.items()} == base_by_source
    # moved docs are bounded by the non-singleton cluster population
    clusters = dedup.dedup_clusters(spark, SF)
    nonsingleton = (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("t"))
        .collect()[0]["t"]
    )
    total_moved = sum(a[2] for a in by_source.values())
    assert 0 <= total_moved <= nonsingleton
    # n_moved equals the directly-computed relocation count (at sf0.001 the
    # fixture's cluster members all happen to share their cluster's bucket,
    # so this is 0 here — it is 3 at the driver's sf0.01, where the
    # relocation path is exercised under the oracle hash)
    expected_moved = clusters.filter(
        curation._split_col(F.col("cluster_id")) != curation._split_col(F.col("doc_id"))
    ).count()
    assert total_moved == expected_moved


def test_seq_packing_plan_accounting(spark):
    """Token conservation per config: truncate keeps one slot-row per doc and
    kept+trunc must equal the corpus total; chunk never truncates and its
    kept must equal the corpus total; in both modes kept+pad fills the slot
    budget n_seqs*L exactly. The corpus total is cross-checked against
    token_stats (same tokenizer), and once L covers the longest doc the two
    modes must agree cell-for-cell."""
    from pyspark.sql import functions as F

    rows = {
        (r["mode"], r["max_seq_len"]): r
        for r in text.seq_packing_plan(spark, SF).collect()
    }
    totals = text.token_stats(spark, SF).agg(
        F.sum("bpe_tokens").alias("t"), F.count("*").alias("n"), F.max("bpe_tokens").alias("mx")
    ).collect()[0]
    assert len(rows) == 2 * len(text.PACK_SEQ_LENS)
    for (mode, L), r in rows.items():
        assert r["n_docs"] == totals["n"]
        assert r["kept_tokens"] + r["pad_tokens"] == r["n_seqs"] * L
        if mode == "truncate":
            assert r["n_seqs"] == r["n_docs"]
            assert r["kept_tokens"] + r["trunc_tokens"] == totals["t"]
        else:
            assert r["trunc_tokens"] == 0
            assert r["kept_tokens"] == totals["t"]
            assert r["n_seqs"] >= r["n_docs"]
    for L in text.PACK_SEQ_LENS:
        if L >= totals["mx"]:
            tr, ch = rows[("truncate", L)], rows[("chunk", L)]
            assert tr.asDict() == {**ch.asDict(), "mode": "truncate"}


def test_hybrid_search_fuses_both_rankings(spark):
    """RRF fusion invariants: each retriever's #1 appears with rank 1 in the
    fused output (1/(k+1) from one list alone already beats any possible
    single-list score at rank >= 2, and two-list members only score higher);
    every rrf_score recomputes exactly from its two ranks; absent-pool ranks
    are 0."""
    rows = similarity.hybrid_search(spark, SF).collect()
    assert 0 < len(rows) <= similarity.HYBRID_TOP_N
    by_doc = {r["doc_id"]: r for r in rows}
    k = similarity.HYBRID_RRF_K
    for r in rows:
        expect = round(
            (1.0 / (k + r["lex_rank"]) if r["lex_rank"] else 0.0)
            + (1.0 / (k + r["vec_rank"]) if r["vec_rank"] else 0.0),
            6,
        )
        assert r["rrf_score"] == expect, r
    lex_top = text.bm25_search(spark, SF).collect()[0]["doc_id"]
    vec_top = similarity.ann_topk_bruteforce(spark, SF).collect()[0]["vec_id"]
    assert by_doc[lex_top]["lex_rank"] == 1
    assert by_doc[vec_top]["vec_rank"] == 1


def test_shared_substring_spans_ground_truth(spark):
    """Every reported span must literally verify against the raw texts:
    tokens[start_a : start_a+span] of doc_a equals the same-length window of
    doc_b, and the run is maximal on both sides (the token just before /
    just after differs or runs off the document — valid to assert directly
    here because the fixture's max gram postings count is far below the
    evidence-derived cap, so no boundary gram is cap-excluded)."""
    rows = dedup.shared_substring_spans(spark, SF).collect()
    assert rows, "fixture is known to contain shared prefixes"
    docs = dict(
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    for r in rows:
        ta, tb = docs[r["doc_a"]].split(), docs[r["doc_b"]].split()
        sa, sb, n = r["start_a"], r["start_b"], r["span_tokens"]
        assert n >= dedup.SPAN_GRAM_K
        assert ta[sa : sa + n] == tb[sb : sb + n], (r, ta[sa : sa + 3])
        if sa > 0 and sb > 0:
            assert ta[sa - 1] != tb[sb - 1], r
        if sa + n < len(ta) and sb + n < len(tb):
            assert ta[sa + n] != tb[sb + n], r


def test_dsir_importance_direction(spark):
    """DSIR sanity on a synthetic corpus built inline: a raw-pool doc made of
    target-exclusive tokens must outscore one made of pool-exclusive tokens,
    the target source never appears in the output, and a direct NumPy-free
    recomputation of one doc's smoothed log-ratio matches to 6dp."""
    import math

    from pyspark.sql import functions as F

    import s3bigdatasync_spark.operators as ops
    from s3bigdatasync_spark.operators import curation as c

    rows = [
        (0, c.DSIR_TARGET_SOURCE, "alpha beta alpha beta gamma"),
        (1, c.DSIR_TARGET_SOURCE, "alpha gamma gamma beta"),
        (2, "pool", "alpha beta gamma"),      # target-like
        (3, "pool", "zeta eta theta zeta"),   # pool-exclusive
        (4, "pool", "zeta eta alpha"),        # mixed
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"]).withColumn(
        "n_chars", F.length("text")
    ).withColumn("lang", F.lit("en"))
    import os
    import tempfile

    import duckdb

    from s3bigdatasync_spark.views import BASE_TABLES

    with tempfile.TemporaryDirectory() as d:
        con = duckdb.connect()
        for t in BASE_TABLES:  # schema-only copies so prepared() can register
            if t != "documents":
                con.execute(
                    f"COPY (SELECT * FROM '/root/testdata/sf0.001/{t}.parquet' LIMIT 0) "
                    f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
                )
        df.write.parquet(os.path.join(d, "documents.parquet"))
        ops._PREPARED.clear()
        out = {r["doc_id"]: r for r in c.dsir_importance(spark, d).collect()}
        ops._PREPARED.clear()
    assert set(out) == {2, 3, 4}
    assert all(r["source"] == "pool" for r in out.values())
    assert out[2]["avg_log_ratio"] > out[3]["avg_log_ratio"]
    # direct recompute for doc 3: tokens zeta(x2), eta, theta
    # target counts: 0 each; raw counts: zeta 3, eta 2, theta 1
    # tt = 9 target tokens, tr = 10 raw tokens, v = 6 union types
    def lr(ct, cr):
        return math.log(ct + 1) - math.log(9 + 6) - math.log(cr + 1) + math.log(10 + 6)
    expect = round((2 * lr(0, 3) + lr(0, 2) + lr(0, 1)) / 4, 6)
    assert out[3]["avg_log_ratio"] == expect
    assert out[3]["selected"] == (expect > 0)


def test_label_margin_audit_semantics(spark):
    """Margin identity (margin == round(d2_own - d2_other, 6)), mislabeled ==
    (d2_own > d2_other), nearest_other never equals the own label, and the
    relation is consistent with embedding_outliers' assignment: any vector
    this audit flags as mislabeled must be one whose nearest centroid is not
    its own label (cross-checked for the overlap of the two top-k windows)."""
    rows = similarity.label_margin_audit(spark, SF).collect()
    assert 0 < len(rows) <= similarity.MARGIN_K
    for r in rows:
        assert r["nearest_other"] != r["label"]
        assert r["margin"] == round(r["d2_own"] - r["d2_other"], 6)
        assert r["mislabeled"] == (r["d2_own"] > r["d2_other"])
    outliers = {
        r["vec_id"]: r for r in similarity.embedding_outliers(spark, SF).collect()
    }
    for r in rows:
        o = outliers.get(r["vec_id"])
        if o is not None and r["mislabeled"]:
            assert o["assigned"] != o["label"]


def test_shared_substring_spans_planted_corpus(spark):
    """Constructed corpus: docs 1 and 2 share exactly one planted 20-token
    run at different offsets (10 vs 3); a 12-token boilerplate block is
    stamped into 20 other docs so its grams' postings count (20) exceeds
    the evidence-derived cap (8 on this corpus: the pn=20 level's pair mass
    blows the linear budget) and must be cap-excluded — the planted span is
    the ONLY output, recovered with exact offsets and length."""
    import os
    import tempfile

    import duckdb

    import s3bigdatasync_spark.operators as ops
    from s3bigdatasync_spark.views import BASE_TABLES

    planted = " ".join(f"s{i}" for i in range(20))
    boiler = " ".join(f"b{i}" for i in range(12))
    rows = [
        (1, "src0", " ".join(f"a{i}" for i in range(10)) + " " + planted + " a90 a91 a92"),
        (2, "src1", "c0 c1 c2 " + planted + " " + " ".join(f"c{i}" for i in range(10, 16))),
    ]
    for d in range(20):
        rows.append((100 + d, "src2", f"u{d}x0 u{d}x1 u{d}x2 " + boiler))
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"]).selectExpr(
        "doc_id", "text", "'en' AS lang", "source", "length(text) AS n_chars"
    )
    with tempfile.TemporaryDirectory() as d:
        con = duckdb.connect()
        for t in BASE_TABLES:
            if t != "documents":
                con.execute(
                    f"COPY (SELECT * FROM '/root/testdata/sf0.001/{t}.parquet' LIMIT 0) "
                    f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
                )
        df.write.parquet(os.path.join(d, "documents.parquet"))
        ops._PREPARED.clear()
        out = dedup.shared_substring_spans(spark, d).collect()
        ops._PREPARED.clear()
    assert len(out) == 1, out
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert (r["start_a"], r["start_b"], r["span_tokens"]) == (10, 3, 20)


def test_corpus_release_manifest_consistency(spark):
    """The release manifest must conserve the corpus_yield_report totals
    (sum of n_docs/n_tokens over the manifest == sum of docs_kept/tokens_kept
    over the yield report — same survivor set, different grouping), splits
    must come only from {train, val, test}, and DSIR-selected counts are
    bounded by n_docs with the target source fully selected."""
    from s3bigdatasync_spark.plans import llm_corpus
    from s3bigdatasync_spark.operators.curation import DSIR_TARGET_SOURCE

    man = llm_corpus.corpus_release_manifest(spark, SF).collect()
    yld = llm_corpus.corpus_yield_report(spark, SF).collect()
    assert sum(r["n_docs"] for r in man) == sum(r["docs_kept"] for r in yld)
    assert sum(r["n_tokens"] for r in man) == sum(r["tokens_kept"] for r in yld)
    assert {r["split"] for r in man} <= {"train", "val", "test"}
    for r in man:
        assert 0 <= r["n_dsir_selected"] <= r["n_docs"]
        if r["source"] == DSIR_TARGET_SOURCE:
            assert r["n_dsir_selected"] == r["n_docs"]


def test_label_margin_audit_single_label_empty(spark):
    """With only one label there is no 'other' centroid: both engines must
    return zero rows (the Spark side short-circuits; the oracle's other-label
    CTE is empty) rather than emitting infinite margins."""
    import os
    import tempfile

    import duckdb

    import s3bigdatasync_spark.operators as ops
    from s3bigdatasync_spark.views import BASE_TABLES

    rows = [(i, [float(i % 7), 1.0, 2.0, 3.0], 0) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    with tempfile.TemporaryDirectory() as d:
        con = duckdb.connect()
        for t in BASE_TABLES:
            if t != "embeddings":
                con.execute(
                    f"COPY (SELECT * FROM '/root/testdata/sf0.001/{t}.parquet' LIMIT 0) "
                    f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
                )
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        ops._PREPARED.clear()
        out = similarity.label_margin_audit(spark, d).collect()
        con.execute(
            "CREATE OR REPLACE VIEW embeddings AS "
            f"SELECT * FROM '{d}/embeddings.parquet/*.parquet'"
        )
        oracle = con.execute(similarity._LABEL_MARGIN_SQL).fetchall()
        ops._PREPARED.clear()
    assert out == [] and oracle == []


def test_winnowing_guarantee_vs_spans(spark):
    """The winnowing guarantee, cross-checked against the exact operator:
    every doc pair that shared_substring_spans reports with a run of
    >= WINNOW_W + SPAN_GRAM_K - 1 tokens must appear among
    winnow_candidates' pairs (a full window fits inside the run, both docs
    pick the same minimal hash). The fixture's shared prefixes are ~90
    tokens, so the guarantee threshold (11) is exercised with wide margin."""
    t_guarantee = dedup.WINNOW_W + dedup.SPAN_GRAM_K - 1
    spans = dedup.shared_substring_spans(spark, SF).collect()
    long_pairs = {
        (r["doc_a"], r["doc_b"]) for r in spans if r["span_tokens"] >= t_guarantee
    }
    assert long_pairs, "fixture must contain runs above the guarantee length"
    # compare against the UNCAPPED candidate relation the top-N draws from:
    # rebuild pairs without the limit by raising the cutoff via the query's
    # own deterministic output (top-50 covers the fixture's pair count)
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.winnow_candidates(spark, SF).collect()
    }
    missing = long_pairs - cands
    assert not missing, missing


def test_seq_packing_plan_null_text(spark, tmp_path):
    """ADVICE r6: a NULL text must count as a zero-token doc in BOTH engines.
    Uncoalesced, Spark's size(regexp_extract_all(NULL)) = -1 (negative
    kept/trunc sums) while DuckDB drops the NULL from sums — a silent
    cross-engine divergence. Corpus = sf0.001 documents plus one NULL-text
    row; pins oracle parity, n_docs counting the NULL doc, and the
    zero-token-doc accounting (one all-pad sequence, no negatives)."""
    import shutil
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    import s3bigdatasync_spark.operators as ops
    from tests.oracle_utils import compare

    src = Path(SF)
    out = tmp_path / "nulltext"
    out.mkdir()
    for f in src.glob("*.parquet"):
        if f.name != "documents.parquet":
            shutil.copy(f, out / f.name)
    schema = pq.read_schema(src / "documents.parquet")
    rows = pq.read_table(src / "documents.parquet").to_pylist()
    n_base = len(rows)
    rows.append(
        {"doc_id": 90_000_000, "text": None, "lang": "en", "source": "synthetic", "n_chars": 0}
    )
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), out / "documents.parquet")
    try:
        r = compare(
            text.QUERIES["seq_packing_plan"](spark, str(out)),
            text.ORACLES["seq_packing_plan"],
            str(out),
        )
        assert r["ok"], {k: v for k, v in r.items() if k != "first_diffs"}
        got = {
            (row["mode"], row["max_seq_len"]): row
            for row in text.seq_packing_plan(spark, str(out)).collect()
        }
        base = {
            (row["mode"], row["max_seq_len"]): row
            for row in text.seq_packing_plan(spark, SF).collect()
        }
        for k, row in got.items():
            assert row["n_docs"] == n_base + 1
            assert row["kept_tokens"] == base[k]["kept_tokens"]
            assert row["trunc_tokens"] == base[k]["trunc_tokens"] >= 0
            # the NULL doc costs exactly one all-pad sequence
            assert row["n_seqs"] == base[k]["n_seqs"] + 1
            assert row["pad_tokens"] == base[k]["pad_tokens"] + k[1]
    finally:
        ops._PREPARED.clear()


def _band_keys_np(spark):
    """Independent numpy re-derivation of every vector's HARDNEG_BANDS
    band keys (the _hardneg_keys relation) for semantic cross-checks."""
    import numpy as np

    from s3bigdatasync_spark.operators import prepared
    from s3bigdatasync_spark.operators.vector_lsh import planes_matrix

    emb = prepared(spark, SF).table("embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    P = planes_matrix(similarity.HARDNEG_BANDS * similarity.N_PLANES)
    weights = 2 ** np.arange(similarity.N_PLANES)
    out = {}
    for r in rows:
        bits = (np.asarray(r["embedding"], dtype=np.float64) @ P.T) > 0
        out[r["vec_id"]] = {
            b: int(
                bits[b * similarity.N_PLANES : (b + 1) * similarity.N_PLANES]
                @ weights
            )
            for b in range(similarity.HARDNEG_BANDS)
        }
    return out


def test_hard_negative_mining_semantics(spark):
    """Every mined pair is cross-label, collides in at least one of the
    HARDNEG_BANDS band buckets at Hamming distance ≤ 1 (numpy
    re-derivation of the keys + flip expansion), is ordered by rounded
    cosine desc with (vec_a, vec_b) tiebreak, vec_a < vec_b, and carries no
    duplicate pair (multi-band/multi-flip collisions collapse to one
    row)."""
    rows = similarity.hard_negative_mining(spark, SF).collect()
    assert rows
    assert len(rows) <= similarity.HARDNEG_TOP_N
    for r in rows:
        assert r["vec_a"] < r["vec_b"]
        assert r["label_a"] != r["label_b"]
        assert -1.0 <= r["cosine"] <= 1.0
    keys = [(r["cosine"], r["vec_a"], r["vec_b"]) for r in rows]
    assert keys == sorted(keys, key=lambda k: (-k[0], k[1], k[2]))
    pairs = [(r["vec_a"], r["vec_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    bands = _band_keys_np(spark)
    for r in rows:
        ka, kb = bands[r["vec_a"]], bands[r["vec_b"]]
        assert any(
            bin(ka[b] ^ kb[b]).count("1") <= 1 for b in ka
        ), (r["vec_a"], r["vec_b"])


def test_hard_negative_multiband_recall(spark):
    """The r8 multi-band miner's reason to exist (r7 verdict item 7): its
    candidate set strictly contains the r7 single-bucket one (band 0 IS the
    lsh_buckets layout), and the measured probe recall — exact top-K
    cross-label neighbors visible to the index — is strictly higher for
    8 bands × Hamming-radius-1 flips than for band 0 alone. Measured at
    sf0.001: multi 0.60 vs single-band 0.02 (the exact cross-label
    neighbors sit at cosine 0.26-0.43 → ~2% per plain 8-bit band, which is
    exactly why the r7 single-bucket miner needed the multi-probe rebuild).
    Pins: multi ≥ 0.5, single ≤ 0.45 — the ordering can't flip on
    data-regeneration noise."""
    import numpy as np

    from pyspark.sql import functions as F
    from s3bigdatasync_spark.operators import prepared

    audit = similarity.hard_negative_recall(spark, SF).collect()
    assert [r["p_id"] for r in audit] == sorted(r["p_id"] for r in audit)
    for r in audit:
        assert r["n_exact"] <= similarity.HARDNEG_PROBE_K
        assert 0 <= r["n_hit"] <= r["n_exact"]
        assert abs(r["recall"] - round(r["n_hit"] / r["n_exact"], 6)) < 1e-9
    multi = sum(r["n_hit"] for r in audit) / sum(r["n_exact"] for r in audit)

    # single-band (band 0) recall over the SAME exact neighbor sets, numpy
    emb = prepared(spark, SF).table("embeddings")
    vecs = {
        r["vec_id"]: (np.asarray(r["embedding"], dtype=np.float64), r["label"])
        for r in emb.collect()
    }
    bands = _band_keys_np(spark)
    n_exact = n_hit0 = 0
    for p in range(similarity.HARDNEG_PROBES):
        pv, plabel = vecs[p]
        scored = []
        for v, (xv, xlabel) in vecs.items():
            if v == p or xlabel == plabel:
                continue
            c = round(
                float(pv @ xv / (np.linalg.norm(pv) * np.linalg.norm(xv))), 6
            )
            scored.append((-c, v))
        for _, v in sorted(scored)[: similarity.HARDNEG_PROBE_K]:
            n_exact += 1
            if bands[p][0] == bands[v][0]:
                n_hit0 += 1
    single = n_hit0 / n_exact
    assert multi > single
    assert multi >= 0.5, multi
    assert single <= 0.45, single


def test_ivf_recall_audit_bounds(spark):
    """The compressed-path recall yardstick: one row, k exact neighbors
    found (the corpus is far larger than k), hits bounded by exacts, recall
    arithmetic exact, and the index is better than nothing (recall > 0 —
    the measured sf0.001/sf0.01 number is 0.30 at nprobe=2)."""
    from s3bigdatasync_spark.operators import pq

    rows = pq.ivf_recall_audit(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["k"] == pq.PQ_TOP_K
    assert r["nprobe"] == pq.IVF_NPROBE
    assert r["n_exact"] == pq.PQ_TOP_K
    assert 0 < r["n_hit"] <= r["n_exact"]
    assert abs(r["recall"] - round(r["n_hit"] / r["n_exact"], 6)) < 1e-9


def test_perplexity_buckets_semantics(spark):
    """CCNet tercile gate: every document bucketed exactly once, per-lang
    bucket sizes balanced to ±1 (NTILE's contract), buckets ordered by
    bits-per-token within lang, keep == head+middle (≈2/3 of each lang)."""
    from collections import defaultdict

    rows = curation.perplexity_buckets(spark, SF).collect()
    docs = curation.prepared(spark, SF).table("documents")
    assert len(rows) == docs.count()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_lang = defaultdict(lambda: defaultdict(list))
    for r in rows:
        assert 1 <= r["ppl_bucket"] <= curation.PPL_BUCKETS
        assert r["keep"] == (r["ppl_bucket"] < curation.PPL_BUCKETS)
        by_lang[r["lang"]][r["ppl_bucket"]].append(r["bits_per_token"])
    for lang, buckets in by_lang.items():
        sizes = [len(buckets[b]) for b in sorted(buckets)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        for b in sorted(buckets)[:-1]:
            # ordered split: a lower bucket never holds higher bits
            assert max(buckets[b]) <= min(buckets[b + 1]), (lang, b)


def test_shard_rebalance_minimal_movement(spark):
    """Rendezvous vs modulo under a fleet resize OLD→NEW: both policies
    account for every object under both shard maps; HRW's moved fraction
    sits at the theoretical (NEW−OLD)/NEW (±5pp), modulo's is ~1−gcd-cycle
    (several times larger) — the operator's entire reason to exist."""
    from s3bigdatasync_spark.operators import layout, prepared

    rows = layout.shard_rebalance_plan(spark, SF).collect()
    n_inv = prepared(spark, SF).table("inventory_src").count()
    stats = {}
    for policy in ("rendezvous", "modulo"):
        cells = [r for r in rows if r["policy"] == policy]
        assert sum(c["n_objects"] for c in cells) == n_inv
        for c in cells:
            assert 0 <= c["old_shard"] < layout.OLD_WORKERS
            assert 0 <= c["new_shard"] < layout.NEW_WORKERS
            assert c["moved"] == (c["old_shard"] != c["new_shard"])
        stats[policy] = (
            sum(c["n_objects"] for c in cells if c["moved"]) / n_inv
        )
    theory = (layout.NEW_WORKERS - layout.OLD_WORKERS) / layout.NEW_WORKERS
    assert abs(stats["rendezvous"] - theory) < 0.05, stats
    assert stats["modulo"] > 3 * stats["rendezvous"], stats
    # THE rendezvous stability property: growing the fleet may move a key
    # only TO a new worker — the first OLD_WORKERS weights are identical in
    # both maps, so argmax can change only when a new worker wins. Modulo
    # has no such guarantee (keys churn between old workers).
    rv_moves = {
        c["new_shard"]
        for c in rows
        if c["policy"] == "rendezvous" and c["moved"]
    }
    assert rv_moves <= set(range(layout.OLD_WORKERS, layout.NEW_WORKERS)), rv_moves
    mod_moves = {
        c["new_shard"]
        for c in rows
        if c["policy"] == "modulo" and c["moved"]
    }
    assert not mod_moves <= set(range(layout.OLD_WORKERS, layout.NEW_WORKERS))


def test_dedup_yield_curve_monotone(spark):
    """The threshold dial: every sweep point present (zero-pair points
    included), and raising the threshold can only shrink the yield — pairs
    and affected docs are non-increasing in the threshold; the operating
    point's pair count matches the committed pair operator."""
    rows = dedup.dedup_yield_curve(spark, SF).collect()
    assert [r["threshold"] for r in rows] == sorted(dedup.YIELD_THRESHOLDS)
    pairs = [r["n_pairs"] for r in rows]
    affected = [r["n_docs_affected"] for r in rows]
    assert pairs == sorted(pairs, reverse=True)
    assert affected == sorted(affected, reverse=True)
    for r in rows:
        assert 0.0 <= r["affected_frac"] <= 1.0
        assert r["n_docs_affected"] <= 2 * r["n_pairs"]
    at_op = {r["threshold"]: r["n_pairs"] for r in rows}[dedup.JACCARD_THRESHOLD]
    assert at_op == dedup.ngram_jaccard_pairs_capped(spark, SF).count()


def test_mix_temperature_sweep_flattens(spark):
    """The mixing dial: at T=1 shares are the natural token shares
    (boost==1); lowering T moves every source's share toward uniform —
    small sources' boost grows monotonically as T falls, the largest
    source's share shrinks; T=0 is exactly uniform."""
    rows = text.mix_temperature_sweep(spark, SF).collect()
    by_t = {}
    for r in rows:
        by_t.setdefault(r["temperature"], {})[r["source"]] = r
    assert set(by_t) == set(text.MIX_TEMPERATURES)
    srcs = set(by_t[1.0])
    for t, per in by_t.items():
        assert set(per) == srcs
        assert abs(sum(r["share"] for r in per.values()) - 1.0) < 1e-4
    for r in by_t[1.0].values():
        assert abs(r["boost"] - 1.0) < 1e-5
    n = len(srcs)
    for r in by_t[0.0].values():
        assert abs(r["share"] - 1.0 / n) < 1e-5
    small = min(srcs, key=lambda s: by_t[1.0][s]["total_tokens"])
    big = max(srcs, key=lambda s: by_t[1.0][s]["total_tokens"])
    ts = sorted(text.MIX_TEMPERATURES)
    small_boosts = [by_t[t][small]["boost"] for t in ts]
    big_shares = [by_t[t][big]["share"] for t in ts]
    assert small_boosts == sorted(small_boosts, reverse=True)
    assert big_shares == sorted(big_shares)


def test_pq_distortion_spectrum(spark):
    """The compression dial's error evidence: deciles 1..10 all present and
    balanced to ±1 vectors, per-decile mean ≤ max, the spectrum is
    non-decreasing across deciles (it was built by ranking), and the decile
    populations sum to the encoded-vector count."""
    from s3bigdatasync_spark.operators import pq

    rows = sorted(pq.pq_distortion(spark, SF).collect(), key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, pq.PQ_DECILES + 1))
    sizes = [r["n_vectors"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    n_encoded = pq.pq_encode(spark, SF).select("vec_id").distinct().count()
    assert sum(sizes) == n_encoded
    means = [r["mean_err"] for r in rows]
    maxes = [r["max_err"] for r in rows]
    assert means == sorted(means)
    for m, mx in zip(means, maxes):
        assert 0.0 <= m <= mx
    # a later decile's max bounds an earlier decile's (ranking property)
    assert maxes == sorted(maxes)


def test_ivf_nprobe_curve_consistency(spark):
    """The nprobe dial: one row per sweep point; the exhaustive point must
    REDUCE to plain pq_search (every cell probed == no IVF restriction), so
    its hit count equals the pq_search top-k's overlap with the exact-L2
    yardstick; the operating point's row must agree with ivf_recall_audit."""
    from s3bigdatasync_spark.operators import pq

    rows = sorted(pq.ivf_nprobe_curve(spark, SF).collect(), key=lambda r: r["nprobe"])
    assert [r["nprobe"] for r in rows] == sorted(pq.NPROBE_SWEEP)
    for r in rows:
        assert r["n_exact"] == pq.PQ_TOP_K
        assert 0 <= r["n_hit"] <= r["n_exact"]
        assert abs(r["recall"] - round(r["n_hit"] / r["n_exact"], 6)) < 1e-9

    audit = pq.ivf_recall_audit(spark, SF).collect()[0]
    at_op = {r["nprobe"]: r for r in rows}[pq.IVF_NPROBE]
    assert (at_op["n_hit"], at_op["recall"]) == (audit["n_hit"], audit["recall"])

    # exhaustive == plain pq_search: same candidate set, same ADC ranking
    exact_ids = {r["vec_id"] for r in pq._exact_l2_topk(spark, SF).collect()}
    search_ids = {r["vec_id"] for r in pq.pq_search(spark, SF).collect()}
    full = {r["nprobe"]: r for r in rows}[max(pq.NPROBE_SWEEP)]
    assert full["n_hit"] == len(exact_ids & search_ids)


def test_ann_topk_batch_matches_numpy(spark):
    """Every probe query's batch result equals an independent numpy
    brute-force top-k under the same contract (6dp-rounded cosine desc,
    vec_id tie-break, self excluded) — and the probe set is exactly the
    N_BATCH_Q lowest-md5 vec_ids."""
    import hashlib

    import numpy as np

    from s3bigdatasync_spark.operators import prepared

    rows = (
        prepared(spark, SF)
        .table("embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    want_qids = sorted(
        vecs, key=lambda v: (hashlib.md5(str(int(v)).encode()).hexdigest(), v)
    )[: similarity.N_BATCH_Q]

    got = [r.asDict() for r in similarity.ann_topk_batch(spark, SF).collect()]
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r)
    assert sorted(by_q) == sorted(want_qids)

    for qid in want_qids:
        q = vecs[qid]
        scored = sorted(
            (
                (-round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6), vid)
                for vid, v in vecs.items()
                if vid != qid
            )
        )[: similarity.TOP_K]
        want = [(vid, -negc) for negc, vid in scored]
        rows_q = sorted(by_q[qid], key=lambda r: r["rank"])
        assert len(rows_q) == similarity.TOP_K
        assert [(r["vec_id"], r["cosine"]) for r in rows_q] == pytest.approx(want)


def test_ann_topk_batch_lsh_is_candidate_restricted(spark):
    """The LSH batch path returns, per query, exactly the top-k BY COSINE of
    the multi-probe candidate set (recomputed independently), and its
    recall against the exact batch is the radius's trade — positive and
    bounded, never silently empty."""
    import numpy as np

    from s3bigdatasync_spark.operators import prepared
    from s3bigdatasync_spark.operators.vector_lsh import plane_sign

    rows = (
        prepared(spark, SF)
        .table("embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}

    def bucket(v):
        out = 0
        for p in range(similarity.N_PLANES):
            w = np.array([plane_sign(p, i) for i in range(similarity.DIM)])
            if float(v @ w) > 0:
                out += 2**p
        return out

    buckets = {vid: bucket(v) for vid, v in vecs.items()}
    got = [r.asDict() for r in similarity.ann_topk_batch_lsh(spark, SF).collect()]
    exact = [r.asDict() for r in similarity.ann_topk_batch(spark, SF).collect()]
    by_q, exact_by_q = {}, {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r)
    for r in exact:
        exact_by_q.setdefault(r["qid"], set()).add(r["vec_id"])
    assert sorted(by_q) == sorted(exact_by_q)

    hits = total = 0
    for qid, rows_q in by_q.items():
        qb = buckets[qid]
        cand = {
            vid
            for vid, b in buckets.items()
            if vid != qid and bin(b ^ qb).count("1") <= similarity.PROBE_RADIUS
        }
        ids = [r["vec_id"] for r in rows_q]
        assert set(ids) <= cand  # every result came from a probed bucket
        # independently recompute the candidate top-k under the contract
        q = vecs[qid]
        scored = sorted(
            (
                (-round(float(vecs[v] @ q / (np.linalg.norm(vecs[v]) * np.linalg.norm(q))), 6), v)
                for v in cand
            )
        )[: similarity.TOP_K]
        assert ids == [v for _, v in scored]
        hits += len(set(ids) & exact_by_q[qid])
        total += len(exact_by_q[qid])
    assert 0.2 <= hits / total <= 1.0  # the radius's recall trade, not a void


def test_cluster_chain_audit_invariants(spark):
    """Per non-singleton cluster: edges never exceed the clique count, every
    2-member cluster is a verified pair (density 1, not chained), the
    chained flag is exactly density<1, and counts cross-check against the
    pair and cluster relations recomputed independently."""
    pairs = [
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(spark, SF).collect()
    ]
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(spark, SF).collect()
    }
    audit = [r.asDict() for r in dedup.cluster_chain_audit(spark, SF).collect()]
    assert audit, "clustered testdata must have non-singleton clusters"

    from collections import Counter

    size = Counter(clusters.values())
    edges_of = Counter()
    minj, sumj = {}, Counter()
    for a, b, j in pairs:
        assert clusters[a] == clusters[b]  # CC construction
        c = clusters[a]
        edges_of[c] += 1
        minj[c] = min(minj.get(c, 1.0), j)
        sumj[c] += round(j * 1e6)

    assert {r["cluster_id"] for r in audit} == set(edges_of)
    for r in audit:
        c = r["cluster_id"]
        n = size[c]
        assert r["n_members"] == n and n >= 2
        assert r["n_edges"] == edges_of[c]
        assert r["possible_pairs"] == n * (n - 1) // 2
        assert r["n_edges"] <= r["possible_pairs"]
        assert r["chained"] == (r["n_edges"] < r["possible_pairs"])
        assert r["edge_density"] == pytest.approx(
            round(r["n_edges"] / r["possible_pairs"], 6)
        )
        assert r["min_jaccard"] == pytest.approx(round(minj[c], 6))
        assert r["mean_jaccard"] == pytest.approx(
            round(sumj[c] / edges_of[c] / 1e6, 6)
        )
        if n == 2:
            assert r["edge_density"] == 1.0 and not r["chained"]
