"""Corpus-curation operators: deterministic dataset splitting, weighted
sampling, token-entropy quality signals, Count-Min heavy hitters,
prefix-filtered similarity joins, and rolling anomaly detection.

These extend the engine past the reference's sync surface into the operations
a training-data pipeline runs on every corpus refresh. The reference's only
sampling/scoring machinery is the bounded dry-run caps
(AzureTaskProducer/config.ini `MAX_OBJ_TOTAL_NUM`, consumed at
diff_azure_inventory_sqs.py:86-87) and the per-minute status rollup
(TaskMonitor/s3_monitor_statistic.py:250-301); everything here is new
capability expressed as pure Catalyst plans plus portable DuckDB oracles.

Scale notes (100 TB):
  * dataset_split / weighted_sample / word_entropy are scan+project or one
    vocabulary-bounded shuffle — embarrassingly parallel.
  * cms_heavy_hitters materializes a DEPTH×WIDTH counter table (192 rows)
    regardless of corpus size: the sketch IS the shuffle payload, which is
    the whole point of a Count-Min sketch at scale.
  * prefix_filter_pairs generates near-dup candidates from the RAREST
    shingles only (PPJoin prefix filtering) — the equi-join key frequency is
    bounded by construction, unlike the all-shared-shingles join it refines.
  * rolling_anomaly partitions its window frames by day, so no global-order
    single-partition window exists at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import prepared, scoped_cache, snapshot_memo
from .dedup import JACCARD_THRESHOLD, _SHINGLES_SQL, _shingles
from ..views import oracle_cte

LN2 = 0.6931471805599453

# --- portable md5-derived buckets ------------------------------------------
# Spark side: conv(substr(md5(x),1,k),16,10); DuckDB has no conv(), so the
# oracle expands the same k hex chars positionally (idiom shared with
# text.stratified_sample / dedup's band hashes — validated in round 1).


def _hex_bucket(col: Column, k: int) -> Column:
    return F.conv(F.substring(F.md5(col), 1, k), 16, 10).cast("long")


def _hex_bucket_sql(expr: str, k: int) -> str:
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1) * {16 ** (k - 1 - i)}"
        for i in range(k)
    )
    return f"({terms})"


# --- dataset_split ----------------------------------------------------------

SPLIT_SEED = "split:"
_TRAIN_CUT = int(65536 * 0.90)  # md5-bucket space is 16 bits
_VAL_CUT = int(65536 * 0.95)


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by seeded md5 bucket of
    doc_id — stable across runs, partitionings, and engines, and independent
    of the holdout buckets used by stratified_sample/decontaminate (different
    seed string). Output: per (source, split) doc and char totals, the
    manifest a tokenizer shard job consumes."""
    docs = prepared(spark, sf_dir).table("documents")
    bucket = _hex_bucket(F.concat(F.lit(SPLIT_SEED), F.col("doc_id").cast("string")), 4)
    split = (
        F.when(bucket < _TRAIN_CUT, "train")
        .when(bucket < _VAL_CUT, "val")
        .otherwise("test")
    )
    return (
        docs.select("source", split.alias("split"), "n_chars")
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


_SPLIT_SQL = f"""
SELECT source, split, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT source, n_chars,
         CASE WHEN {_hex_bucket_sql(f"concat('{SPLIT_SEED}', cast(doc_id AS VARCHAR))", 4)} < {_TRAIN_CUT}
              THEN 'train'
              WHEN {_hex_bucket_sql(f"concat('{SPLIT_SEED}', cast(doc_id AS VARCHAR))", 4)} < {_VAL_CUT}
              THEN 'val' ELSE 'test' END AS split
  FROM documents)
GROUP BY source, split
"""


# --- weighted_sample --------------------------------------------------------

WS_SEED = "ws:"
WS_K = 25


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential Poisson sampling (Ohlsson '98): priority = u/w with
    u = md5-uniform(doc_id), w = n_chars; the k smallest priorities are a
    without-replacement size-biased sample. u is an exact 32-bit integer and
    the single IEEE division is correctly rounded, so both engines compute
    bit-identical priorities — no libm (ln/pow) in the pipeline, unlike
    exponential-key (A-ES) sampling. Global top-k compiles to
    TakeOrderedAndProject: no full sort, no single-partition window."""
    docs = prepared(spark, sf_dir).table("documents")
    u = _hex_bucket(F.concat(F.lit(WS_SEED), F.col("doc_id").cast("string")), 8)
    pri = u.cast("double") / F.col("n_chars")
    top = (
        docs.select("doc_id", "source", "n_chars", pri.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(WS_K)
    )
    rank = F.row_number().over(Window.orderBy("priority", "doc_id"))
    return top.select(
        rank.alias("rank"),
        "doc_id",
        "source",
        "n_chars",
        F.round("priority", 6).alias("priority"),
    )


_WS_SQL = f"""
SELECT row_number() OVER (ORDER BY priority, doc_id) AS rank,
       doc_id, source, n_chars, round(priority, 6) AS priority
FROM (
  SELECT doc_id, source, n_chars,
         CAST({_hex_bucket_sql(f"concat('{WS_SEED}', cast(doc_id AS VARCHAR))", 8)} AS DOUBLE)
           / n_chars AS priority
  FROM documents)
ORDER BY priority, doc_id LIMIT {WS_K}
"""


# --- word_entropy -----------------------------------------------------------

_TOK_RE = r"[a-z0-9]+"


def word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token Shannon entropy + type-token ratio — the classic cheap
    gibberish/boilerplate signal (low entropy = repetitive filler). Uses the
    algebraic identity H = log2(n) − (Σ c·ln c)/(n·ln 2) so one grouped
    aggregate over (doc, token) counts suffices — no per-doc probability
    normalization pass."""
    docs = prepared(spark, sf_dir).table("documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK_RE), F.lit(0))
    cnts = (
        docs.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    agg = cnts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_unique"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("slc"),
    )
    h = (F.log("n_tokens") - F.col("slc") / F.col("n_tokens")) / F.lit(LN2)
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_unique",
        F.round(h, 6).alias("entropy"),
        F.round(F.col("n_unique") / F.col("n_tokens"), 6).alias("ttr"),
    )


_ENTROPY_SQL = rf"""
WITH cnts AS (
  SELECT doc_id, token, count(*) AS c
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_TOK_RE}')) AS token
        FROM documents)
  GROUP BY doc_id, token
),
agg AS (
  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_unique,
         sum(c * ln(c)) AS slc
  FROM cnts GROUP BY doc_id
)
SELECT doc_id, cast(n_tokens AS BIGINT) AS n_tokens, n_unique,
       round((ln(n_tokens) - slc / n_tokens) / {LN2}, 6) AS entropy,
       round(n_unique / CAST(n_tokens AS DOUBLE), 6) AS ttr
FROM agg
"""


# --- cms_heavy_hitters ------------------------------------------------------

CMS_DEPTH = 3
CMS_WIDTH = 64
CMS_TOPK = 20


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus token stream, read back for the true
    top-20 tokens: est = min over DEPTH rows of counter[h_j(token)]. The
    sketch is DEPTH×WIDTH counters (192 rows) no matter the corpus size —
    map-side partial aggregation means the shuffle payload is the sketch
    itself, the property that makes CMS the streaming/heavy-hitter structure
    at 100 TB. Output compares est vs exact: overcount ≥ 0 always (CMS never
    underestimates), integer-exact in both engines."""
    docs = prepared(spark, sf_dir).table("documents")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK_RE), F.lit(0))
        ).alias("token")
    )
    buckets = F.array(
        *[
            (_hex_bucket(F.concat(F.lit(f"{j}:"), F.col("token")), 4) % CMS_WIDTH)
            for j in range(CMS_DEPTH)
        ]
    )
    sketch = (
        toks.select(F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    exact = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "token")
        .limit(CMS_TOPK)
    )
    probes = exact.select(
        "token", "exact_n", F.posexplode(buckets).alias("row", "bucket")
    )
    est = (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "token", "exact_n", "cms_est", (F.col("cms_est") - F.col("exact_n")).alias("overcount")
    )


def _cms_bucket_sql(j: int) -> str:
    expr = "concat('" + str(j) + ":', token)"
    return f"({_hex_bucket_sql(expr, 4)} % {CMS_WIDTH})"


_CMS_HASH_ROWS = "\n  UNION ALL ".join(
    f"SELECT token, {j} AS row, {_cms_bucket_sql(j)} AS bucket FROM toks"
    for j in range(CMS_DEPTH)
)
_CMS_PROBE_ROWS = "\n  UNION ALL ".join(
    f"SELECT token, exact_n, {j} AS row, {_cms_bucket_sql(j)} AS bucket FROM exact"
    for j in range(CMS_DEPTH)
)

_CMS_SQL = rf"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '{_TOK_RE}')) AS token FROM documents
),
hashed AS (
  {_CMS_HASH_ROWS}
),
sketch AS (SELECT row, bucket, count(*) AS cnt FROM hashed GROUP BY row, bucket),
exact AS (
  SELECT token, count(*) AS exact_n FROM toks GROUP BY token
  ORDER BY exact_n DESC, token LIMIT {CMS_TOPK}
),
probes AS (
  {_CMS_PROBE_ROWS}
)
SELECT p.token, p.exact_n, min(s.cnt) AS cms_est,
       min(s.cnt) - p.exact_n AS overcount
FROM probes p JOIN sketch s ON p.row = s.row AND p.bucket = s.bucket
GROUP BY p.token, p.exact_n
"""


# --- prefix_filter_pairs ----------------------------------------------------


def prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered Jaccard join — the same relation as
    ngram_jaccard_pairs (threshold 0.5), but candidates come only from each
    doc's PREFIX: its |X| - ceil(t*|X|) + 1 globally-rarest shingles
    (canonical order = document frequency asc, shingle asc). The
    prefix-filtering lemma guarantees any pair with Jaccard >= t shares a
    prefix shingle, so the candidate join touches a small, skew-bounded slice
    of the shingle index instead of every shared shingle — the standard
    set-similarity-join scale strategy (verified equal to the exhaustive join
    in tests/test_curation.py)."""
    spark = prepared(spark, sf_dir)
    sh = _shingles(spark.table("documents")).transform(scoped_cache)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .join(cnt, "doc_id")
        .withColumn("pos", F.row_number().over(w))
    )
    # prefix length for Jaccard t: n - ceil(t*n) + 1; t = 0.5 → n - (n+1)//2 + 1
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.floor((F.col("n") + 1) / 2) + 1
    ).select("doc_id", "shingle")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sb,
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ix"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(F.col("ix") / (F.col("ca.n") + F.col("cb.n") - F.col("ix")), 6),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


_PREFIX_SQL = rf"""
WITH sh AS ({_SHINGLES_SQL}),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
ranked AS (
  SELECT s.doc_id, s.shingle, c.n,
         row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.shingle) AS pos
  FROM sh s JOIN dfreq d USING (shingle) JOIN cnt c USING (doc_id)
),
prefix AS (SELECT doc_id, shingle FROM ranked WHERE pos <= n - (n + 1) // 2 + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ix
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(ix / CAST(ca.n + cb.n - ix AS DOUBLE), 6) AS jaccard
FROM inter
JOIN cnt ca ON ca.doc_id = doc_a
JOIN cnt cb ON cb.doc_id = doc_b
WHERE round(ix / CAST(ca.n + cb.n - ix AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
"""


# --- rolling_anomaly --------------------------------------------------------

ANOMALY_Z = 2.0
_FRAME = 5  # trailing minutes in the baseline window


def rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags over per-minute successful-copy counts:
    each minute is scored against the mean/stddev of the 5 preceding minutes
    within the same day. Frames are partitioned by day so no global-order
    window exists — at any scale a partition holds ≤1440 rows. z is computed
    on integer counts and rounded to 4dp before the flag comparison, so both
    engines agree despite different variance summation orders."""
    log = prepared(spark, sf_dir).table("copy_log")
    minute = F.floor(F.col("replication_time").cast("long") / 60).cast("long")
    per_min = (
        log.filter(F.col("replication_status") == 1)
        .select(minute.alias("minute"))
        .groupBy("minute")
        .agg(F.count("*").alias("n"))
        .withColumn("day", F.floor(F.col("minute") / 1440).cast("long"))
    )
    w = Window.partitionBy("day").orderBy("minute").rowsBetween(-_FRAME, -1)
    mu, sd, m = F.avg("n").over(w), F.stddev_samp("n").over(w), F.count("n").over(w)
    z = F.when((m == _FRAME) & (sd > 0), F.round((F.col("n") - mu) / sd, 4))
    return (
        per_min.withColumn("z", z)
        .withColumn("is_spike", F.abs(F.col("z")) >= ANOMALY_Z)
        .select("minute", "n", "z", "is_spike")
    )


_ANOMALY_SQL = oracle_cte("copy_log") + f"""
, per_min AS (
  SELECT epoch_us(replication_time) // 1000000 // 60 AS minute, count(*) AS n
  FROM copy_log WHERE replication_status = 1 GROUP BY 1
),
scored AS (
  SELECT minute, n,
         avg(n) OVER w AS mu,
         stddev_samp(n) OVER w AS sd,
         count(n) OVER w AS m
  FROM (SELECT minute, n, minute // 1440 AS day FROM per_min)
  WINDOW w AS (PARTITION BY day ORDER BY minute
               ROWS BETWEEN {_FRAME} PRECEDING AND 1 PRECEDING)
)
SELECT minute, n,
       CASE WHEN m = {_FRAME} AND sd > 0 THEN round((n - mu) / sd, 4) END AS z,
       abs(CASE WHEN m = {_FRAME} AND sd > 0 THEN round((n - mu) / sd, 4) END)
         >= {ANOMALY_Z} AS is_spike
FROM scored
"""


# --- ewma_smooth -------------------------------------------------------------

EWMA_ALPHA = 0.5  # dyadic on purpose: 0.5^k and n*0.5^k are EXACT doubles,
# so the weighted sums are order-independent and engine-identical
_EWMA_LAGS = 10


def ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over per-minute successful-copy
    counts — the smoothing pass a monitoring pipeline runs before
    thresholding (companion to rolling_anomaly's z-score). Finite-window EWMA
    over the last 10 observations, lag-based (observation distance, the
    pandas-ewm convention), frames partitioned by day so no global-order
    window exists at any scale. With α=0.5 every term is an exact dyadic
    double → no float-summation-order hazard anywhere."""
    log = prepared(spark, sf_dir).table("copy_log")
    minute = F.floor(F.col("replication_time").cast("long") / 60).cast("long")
    per_min = (
        log.filter(F.col("replication_status") == 1)
        .select(minute.alias("minute"))
        .groupBy("minute")
        .agg(F.count("*").alias("n"))
        .withColumn("day", F.floor(F.col("minute") / 1440).cast("long"))
    )
    w = Window.partitionBy("day").orderBy("minute")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(_EWMA_LAGS + 1):
        lag_k = F.lag("n", k).over(w)
        wt = float(EWMA_ALPHA**k)
        num = num + F.when(lag_k.isNull(), 0.0).otherwise(lag_k * wt)
        den = den + F.when(lag_k.isNull(), 0.0).otherwise(F.lit(wt))
    return (
        per_min.withColumn("ewma", F.round(num / den, 6))
        .select("minute", "n", "ewma")
    )


def _ewma_sql() -> str:
    nums, dens = [], []
    for k in range(_EWMA_LAGS + 1):
        wt = repr(EWMA_ALPHA**k)
        nums.append(
            f"CASE WHEN lag(n, {k}) OVER w IS NULL THEN 0.0"
            f" ELSE lag(n, {k}) OVER w * {wt} END"
        )
        dens.append(f"CASE WHEN lag(n, {k}) OVER w IS NULL THEN 0.0 ELSE {wt} END")
    return (
        oracle_cte("copy_log")
        + f"""
, per_min AS (
  SELECT epoch_us(replication_time) // 1000000 // 60 AS minute, count(*) AS n
  FROM copy_log WHERE replication_status = 1 GROUP BY 1
)
SELECT minute, n,
       round(({' + '.join(nums)}) / ({' + '.join(dens)}), 6) AS ewma
FROM (SELECT minute, n, minute // 1440 AS day FROM per_min)
WINDOW w AS (PARTITION BY day ORDER BY minute)
"""
    )


# --- group_sample ------------------------------------------------------------

GS_SEED = "gs:"
GS_K = 20


def group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source sample: the K docs with the lowest seeded-md5
    priority in each source — a reproducible reservoir sample per group (the
    per-source inspection/eval slice curation jobs cut on every refresh).
    Stable across runs, partitionings, and engines; independent of the
    split/holdout seeds (distinct seed string). Scale: one window partitioned
    by source — per-group top-K, no global order."""
    docs = prepared(spark, sf_dir).table("documents")
    pri = F.md5(F.concat(F.lit(GS_SEED), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(pri)
    return (
        docs.select("source", "doc_id", "lang", "n_chars", pri.alias("priority"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= GS_K)
        .drop("priority")
    )


_GROUP_SAMPLE_SQL = f"""
SELECT source, doc_id, lang, n_chars, rank FROM (
  SELECT source, doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(concat('{GS_SEED}', cast(doc_id AS VARCHAR)))
         ) AS rank
  FROM documents
)
WHERE rank <= {GS_K}
"""


# --- pii_redact -------------------------------------------------------------

# Redaction patterns restricted to the Java-regex ∩ RE2 common subset
# (character classes, bounded repetition, \d, \b) so Spark and the DuckDB
# oracle compile the identical automaton.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _pii_augmented() -> Column:
    """Deterministic synthetic PII appended to each document. The testdata
    corpus is PII-free word salad, so without injection the redaction pass
    would be vacuously green; this exercises both patterns on every row while
    keeping the operator a pure function of the input."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from "),
        ((F.col("doc_id") % 224) + 16).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 13) % 256).cast("string"),
    )


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the mandatory pre-training curation pass: find and
    replace email addresses and IPv4 literals, reporting per-doc match counts
    and a content hash of the scrubbed text (the downstream-corpus identity).

    Reference has no privacy surface at all; this is new capability. Scale:
    scan + regexp project, zero shuffles — the plan inherits input
    partitioning end to end, so at 100 TB it is embarrassingly parallel.
    Emails are redacted before IP counting so an address can never double-count
    as a dotted quad."""
    docs = prepared(spark, sf_dir).table("documents")
    aug = _pii_augmented()
    red1 = F.regexp_replace(aug, _PII_EMAIL, "[EMAIL]")
    red2 = F.regexp_replace(red1, _PII_IPV4, "[IP]")
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(red1, F.lit(_PII_IPV4)).cast("long").alias("n_ips"),
        F.length(red2).cast("long").alias("redacted_len"),
        F.md5(red2).alias("redacted_md5"),
    )


_PII_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         concat(text, ' contact user', cast(doc_id AS VARCHAR),
                '@mail.example.com from ',
                cast((doc_id % 224) + 16 AS VARCHAR), '.',
                cast((doc_id * 7) % 256 AS VARCHAR), '.0.',
                cast((doc_id * 13) % 256 AS VARCHAR)) AS t
  FROM documents
), r1 AS (
  SELECT doc_id, t, regexp_replace(t, '{_PII_EMAIL}', '[EMAIL]', 'g') AS t1
  FROM aug
)
SELECT doc_id,
       cast(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       cast(len(regexp_extract_all(t1, '{_PII_IPV4}')) AS BIGINT) AS n_ips,
       cast(length(regexp_replace(t1, '{_PII_IPV4}', '[IP]', 'g')) AS BIGINT) AS redacted_len,
       md5(regexp_replace(t1, '{_PII_IPV4}', '[IP]', 'g')) AS redacted_md5
FROM r1
"""


# --- unigram_logprob: corpus-LM quality filter ------------------------------

# CCNet/FineWeb-style language-model quality gate without an external model:
# the corpus's own unigram distribution IS the model. Docs whose tokens are
# systematically rare under that distribution (high bits/token) are the
# gibberish/boilerplate tail a curation pass drops.
BITS_KEEP_MAX = 4.92  # keep docs at or below this bits-per-token
# (testdata's synthetic docs sit in a tight 4.88-5.34 bits/token band; the
# cut keeps ~90% at sf0.01 so both verdict classes are exercised end-to-end)


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus's own token
    distribution: mean_lp = Σ c_d·(ln cf − ln T) / n_d, reported also as
    bits-per-token (−mean_lp/ln 2) with a keep flag at BITS_KEEP_MAX.

    Plan shape at 100 TB: ONE explode → groupBy(doc_id, token) count pass,
    cache-pinned (the hot_prefix_report by_pfx pattern — without the pin the
    explode+agg subtree executes three times: vocab build, grand total, and
    join probe); the corpus vocabulary is a token-keyed re-agg of the pin,
    its totals join back on token (hash join, vocabulary-bounded; AQE
    broadcasts when the vocab is small), and the grand total is a 1-row
    broadcast. No window, no sort, everything map-side combinable. Float
    contract: ln-sums are summed raw and rounded to 6dp at the end (the
    word_entropy contract, proven cross-engine in round 1)."""
    docs = prepared(spark, sf_dir).table("documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK_RE), F.lit(0))
    dcnt = (
        docs.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
        .transform(scoped_cache)
    )
    vocab = dcnt.groupBy("token").agg(F.sum("c").alias("cf"))
    tot = vocab.agg(F.sum("cf").alias("t"))
    agg = (
        dcnt.join(vocab, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * (F.log("cf") - F.log("t"))).alias("sll"),
        )
    )
    bits = F.round(-(F.col("sll") / F.col("n_tokens")) / F.lit(LN2), 6)
    return agg.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("sll") / F.col("n_tokens"), 6).alias("mean_logprob"),
        bits.alias("bits_per_token"),
        (bits <= BITS_KEEP_MAX).alias("keep"),
    )


_UNIGRAM_SQL = rf"""
WITH dcnt AS (
  SELECT doc_id, token, count(*) AS c
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_TOK_RE}')) AS token
        FROM documents)
  GROUP BY doc_id, token
),
vocab AS (
  SELECT token, sum(c) AS cf FROM dcnt GROUP BY token
),
tot AS (
  SELECT sum(cf) AS t FROM vocab
),
agg AS (
  SELECT d.doc_id, sum(d.c) AS n_tokens,
         sum(d.c * (ln(v.cf) - ln(tot.t))) AS sll
  FROM dcnt d JOIN vocab v USING (token), tot
  GROUP BY d.doc_id
)
SELECT doc_id, cast(n_tokens AS BIGINT) AS n_tokens,
       round(sll / n_tokens, 6) AS mean_logprob,
       round(-(sll / n_tokens) / {LN2}, 6) AS bits_per_token,
       round(-(sll / n_tokens) / {LN2}, 6) <= {BITS_KEEP_MAX} AS keep
FROM agg
"""


# --- perplexity_buckets: CCNet's per-language quality terciles ---------------

PPL_BUCKETS = 3  # CCNet's head / middle / tail split


def doc_lang_token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, token, c) per-doc token counts of any
    (doc_id, lang, text) relation — what both the batch tercile operator and
    the streaming admission gate score from."""
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK_RE), F.lit(0))
    return (
        docs.select("doc_id", "lang", F.explode(toks).alias("token"))
        .groupBy("doc_id", "lang", "token")
        .agg(F.count("*").alias("c"))
    )


def lang_token_counts(docs: DataFrame) -> DataFrame:
    """(lang, token, c) unigram counts — the per-language LM's sufficient
    statistic (merges by addition; the streaming state in
    streaming/ppl_gate.py is exactly this relation)."""
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK_RE), F.lit(0))
    return (
        docs.select("lang", F.explode(toks).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("c"))
    )


def bits_against_lm(dcnt: DataFrame, lm: DataFrame) -> DataFrame:
    """Score per-doc counts (doc_id, lang, token, c) against a per-language
    unigram LM (lang, token, cf): (doc_id, lang, n_tokens, bits_per_token).
    Every scored token must be inside the LM's support — true whenever the
    docs are part of the corpus the LM was counted from, which both callers
    (perplexity_buckets; the streaming gate, which merges a batch's counts
    into the state BEFORE scoring it) guarantee. Float contract: ln-sums
    raw, 6dp round at the end (the unigram_logprob/word_entropy contract)."""
    ltot = lm.groupBy("lang").agg(F.sum("cf").alias("t"))
    agg = (
        dcnt.join(lm, ["lang", "token"])
        .join(F.broadcast(ltot), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * (F.log("cf") - F.log("t"))).alias("sll"),
        )
    )
    bits = F.round(-(F.col("sll") / F.col("n_tokens")) / F.lit(LN2), 6)
    return agg.select(
        "doc_id", "lang", "n_tokens", bits.alias("bits_per_token")
    )


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): score
    every document by bits-per-token under ITS LANGUAGE's own unigram
    distribution, then split each language into equal-count terciles —
    head (lowest perplexity), middle, tail — and keep head+middle, CCNet's
    published gate. CCNet scores against a per-language KenLM trained on
    Wikipedia; `unigram_logprob` already established that the corpus's own
    distribution works as the LM with no external artifact — this
    conditions that model on `lang`, because a global LM would score every
    non-dominant language as gibberish (the exact failure CCNet's
    per-language models exist to avoid).

    Bucket boundaries are RELATIVE (per-language terciles), not an absolute
    bits cut like BITS_KEEP_MAX: CCNet's insight is that perplexity scales
    shift per language, so the gate must rank within language.

    Plan shape at 100 TB: the LM build is unigram_logprob's one
    cache-pinned explode→count pass (keyed by lang,token); per-lang totals
    broadcast (≤|langs| rows). The tercile split is NTILE over a window
    partitioned by lang — the sort's payload is the doc-STAT relation
    (4 narrow columns, ~30 B/row), never the corpus text, and Spark
    range-partitions within the dominant language rather than sorting it on
    one node. At extreme scale the same cut comes from a sampled quantile
    (CCNet itself cuts on sampled quantiles); NTILE is the exact,
    oracle-checkable form of that decision. Float contract: ln-sums are
    summed raw and rounded to 6dp BEFORE the ordering, ties break by
    doc_id (the unigram_logprob/word_entropy contract)."""
    docs = prepared(spark, sf_dir).table("documents")
    # ONE cache-pinned per-doc count pass; the LM is a re-agg of the pin
    # (not a second lang_token_counts scan of the text)
    dcnt = doc_lang_token_counts(docs).transform(scoped_cache)
    lm = dcnt.groupBy("lang", "token").agg(F.sum("c").alias("cf"))
    scored = bits_against_lm(dcnt, lm)
    w = Window.partitionBy("lang").orderBy("bits_per_token", "doc_id")
    return scored.select(
        "doc_id",
        "lang",
        "n_tokens",
        "bits_per_token",
        F.ntile(PPL_BUCKETS).over(w).alias("ppl_bucket"),
    ).withColumn("keep", F.col("ppl_bucket") < PPL_BUCKETS)


_PPL_BUCKETS_SQL = rf"""
WITH dcnt AS (
  SELECT doc_id, lang, token, count(*) AS c
  FROM (SELECT doc_id, lang,
               unnest(regexp_extract_all(lower(text), '{_TOK_RE}')) AS token
        FROM documents)
  GROUP BY doc_id, lang, token
),
vocab AS (SELECT lang, token, sum(c) AS cf FROM dcnt GROUP BY lang, token),
ltot AS (SELECT lang, sum(cf) AS t FROM vocab GROUP BY lang),
agg AS (
  SELECT d.doc_id, d.lang, sum(d.c) AS n_tokens,
         sum(d.c * (ln(v.cf) - ln(l.t))) AS sll
  FROM dcnt d
  JOIN vocab v ON v.lang = d.lang AND v.token = d.token
  JOIN ltot l ON l.lang = d.lang
  GROUP BY d.doc_id, d.lang
),
scored AS (
  SELECT doc_id, lang, cast(n_tokens AS BIGINT) AS n_tokens,
         round(-(sll / n_tokens) / {LN2}, 6) AS bits_per_token
  FROM agg
)
SELECT doc_id, lang, n_tokens, bits_per_token,
       cast(ntile({PPL_BUCKETS}) OVER
            (PARTITION BY lang ORDER BY bits_per_token, doc_id) AS INT)
         AS ppl_bucket,
       cast(ntile({PPL_BUCKETS}) OVER
            (PARTITION BY lang ORDER BY bits_per_token, doc_id) AS INT)
         < {PPL_BUCKETS} AS keep
FROM scored
"""


# --- source_kl_divergence: corpus-mixture drift report ----------------------

# A corpus refresh changes the source mixture; the operational question is
# "which source's token distribution moved away from the corpus it feeds?".
# KL(source ‖ corpus) over unigram distributions answers it with one number
# per source — the standard drift gate a pipeline checks before retraining a
# tokenizer or re-weighting the mixture (source_mix_weights is the knob this
# report justifies turning). KL is finite by construction: every source token
# is in the corpus vocabulary (support subset). The drift flag is RELATIVE —
# KL of a same-distribution sample shrinks ~1/n_s as the source grows
# (measured: median 0.012 bits at sf0.001, 0.0013 at sf0.1), so a fixed
# cut would mean something different at every corpus size; an outlier vs the
# cross-source mean means the same thing at any scale.
DRIFT_FACTOR = 1.3  # flag sources whose KL exceeds this × the mean KL


def kl_report_from_counts(scnt: DataFrame) -> DataFrame:
    """The KL report stage over any (source, token, c) count relation —
    shared by the batch operator below and the incrementally-maintained
    count state in streaming/drift.py (counts are the sufficient statistic:
    they merge by addition, the report replays over the merged state)."""
    vocab = scnt.groupBy("token").agg(F.sum("c").alias("cf"))
    stot = scnt.groupBy("source").agg(F.sum("c").alias("n_s"))
    tot = vocab.agg(F.sum("cf").alias("t"))
    agg = (
        scnt.join(vocab, "token")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(
                F.col("c")
                * (F.log("c") - F.log("n_s") - F.log("cf") + F.log("t"))
            ).alias("sll"),
        )
    )
    kl_bits = F.round(F.col("sll") / F.col("n_tokens") / F.lit(LN2), 6)
    per_src = agg.select(
        "source", "n_tokens", "n_types", kl_bits.alias("kl_bits")
    )
    mean_kl = per_src.agg(F.avg("kl_bits").alias("mean_kl"))
    return per_src.crossJoin(F.broadcast(mean_kl)).select(
        "source",
        "n_tokens",
        "n_types",
        "kl_bits",
        (F.col("kl_bits") > F.lit(DRIFT_FACTOR) * F.col("mean_kl")).alias("drifted"),
    )


def source_token_counts(docs: DataFrame) -> DataFrame:
    """(source, token, c) unigram counts of any (source, text) relation —
    the sufficient statistic kl_report_from_counts consumes."""
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK_RE), F.lit(0))
    return (
        docs.select("source", F.explode(toks).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )


def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence vs the whole-corpus distribution:
    KL_s = (1/n_s)·Σ_t c_st·(ln c_st − ln n_s − ln cf_t + ln T), in bits.

    Plan shape at 100 TB (the unigram_logprob pattern): ONE explode →
    groupBy(source, token) pass, cache-pinned; the vocabulary totals are a
    token-keyed re-agg of the pin joined back on token (vocabulary-bounded
    hash join), per-source totals are a source-keyed re-agg (broadcast — rows
    = #sources), and the grand total is a 1-row broadcast. No window, no
    sort, everything map-side combinable. Float contract: integer-scaled
    ln-terms summed raw, one division, rounded to 6dp at the end (the
    word_entropy/unigram_logprob contract, proven cross-engine)."""
    docs = prepared(spark, sf_dir).table("documents")
    return kl_report_from_counts(source_token_counts(docs).transform(scoped_cache))


_SOURCE_KL_SQL = rf"""
WITH scnt AS (
  SELECT source, token, count(*) AS c
  FROM (SELECT source, unnest(regexp_extract_all(lower(text), '{_TOK_RE}')) AS token
        FROM documents)
  GROUP BY source, token
),
vocab AS (SELECT token, sum(c) AS cf FROM scnt GROUP BY token),
stot AS (SELECT source, sum(c) AS n_s FROM scnt GROUP BY source),
tot AS (SELECT sum(cf) AS t FROM vocab),
per_src AS (
  SELECT s.source,
         cast(max(st.n_s) AS BIGINT) AS n_tokens,
         count(*) AS n_types,
         round(sum(s.c * (ln(s.c) - ln(st.n_s) - ln(v.cf) + ln(tot.t)))
               / max(st.n_s) / {LN2}, 6) AS kl_bits
  FROM scnt s
  JOIN vocab v USING (token)
  JOIN stot st USING (source), tot
  GROUP BY s.source
),
mean_kl AS (SELECT avg(kl_bits) AS m FROM per_src)
SELECT source, n_tokens, n_types, kl_bits,
       kl_bits > {DRIFT_FACTOR} * m AS drifted
FROM per_src, mean_kl
"""


# --- split_leakage_check (round 3) -------------------------------------------


def _split_col(key: Column | None = None) -> Column:
    """The dataset_split 90/5/5 bucket CASE over an arbitrary key column
    (default doc_id — the per-document assignment)."""
    if key is None:
        key = F.col("doc_id")
    bucket = _hex_bucket(F.concat(F.lit(SPLIT_SEED), key.cast("string")), 4)
    return (
        F.when(bucket < _TRAIN_CUT, "train")
        .when(bucket < _VAL_CUT, "val")
        .otherwise("test")
    )


def _split_case_sql(expr: str) -> str:
    bucket = _hex_bucket_sql(f"concat('{SPLIT_SEED}', cast({expr} AS VARCHAR))", 4)
    return (
        f"CASE WHEN {bucket} < {_TRAIN_CUT} THEN 'train'"
        f" WHEN {bucket} < {_VAL_CUT} THEN 'val' ELSE 'test' END"
    )


_SPLIT_CASE_SQL = _split_case_sql("doc_id")


def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: for each held-out split (val/test),
    how many docs share at least one shingle with ANY train doc — the
    leakage number an eval split must publish before its scores mean
    anything. decontaminate gates train against a fixed eval set; this
    audits the dataset_split assignment itself (same seeded md5 buckets),
    closing the loop: split → audit → (if leak_rate is high) dedup before
    splitting.

    Scale: one shingle pass over the corpus; the train shingle set probes
    via a semi-join (build side is distinct shingles — at 100 TB, swap in a
    bloom filter exactly like bloom_semi_prune). No all-pairs anywhere."""
    docs = prepared(spark, sf_dir).table("documents")
    labeled = docs.select("doc_id", _split_col().alias("split"))
    sh = _shingles(docs).join(labeled, "doc_id")
    train_sh = sh.filter(F.col("split") == "train").select("shingle").distinct()
    leaky = (
        sh.filter(F.col("split") != "train")
        .join(train_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("leak", F.lit(1))
    )
    return (
        labeled.filter(F.col("split") != "train")
        .join(leaky, "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce("leak", F.lit(0))).alias("n_leaky"),
        )
        .select(
            "split",
            "n_docs",
            "n_leaky",
            F.round(F.col("n_leaky") / F.col("n_docs"), 6).alias("leak_rate"),
        )
    )


_LEAKAGE_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
labeled AS (SELECT doc_id, {_SPLIT_CASE_SQL} AS split FROM documents),
shl AS (SELECT sh.doc_id, sh.shingle, l.split FROM sh JOIN labeled l ON l.doc_id = sh.doc_id),
train_sh AS (SELECT DISTINCT shingle FROM shl WHERE split = 'train'),
leaky AS (
  SELECT DISTINCT doc_id FROM shl
  WHERE split <> 'train' AND shingle IN (SELECT shingle FROM train_sh)
)
SELECT split, count(*) AS n_docs,
       cast(sum(CASE WHEN doc_id IN (SELECT doc_id FROM leaky) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaky,
       round(sum(CASE WHEN doc_id IN (SELECT doc_id FROM leaky) THEN 1 ELSE 0 END)
             / count(*), 6) AS leak_rate
FROM labeled WHERE split <> 'train'
GROUP BY split
"""


# --- leakage_safe_split (round 6) --------------------------------------------


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-SAFE train/val/test assignment: the split is decided by the
    near-dup CLUSTER, not the individual document. Every member of a
    connected near-dup component (dedup_clusters' label fixpoint) takes the
    md5-bucket split of its cluster_id, so the train/test contamination that
    split_leakage_check AUDITS between near-dup copies is structurally
    impossible: copies co-assign by construction. Singletons have
    cluster_id = doc_id, so they keep exactly their dataset_split
    assignment — the two relations agree wherever no near-dup exists.
    Output is the dataset_split manifest shape per (source, split) plus
    n_moved: the count of docs whose naive per-doc split differs from their
    cluster split — precisely the would-have-leaked population this
    construction relocated (audit → prevention, closing the loop the
    split_leakage_check docstring opens).

    Scale shape: dedup_clusters' fixpoint already iterates only over the
    near-dup population (the corpus is scanned once outside its loop); on
    top of that this adds one doc_id equi-join and a ≤|sources|×3-row agg.
    The md5 bucketing is the proven cross-engine-exact integer path (the
    dataset_split contract — no floats anywhere)."""
    from .dedup import dedup_clusters

    docs = prepared(spark, sf_dir).table("documents").select(
        "doc_id", "source", "n_chars"
    )
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    assigned = docs.join(clusters, "doc_id").select(
        "source",
        "n_chars",
        _split_col(F.col("cluster_id")).alias("split"),
        _split_col(F.col("doc_id")).alias("naive_split"),
    )
    return assigned.groupBy("source", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(
            F.when(F.col("naive_split") != F.col("split"), 1).otherwise(0)
        ).alias("n_moved"),
    )


def _leakage_safe_split_sql() -> str:
    from .dedup import _CLUSTERS_CTE

    return (
        _CLUSTERS_CTE
        + f""",
assigned AS (
  SELECT d.source, d.n_chars,
         {_split_case_sql("c.cluster_id")} AS split,
         {_split_case_sql("d.doc_id")} AS naive_split
  FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
)
SELECT source, split, count(*) AS n_docs,
       cast(sum(n_chars) AS BIGINT) AS total_chars,
       cast(sum(CASE WHEN naive_split <> split THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved
FROM assigned GROUP BY source, split
"""
    )


# --- dsir_importance (round 6) ------------------------------------------------

DSIR_TARGET_SOURCE = "src0"  # the target domain the raw pool is scored toward


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw-pool doc by
    how much likelier its tokens are under the TARGET domain's unigram LM
    than under the raw pool's own. Target = DSIR_TARGET_SOURCE's docs; raw
    pool = every other source. Per-token log ratio uses add-1 smoothing over
    the UNION vocabulary V, so every ln argument is an exact integer —
    ln(ct+1) - ln(Tt+V) - ln(cr+1) + ln(Tr+V) — and both engines feed ln
    identical values (the word_entropy float contract: raw ln-sum, one
    division, round(6)). avg_log_ratio > 0 means the doc reads more like the
    target than like the pool; `selected` is the flag DSIR resamples by.

    Plan shape at 100 TB (the unigram_logprob pattern): ONE explode →
    groupBy(doc, token) pass, cache-pinned; target/raw vocab totals and the
    union-vocab size are token- or constant-keyed re-aggs of the pin; the
    probe joins back on token (vocabulary-bounded hash join, AQE broadcasts
    small vocabs); totals are 1-row broadcasts. No window, no sort,
    everything map-side combinable.

    Stored once per `documents` snapshot (operators.snapshot_memo) as a
    lazily filled persist(): building a query on it runs no Spark job, the
    first action computes the weights, and every later call over the same
    files reads the stored per-doc rows (plans.llm_corpus.training_corpus,
    stored itself, reads them once per snapshot). Scale: the stored relation is one row per raw-pool doc, spillable
    to disk; a store under a plan dir waits for ROADMAP direction 1."""
    return snapshot_memo(
        "dsir_importance", spark, sf_dir, lambda: _dsir_weights(spark, sf_dir).persist()
    )


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR plan dsir_importance stores (its docstring has the shape)."""
    docs = prepared(spark, sf_dir).table("documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK_RE), F.lit(0))
    dcnt = (
        docs.select("doc_id", "source", F.explode(toks).alias("token"))
        .groupBy("doc_id", "source", "token")
        .agg(F.count("*").alias("c"))
        .transform(scoped_cache)
    )
    is_target = F.col("source") == DSIR_TARGET_SOURCE
    tcnt = (
        dcnt.filter(is_target).groupBy("token").agg(F.sum("c").alias("ct"))
    )
    rcnt = (
        dcnt.filter(~is_target).groupBy("token").agg(F.sum("c").alias("cr"))
    )
    consts = (
        dcnt.groupBy().agg(
            F.countDistinct("token").alias("v"),
            F.sum(F.when(is_target, F.col("c")).otherwise(0)).alias("tt"),
            F.sum(F.when(~is_target, F.col("c")).otherwise(0)).alias("tr"),
        )
    )
    ratio = (
        F.log(F.coalesce(F.col("ct"), F.lit(0)) + 1)
        - F.log(F.col("tt") + F.col("v"))
        - F.log(F.col("cr") + 1)
        + F.log(F.col("tr") + F.col("v"))
    )
    agg = (
        dcnt.filter(~is_target)
        .join(tcnt, "token", "left")
        .join(rcnt, "token")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * ratio).alias("sll"),
        )
    )
    avg = F.round(F.col("sll") / F.col("n_tokens"), 6)
    return agg.select(
        "doc_id", "source", "n_tokens", avg.alias("avg_log_ratio"), (avg > 0.0).alias("selected")
    )


# CTE block + final select kept separable so plans/llm_corpus can embed the
# whole DSIR relation as one `dsir AS (...)` CTE in its release manifest.
_DSIR_CTES = rf"""dcnt AS (
  SELECT doc_id, source, token, count(*) AS c
  FROM (SELECT doc_id, source, unnest(regexp_extract_all(lower(text), '{_TOK_RE}')) AS token
        FROM documents)
  GROUP BY doc_id, source, token
),
tcnt AS (SELECT token, sum(c) AS ct FROM dcnt
         WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY token),
rcnt AS (SELECT token, sum(c) AS cr FROM dcnt
         WHERE source <> '{DSIR_TARGET_SOURCE}' GROUP BY token),
consts AS (
  SELECT count(DISTINCT token) AS v,
         sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN c ELSE 0 END) AS tt,
         sum(CASE WHEN source <> '{DSIR_TARGET_SOURCE}' THEN c ELSE 0 END) AS tr
  FROM dcnt
)"""

_DSIR_SELECT = rf"""SELECT doc_id, source, cast(sum(c) AS BIGINT) AS n_tokens,
       round(sum(c * (ln(coalesce(ct, 0) + 1) - ln(tt + v)
                      - ln(cr + 1) + ln(tr + v)))
             / sum(c), 6) AS avg_log_ratio,
       round(sum(c * (ln(coalesce(ct, 0) + 1) - ln(tt + v)
                      - ln(cr + 1) + ln(tr + v)))
             / sum(c), 6) > 0.0 AS selected
FROM dcnt LEFT JOIN tcnt USING (token) JOIN rcnt USING (token), consts
WHERE dcnt.source <> '{DSIR_TARGET_SOURCE}'
GROUP BY doc_id, source"""

_DSIR_SQL = f"""
WITH {_DSIR_CTES}
{_DSIR_SELECT}
"""


# --- boilerplate_report (round 3) --------------------------------------------

BOILERPLATE_DF_FRAC = 0.05  # a shingle present in >=5% of docs is boilerplate


def boilerplate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate fraction: the share of a document's shingles that
    occur in ≥ BOILERPLATE_DF_FRAC of ALL documents — headers, footers,
    navigation chrome, license blurbs. The standard corpus-cleaning signal
    that neither near-dup (whole-doc) nor span_dedup (exact intra-corpus
    spans with low df) captures: boilerplate is HIGH-df, SMALL-span repetition.

    Scale shape: one shingle pass; the document-frequency relation is
    |distinct shingles| (vocabulary-bounded, shrinking under Zipf at the df
    cutoff); the hot-shingle set broadcasts back as a semi-join probe (bloom
    filter at corpus scale — bloom_semi_prune pattern). Docs too short to
    shingle report 0/0 via the left join, not absence."""
    docs = prepared(spark, sf_dir).table("documents")
    sh = _shingles(docs)  # distinct (doc_id, shingle)
    totals = docs.agg(F.count("*").alias("n_docs"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(totals))
        .filter(F.col("df") >= F.ceil(F.lit(BOILERPLATE_DF_FRAC) * F.col("n_docs")))
        .select("shingle")
    )
    per_doc = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    boiler = (
        sh.join(hot, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_boiler"))
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(boiler, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.round(
                F.coalesce("n_boiler", F.lit(0))
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
                6,
            ).alias("boiler_frac"),
        )
    )


_BOILERPLATE_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
totals AS (SELECT count(*) AS n_docs FROM documents),
hot AS (
  SELECT shingle FROM sh, totals
  GROUP BY shingle, n_docs
  HAVING count(*) >= ceil({BOILERPLATE_DF_FRAC} * n_docs)
),
per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
boiler AS (
  SELECT doc_id, count(*) AS n_boiler FROM sh
  WHERE shingle IN (SELECT shingle FROM hot) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_shingles, 0) AS n_shingles,
       coalesce(b.n_boiler, 0) AS n_boiler,
       round(coalesce(b.n_boiler, 0) / greatest(coalesce(p.n_shingles, 0), 1), 6)
         AS boiler_frac
FROM documents d
LEFT JOIN per_doc p ON p.doc_id = d.doc_id
LEFT JOIN boiler b ON b.doc_id = d.doc_id
"""


QUERIES = {
    "dataset_split": dataset_split,
    "split_leakage_check": split_leakage_check,
    "leakage_safe_split": leakage_safe_split,
    "dsir_importance": dsir_importance,
    "boilerplate_report": boilerplate_report,
    "weighted_sample": weighted_sample,
    "word_entropy": word_entropy,
    "cms_heavy_hitters": cms_heavy_hitters,
    "prefix_filter_pairs": prefix_filter_pairs,
    "rolling_anomaly": rolling_anomaly,
    "pii_redact": pii_redact,
    "ewma_smooth": ewma_smooth,
    "group_sample": group_sample,
    "unigram_logprob": unigram_logprob,
    "perplexity_buckets": perplexity_buckets,
    "source_kl_divergence": source_kl_divergence,
}

ORACLES = {
    "dataset_split": _SPLIT_SQL,
    "split_leakage_check": _LEAKAGE_SQL,
    "leakage_safe_split": _leakage_safe_split_sql(),
    "dsir_importance": _DSIR_SQL,
    "boilerplate_report": _BOILERPLATE_SQL,
    "weighted_sample": _WS_SQL,
    "word_entropy": _ENTROPY_SQL,
    "cms_heavy_hitters": _CMS_SQL,
    "prefix_filter_pairs": _PREFIX_SQL,
    "rolling_anomaly": _ANOMALY_SQL,
    "pii_redact": _PII_SQL,
    "ewma_smooth": _ewma_sql(),
    "group_sample": _GROUP_SAMPLE_SQL,
    "unigram_logprob": _UNIGRAM_SQL,
    "perplexity_buckets": _PPL_BUCKETS_SQL,
    "source_kl_divergence": _SOURCE_KL_SQL,
}
