"""The exactly-once commit protocol of every read-modify-write streaming
state: drift's and ppl_gate's count states, the segmented LSM store
(dedup_gate, scd2_open), scd2's run table and checksum's fingerprint.

A state dir holds versioned parts and a one-row `meta` pointer:

    <state_dir>/<part>_v<N>   every part version N writes (counts_vN, files_vN, …)
    <state_dir>/meta          the committed version N

A writer reads the committed version N, writes every part of N+1 (never the
dirs it read: a completed-batch retry under batch_id-keyed versions would
read and overwrite the SAME dir in one action), then flips `meta` to N+1
last (`commit`). A crash anywhere before the flip leaves N pointed-at and
N+1 unreachable; the replayed batch recomputes N+1 from N and overwrites it.

The pointer flip is a parquet dir overwrite, which deletes before it
recreates: a crash inside that window leaves no meta (or an empty one), but
the version dirs are intact. `committed_version` recovers from it by
scanning for the newest N whose every part committed (`_SUCCESS` present).
That answer is always safe: if the crashed batch had fully written N, the
state's own idempotence record (an applied-files log, a version watermark)
makes its replay a no-op; if it had not, N is incomplete and the scan
returns N-1, so the batch replays exactly once. Garbage collection only
runs after a successful flip, so the reachable version survives every
crash window. Only a missing meta falls through to the scan: any other
read error propagates, because treating a transient failure as "no state"
would silently bootstrap over live state and lose it.

Local file system only for the recovery scan and GC (the test/driver
environment); an object-store deployment lists with its own SDK and
expires versions with a lifecycle rule.

An append-only stream (monitor, ack_join, dedup, sessions) keeps no state
of its own: `start_file_sink` starts it on Spark's parquet file sink, which
logs each batch's files in `<out_dir>/_spark_metadata` before the checkpoint
commits it, skips a replayed batch id it has already logged, and a batch
read of out_dir reads only logged files. A plain `spark.read.parquet`
of out_dir is exactly-once.
"""

from __future__ import annotations

import re
import shutil
from collections.abc import Iterable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException

from .localrel import local_rel

_META_SCHEMA = "version long"
# a version-named subdir: `<part>_v<N>`, or `<part>_v<N>_<suffix>` for the
# segmented store's immutable segments (seg_v3_t0_0)
_VERSIONED = re.compile(r"[a-z]+_v\d+(_\w+)?")


def part_path(state_dir: str, part: str, version: int) -> str:
    return f"{state_dir}/{part}_v{version}"


def _scan_latest_complete(state_dir: str, parts: Sequence[str]) -> int:
    """The newest version N whose every `<part>_vN` committed; -1 if none."""
    root = Path(state_dir)
    if not root.is_dir():
        return -1
    complete = None
    for part in parts:
        found = set()
        for d in root.iterdir():
            m = re.fullmatch(rf"{part}_v(\d+)", d.name)
            if m and (d / "_SUCCESS").exists():
                found.add(int(m.group(1)))
        complete = found if complete is None else complete & found
    return max(complete or (), default=-1)


def committed_version(
    spark: SparkSession, state_dir: str, parts: Sequence[str]
) -> int:
    """The version `meta` points at; on a missing or empty meta, the newest
    version whose every part committed; -1 for a state never written.

    A state dir with no version but bare parquet files of its own holds a
    layout that predates this protocol (scd2's flat run table, checksum's
    one-row dir). It raises ValueError without a Spark job: read as "no
    state" it would silently reset the state and, with it, the record that
    makes replays idempotent. Such a dir must be rebuilt."""
    try:
        # explicit schema: a half-rewritten meta dir (exists, no data files)
        # must read as 0 rows → recovery scan, not an infer-schema error
        rows = spark.read.schema(_META_SCHEMA).parquet(f"{state_dir}/meta").collect()
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        rows = []
    if rows:
        return rows[0]["version"]
    last = _scan_latest_complete(state_dir, parts)
    if last < 0 and any(Path(state_dir).glob("*.parquet")):
        raise ValueError(
            f"state dir {state_dir} holds bare parquet files and no meta "
            "pointer: the flat layout that predates the versioned commit, "
            "which is no longer read; rebuild the state into an empty dir"
        )
    return last


def read_part(
    spark: SparkSession, state_dir: str, part: str, version: int, schema: str
) -> DataFrame:
    """One part of a committed version (the empty relation before the first
    commit)."""
    if version < 0:
        return local_rel(spark, [], schema)
    return spark.read.schema(schema).parquet(part_path(state_dir, part, version))


def commit(
    spark: SparkSession,
    state_dir: str,
    version: int,
    parts: Sequence[str],
    live: Iterable[str] = (),
) -> None:
    """Flip `meta` to `version` (every part of it already written), then
    collect garbage: every version-named subdir other than the new version's
    parts and the dirs named in `live` (shared immutable segments the new
    version still references) is unreachable. GC is best-effort and never a
    correctness dependency; failures are ignored."""
    # local_rel, not createDataFrame: a Python-RDD-backed 1-row write costs
    # seconds per micro-batch (see streaming/localrel.py)
    local_rel(spark, [(version,)], _META_SCHEMA).write.mode("overwrite").parquet(
        f"{state_dir}/meta"
    )
    root = Path(state_dir)
    if not root.is_dir():  # non-local path (s3://, hdfs://) — skip
        return
    keep = {f"{p}_v{version}" for p in parts} | set(live)
    for d in root.iterdir():
        if _VERSIONED.fullmatch(d.name) and d.name not in keep:
            shutil.rmtree(d, ignore_errors=True)


def _last_batch(log_dir: Path) -> int:
    """The newest batch id a streaming log dir names (`N` or `N.compact`
    files); -1 for a missing or empty log."""
    if not log_dir.is_dir():
        return -1
    names = (re.fullmatch(r"(\d+)(\.compact)?", f.name) for f in log_dir.iterdir())
    return max((int(m.group(1)) for m in names if m), default=-1)


def start_file_sink(
    stream: DataFrame, out_dir: str, checkpoint_dir: str, partition_by: Sequence[str] = ()
):
    """Start `stream` appending to a parquet file sink at out_dir under
    checkpoint_dir (availableNow: drain the backlog, then stop); returns the
    StreamingQuery.

    The file sink logs a batch before the checkpoint commits it and never
    before the checkpoint plans it, so the sink log's newest batch lies
    between the checkpoint's newest commit and its newest planned offset
    (a crash between the log and the commit leaves the sink one batch
    ahead: the restart replays it and the sink skips it). Outside that
    range the two dirs belong to different runs: a fresh checkpoint over an
    old sink dir would replay batch ids the sink has logged and write
    nothing, and a checkpoint whose batches the sink never logged (a dir
    written by another sink, or deleted) would lose them. Both raise
    ValueError before any batch runs. Local file system only, like the
    recovery scan; on another file system the check passes."""
    sink = _last_batch(Path(out_dir) / "_spark_metadata")
    planned = _last_batch(Path(checkpoint_dir) / "offsets")
    committed = _last_batch(Path(checkpoint_dir) / "commits")
    if sink > planned or committed > sink:
        raise ValueError(
            f"sink dir {out_dir} (last logged batch {sink}) and checkpoint "
            f"{checkpoint_dir} (last planned batch {planned}, last committed "
            f"{committed}) come from different runs; start the stream over an "
            "empty sink dir and an empty checkpoint"
        )
    writer = (
        stream.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.start()
