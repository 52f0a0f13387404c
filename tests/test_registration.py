"""Base-table registration reads footers, not data: views.register_all
declares each table's schema from its parquet footer (views.parquet_footer)
and runs no Spark job. An inferred `spark.read.parquet` of the same file is
the oracle for the declared schema; DuckDB is the oracle for TIMESTAMP(NANOS)
values."""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from s3bigdatasync_spark import views
from s3bigdatasync_spark.operators import _PREPARED, session_id

from .conftest import SF_DIR, SF_SMALL
from .test_pipeline import _in_job_group


@pytest.fixture
def restore_views(spark):
    """Tests here register other input dirs; put the session's sf0.01 views
    (and the operators.prepared memo) back afterwards."""
    yield
    views.register_all(spark, SF_DIR)
    _PREPARED.clear()
    _PREPARED.add((*session_id(spark), SF_DIR))


@pytest.fixture(scope="module")
def mixed_dir(spark, tmp_path_factory):
    """The sf0.001 tables, except:
      * events: written by pyarrow with `ts` as timestamp[ns], each value
        carrying sub-microsecond digits (no testdata table has a ns column);
      * orders: a directory of three part files written by Spark;
      * lineitem: sf0.01's, as a directory of ONE part file written by Spark
        (over the widening threshold, one scan split)."""
    out = tmp_path_factory.mktemp("mixed")
    for name in views.BASE_TABLES:
        shutil.copy(f"{SF_SMALL}/{name}.parquet", out / f"{name}.parquet")
    events = pq.read_table(f"{SF_SMALL}/events.parquet")
    ns = pc.add(events["ts"].cast(pa.timestamp("ns")).cast(pa.int64()), pa.scalar(789, pa.int64()))
    events = events.set_column(events.schema.get_field_index("ts"), "ts", ns.cast(pa.timestamp("ns")))
    pq.write_table(events, out / "events.parquet")
    for name, src, parts in (("orders", SF_SMALL, 3), ("lineitem", SF_DIR, 1)):
        os.remove(out / f"{name}.parquet")
        df = spark.read.parquet(f"{src}/{name}.parquet")
        (df.repartition(parts) if parts > 1 else df.coalesce(1)).write.parquet(
            str(out / f"{name}.parquet")
        )
    return str(out)


def _data_files(path: str) -> list[str]:
    return [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]


@pytest.mark.parametrize("which", ["sf0.01", "sf0.001", "mixed"])
def test_register_all_runs_no_spark_job(spark, which, mixed_dir, restore_views):
    """Registration declares each table's schema from its footer: 0 Spark
    jobs (an inferred read runs one per table), and the declared read has
    exactly the inferred read's schema, nullability included, and rows."""
    sf = {"sf0.01": SF_DIR, "sf0.001": SF_SMALL, "mixed": mixed_dir}[which]
    assert _in_job_group(spark, lambda: views.register_all(spark, sf))[1] == 0
    for name in views.BASE_TABLES:
        path = f"{sf}/{name}.parquet"
        declared = spark.read.schema(views.parquet_footer(path).schema).parquet(path)
        inferred = spark.read.parquet(path)
        assert declared.schema == inferred.schema, name
        assert spark.table(name).count() == inferred.count(), name


def test_nanos_timestamps_truncate_like_duckdb(spark, mixed_dir, restore_views):
    """A timestamp[ns] column is declared long (nanosAsLong) and converted to
    a timestamp truncated to microseconds, as DuckDB reads it."""
    path = f"{mixed_dir}/events.parquet"
    assert views.parquet_footer(path).nanos == ["ts"]
    views.register_all(spark, mixed_dir)
    assert dict(spark.table("events").dtypes)["ts"] == "timestamp"
    got = spark.table("events").select("event_id", F.unix_micros("ts")).collect()
    sql = "SELECT event_id, epoch_us(ts) FROM read_parquet('{}')"
    want = duckdb.sql(sql.format(path)).fetchall()
    assert sorted(map(tuple, got)) == sorted(want)
    # the 789 ns added to each microsecond value were cut, not rounded up
    assert sorted(want) == sorted(duckdb.sql(sql.format(f"{SF_SMALL}/events.parquet")).fetchall())


def test_directory_table_is_sized_over_its_part_files(spark, mixed_dir, restore_views):
    """A directory's bytes and rows sum over its part files (os.path.getsize
    of the directory is the inode's 4 KiB), so a narrow directory scan over
    the threshold is widened like a single file of that size."""
    orders = f"{mixed_dir}/orders.parquet"
    footer = views.parquet_footer(orders)
    assert len(_data_files(orders)) == 3
    assert footer.size == sum(os.path.getsize(p) for p in _data_files(orders))
    assert footer.rows == pq.read_metadata(f"{SF_SMALL}/orders.parquet").num_rows

    lineitem = views.parquet_footer(f"{mixed_dir}/lineitem.parquet")
    assert lineitem.size >= views._WIDEN_MIN_BYTES
    assert lineitem.rows == pq.read_metadata(f"{SF_DIR}/lineitem.parquet").num_rows
    views.register_all(spark, mixed_dir)
    plan = spark.table("lineitem")._jdf.queryExecution().executedPlan().toString()
    narrow = 2 < spark.sparkContext.defaultParallelism  # one split is narrow
    assert ("RoundRobinPartitioning" in plan) == narrow, plan


def test_a_table_with_no_data_file_fails_loudly(spark, tmp_path, restore_views):
    """A missing table or an empty directory is not registered as a view
    with no columns."""
    for name in views.BASE_TABLES:
        shutil.copy(f"{SF_SMALL}/{name}.parquet", tmp_path / f"{name}.parquet")
    os.remove(tmp_path / "region.parquet")
    (tmp_path / "region.parquet").mkdir()
    (tmp_path / "region.parquet" / "_SUCCESS").touch()
    with pytest.raises(FileNotFoundError, match="region"):
        views.register_base_tables(spark, str(tmp_path))
