"""sources.tables: each table's schema is inferred once per leaf-file
listing and pinned. A later ``load_table`` of unchanged files reads with
the pinned schema and launches no Spark job; a rewritten, added or
removed file changes the listing and the next load infers again."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from redshift_to_pendo_api_data_pipeline_spark.catalog import discover_parquet_catalog
from redshift_to_pendo_api_data_pipeline_spark.sources.tables import (
    _NANOS_TS_COLS,
    _PINNED,
    TABLES,
    load_table,
)


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred_load(spark, sf_dir: str, name: str):
    """The loader before schemas were pinned: inference on every call,
    then one ``withColumn`` per timestamp fix-up."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANOS_TS_COLS.get(name, ()):
        if isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def _entries(spark, root) -> dict:
    return {k: v for k, v in _PINNED[spark].items() if k.startswith(str(root))}


def test_second_load_of_unchanged_table_runs_no_job(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    first, first_jobs = _jobs(spark, "pin-first", lambda: load_table(spark, str(tmp_path), "orders"))
    again, again_jobs = _jobs(spark, "pin-again", lambda: load_table(spark, str(tmp_path), "orders"))
    assert first_jobs >= 1  # the footer-inference job
    assert again_jobs == 0
    assert again.schema == first.schema
    assert again.count() == first.count()


def test_discovery_then_load_infers_once(spark, sf_dir, tmp_path):
    """``discover_parquet_catalog`` pins the schema the sync's load reads."""
    shutil.copy(f"{sf_dir}/customer.parquet", tmp_path / "customer.parquet")
    (entry,), discover_jobs = _jobs(
        spark, "pin-discover",
        lambda: discover_parquet_catalog(spark, str(tmp_path), ("customer",)))
    df, load_jobs = _jobs(spark, "pin-load", lambda: load_table(spark, str(tmp_path), "customer"))
    assert discover_jobs >= 1
    assert load_jobs == 0
    assert entry.columns == df.columns


def test_file_rewritten_with_extra_column_shows_it(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [4, 5], "extra": ["a", "b"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(df.collect()) == [(4, "a"), (5, "b")]


def test_part_file_appended_to_directory_table_is_read(spark, tmp_path):
    table = tmp_path / "d.parquet"
    table.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), table / "part-0.parquet")
    assert load_table(spark, str(tmp_path), "d").count() == 2
    # same schema and the same byte length: only the listing's names differ
    pq.write_table(pa.table({"k": [3, 4]}), table / "part-1.parquet")
    df = load_table(spark, str(tmp_path), "d")
    assert sorted(r.k for r in df.collect()) == [1, 2, 3, 4]
    (entry,) = _entries(spark, tmp_path).values()
    assert [f.rsplit("/", 1)[1] for f, _, _ in entry.listing] == [
        "part-0.parquet", "part-1.parquet"]


def test_cache_holds_one_entry_per_path(spark, sf_dir, tmp_path):
    names = ("region", "nation", "supplier")
    for t in names:
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    for _ in range(2):
        for t in names:
            load_table(spark, str(tmp_path), t)
    pq.write_table(pa.table({"r_regionkey": [0]}), tmp_path / "region.parquet")
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    assert sorted(_entries(spark, tmp_path)) == sorted(
        f"{tmp_path}/{t}.parquet" for t in names)


@pytest.mark.parametrize("name", TABLES)
def test_pinned_load_equals_inferred_load(spark, sf_dir, name):
    for _ in range(2):  # the miss, then the hit
        got = load_table(spark, sf_dir, name)
        want = _inferred_load(spark, sf_dir, name)
        assert got.schema == want.schema
        assert got.collect() == want.collect()


def test_nanos_source_pinned_load_equals_inferred_load(spark, tmp_path):
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_001], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), tmp_path / "events.parquet")
    for _ in range(2):
        got = load_table(spark, str(tmp_path), "events")
        want = _inferred_load(spark, str(tmp_path), "events")
        assert dict(got.dtypes)["ts"] == "timestamp"
        assert got.schema == want.schema
        assert got.collect() == want.collect()
