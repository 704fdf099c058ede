"""Continuous aggregate maintenance (streaming rollup upsert)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from redshift_to_pendo_api_data_pipeline_spark.sink import parquet_sink as PS
from redshift_to_pendo_api_data_pipeline_spark.sources.tables import load_table
from redshift_to_pendo_api_data_pipeline_spark.streaming.continuous_agg import (
    run_continuous_agg,
)
from redshift_to_pendo_api_data_pipeline_spark.streaming.sketches import (
    hll_register_stream,
    kmv_sketch_stream,
)


def _rollup_dict(spark, path):
    return {
        r["user_id"]: (r["n"], round(r["sum_value"], 6))
        for r in PS.read_active(spark, path).collect()
    }


def _expected(df):
    return {
        r["user_id"]: (r["n"], round(r["sum_value"], 6))
        for r in df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
        ).collect()
    }


def test_continuous_agg_matches_batch_recompute(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    first, second = ev.limit(300), ev.limit(450).exceptAll(ev.limit(300))
    with tempfile.TemporaryDirectory() as d:
        src, ckpt, rollup = f"{d}/src", f"{d}/ckpt", f"{d}/rollup"
        first.write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))

        q = run_continuous_agg(stream, rollup, ckpt, ["user_id"], "value")
        q.awaitTermination(120)
        assert _rollup_dict(spark, rollup) == _expected(first)

        # new data arrives; a second availableNow run merges ONLY the delta
        second.write.mode("append").parquet(src)
        q2 = run_continuous_agg(stream, rollup, ckpt, ["user_id"], "value")
        q2.awaitTermination(120)
        assert _rollup_dict(spark, rollup) == _expected(ev.limit(450))

        # the rollup stayed per-key-sized: one row per user in the active
        # version, regardless of how many events streamed through
        n_users = ev.limit(450).select("user_id").distinct().count()
        assert PS.read_active(spark, rollup).count() == n_users


# every rollup that commits through continuous_agg.commit_rollup
ROLLUPS = {
    "continuous_agg": lambda stream, rollup, ckpt: run_continuous_agg(
        stream, rollup, ckpt, ["user_id"], "value"),
    "kmv": lambda stream, rollup, ckpt: kmv_sketch_stream(
        stream, "user_id", "event_type", rollup, ckpt, k=16),
    "hll": lambda stream, rollup, ckpt: hll_register_stream(
        stream, "user_id", ["event_type"], rollup, ckpt, m=16),
}


@pytest.mark.parametrize("scheme", ["", "file:"], ids=["path", "file_uri"])
@pytest.mark.parametrize("rollup_kind", list(ROLLUPS))
def test_fresh_checkpoint_against_existing_rollup_fails_fast(
    spark, sf_dir, rollup_kind, scheme
):
    """Batch ids restart at 0 in a fresh checkpoint, so every batch would
    satisfy 'active >= v' and be silently discarded — the ownership marker
    must turn that into an error instead. The fresh checkpoint reads new
    data, so a dropped batch would change the rollup; a ``file:`` URI
    checkpoint must be identified as well as a plain path."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    start = ROLLUPS[rollup_kind]
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id", "value")
    with tempfile.TemporaryDirectory() as d:
        base = f"{scheme}{d}"
        src1, src2, rollup = f"{base}/src1", f"{base}/src2", f"{base}/rollup"
        ev.where(F.col("user_id") % 2 == 0).limit(100).write.parquet(src1)
        ev.where(F.col("user_id") % 2 == 1).limit(100).write.parquet(src2)
        schema = spark.read.parquet(src1).schema

        q = start(spark.readStream.schema(schema).parquet(src1), rollup,
                  f"{base}/ckpt1")
        q.awaitTermination(120)
        before = sorted(map(tuple, PS.read_active(spark, rollup).collect()))
        assert before

        q2 = start(spark.readStream.schema(schema).parquet(src2), rollup,
                   f"{base}/ckpt2")
        with pytest.raises(StreamingQueryException, match="owned by checkpoint"):
            q2.awaitTermination(120)
        # rollup content untouched by the refused stream
        assert sorted(map(tuple, PS.read_active(spark, rollup).collect())) == before


def test_refresh_rollup_from_diff_touches_only_affected_groups(spark, tmp_path):
    """CDC-driven rollup maintenance: the refreshed rollup equals a full
    re-aggregation of v2 (deletes + in-place updates + group-MOVING
    updates), min/max included — and untouched groups' rows survive from
    the old rollup verbatim (the recomputed side only ever sees affected
    groups, proven by recomputing with a poisoned base rollup)."""
    from pyspark.sql import functions as F

    from redshift_to_pendo_api_data_pipeline_spark.sink import parquet_sink as PS
    from redshift_to_pendo_api_data_pipeline_spark.streaming.continuous_agg import (
        _partial,
        refresh_rollup_from_diff,
    )

    path = str(tmp_path / "tbl")
    rows = [(i, i % 10, (i * 7) % 100) for i in range(200)]
    v1 = spark.createDataFrame(rows, "pk long, grp long, val long")
    v2 = (
        v1.where(F.col("pk") % 20 != 0)                       # deletes
        .withColumn("val", F.when(F.col("pk") % 9 == 0,
                                  F.col("val") + 1000).otherwise(F.col("val")))
        .withColumn("grp", F.when(F.col("pk") == 1, F.lit(99))  # group move
                    .otherwise(F.col("grp")))
    )
    PS.write_versioned(v1, path, 1)
    PS.write_versioned(v2, path, 2, mode="append")

    refreshed = refresh_rollup_from_diff(
        spark, path, _partial(v1, ["grp"], "val"), ["grp"], "val", "pk", 1, 2)
    full = _partial(v2, ["grp"], "val")
    assert sorted(map(tuple, refreshed.collect())) == \
        sorted(map(tuple, full.collect()))

    # incrementality proof: poison the base rollup's UNTOUCHED groups --
    # they must pass through verbatim (poison visible), while affected
    # groups are recomputed (poison erased)
    poisoned = _partial(v1, ["grp"], "val").withColumn(
        "n", F.col("n") + 777)
    # the first delta touches every grp (pk%20 deletes hit each) -> use a
    # narrower second delta so untouched groups exist
    path2 = str(tmp_path / "tbl2")
    v2b = v1.where(F.col("pk") != 0)  # only grp 0 affected
    PS.write_versioned(v1, path2, 1)
    PS.write_versioned(v2b, path2, 2, mode="append")
    ref3 = {r["grp"]: r["n"] for r in refresh_rollup_from_diff(
        spark, path2, poisoned, ["grp"], "val", "pk", 1, 2).collect()}
    assert ref3[0] == 19          # affected group: recomputed, poison gone
    assert all(ref3[g] == 20 + 777 for g in range(1, 10))  # untouched: verbatim
