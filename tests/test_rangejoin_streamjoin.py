"""Range joins (banded vs theta), runtime bloom-filter pruning,
stream-stream join."""

import tempfile

import pytest

from pyspark.sql import functions as F

from redshift_to_pendo_api_data_pipeline_spark.operators.rangejoin import (
    interval_join_banded,
    interval_join_theta,
)
from redshift_to_pendo_api_data_pipeline_spark.sources.tables import load_table
from redshift_to_pendo_api_data_pipeline_spark.streaming.joins import (
    stream_stream_join,
)


# ---------------------------------------------------------- range joins
def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_banded_equals_theta_scalar(spark, sf_dir):
    """The bin-cover equi-join must produce the identical relation to the
    naive theta join, for a bin width that divides the bands unevenly."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bands = spark.createDataFrame(
        [("a", 1000.0, 57_000.0), ("b", 57_000.0, 250_000.0)],
        "band string, lo double, hi double",
    )
    cols = ["o_orderkey", "band"]
    banded = interval_join_banded(
        orders, bands, "o_totalprice", "lo", "hi", bin_width=20_000.0
    )
    theta = interval_join_theta(orders, bands, "o_totalprice", "lo", "hi")
    assert _rows(banded, cols) == _rows(theta, cols)
    assert banded.count() > 0


def test_banded_equals_theta_keyed_temporal(spark, sf_dir):
    """Keyed temporal flavor: per-user event windows, micros binning."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    win = (
        ev.where(F.col("event_id") % 17 == 0)
        .select(
            "user_id",
            F.col("event_id").alias("win_id"),
            (F.col("ts") - F.expr("INTERVAL 6 HOURS")).alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("hi"),
        )
    )
    cols = ["event_id", "win_id"]
    banded = interval_join_banded(
        ev, win, "ts", "lo", "hi",
        bin_width=4 * 3600 * 1_000_000, keys=["user_id"], time_valued=True,
    )
    theta = interval_join_theta(ev, win, "ts", "lo", "hi", keys=["user_id"])
    assert _rows(banded, cols) == _rows(theta, cols)
    assert banded.count() > len(win.collect())  # windows caught extra events


def test_banded_join_is_hash_join_no_nested_loop(spark, sf_dir):
    """The scale contract: the banded join plans as a hash equi-join —
    never a nested loop — even when nothing is broadcastable."""
    k = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(k, None)
    spark.conf.set(k, "-1")
    try:
        ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
        win = ev.select(
            "user_id", F.col("event_id").alias("win_id"),
            (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("hi"),
        )
        plan = interval_join_banded(
            ev, win, "ts", "lo", "hi",
            bin_width=3600 * 1_000_000, keys=["user_id"], time_valued=True,
        )._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set(k, old) if old is not None else spark.conf.unset(k)


# --------------------------------------------- runtime bloom-filter prune
def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """With broadcast off (the 100 TB case: dim too big to broadcast but
    selective), Spark injects a bloom filter built from the dim keys into
    the fact scan — rows failing might_contain never reach the shuffle.
    Thresholds are lowered to make the sf0.01 tables 'big'; at real scale
    the defaults fire on their own."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        j = li.join(
            orders.where(F.col("o_orderpriority") == "1-URGENT"),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        # and the result is still the plain join
        expected = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .where(F.col("o_orderpriority") == "1-URGENT").count()
        )
        assert j.count() == expected
    finally:
        for k, v in old.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


# ------------------------------------------------------ stream-stream join
def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Watermarked click↔purchase correlation: purchases within 2 h after
    a click by the same user. availableNow over file sources; the result
    must equal the equivalent batch join."""
    ev = load_table(spark, sf_dir, "events")
    clicks_b = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    purch_b = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    expected = (
        clicks_b.join(
            purch_b,
            (clicks_b["user_id"] == purch_b["p_user"])
            & (purch_b["pts"] >= clicks_b["cts"])
            & (purch_b["pts"] <= clicks_b["cts"] + F.expr("INTERVAL 2 HOURS")),
        )
        .select("click_id", "purchase_id")
    )
    with tempfile.TemporaryDirectory() as d:
        clicks_b.write.parquet(f"{d}/clicks")
        purch_b.withColumnRenamed("p_user", "user_id").write.parquet(f"{d}/purch")
        cs = spark.readStream.schema(
            spark.read.parquet(f"{d}/clicks").schema
        ).parquet(f"{d}/clicks")
        ps = spark.readStream.schema(
            spark.read.parquet(f"{d}/purch").schema
        ).parquet(f"{d}/purch")
        joined = stream_stream_join(
            cs, ps, "user_id", "cts", "pts", within="2 hours",
            watermark="30 minutes",
        ).select("click_id", "purchase_id")
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj_out")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{d}/ckpt")
            .start()
        )
        q.awaitTermination(180)
        got = spark.table("ssj_out")
        assert _rows(got, ["click_id", "purchase_id"]) == _rows(
            expected, ["click_id", "purchase_id"]
        )
        assert got.count() > 0


def test_stream_stream_join_requires_bounds():
    with pytest.raises(ValueError):
        stream_stream_join(None, None, "k", "a", "b", within="", watermark="1 hour")


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    """Stream-static dimension enrichment: a streaming fact joined with a
    static (broadcastable) dimension needs no watermark and no stream
    state — each micro-batch hash-joins against the dim. Result must
    equal the batch join."""
    ev = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "revenue"), ("signup", "growth"), ("error", "ops")],
        "event_type string, category string",
    )
    expected = (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/ev")
        es = spark.readStream.schema(
            spark.read.parquet(f"{d}/ev").schema
        ).parquet(f"{d}/ev")
        enriched = es.join(F.broadcast(dim), "event_type")
        q = (
            enriched.writeStream.format("memory")
            .queryName("sse_out")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{d}/ckpt")
            .start()
        )
        q.awaitTermination(180)
        got = (
            spark.table("sse_out")
            .groupBy("category")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert _rows(got, ["category", "n"]) == _rows(expected, ["category", "n"])
        assert got.count() == 4  # 5 types -> 4 categories
