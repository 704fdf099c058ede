"""Shared driver-crossover guard (operators.routing.within_driver_bound):
boundary behavior and the cheap-probe plan contract (the guard itself
must be a limit-bounded job, never a full count of a corpus-sized
relation)."""

from __future__ import annotations

from redshift_to_pendo_api_data_pipeline_spark.operators.routing import within_driver_bound


def test_boundary_semantics(spark):
    df = spark.range(100)
    assert within_driver_bound(df, 100)       # exactly at cap -> driver
    assert not within_driver_bound(df, 99)    # one over -> distributed
    assert within_driver_bound(spark.range(0), 0)


def test_probe_plan_is_limit_bounded(spark):
    # the probe's aggregate must sit over a GlobalLimit: execution
    # stops after cap+1 rows surface, so an over-cap corpus never pays
    # a full count to learn it routes distributed
    df = spark.range(10_000_000)
    plan = (
        df.limit(101)._jdf.queryExecution().executedPlan().toString()
    )
    assert "GlobalLimit" in plan or "CollectLimit" in plan


def test_three_sites_share_the_guard():
    # the contract doc lives in one place; the three crossover sites
    # must actually route through it (a hand-rolled probe drifts —
    # r10's counted the mirrored edge relation and silently halved
    # the documented capacity)
    import inspect

    from redshift_to_pendo_api_data_pipeline_spark.operators import dedup, sampling
    from redshift_to_pendo_api_data_pipeline_spark.streaming import ann_bridge

    for mod, fn in [
        (dedup, "connected_components"),
        (sampling, "kcenter_select"),
        (ann_bridge, "batch_ivf_topk"),
    ]:
        src = inspect.getsource(getattr(mod, fn))
        assert "within_driver_bound" in src, f"{fn} does not use the guard"


def test_local_df_plans_as_local_table_scan(spark):
    # the Arrow local relation (the return leg of a driver crossover)
    # must plan as LocalTableScan — pure-JVM tasks — never the pickled
    # Scan ExistingRDD path that launches a Python worker per task per
    # action (r11 profile: ~250 ms of worker wait per zero-IO task)
    from pyspark.sql import types as T

    from redshift_to_pendo_api_data_pipeline_spark.operators.routing import (
        local_df,
    )

    rows = [(1, "a", [1.0, 2.0]), (2, None, None)]
    schema = "n bigint, s string, v array<double>"
    df = local_df(spark, rows, schema)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    # value-identical to the plain createDataFrame path (NULLs included)
    ref = spark.createDataFrame(rows, schema)
    assert sorted(map(str, df.collect())) == sorted(map(str, ref.collect()))
    # non-nullable StructType schemas survive the Arrow roundtrip
    st = T.StructType([
        T.StructField("node", T.LongType(), False),
        T.StructField("cluster_id", T.LongType(), False),
    ])
    df2 = local_df(spark, [(5, 3)], st)
    assert df2.schema == st
    # empty relations keep the declared schema
    assert local_df(spark, [], schema).count() == 0


def test_prefix_family_lazy_pin_is_deterministic(spark):
    # r11 switched the prefix family's dual-consumption pin from an
    # eager localCheckpoint to a lazy one: the pin's value is the
    # SINGLE SHARED RDD (one range exchange instance -> one boundary
    # sample -> the window branch and the totals branch always agree),
    # which lazy checkpointing provides identically. This repeats the
    # round-7 mann_whitney-style flap check over a shuffled upstream.
    from pyspark.sql import functions as F

    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        global_prefix_max_excl,
        global_prefix_sum,
        global_ranks,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    up = li.groupBy("l_orderkey").agg(
        F.sum((F.col("l_quantity") * 100).cast("long")).alias("v")
    )
    seen_r, seen_p, seen_m = set(), set(), set()
    for _ in range(3):
        r = global_ranks(
            up, [F.col("v").desc(), F.col("l_orderkey").asc()],
            keep_total=True,
        )
        seen_r.add(tuple(
            r.selectExpr(
                "sum(__rank * l_orderkey)", "sum(__rank * __rank)",
                "max(__total)",
            ).collect()[0]
        ))
        p = global_prefix_sum(
            up, [F.col("v").asc(), F.col("l_orderkey").asc()], "v",
            prefix_name="c", keep_total=True,
        )
        seen_p.add(tuple(
            p.selectExpr("sum(c * l_orderkey)", "max(__total)").collect()[0]
        ))
        m = global_prefix_max_excl(
            up, [F.col("v").asc(), F.col("l_orderkey").asc()], "v",
            out_name="pm",
        )
        seen_m.add(tuple(
            m.selectExpr("sum(pm * l_orderkey)", "count(pm)").collect()[0]
        ))
    assert len(seen_r) == 1, "global_ranks branches disagreed under lazy pin"
    assert len(seen_p) == 1, "global_prefix_sum branches disagreed under lazy pin"
    assert len(seen_m) == 1, (
        "global_prefix_max_excl branches disagreed under lazy pin"
    )
