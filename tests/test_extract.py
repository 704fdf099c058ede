"""Extract operators + flagship sync plan against sf0.001 parquet."""

from datetime import datetime

from pyspark.sql import functions as F

from redshift_to_pendo_api_data_pipeline_spark.operators.extract import (
    anti_join_allowlist,
    incremental_filter,
    max_bookmark,
    ordered_limit,
    semi_join_allowlist,
    uuid_shape_filter,
    uuid_valid_filter,
    volume_count,
)
from redshift_to_pendo_api_data_pipeline_spark.plans.state import State, build_state
from redshift_to_pendo_api_data_pipeline_spark.plans.sync import run_sync, sync_plan
from redshift_to_pendo_api_data_pipeline_spark.schema import StreamSpec
from redshift_to_pendo_api_data_pipeline_spark.sources.tables import load_table


def test_incremental_filter_pushdown(spark, sf_dir):
    # orders.o_orderdate is a native parquet timestamp -> the bookmark
    # predicate must reach the scan as a pushed filter
    orders = load_table(spark, sf_dir, "orders")
    bm = datetime(1995, 6, 1)
    out = incremental_filter(orders, "o_orderdate", bm)
    assert out.count() == orders.filter(F.col("o_orderdate") > F.lit(bm)).count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(o_orderdate" in plan
    # events.ts (micros in the fixtures; nanos sources are converted by
    # the loader) still filters correctly
    ev = load_table(spark, sf_dir, "events")
    bm2 = datetime(2024, 1, 15)
    n = incremental_filter(ev, "ts", bm2).count()
    assert 0 < n < ev.count()


def test_incremental_filter_none_bookmark(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert incremental_filter(ev, "ts", None).count() == ev.count()


def test_semi_and_anti_join_partition(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    ids = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("id")
    )
    kept = semi_join_allowlist(cust, "c_custkey", ids)
    dropped = anti_join_allowlist(cust, "c_custkey", ids)
    assert kept.count() + dropped.count() == cust.count()
    assert kept.count() == ids.count()
    # broadcast actually happened
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_uuid_filters(spark):
    df = spark.createDataFrame(
        [("123e4567-e89b-12d3-a456-426614174000",), ("not-a-uuid",),
         ("123e4567-e89b-12d3-a456-42661417400z",)],
        "id string",
    )
    assert df.filter(uuid_shape_filter(F.col("id"))).count() == 2  # len==36
    assert df.filter(uuid_valid_filter(F.col("id"))).count() == 1


def test_ordered_limit_topk(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    top = ordered_limit(orders, "o_orderdate", 10, ascending=False)
    rows = top.collect()
    assert len(rows) == 10
    dates = [r["o_orderdate"] for r in rows]
    assert dates == sorted(dates, reverse=True)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_volume_count_and_bookmark(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert volume_count(ev).first()["record_count"] == ev.count()
    bm = max_bookmark(ev, "ts")
    assert bm == ev.agg(F.max("ts")).first()[0]


def test_sync_plan_end_to_end(spark, sf_dir):
    """The flagship: incremental + allowlist semi-join + remap + reshape,
    with state committed after the sink (sync.py:83-206 as one plan)."""
    ev = load_table(spark, sf_dir, "events")
    stream = StreamSpec(
        name="events",
        primary_key="event_id",
        replication_method="INCREMENTAL",
        replication_key="ts",
        field_mappings={"event_id": "eventId", "user_id": "visitorId"},
    )
    allow = ev.filter(F.col("event_id") % 2 == 0).select(F.col("event_id").alias("id"))
    state = State()
    state.write_bookmark("events", "replication_key", "ts")
    state.write_bookmark("events", "replication_key_value", "2024-01-15T00:00:00")

    sunk = []
    def sink(df):
        n = df.count()
        sunk.append(n)
        return n

    res = run_sync(spark, ev, stream, state, sink, allowlist=allow)
    expected = ev.filter(
        (F.col("ts") > F.lit(datetime(2024, 1, 15))) & (F.col("event_id") % 2 == 0)
    )
    assert res.record_count == expected.count() == sunk[0]
    # bookmark advanced to max ts of the sunk subset, ISO-serialized
    assert state.get_bookmark("events", "replication_key_value") == expected.agg(
        F.max("ts")
    ).first()[0].isoformat()
    assert state.currently_syncing is None
    assert isinstance(res.version, int)
    # A2: observed counter matches sunk rows, tagged by stream
    assert res.metrics == {"record_count": res.record_count}

    # shape: (id, values struct) with remapped names
    shaped = sync_plan(ev, stream, bookmark=datetime(2024, 1, 15), allowlist=allow)
    assert shaped.columns == ["id", "values"]
    assert "visitorId" in shaped.schema["values"].dataType.fieldNames()


def test_build_state_merge():
    prior = State(bookmarks={
        "a": {"replication_key": "ts", "replication_key_value": "2024-01-01", "version": 5},
        "b": {"replication_key": "old_key", "replication_key_value": "x"},
        "c": {"version": 9},
    })
    streams = [
        StreamSpec(name="a", primary_key="id", replication_method="INCREMENTAL", replication_key="ts"),
        StreamSpec(name="b", primary_key="id", replication_method="INCREMENTAL", replication_key="ts"),
        StreamSpec(name="c", primary_key="id"),
        StreamSpec(name="d", primary_key="id"),
    ]
    st = build_state(prior, streams)
    assert st.bookmarks["a"]["replication_key_value"] == "2024-01-01"  # kept
    assert "replication_key_value" not in st.bookmarks["b"]  # rk changed -> dropped
    assert st.bookmarks["c"] == {"version": 9}
    assert "d" not in st.bookmarks


def _mk_stream(**kw):
    base = dict(
        name="s", primary_key="id", replication_method="INCREMENTAL",
        replication_key="rk",
    )
    base.update(kw)
    return StreamSpec(**base)


def test_incremental_limit_is_rk_prefix_no_data_loss(spark):
    """A limited incremental sync must take an rk-PREFIX (ORDER BY rk
    LIMIT n, tap-redshift/src/sync.py:145-146): with an arbitrary LIMIT
    subset, advancing the bookmark to max(rk) silently skips pending rows
    forever. Two limited runs must sink every row exactly once."""
    rows = [(i, i * 10) for i in range(1, 11)]  # rk 10..100, all distinct
    df = spark.createDataFrame(rows, "id long, rk long")
    stream = _mk_stream()
    state = State()
    seen = []

    def sink(shaped):
        seen.extend(r["id"] for r in shaped.collect())
        return shaped.count()

    r1 = run_sync(spark, df, stream, state, sink, limit=6)
    assert r1.record_count == 6
    # prefix by rk, so ids 1..6; bookmark only advances to the largest rk
    # strictly below the truncation boundary (boundary ties unprovable)
    assert sorted(seen) == [1, 2, 3, 4, 5, 6]
    assert state.get_bookmark("s", "replication_key_value") == 50

    r2 = run_sync(spark, df, stream, state, sink, limit=6)
    assert sorted(seen) == [1, 2, 3, 4, 5, 6, 6, 7, 8, 9, 10]
    assert r2.record_count == 5  # rk > 50: ids 6..10 (6 re-sent, idempotent sink)
    assert state.get_bookmark("s", "replication_key_value") == 100


def test_incremental_limit_boundary_ties_not_skipped(spark):
    """Rows TIED on rk at the truncation boundary may be cut mid-group;
    the bookmark must not advance past them."""
    rows = [(1, 10), (2, 20), (3, 20), (4, 20), (5, 30)]
    df = spark.createDataFrame(rows, "id long, rk long")
    stream = _mk_stream()
    state = State()
    seen = []

    def sink(shaped):
        seen.extend(r["id"] for r in shaped.collect())
        return shaped.count()

    run_sync(spark, df, stream, state, sink, limit=3)
    # prefix of 3 rows cut inside the rk=20 tie group: bookmark stays at 10
    assert state.get_bookmark("s", "replication_key_value") == 10
    run_sync(spark, df, stream, state, sink, limit=10)
    # second run picks up everything above 10 — nothing lost
    assert sorted(set(seen)) == [1, 2, 3, 4, 5]
    assert state.get_bookmark("s", "replication_key_value") == 30


def test_full_table_sync_ignores_limit(spark):
    """FULL_TABLE + ACTIVATE_VERSION replaces the whole table; truncating
    it to an arbitrary LIMIT subset would drop the remainder at swap."""
    df = spark.createDataFrame([(i,) for i in range(50)], "id long")
    stream = StreamSpec(name="t", primary_key="id", replication_method="FULL_TABLE")
    state = State()
    counts = []

    def sink(shaped):
        n = shaped.count()
        counts.append(n)
        return n

    res = run_sync(spark, df, stream, state, sink, limit=10)
    assert res.record_count == 50 and counts == [50]


def test_allowlist_join_with_colliding_column_name(spark):
    """Both sides binding: an unbound F.col('id') in the join condition is
    ambiguous when df itself has an 'id' column (the default allowlist
    key) — this used to raise AnalysisException at runtime."""
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    allow = spark.createDataFrame([(1,), (3,)], "id long")
    assert sorted(r["id"] for r in semi_join_allowlist(df, "id", allow).collect()) == [1, 3]
    assert [r["id"] for r in anti_join_allowlist(df, "id", allow).collect()] == [2]


def test_incremental_lookback_recovers_late_rows(spark):
    """SURVEY §2.8 late-data remedy: a row whose replication key was
    stamped just before the bookmark (late mutation, already missed by a
    strict scan) is re-synced when a lookback interval widens the scan;
    the strict scan still skips it. Plan stays pushdown-eligible."""
    import datetime as dt

    from redshift_to_pendo_api_data_pipeline_spark.operators.extract import (
        incremental_filter,
    )

    base = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        (1, base - dt.timedelta(minutes=30)),   # late-stamped, pre-bookmark
        (2, base + dt.timedelta(minutes=5)),    # normal new row
        (3, base - dt.timedelta(hours=3)),      # genuinely old
    ]
    df = spark.createDataFrame(rows, "id long, updated_at timestamp")

    strict = incremental_filter(df, "updated_at", base)
    assert {r["id"] for r in strict.collect()} == {2}

    widened = incremental_filter(df, "updated_at", base, lookback="1 hour")
    assert {r["id"] for r in widened.collect()} == {1, 2}
