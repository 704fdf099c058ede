"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship sync plan on sf0.001;
``queries()`` exposes one callable per implemented operator (SURVEY.md §2);
``oracle_sql()`` gives the DuckDB-equivalent SQL for each.

Cross-engine comparability rules used throughout:
- timestamps surface as epoch microseconds (Spark ``unix_micros`` /
  DuckDB ``epoch_us``) so value hashing never sees engine formatting;
- money aggregates are summed as DECIMAL (exact, associative) instead of
  DOUBLE so partial-aggregation order can't change the result;
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from redshift_to_pendo_api_data_pipeline_spark.operators import extract as X
from redshift_to_pendo_api_data_pipeline_spark.functions import transforms as TR
from redshift_to_pendo_api_data_pipeline_spark.sources.tables import load_table
from redshift_to_pendo_api_data_pipeline_spark.staging import (
    DEFAULT_ROOT,
    reusable,
    stage,
    stage_dir,
    stage_parquet,
)

SF_SMOKE = "/root/testdata/sf0.001"

# Deterministic "remote allowlist" stand-in (FIXTURES.md): the Pendo
# fetch_uuids result is simulated as the users whose id % 3 == 0 — derivable
# identically in Spark and in the DuckDB oracle.
_BOOKMARK = "2024-01-15 00:00:00"


def _allowlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.col("user_id"))
        .where(F.col("user_id") % 3 == 0)
        .distinct()
        .select(F.col("user_id").alias("id"))
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_sync_incremental_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's sync_table (tap-redshift/src/sync.py:83-206)
    as one plan — incremental bookmark filter (P4) + broadcast left-semi
    allowlist reduction (J3/P5) + projection & rename (P1/F9)."""
    ev = load_table(spark, sf_dir, "events")
    out = X.incremental_filter(ev, "ts", F.to_timestamp(F.lit(_BOOKMARK)))
    out = X.semi_join_allowlist(out, "user_id", _allowlist(spark, sf_dir))
    return out.select(
        F.col("event_id").alias("eventId"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("user_id").alias("visitorId"),
        F.col("event_type").alias("eventType"),
        F.col("value").alias("value"),
    )


def q_full_table_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL_TABLE scan with selection resolution (P1/P2): user selected
    {c_name, c_acctbal}, PK c_custkey force-included (resolve.py:10-44)."""
    from redshift_to_pendo_api_data_pipeline_spark.catalog import resolve_projection
    from redshift_to_pendo_api_data_pipeline_spark.schema import StreamSpec

    cust = load_table(spark, sf_dir, "customer")
    stream = StreamSpec(
        name="customer", primary_key="c_custkey",
        selected_columns=["c_name", "c_acctbal"],
    )
    return resolve_projection(cust, stream)


def q_ordered_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2: ORDER BY + LIMIT == distributed top-k
    (TakeOrderedAndProject). Unique tiebreak key keeps the row set
    deterministic at the limit boundary."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(100)
        .select(
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate")).alias("odate_us"),
            "o_totalprice",
            "o_orderpriority",
        )
    )


def q_volume_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: pre-sync COUNT(*) for the VOLUME message (sync.py:153-159)."""
    return X.volume_count(load_table(spark, sf_dir, "events"))


def q_bookmark_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: bookmark as max(replication_key) — replaces the reference's
    ORDER-BY-last-row-wins (sync.py:188-194)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(F.max(F.unix_micros("ts")).alias("bookmark_us"))


def q_uuid_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6+P7: UUID shape (len==36) and regex validation (sync.py:42,51-53)
    over UUIDs derived deterministically from customer names via md5."""
    cust = load_table(spark, sf_dir, "customer")
    uuid = F.concat_ws(
        "-",
        F.substring(F.md5("c_name"), 1, 8),
        F.substring(F.md5("c_name"), 9, 4),
        F.substring(F.md5("c_name"), 13, 4),
        F.substring(F.md5("c_name"), 17, 4),
        F.substring(F.md5("c_name"), 21, 12),
    )
    df = cust.select(F.col("c_custkey"), uuid.alias("uuid"))
    return df.where(X.uuid_shape_filter(F.col("uuid"))).where(
        X.uuid_valid_filter(F.col("uuid"))
    )


def q_payload_reshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9+F10+F6: remap per field_mappings, reshape to {id, values:{...}},
    serialize the values struct as one JSON document per row
    (target-pendo/src/__init__.py:531-557)."""
    cust = load_table(spark, sf_dir, "customer")
    remapped = TR.remap_fields(
        cust.select("c_custkey", "c_name", "c_mktsegment"),
        {"c_custkey": "accountId", "c_name": "name", "c_mktsegment": "segment"},
    )
    shaped = TR.reshape_payload(remapped, "accountId", "id")
    return shaped.select("id", F.to_json("values").alias("values_json"))


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline aggregation (TPC-H Q1 shape): grouped partial-aggregated
    sums over the fact table. DECIMAL sums keep the result exact and
    order-independent across engines; surfaced as fixed-point BIGINT
    (``_fp2`` = value*100, ``_fp4`` = value*10000) so the values serialize
    identically on every fetch path (transforms.fixed_point)."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            TR.fixed_point(F.sum(dec("l_quantity")), 2).alias("sum_qty_fp2"),
            TR.fixed_point(F.sum(dec("l_extendedprice")), 2).alias("sum_base_price_fp2"),
            TR.fixed_point(
                F.sum(
                    (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
                    .cast("decimal(18,4)")
                ),
                4,
            ).alias("sum_disc_price_fp4"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------- analytics ops

def q_grouped_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-stream stats (target-pendo __init__.py:197-214 as one
    groupBy; map-side combined, single shuffle)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import grouped_stats
    return grouped_stats(load_table(spark, sf_dir, "events"), "event_type", "value", "ts")


def q_pairwise_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: inter-event time deltas per user — lag() window replaces the
    reference's zip-with-shifted-self."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import pairwise_deltas
    return pairwise_deltas(load_table(spark, sf_dir, "events"), "user_id", "ts", "event_id")


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned dedup: newest row per key via row_number window —
    ACTIVATE_VERSION 'latest version wins' expressed relationally."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import latest_per_key
    ev = load_table(spark, sf_dir, "events")
    return latest_per_key(ev, "user_id", "ts", "event_id").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )


def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import rollup_counts
    li = load_table(spark, sf_dir, "lineitem")
    return rollup_counts(li, ["l_returnflag", "l_linestatus"], "l_extendedprice")


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import cube_counts
    orders = load_table(spark, sf_dir, "orders")
    return cube_counts(orders, ["o_orderstatus", "o_orderpriority"], "o_totalprice")


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import distinct_count
    return distinct_count(load_table(spark, sf_dir, "events"), "user_id")


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ scale path for distinct counts. The sketch estimate is
    engine-specific, so the value surfaced for hashing is the TOLERANCE
    VERDICT, not the estimate: exact count (both engines compute it) plus
    a within-5% flag that Spark genuinely evaluates against its own
    sketch and the oracle asserts as TRUE — i.e. the check pins 'HLL is
    within its error budget', the strongest cross-engine statement a
    sketch admits (rsd=0.02 ⇒ 5% is ≈2.5σ)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count_distinct(F.col("user_id")).alias("exact_count"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("__approx"),
    ).select(
        "exact_count",
        (
            F.abs(F.col("__approx") - F.col("exact_count"))
            <= 0.05 * F.col("exact_count")
        ).alias("within_5pct"),
    )


def q_setops_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-set algebra (SURVEY.md §2.6 — absent in the reference, part of
    the widened surface): purchasers ∩ signups, minus error-only users,
    ∪ tagged singleton."""
    ev = load_table(spark, sf_dir, "events")
    def users(et: str) -> DataFrame:
        return ev.where(F.col("event_type") == et).select("user_id").distinct()
    both = users("purchase").intersect(users("signup"))
    clean = both.exceptAll(users("error")).withColumn("segment", F.lit("clean"))
    flagged = both.intersect(users("error")).withColumn("segment", F.lit("flagged"))
    return clean.unionByName(flagged)


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline multi-join (TPC-H Q3 shape): dimension filter broadcast
    into a 3-way join, grouped decimal revenue, distributed top-k."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.to_timestamp(F.lit("1996-01-01 00:00:00"))
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("decimal(18,4)")
    return (
        cust.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < cutoff)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > cutoff)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(TR.fixed_point(F.sum(revenue), 4).alias("revenue_fp4"))
        .select(
            "o_orderkey",
            F.unix_micros("o_orderdate").alias("odate_us"),
            "o_orderpriority",
            "revenue_fp4",
        )
        .orderBy(F.desc("revenue_fp4"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join where customer and supplier must share
    a nation inside one region, revenue per nation for one order year.
    Region→nation and supplier are broadcast (small dims); the
    customer⋈orders⋈lineitem spine shuffles on its join keys and AQE
    picks the physical strategy at scale."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    lo = F.to_timestamp(F.lit("1996-01-01 00:00:00"))
    hi = F.to_timestamp(F.lit("1997-01-01 00:00:00"))
    asia_nations = F.broadcast(
        nation.join(
            region.where(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("decimal(18,4)")
    return (
        cust.join(asia_nations, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(TR.fixed_point(F.sum(revenue), 4).alias("revenue_fp4"))
        .orderBy(F.desc("revenue_fp4"), F.asc("n_name"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery semantics (TPC-H Q17 shape): revenue
    from lineitems whose quantity is below 20% of their part's average.
    Written as ONE aggregated join: Catalyst decorrelates each scalar
    subquery individually but does NOT merge two correlated aggregates
    over the same relation (the naive two-subquery form planned 3
    lineitem scans + 2 partkey shuffles; this form is 2 scans + 1 —
    measured 2.6s -> ~1s at sf0.1). The per-part stats relation is
    |parts|-sized, so it broadcasts back onto the fact side. The
    threshold test is division-free exact decimal/integer arithmetic
    (qty*5*n < sum  ⇔  qty < 0.2*avg), so both engines evaluate
    bit-identical comparisons."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql("""
        SELECT COUNT(*) AS n_small,
               CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS revenue_fp2
        FROM lineitem_v l
        JOIN (SELECT l_partkey, COUNT(*) AS n,
                     SUM(CAST(l_quantity AS DECIMAL(18,6))) AS s
              FROM lineitem_v GROUP BY l_partkey) p
          ON l.l_partkey = p.l_partkey
        WHERE CAST(l.l_quantity AS DECIMAL(18,6)) * 5 * p.n < p.s
    """)


def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape): orders in a quarter having at
    least one lineitem shipped >30 days after the order date. Catalyst
    decorrelates the EXISTS into a left-semi join whose condition mixes
    the equi key with the non-equi date predicate — semi-join semantics
    make the count per-order regardless of lineitem fanout."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql("""
        SELECT o.o_orderpriority, COUNT(*) AS n_orders
        FROM orders_v o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem_v l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL '30' DAY)
        GROUP BY o.o_orderpriority
    """)


def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subquery against a DIFFERENT relation level (TPC-H Q2
    shape, adapted to this schema — there is no partsupp table): the
    supplier(s) holding the minimum account balance of their nation.
    Decorrelates to a per-nation min join; ties keep every minimal
    supplier in both engines identically (equality on an untouched
    stored double, no arithmetic)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_v")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    return spark.sql("""
        SELECT n.n_name, s.s_name, s.s_suppkey,
               CAST(ROUND(s.s_acctbal * 100) AS BIGINT) AS acctbal_fp2
        FROM supplier_v s JOIN nation_v n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_acctbal = (SELECT MIN(s2.s_acctbal) FROM supplier_v s2
                             WHERE s2.s_nationkey = s.s_nationkey)
    """)


def q_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join, scalar flavor: orders classified into price
    bands via the bin-cover equi-join (operators/rangejoin.py) — no
    nested loop anywhere, shuffle keyed on the (high-cardinality) bin.
    Grouped decimal totals per band."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.rangejoin import interval_join_banded
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [
            ("budget", 0.0, 50_000.0),
            ("mid", 50_000.0, 150_000.0),
            ("high", 150_000.0, 300_000.0),
            ("premium", 300_000.0, 600_000.0),
        ],
        "band string, lo double, hi double",
    )
    joined = interval_join_banded(
        orders.select("o_orderkey", "o_totalprice"),
        bands, "o_totalprice", "lo", "hi", bin_width=50_000.0,
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        TR.fixed_point(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .alias("total_fp2"),
    )


def q_range_join_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join, temporal flavor: events of the same user
    falling inside a ±12 h window around each purchase. Windows and
    events are binned to 24 h buckets on unix micros and equi-joined on
    (user_id, bin) — the per-key composite keeps cardinality high and
    skew bounded — then exact-filtered on the interval."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.rangejoin import interval_join_banded
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    windows = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            (F.col("ts") - F.expr("INTERVAL 12 HOURS")).alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("hi"),
        )
    )
    joined = interval_join_banded(
        ev, windows, "ts", "lo", "hi",
        bin_width=24 * 3600 * 1_000_000, keys=["user_id"], time_valued=True,
    )
    return joined.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )


def q_failed_record_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: join error ids back to their records (inner), the relational
    form of target-pendo __init__.py:272-281's nested-loop lookup."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("error_id")
    )
    return (
        ev.join(F.broadcast(errors), ev.event_id == F.col("error_id"), "inner")
        .select("event_id", "user_id", "event_type")
    )


def q_salted_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: partial agg on (key, salt) spreads
    hot keys over 16 reducers, then merges. Oracle = the plain groupBy —
    salting must be invisible in the result."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.skew import salted_aggregate
    ev = load_table(spark, sf_dir, "events")
    merged = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": ("sum", F.count(F.lit(1))),
            "sum_value": ("sum", F.sum(F.col("value").cast("decimal(18,2)"))),
            "last_seen_us": ("max", F.max(F.unix_micros("ts"))),
        },
        salt_buckets=16,
    )
    return merged.select(
        "event_type", "n",
        TR.fixed_point(F.col("sum_value"), 2).alias("sum_value_fp2"),
        "last_seen_us",
    )


def q_percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (one shuffle;
    switch to approx_percentile for the sketch-based scale path)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


def q_approx_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentile (the 100 TB path: fixed-size t-digest-like
    state per group vs exact percentile's full sort) with the same
    tolerance-verdict oracle pattern as the HLL check: surface the exact
    per-group median both engines agree on, plus Spark's own verdict that
    its approx_percentile(accuracy=10000) lands within 1% of exact."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("__exact"),
            F.approx_percentile(
                "o_totalprice", F.lit(0.5), F.lit(10000)
            ).alias("__approx"),
        )
        .select(
            "o_orderstatus",
            F.round("__exact", 4).alias("p50_exact"),
            (
                F.abs(F.col("__approx") - F.col("__exact"))
                <= 0.01 * F.col("__exact")
            ).alias("within_1pct"),
        )
    )


def q_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user event-type count matrix. Spark's
    pivot with an EXPLICIT value list is one shuffle + conditional
    aggregation — same plan as hand-written FILTER aggs; an implicit list
    would add a distinct-scan pass, so the list is always pinned."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "signup", "purchase", "error"])
        .count()
        .na.fill(0)
    )


def q_unpivot_order_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide→long): per-order numeric facts as (order, metric,
    value) triples — Spark's unpivot is a zero-shuffle Expand node (each
    input row emits one row per metric in place)."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("totalprice"),
        F.year("o_orderdate").cast("decimal(18,2)").alias("order_year"),
    )
    return (
        wide.unpivot(
            "o_orderkey", ["totalprice", "order_year"], "metric", "value"
        )
        .select(
            "o_orderkey", "metric",
            TR.fixed_point(F.col("value"), 2).alias("value_fp2"),
        )
    )


def q_cdc_merge_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (operators/merge.apply_cdc): a deterministic synthetic
    changelog — updates (incl. a two-action key where the later sequence
    must win), deletes, inserts — applied to the customer base. The
    oracle replays the same changelog relationally in DuckDB."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.merge import apply_cdc
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    upd1 = (
        cust.where((k % 7 == 0) & (k % 13 != 0))
        .withColumn("c_mktsegment", F.lit("UPDATED"))
        .withColumn("op", F.lit("U")).withColumn("seq", F.lit(1))
    )
    upd2 = (  # later action on a subset of upd1's keys: seq 2 must win
        cust.where((k % 21 == 0) & (k % 13 != 0))
        .withColumn("c_mktsegment", F.lit("UPDATED-2"))
        .withColumn("op", F.lit("U")).withColumn("seq", F.lit(2))
    )
    dels = (
        cust.where(k % 13 == 0)
        .withColumn("op", F.lit("D")).withColumn("seq", F.lit(1))
    )
    ins = (
        cust.where(k % 11 == 0)
        .withColumn("c_custkey", k + 1_000_000)
        .withColumn("c_name", F.concat(F.col("c_name"), F.lit("-new")))
        .withColumn("op", F.lit("I")).withColumn("seq", F.lit(1))
    )
    changes = upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
    return apply_cdc(cust, changes, "c_custkey", "seq")


def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals (operators/merge.scd2_history): each event
    opens a (user, event_type) state valid until the next event; current
    state has NULL valid_to."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.merge import scd2_history
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return scd2_history(ev, "user_id", "ts", ["event_type"], tiebreak="event_id")


def q_hourly_event_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-bucket aggregation (batch form of the streaming
    windowed counts)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("bucket_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            TR.fixed_point(F.sum(F.col("value").cast("decimal(18,2)")), 2).alias(
                "sum_value_fp2"
            ),
        )
    )


def q_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() per priority group by price — ties share rank, making the
    qualifying row set deterministic."""
    from pyspark.sql import Window
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"))
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
    )


def q_running_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative windowed sum per user over event time (decimal, exact)."""
    from pyspark.sql import Window
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        TR.fixed_point(
            F.sum(F.col("value").cast("decimal(18,2)")).over(w), 2
        ).alias("running_value_fp2"),
    )


def q_flatten_nested_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 on real nested data: parse events.props JSON into a struct, then
    recursively flatten with the __ separator."""
    from redshift_to_pendo_api_data_pipeline_spark.functions.transforms import flatten
    ev = load_table(spark, sf_dir, "events")
    nested = ev.select(
        "event_id",
        F.from_json(F.col("props"), "k int").alias("props"),
    )
    return flatten(nested)  # -> event_id, props__k


def q_asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's latest order at-or-
    before the event timestamp. Spark lacks ASOF JOIN; composed as
    union + last_value window (one shuffle, no row explosion — see
    operators/temporal.py). Oracle: DuckDB's native ASOF LEFT JOIN."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import asof_join
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    out = asof_join(
        ev, orders, key="user_id", left_ts="ts", right_ts="o_orderdate",
        right_vals=["o_orderkey", "o_totalprice"], right_tiebreak="o_orderkey",
    )
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        "o_orderkey", "o_totalprice",
    )


def q_neardup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH near-dup threshold to ship: verified MinHash pairs (same
    staged signatures, verify floor lowered to 0.5) bucketed into
    0.05-wide jaccard bins, with the cumulative pairs-at-or-above count
    per bin — the dedup-rate-vs-threshold curve read before committing
    a threshold to a corpus build. The cumulative window runs over the
    ≤ 11-row bin relation (bounded by construction)."""
    from pyspark.sql import Window

    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        minhash_dedup_pairs_staged,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs_staged(
        docs, "text", "doc_id",
        stage_path=f"{stage_dir(sf_dir)}/minhash_sigs.parquet", threshold=0.5,
    )
    counts = (
        pairs.select(F.floor(F.col("jaccard") * 20).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return counts.select(
        "bin", "n_pairs", F.sum("n_pairs").over(w).alias("n_pairs_ge")
    )


def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the duplication comes from: verified MinHash near-dup pairs
    bucketed by unordered source pair — the corpus diagnostic that tells
    you whether dedup pressure is within-crawl or cross-crawl (drives
    which sources to dedup against which). Reuses the staged MinHash
    signature relation (same artifact as minhash_neardup); the matrix is
    |sources|² rows regardless of corpus size; source hydration is two
    shuffled joins on pair ids."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        minhash_dedup_pairs_staged,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs_staged(
        docs, "text", "doc_id",
        stage_path=f"{stage_dir(sf_dir)}/minhash_sigs.parquet", threshold=0.8,
    )
    src_a = docs.select(F.col("doc_id").alias("id_a"),
                        F.col("source").alias("sa"))
    src_b = docs.select(F.col("doc_id").alias("id_b"),
                        F.col("source").alias("sb"))
    return (
        pairs.join(src_a.hint("shuffle_hash"), "id_a")
        .join(src_b.hint("shuffle_hash"), "id_b")
        .groupBy(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive events
    per user — the path-analysis staple behind 'where do users go after
    X'. One lag window per user (event_id tiebreak pins equal
    timestamps), one map-side-combined groupBy; matrix is
    |event_types|² rows regardless of corpus size."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_conversion_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per signup→purchase converter the
    first-reach gap, bucketed into fixed 1-hour bins (map-side floor
    div, scale-safe — the same no-global-sort discipline as the
    calibration table). Built on the funnel's first-touch reach times:
    first signup, then first purchase at-or-after it."""
    ev = load_table(spark, sf_dir, "events")
    s0 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts").alias("t0"))
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .join(s0.hint("shuffle_hash"), "user_id")
        .where(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(
            F.min(F.unix_micros("ts") - F.unix_micros("t0")).alias("gap_us")
        )
    )
    # gap in micros per converter; bin = hours (floor — gaps are >= 0)
    return (
        conv.select(
            F.expr("gap_us div 3600000000").cast("long").alias("hours_bin")
        )
        .groupBy("hours_bin")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute-gap sessions per user with per-session
    rollups (lag + cumulative-sum composition, one shuffle)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import session_stats
    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, "user_id", "ts", "event_id", gap="30 minutes")


# ------------------------------------------- dedup / similarity / text ops

def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content digest (hash-groupBy)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import exact_dedup
    return exact_dedup(load_table(spark, sf_dir, "documents"), "text", "doc_id")


def q_strip_exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr's cleaning transform (operators/spans.
    strip_maximal_duplicate_spans, Lee et al. 2022 keep-one
    semantics): every length-maximal duplicated span's LATER
    occurrence is excised, the earlier copy survives, untouched docs
    pass through. Reuses the staged seed relation (stage-once,
    two consumers with exact_substr_dedup). Output is the full
    per-doc rewrite (clean_text hash-checked cross-engine — both
    engines rebuild from the same normalization + the same staged
    seeds)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.spans import (
        maximal_duplicated_substrings,
        staged_substr_seeds,
        strip_maximal_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    seeds = staged_substr_seeds(
        docs, "text", "doc_id", 4,
        f"{stage_dir(sf_dir)}/substr_seeds_k4.parquet",
    )
    matches = maximal_duplicated_substrings(
        seeds, k=4, min_len=8, max_occurrences=16
    )
    return strip_maximal_duplicate_spans(docs, "text", "doc_id", matches)


def q_incremental_substr_matches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental ExactSubstr (operators/spans.
    incremental_substr_matches): the src12 documents play the arriving
    batch (the source with the most cross-source verbatim spans in the
    fixture), every other source the existing corpus — maximal verbatim
    spans between batch and corpus found WITHOUT self-joining the
    corpus, the ingest-time twin of exact_substr_dedup (the same shape
    incremental_neardup gives MinHash). Both seed relations staged;
    the oracle re-derives pairing + islands from the identical
    parquets. Rolled to per-new-doc stats for a stable output."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.spans import (
        incremental_substr_matches,
        staged_substr_seeds,
    )

    docs = load_table(spark, sf_dir, "documents")
    new_seeds = staged_substr_seeds(
        docs.where(F.col("source") == "src12"), "text", "doc_id", 4,
        f"{stage_dir(sf_dir)}/substr_seeds_new_k4.parquet",
    )
    corpus_seeds = staged_substr_seeds(
        docs.where(F.col("source") != "src12"), "text", "doc_id", 4,
        f"{stage_dir(sf_dir)}/substr_seeds_corpus_k4.parquet",
    )
    m = incremental_substr_matches(
        new_seeds, corpus_seeds, k=4, min_len=8, max_occurrences=16
    )
    return m.groupBy("doc_new").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.max("len_tokens").cast("long").alias("max_len_tokens"),
        F.count_distinct("doc_corpus").cast("long").alias("n_corpus_docs"),
    ).withColumnRenamed("doc_new", "doc_id")


def q_watermark_sizing_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay SIZING (streaming.size_watermark_delay's exact
    arithmetic as a certifiable relation — r7 verdict #8's loop, closed
    and oracle-checked): from the lateness histogram of the simulated
    arrival log (same deterministic transport delay as
    event_lateness_histogram), walk buckets in lateness order until
    99% of event mass is admitted and report the derived
    withWatermark delay = ceil(max observed lateness among admitted
    buckets). One row: (total_events, admit_ppm, delay_seconds)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        lateness_histogram,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
    ).select(
        (F.col("ts_us")
         + (F.col("event_id") % 601) * 1_000_000).alias("arr_us"),
        "event_id", "ts_us",
    )
    hist = lateness_histogram(
        ev, ["arr_us", "event_id"], "ts_us",
        bucket_us=60_000_000, max_buckets=12,
    )
    w = Window.orderBy("bucket")                     # <= 13 rows
    w_all = w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    admit_ppm = 990_000
    cum = (
        hist.withColumn("__cum", F.sum("n_events").over(w))
        .withColumn("__run_max",
                    F.max("max_lateness_us").over(w))
        .withColumn("__total", F.sum("n_events").over(w_all))
    )
    need = F.expr(f"(__total * {admit_ppm} + 999999) DIV 1000000")
    first_ok = (
        cum.where(F.col("__cum") >= need)
        .orderBy("bucket").limit(1)
    )
    return first_ok.select(
        F.col("__total").cast("long").alias("total_events"),
        F.lit(admit_ppm).cast("long").alias("admit_ppm"),
        F.expr("(__run_max + 999999) DIV 1000000")
        .cast("long").alias("delay_seconds"),
    )


def q_tokenizer_compression_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full production-tokenizer triad head-to-head — BPE
    (frequency-greedy) vs unigram-LM (EM) vs WordPiece
    (likelihood-gain merges, greedy longest-match) — the acceptance
    report a tokenizer choice is made from: per tokenizer, total
    corpus words, total subword tokens under the trained segmentation,
    and tokens per 100 words (fixed-point). All three staged
    (word, token, k) mappings are re-used (trained in-query when cold,
    like bpe_token_counts/unigram_token_counts/wordpiece_token_counts);
    the corpus side is one word explode + three broadcast mapping
    joins."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        bpe_segment_words,
        bpe_train,
        wordpiece_segment_words,
        wordpiece_train,
        words,
    )

    docs = load_table(spark, sf_dir, "documents")
    bpe = stage(
        spark, f"{stage_dir(sf_dir)}/bpe_word_tokens.parquet",
        lambda: bpe_segment_words(
            docs, "text", bpe_train(docs, "text", n_merges=20)
        ),
    )
    wordpiece = stage(
        spark, f"{stage_dir(sf_dir)}/wordpiece_word_tokens.parquet",
        lambda: wordpiece_segment_words(
            docs, "text", wordpiece_train(docs, "text", n_merges=20)
        ),
    )
    unigram, _ = _unigram_stage(spark, sf_dir)
    corpus_words = docs.select(
        F.explode(words(F.col("text"))).alias("word")
    ).where(F.col("word") != "")
    out = None
    for name, mapping in (
        ("bpe", bpe),
        ("unigram", unigram),
        ("wordpiece", wordpiece),
    ):
        per_word = mapping.groupBy("word").agg(
            F.sum("k").alias("__toks")
        )
        row = (
            corpus_words.join(F.broadcast(per_word), "word")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_words"),
                F.sum("__toks").cast("long").alias("n_tokens"),
            )
            .select(
                F.lit(name).alias("tokenizer"),
                "n_words", "n_tokens",
                F.expr("n_tokens * 100000000 div n_words")
                .cast("long").alias("tokens_per_100_words_fp"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _unigram_stage(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Train the unigram tokenizer ONCE and stage BOTH artifacts — the
    (word, token, k) segmentation mapping and the (piece, cost_fp)
    table — so every consumer (token histogram, compression compare,
    cross-entropy scoring) certifies against the same trained model.
    Returns the staged (mapping, pieces). Skipped under stage reuse."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        unigram_segment_words,
        unigram_train,
    )

    map_path = f"{stage_dir(sf_dir)}/unigram_word_tokens.parquet"
    pieces_path = f"{stage_dir(sf_dir)}/unigram_pieces.parquet"
    if reusable(spark, map_path, pieces_path):
        return spark.read.parquet(map_path), spark.read.parquet(pieces_path)
    docs = load_table(spark, sf_dir, "documents")
    pieces = unigram_train(docs, "text", vocab_size=200, n_em=2)
    return (
        stage(spark, map_path,
              lambda: unigram_segment_words(docs, "text", pieces)),
        stage(spark, pieces_path, lambda: spark.createDataFrame(
            [(p, int(c)) for p, c in pieces], "piece string, cost_fp long"
        )),
    )


def q_tokenizer_fertility_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source tokenizer FERTILITY (subword tokens per word) under
    the trained unigram model — the signal that reprices a mixture
    when token budgets, not document counts, are the currency: a
    source whose text fragments into many pieces (OOV-heavy, noisy)
    costs more tokens per word than its document share suggests.
    One word explode with the source carried, one broadcast join to
    the staged per-word token counts, one 20-row groupBy."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    mapping, _ = _unigram_stage(spark, sf_dir)
    per_word = (
        mapping.groupBy("word")
        .agg(F.sum("k").cast("long").alias("__toks"))
    )
    corpus = docs.select(
        "source", F.explode(words(F.col("text"))).alias("word")
    ).where(F.col("word") != "")
    return (
        corpus.join(F.broadcast(per_word), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("__toks").cast("long").alias("n_tokens"),
        )
        .select(
            "source", "n_words", "n_tokens",
            F.expr("n_tokens * 1000000 div n_words").cast("long")
            .alias("fertility_fp"),
        )
    )


def q_unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer corpus histogram (operators/text.
    unigram_train + unigram_segment_words — Kudo 2018's SentencePiece
    unigram model, Viterbi-EM flavor, the production tokenizer family
    beside BPE): train over the distinct-word dictionary, segment the
    dictionary under the learned (piece, cost) table, stage the
    (word, token, k) mapping, and histogram the corpus's pieces by
    broadcast join (bpe_encode_counts — the mapping contract is shared
    with the BPE tokenizer deliberately). The oracle re-splits the
    text in SQL and joins the SAME staged mapping, so the segmentation
    artifact is what's certified; training+segmentation skip under
    stage reuse, like bpe_token_counts."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        bpe_encode_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    mapping, _ = _unigram_stage(spark, sf_dir)
    return bpe_encode_counts(docs, "text", mapping, top_k=50)


def q_unigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scores (operators/text.
    unigram_doc_cross_entropy): every document scored by the mean
    fixed-point -ln p of its subword tokens under the trained unigram
    model — the perplexity filter tier of corpus curation (Wenzek et
    al. 2020), complementing the hashed-BoW classifier. Both staged
    artifacts (segmentation mapping + piece cost table) come from ONE
    training run (_unigram_stage); the oracle re-derives every
    doc's score from the same two parquets, so the integer join+agg
    arithmetic is what's certified."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        unigram_doc_cross_entropy,
    )

    docs = load_table(spark, sf_dir, "documents")
    mapping, pieces = _unigram_stage(spark, sf_dir)
    return unigram_doc_cross_entropy(docs, "text", "doc_id", mapping, pieces)


def q_exact_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (operators/spans.maximal_duplicated_substrings
    — Lee et al. 2022's suffix-array tier, re-expressed as relational
    suffix-grouping): every length-maximal duplicated substring of
    >= 8 words, found by pairing staged 4-gram seed occurrences under
    an occurrence cap and merging consecutive aligned seeds with the
    islands trick. Rolled up per document (n_matches, max_len_tokens,
    n_partner_docs). The seed relation is STAGED so the DuckDB twin
    re-derives pairing + run-merge from the identical parquet; only
    the gram hashing is engine-specific. The fixed-k cover twin
    (ngram_span_coverage) measures coverage; this reports TRUE maximal
    match lengths (cover over-merges different-partner runs and misses
    sub-k phrases and same-doc tandem repeats)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.spans import (
        maximal_duplicated_substrings,
        staged_substr_seeds,
        substr_dedup_doc_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    seeds = staged_substr_seeds(
        docs, "text", "doc_id", 4,
        f"{stage_dir(sf_dir)}/substr_seeds_k4.parquet",
    )
    matches = maximal_duplicated_substrings(
        seeds, k=4, min_len=8, max_occurrences=16
    )
    return substr_dedup_doc_stats(matches)


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified, with the
    signature relation STAGED to the lake. Staging makes the whole
    pipeline oracle-checkable: banding is slice-equality over the staged
    signatures (band-hash equality == slice equality) and the verify is
    deterministic set algebra, so the DuckDB twin re-derives the same
    pairs independently from the staged parquet + the documents table."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        minhash_dedup_pairs_staged,
    )
    return minhash_dedup_pairs_staged(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        stage_path=f"{stage_dir(sf_dir)}/minhash_sigs.parquet", threshold=0.8,
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs with the (pandas-UDF-computed)
    signatures staged to the lake; banding + hamming verify downstream is
    pure integer algebra, so the oracle replicates it over the staged
    parquet — only the signature computation itself is engine-specific."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        simhash_pairs_from_signatures,
        staged_simhash_signatures,
    )
    sh = staged_simhash_signatures(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        f"{stage_dir(sf_dir)}/simhash_sigs.parquet",
    )
    return simhash_pairs_from_signatures(sh, max_hamming=3)


def q_word_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard pairs within `source` blocks, similarity
    >= 0.5 — computed by PREFIX FILTERING (dedup.
    prefix_filtered_jaccard_pairs), the SSJoin/PPJoin family: candidates
    come from an inverted-index equi-join on each document's
    rarest-token prefix, never from all pairs, so the exact flavor is
    scale-safe too (round-1's blocked O(B^2) form survives only in the
    equivalence test that pins both plans to identical output). The
    oracle is unchanged: same pairs, same jaccard values."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # stage the SSJoin index once: four plan branches consume it
    return prefix_filtered_jaccard_pairs(
        docs, "text", "doc_id", "source", 0.5,
        stage_path=f"{stage_dir(sf_dir)}/ssjoin_words.parquet",
    )


def q_word_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: containment C = |A∩B|/min(|A|,|B|) >= 0.8
    within source blocks (dedup.containment_pairs) — the subset/quote
    detector symmetric Jaccard misses. Candidates via the containment
    analog of prefix filtering (smaller side's prefix vs full token
    index); REUSES the same staged SSJoin index as word_jaccard_pairs
    (stage-once, two exact set-similarity consumers)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(
        docs, "text", "doc_id", "source", 0.8,
        stage_path=f"{stage_dir(sf_dir)}/ssjoin_words.parquet",
    )


def q_version_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two snapshots of the versioned lake sink
    (sink/parquet_sink.version_diff): v1 = the customer table, v2 = a
    deterministic edit (every custkey%10==0 deleted, %7==0 rebalanced,
    %13==0 re-inserted under a new key) written through the REAL
    ACTIVATE_VERSION machinery, then diffed with the partition-pruned
    full-outer hash-compare. The oracle re-derives the expected
    INSERT/UPDATE/DELETE set from the source table alone — certifying
    the sink write path AND the diff operator in one hash."""
    from redshift_to_pendo_api_data_pipeline_spark.sink import parquet_sink as PS

    path = f"{stage_dir(sf_dir)}/versioned_customers.parquet"
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long").alias("c_acctbal_fp"),
    )
    v2 = (
        cust.where(F.col("c_custkey") % 10 != 0)
        .withColumn(
            "c_acctbal_fp",
            F.when(F.col("c_custkey") % 7 == 0,
                   F.col("c_acctbal_fp") + 100)
            .otherwise(F.col("c_acctbal_fp")),
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("new_customer").alias("c_name"),
                F.lit(0).cast("long").alias("c_acctbal_fp"),
            )
        )
    )
    PS.write_versioned(cust, path, 1, mode="overwrite")
    PS.write_versioned(v2, path, 2, mode="append")
    PS.activate(path, 2)
    return PS.version_diff(spark, path, "c_custkey", 1, 2)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact form)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        embedding_neardup_pairs,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # 0.45, not the usual 0.9+: the synthetic embeddings are near-orthogonal
    # random vectors (max pair cosine ~0.51), so a production threshold
    # would make the check vacuous (0 rows matches any oracle)
    return embedding_neardup_pairs(emb, "embedding", "vec_id", threshold=0.45)


def _query_vec(spark: SparkSession, sf_dir: str) -> list:
    row = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("e"))
        .first()
    )
    return list(row["e"])


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the vec_id=0 query vector."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return brute_force_topk(emb, "embedding", "vec_id", _query_vec(spark, sf_dir), k=20)


def q_embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH ANN. The (deterministic, seeded)
    candidate-id set is STAGED to the lake, then the top-k is an exact
    cosine re-rank over the staged candidates — so the DuckDB twin can
    re-rank the SAME staged set independently and the result is fully
    hash-checkable (rows+schema+values), not rows-only."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        lsh_candidates,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = _query_vec(spark, sf_dir)
    staged = stage(
        spark, f"{stage_dir(sf_dir)}/ann_lsh_cands.parquet",
        lambda: lsh_candidates(emb, "embedding", "vec_id", q).select("vec_id"),
    ).join(emb, "vec_id")
    return brute_force_topk(staged, "embedding", "vec_id", q, k=20)


def q_embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (deterministic hash-seeded k-means,
    n_probe nearest lists). As with the LSH flavor, the candidate-id set
    is STAGED and the top-k is an exact re-rank over it — hash-checkable
    against a DuckDB re-rank of the same staged ids."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_candidates,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = _query_vec(spark, sf_dir)
    staged = stage(
        spark, f"{stage_dir(sf_dir)}/ann_ivf_cands.parquet",
        lambda: ivf_candidates(
            emb, "embedding", "vec_id", q, n_list=16, n_probe=4,
            cent_path=f"{stage_dir(sf_dir)}/ivf_cand_centroids.parquet",
        ).select("vec_id"),
    ).join(emb, "vec_id")
    return brute_force_topk(staged, "embedding", "vec_id", q, k=20)


def q_embedding_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF SERVING shape: the index is materialized once,
    partitionBy("__cluster"), and the probe reads only the n_probe
    nearest list partitions — PartitionFilters at the scan, no shuffle,
    no full pass (the 100 TB query path the ivf_topk docstring promises).
    The probed list ids are staged so the oracle re-ranks exactly the
    probed partitions of the SAME staged index."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_persisted,
        nearest_lists,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = _query_vec(spark, sf_dir)
    root = stage_dir(sf_dir)
    index_path = f"{root}/ivf_index.parquet"
    centroids = build_ivf_index(emb, "embedding", "vec_id", index_path, n_list=16)
    probes = nearest_lists(centroids, q, n_probe=4)
    stage_parquet(
        spark.createDataFrame([(int(c),) for c in probes], "cluster int"),
        f"{root}/ivf_probes.parquet",
    )
    return ivf_topk_persisted(
        spark, index_path, centroids, "embedding", "vec_id", q, k=20, n_probe=4
    )


def q_embedding_ann_ivf_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance end-to-end (similarity.py
    ivf_index_append): the index is built on 3/4 of the corpus
    (vec_id % 4 != 0), the remaining quarter — which contains the
    vec_id=0 query vector — is APPENDED against the existing quantizer
    under a stable batch_id, and the SAME batch is replayed (a no-op by
    the marker-file discipline; row-count idempotence is pinned by
    test_ivf_index_append_* since the oracle re-ranks the same staged
    index and would see any duplicates symmetrically). The probe then
    serves from the appended index partition-pruned, so the result
    proves appended vectors are findable: top-1 is vec 0 itself at
    cosine 1.0."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_topk_persisted,
        nearest_lists,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = emb.where(F.col("vec_id") % 4 != 0)
    batch = emb.where(F.col("vec_id") % 4 == 0)
    root = stage_dir(sf_dir)
    index_path = f"{root}/ivf_index_appended.parquet"
    centroids = build_ivf_index(base, "embedding", "vec_id", index_path, n_list=16)
    ivf_index_append(batch, "embedding", "vec_id", index_path, centroids,
                     batch_id="quarter-0")
    # at-least-once replay of the same batch: marker makes it a no-op
    ivf_index_append(batch, "embedding", "vec_id", index_path, centroids,
                     batch_id="quarter-0")
    q = _query_vec(spark, sf_dir)
    probes = nearest_lists(centroids, q, n_probe=4)
    stage_parquet(
        spark.createDataFrame([(int(c),) for c in probes], "cluster int"),
        f"{root}/ivf_appended_probes.parquet",
    )
    return ivf_topk_persisted(
        spark, index_path, centroids, "embedding", "vec_id", q, k=20, n_probe=4
    )


def q_embedding_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k — the compression half of the
    canonical 100 TB IVF-PQ design (similarity.py train_pq_codebooks/
    pq_encode/pq_adc_topk): vectors collapse to m_sub=4 small ints
    (staged once per corpus version), the query becomes a m_sub x
    k_codes FIXED-POINT lookup table, and scoring is a posexplode +
    broadcast LUT join + map-side-combined integer sum — so the scan
    side reads codes ~32x smaller than vectors and the whole score is
    exact integer arithmetic, hash-checkable against a DuckDB twin
    doing the same join/sum over the SAME staged codes and LUT. The
    zero-shuffle literal-LUT form (`pq_adc_topk_inline`) is pinned
    row-identical and Exchange-free in tests; this query uses the
    staged/join form precisely so the oracle re-derives it."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        pq_adc_lut,
        pq_adc_topk,
        pq_encode,
        staged_pq_codebooks,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    root = stage_dir(sf_dir)
    books = staged_pq_codebooks(emb, "embedding", "vec_id",
                                f"{root}/pq_books.parquet",
                                m_sub=4, k_codes=16, n_iter=2)
    codes = stage(
        spark, f"{root}/pq_codes.parquet",
        lambda: pq_encode(emb, "embedding", "vec_id", books),
    )
    q = _query_vec(spark, sf_dir)
    lut = stage(
        spark, f"{root}/pq_lut.parquet",
        lambda: spark.createDataFrame(pq_adc_lut(books, q),
                                      "sub int, code int, score_fp long"),
    )
    return pq_adc_topk(codes, lut, "vec_id", k=20)


def q_embedding_ann_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated product quantization ADC top-k (Ge et al. 2013 —
    similarity.train_opq_rotation_fp / rotate_vectors_fp): the PQ tier
    with its standard accuracy upgrade. The rotation trains driver-side
    from the exact integer moment sidecar (eigh + eigenvalue-balanced
    allocation — no extra corpus pass beyond the one-pass moments),
    vectors rotate in exact int64 arithmetic (bit-reproducible, zero
    shuffles), codebooks/codes train and stage in the ROTATED space,
    and the probe vector passes through the identical integer pipeline.
    Serving is byte-for-byte the PQ ADC path — posexplode + broadcast
    LUT + integer sum over the staged rotated codes, which is exactly
    what the oracle re-derives in SQL."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        pq_adc_lut,
        pq_adc_topk,
        pq_encode,
        rotate_query_fp,
        rotate_vectors_fp,
        train_opq_rotation_fp,
        train_pq_codebooks,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    root = stage_dir(sf_dir)
    codes_path = f"{root}/opq_codes.parquet"
    lut_path = f"{root}/opq_lut.parquet"
    if reusable(spark, codes_path, lut_path):
        codes, lut = spark.read.parquet(codes_path), spark.read.parquet(lut_path)
    else:
        rot, mean = train_opq_rotation_fp(emb, "embedding", m_sub=4)
        rotated = rotate_vectors_fp(emb, "embedding", "vec_id", rot, mean)
        books = train_pq_codebooks(
            rotated, "rvec", "vec_id", m_sub=4, k_codes=16, n_iter=2
        )
        codes = stage(spark, codes_path,
                      lambda: pq_encode(rotated, "rvec", "vec_id", books))
        rq = rotate_query_fp(_query_vec(spark, sf_dir), rot, mean)
        lut = stage(spark, lut_path, lambda: spark.createDataFrame(
            pq_adc_lut(books, rq), "sub int, code int, score_fp long"
        ))
    return pq_adc_topk(codes, lut, "vec_id", k=20)


def _ivfpq_topk(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """The IVF-PQ serving pipeline (residual encoding) shared by the
    certified query and the recall audit: stage quantizer + codebooks +
    codes + per-query LUT/offsets/probes, then partition-pruned
    residual-ADC top-100 -> exact re-rank top-k. All stage paths are
    deterministic, so every caller converges on identical artifacts."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_residuals,
        ivfpq_adc_topk,
        nearest_lists,
        pq_adc_lut,
        pq_cluster_offsets,
        pq_encode,
        staged_ivf_centroids,
        staged_pq_codebooks,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    root = stage_dir(sf_dir)
    centroids = staged_ivf_centroids(emb, "embedding", "vec_id",
                                     f"{root}/pq_ivf_centroids.parquet",
                                     n_list=16, n_iter=3)

    def _residuals() -> DataFrame:
        assigned = ivf_assign(emb, "embedding", centroids)
        return assigned.select(
            "vec_id", "__cluster",
            ivf_residuals(assigned, "embedding", centroids).alias("__res"),
        )

    res = stage(spark, f"{root}/pq_ivf_residuals.parquet", _residuals)
    books = staged_pq_codebooks(res, "__res", "vec_id",
                                f"{root}/pq_ivf_books.parquet",
                                m_sub=4, k_codes=16, n_iter=2)
    codes = stage(
        spark, f"{root}/pq_ivf_codes.parquet",
        lambda: pq_encode(res, "__res", "vec_id", books,
                          extra_cols=["__cluster"]),
        partition_by="__cluster",
    )
    q = _query_vec(spark, sf_dir)
    probes = nearest_lists(centroids, q, n_probe=4)
    stage_parquet(
        spark.createDataFrame([(int(c),) for c in probes], "cluster int"),
        f"{root}/pq_ivf_probes.parquet",
    )
    lut = stage(
        spark, f"{root}/pq_ivf_lut.parquet",
        lambda: spark.createDataFrame(pq_adc_lut(books, q),
                                      "sub int, code int, score_fp long"),
    )
    offsets = stage(
        spark, f"{root}/pq_ivf_offsets.parquet",
        lambda: spark.createDataFrame(pq_cluster_offsets(centroids, q),
                                      "cluster int, offset_fp long"),
    )
    codes = codes.where(F.col("__cluster").isin([int(c) for c in probes]))
    cand = ivfpq_adc_topk(codes, lut, offsets, "vec_id", k=100).select("vec_id")
    return brute_force_topk(cand.join(emb, "vec_id"), "embedding", "vec_id",
                            q, k=k)


def q_embedding_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVF-PQ serving composition — what a 100 TB ANN deployment
    actually runs per query: (1) coarse-quantizer probe prunes the scan
    to n_probe list PARTITIONS of the codes relation (which is ~32x
    smaller than the vectors to begin with), (2) fixed-point ADC ranks
    every code row in the probed lists via the broadcast LUT — integer
    arithmetic only, (3) the ADC top-C candidate set is re-ranked with
    exact cosine for the final top-k. The oracle re-derives ALL THREE
    stages independently in SQL from the same staged artifacts (pruned
    hive-partitioned codes, LUT + per-list offsets, probe list) —
    candidate selection is not taken on faith.

    RESIDUAL encoding (canonical FAISS IVF-PQ): codes quantize
    v - centroid[__cluster], not the raw vector, so the codebook budget
    describes what the coarse quantizer didn't explain; the score
    decomposes as dot(q, centroid_c) — one fixed-point scalar per list —
    plus the residual LUT sum, still exact integer arithmetic
    end-to-end. The residual relation is staged once so the m_sub x
    n_iter codebook training passes scan a materialized table instead of
    re-running the assignment UDF per pass."""
    return _ivfpq_topk(spark, sf_dir, k=20)


def q_embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of all three ANN variants (hyperplane LSH, IVF, residual
    IVF-PQ) against the exact brute-force top-k —
    the oracle hook for the probabilistic ANN paths: each ANN's chosen id
    set is staged to the lake, Spark computes recall against its own
    exact top-k, and the DuckDB twin recomputes recall from the staged
    ids against an INDEPENDENT exact top-k in SQL. Both the staged
    candidate sets and the recall arithmetic are cross-checked; only the
    (deterministic, seeded) candidate generation itself is
    engine-specific."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = _query_vec(spark, sf_dir)
    k = 20
    root = stage_dir(sf_dir)
    exact = brute_force_topk(emb, "embedding", "vec_id", q, k=k).select("vec_id")

    out = []
    for algo, topk in (
        ("lsh", lsh_topk(emb, "embedding", "vec_id", q, k=k)),
        ("ivf", ivf_topk(emb, "embedding", "vec_id", q, k=k, n_list=16, n_probe=4,
                         cent_path=f"{root}/ivf_cand_centroids.parquet")),
        ("ivfpq", _ivfpq_topk(spark, sf_dir, k=k)),
    ):
        staged = stage(spark, f"{root}/ann_{algo}_topk.parquet",
                       lambda: topk.select("vec_id"))
        out.append(
            staged.join(exact, "vec_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(F.lit(algo).alias("algo"), F.lit(k).alias("k"), "n_hits")
        )
    return out[0].unionByName(out[1]).unionByName(out[2])


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS from near-dup PAIRS: connected components
    (dedup.connected_components: driver union-find under its edge cap,
    star contraction above it) over the PRODUCTION pair graph — MinHash-LSH
    candidates + exact-Jaccard verify from staged signatures
    (word_jaccard_pairs is the exact flavor, itself scale-safe via
    prefix filtering). cluster_id = min doc_id in the component; the
    oracle re-derives the same pair graph from the staged parquet and
    walks it with a recursive CTE."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_dedup_pairs_staged,
    )
    pairs = minhash_dedup_pairs_staged(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        stage_path=f"{stage_dir(sf_dir)}/minhash_sigs.parquet", threshold=0.8,
    )
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/eval split at the NEAR-DUP-CLUSTER level: a
    per-document hash split leaks when two near-duplicates straddle the
    boundary (the eval set then contains paraphrases of training docs),
    so the split key is the connected-component id of the production
    near-dup graph — every near-duplicate family lands on one side.
    Singletons split by their own id. Same md5 membership arithmetic as
    train_eval_split (exact, engine-portable); the oracle re-walks the
    staged pair graph with a recursive CTE and applies the identical
    hash predicate."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_dedup_pairs_staged,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        train_eval_split,
    )
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs_staged(
        docs, "text", "doc_id",
        stage_path=f"{stage_dir(sf_dir)}/minhash_sigs.parquet", threshold=0.8,
    )
    cc = connected_components(pairs, "id_a", "id_b")
    lab = docs.select("doc_id").join(
        F.broadcast(cc), F.col("doc_id") == F.col("node"), "left"
    ).select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )
    return train_eval_split(lab, "cluster_id", eval_rate=0.1, salt="docsplit")


def q_embedding_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup (the whole-corpus scale path:
    exact cosine only within hyperplane buckets; staged assignment
    re-derived by the oracle)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        bucketed_neardup_pairs,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return bucketed_neardup_pairs(
        emb, "embedding", "vec_id",
        stage_path=f"{stage_dir(sf_dir)}/embedding_buckets.parquet",
        threshold=0.45,
    )


def q_name_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level (Levenshtein) near-dup pairs over the part-name
    DICTIONARY — the record-linkage primitive for typo-class duplicates
    token/vector dedup can't see. Distinct-value dictionary first (2000
    rows -> 64 names), blocked by the trailing token, length-prefiltered
    before the O(n*m) distance; occurrence counts ride along for merge
    decisions. Levenshtein is JVM codegen here and a DuckDB builtin
    there — the pair set hash-checks exactly."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        editdist_pairs,
    )
    return editdist_pairs(
        load_table(spark, sf_dir, "part"), "p_name", max_dist=2
    )


def q_pii_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure audit: document counts, documents with
    any PII, and per-pattern match totals (email/ipv4/phone) — the
    report that decides which sources need the redaction pass. One
    codegen scan, RE2-safe patterns shared verbatim with the oracle."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import pii_rate
    return pii_rate(load_table(spark, sf_dir, "documents"), "text", "source")


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram on power-of-two buckets
    (bit_length of the token count — exact-integer, hash-stable): the
    profile read before choosing sequence-packing and truncation
    parameters."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        length_histogram,
    )
    return length_histogram(
        load_table(spark, sf_dir, "documents"), "text", "source"
    )


def q_bucketed_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH recall audit (the bucketed near-dup health check):
    exact all-pairs ground truth vs single-table vs 4-table hyperplane
    bucketing, one hash-checked row. Precision is 1 by construction
    (pairs are exact-cosine verified), so the row reports only recall:
    n_exact / n_single / n_multi and both recalls in basis points.
    Both bucket assignments are STAGED; the oracle re-derives the
    union-over-tables pairs and the exact ground truth independently.
    At 100 TB this runs on a sample after every (n_planes, n_tables)
    change — the multi-table union is the recall lever the single-table
    docstring promises."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        embedding_neardup_pairs,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        bucketed_neardup_pairs,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # the exact ground truth is deterministic — stage it so a probe/bench
    # rerun under reuse skips the O(N^2) BLAS pass and recounts from
    # parquet (the oracle still re-derives it independently in SQL)
    exact = stage(
        spark, f"{stage_dir(sf_dir)}/bucket_recall_exact.parquet",
        lambda: embedding_neardup_pairs(
            emb, "embedding", "vec_id", threshold=0.45
        ).select("id_a", "id_b"),
    )
    # stage ONCE at the widest table count; table 0 IS the single-table
    # run (seed + 1000*t convention). r11: ONE table-tagged verification
    # pass serves BOTH variants — n_single is the table-0 verified rows
    # (a pair occupies exactly one bucket per table, so table-0 rows are
    # already pair-unique) and n_multi the distinct verified pair count;
    # the old form ran the BLAS verify twice (once per variant) and took
    # three separate count aggregations over it.
    t4_path = f"{stage_dir(sf_dir)}/bucket_recall_t4.parquet"
    tagged = bucketed_neardup_pairs(
        emb, "embedding", "vec_id",
        stage_path=t4_path, threshold=0.45, n_tables=4, keep_table=True,
    )
    counts = tagged.agg(
        F.count(F.when(F.col("tbl") == 0, F.lit(1)))
        .cast("long").alias("n_single"),
        F.count_distinct(F.struct("id_a", "id_b"))
        .cast("long").alias("n_multi"),
    )
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(counts)
        .select(
            "n_exact", "n_single", "n_multi",
            F.expr("(10000 * n_single) div n_exact").alias("recall_single_bp"),
            F.expr("(10000 * n_multi) div n_exact").alias("recall_multi_bp"),
        )
    )


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct 8-grams they share — the diagnostic read before
    mixing sources (high overlap = double-counting the same content
    under two source labels). JOIN-FREE: one gram-key shuffle collects
    each gram's distinct source SET (bounded by |sources|, ~tens), the
    source pairs expand from that array map-side (each gram emits each
    pair at most once, so count(*) IS the distinct-gram count), and the
    final groupBy lands on the |sources|²-row matrix. A gram self-join
    would shuffle the gram relation twice and plan a sort-merge join;
    this shape never joins at all."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        exploded_shingles,
    )
    docs = load_table(spark, sf_dir, "documents")
    sg = (
        exploded_shingles(docs, "text", "doc_id", n=8)
        .join(docs.select("doc_id", "source"), F.col("doc") == F.col("doc_id"))
        .select("source", "sh")
        .distinct()
    )
    srcs = F.array_sort(F.collect_set("source"))
    per_gram = sg.groupBy("sh").agg(srcs.alias("ss"))
    pairs = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + F.lit(2),
                        F.greatest(F.size("ss") - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    return (
        per_gram.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.source_a").alias("source_a"),
                 F.col("p.source_b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )


def q_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    per-status totals, per-priority totals, and the grand total in ONE
    pass — Spark expands to a single Expand + partial-aggregated shuffle,
    not three scans. grouping() flags disambiguate the NULLs that mark
    rolled-up dimensions."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
               count(*) AS n,
               CAST(sum(CAST(cast(o_totalprice as decimal(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS total_fp2
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality filter (CCNet/Gopher family): per-doc frequency
    mass of its word bigrams under the corpus's own bigram counts.
    Surprisal is the integer BIT-LENGTH of each bigram's corpus count —
    monotone in log2, bit-identical across engines, so the whole score is
    hash-checked (a float log-prob would be libm-dependent)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.lm import (
        bigram_surprisal,
    )

    return bigram_surprisal(
        load_table(spark, sf_dir, "documents"), "text", "doc_id"
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV-rate filter: per-doc token coverage against the corpus top-500
    vocabulary (count-desc, token-asc — deterministic), in basis points.
    Vocab is 500 rows -> broadcast; the token stream never shuffles for
    the join."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.lm import (
        vocab_coverage,
    )

    return vocab_coverage(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", v=500
    )


def q_source_vocab_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixing diagnostic: per-source token totals, distinct vocabulary and
    global-top-500 coverage — the lexical-idiosyncrasy read taken before
    choosing source mixture weights."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.lm import (
        source_vocab_profile,
    )

    return source_vocab_profile(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", "source",
        v=500,
    )


def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite (Deequ/dbt-test family) over orders:
    key uniqueness, completeness, value ranges, accepted values, a format
    regex and referential integrity to customer — all row-level checks
    fold into ONE aggregation pass, the reference check is one broadcast
    anti-join. Output is (constraint, n_violations, n_checked) integers."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        Suite,
        accepted_values,
        in_range,
        matches,
        not_null,
        run_suite,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    suite = (
        Suite()
        .require(not_null("o_orderkey"))
        .require(not_null("o_custkey"))
        .require(in_range("o_totalprice", lo=0))
        .require(accepted_values("o_orderstatus", ["O", "F", "P"]))
        .require(matches("o_orderpriority", r"^[1-5]-"))
        .require_unique("o_orderkey")
        .require_reference("o_custkey", customer, "c_custkey")
    )
    return run_suite(orders, suite)


def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order locality report: events keyed by the Morton interleave of
    (user_id, ts), bucketed by the key's top 6 bits — per bucket, the
    row count and the user/time spans the bucket covers. This is the
    metric a layout job watches: tight per-bucket spans on BOTH columns
    are exactly what makes multi-dimensional file pruning work. The
    whole computation is deterministic integer/double arithmetic, so the
    oracle re-derives every z value bit-for-bit."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.layout import zorder_key

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    z = zorder_key(ev, ["user_id", "ts_us"])
    return (
        z.groupBy(F.shiftright("__z", 26).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("user_id") - F.min("user_id")).alias("user_span"),
            (F.max("ts_us") - F.min("ts_us")).alias("ts_span"),
        )
    )


def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality audit: banded-MinHash near-dup pairs measured against
    the EXACT shingle-Jaccard ground truth (prefix-filtered set join over
    the same 3-gram sets, one corpus-wide block, threshold 0.8). Both
    sides are deterministic, so the audit is a single hash-checked row:
    (n_exact, n_lsh, n_common, n_missed). The verify stage filters LSH
    candidates on exact Jaccard, so n_lsh == n_common (precision 1) and
    n_missed counts true pairs that never collided in any band — the
    number the 8-band x 6-row S-curve bounds in expectation. At 100 TB
    this is the recurring health check run on a sample after every
    signature-parameter change."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        minhash_dedup_pairs_staged,
        prefix_filtered_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = prefix_filtered_jaccard_pairs(
        docs.withColumn("__all", F.lit(1)), "text", "doc_id", "__all",
        threshold=0.8, n=3,
        stage_path=f"{stage_dir(sf_dir)}/ssjoin_3grams.parquet",
    )
    lsh = minhash_dedup_pairs_staged(
        docs, "text", "doc_id",
        stage_path=f"{stage_dir(sf_dir)}/minhash_sigs.parquet", threshold=0.8,
    )
    # union + per-pair max flags instead of a FULL OUTER join: full outer
    # has no broadcast strategy in Spark (it would plan a SortMergeJoin);
    # the union aggregates in one partial-combined shuffle on the pair key
    flags = (
        exact.select("id_a", "id_b", F.lit(1).alias("__e"), F.lit(0).alias("__l"))
        .unionByName(
            lsh.select("id_a", "id_b", F.lit(0).alias("__e"), F.lit(1).alias("__l"))
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("__e").alias("__e"), F.max("__l").alias("__l"))
    )
    return flags.agg(
        F.sum("__e").cast("long").alias("n_exact"),
        F.sum("__l").cast("long").alias("n_lsh"),
        F.sum(F.col("__e") * F.col("__l")).cast("long").alias("n_common"),
        F.sum(F.col("__e") * (1 - F.col("__l"))).cast("long").alias("n_missed"),
    )


def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step dedup actually ships: one canonical document per near-dup
    cluster — longest text wins, doc_id breaks ties — plus the cluster
    size (how many docs the representative replaces). Chains the
    production pipeline (staged signatures -> LSH candidates -> exact
    verify -> connected components) with a per-cluster argmax window:
    one extra shuffle on cluster_id over the (tiny) clustered subset."""
    from pyspark.sql import Window

    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_dedup_pairs_staged,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs_staged(
        docs, "text", "doc_id",
        stage_path=f"{stage_dir(sf_dir)}/minhash_sigs.parquet", threshold=0.8,
    )
    cc = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    sized = cc.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        sized.select(
            "cluster_id",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("__rk"),
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).alias("n_docs"),
        )
        .where(F.col("__rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").alias("rep_n_chars"),
            "n_docs",
        )
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids as (label, dim, c) — posexplode+avg,
    JVM-only."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        label_centroids,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return label_centroids(emb, "embedding", "label")


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> view -> click -> purchase —
    the ONE-SCAN form (per-user per-step sorted timestamp arrays, reach
    chain folded as JVM array algebra): the chained conditional-min form
    re-scans the fact table per step and replicates the plan
    quadratically (20 scans / 34 exchanges for 4 steps vs 1 scan here);
    row-identical to the chained reference, pinned by
    test_funnel_single_pass_matches_chained."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        sequential_funnel_single_pass,
    )
    ev = load_table(spark, sf_dir, "events")
    return sequential_funnel_single_pass(
        ev, "user_id", "event_type", "ts",
        ["signup", "view", "click", "purchase"],
    )


def q_event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel with a CONVERSION WINDOW (round 7): each step counts
    only within 6 hours of the previous reach — 'clicked within 6h of
    viewing', the form product analytics actually ships. Same one-scan
    single-pass plan as event_funnel; first-touch semantics pinned equal
    to the chained form by test."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        sequential_funnel_single_pass,
    )
    ev = load_table(spark, sf_dir, "events")
    return sequential_funnel_single_pass(
        ev, "user_id", "event_type", "ts",
        ["signup", "view", "click", "purchase"], within_s=21600,
    )


def q_event_funnel_any_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-occurrence (any-chain) windowed funnel: a user counts at step
    k when ANY event chain with 6-hour hops exists — the other standard
    funnel semantics, catching conversions first-touch anchoring misses.
    Level k = one as-of join of step-k events against level (k-1)'s
    qualifying events (analytics.sequential_funnel_per_occurrence);
    linear, no per-user row explosion."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        sequential_funnel_per_occurrence,
    )
    ev = load_table(spark, sf_dir, "events")
    return sequential_funnel_per_occurrence(
        ev, "user_id", "event_type", "ts",
        ["signup", "view", "click", "purchase"], within_s=21600,
    )


def q_embedding_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point second-moment matrix of the embedding column
    (similarity.embedding_moments_fp) — the distributed statistic behind
    whitening/PCA/OPQ. Integer sums are partition-order-INdependent
    (float sums are not), so the full matrix hash-checks cross-engine."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        embedding_moments_fp,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("embedding")
    )
    return embedding_moments_fp(emb, "embedding")


def q_mixture_plan_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed mixture plan (T=2, the Pile/ROOTS flattening
    move): per-source quotas from sqrt-of-token-mass weights —
    floor∘sqrt over integers is IEEE-correctly-rounded, so the whole
    plan stays integer-exact cross-engine
    (sampling.mixture_plan_temperature)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        mixture_plan_temperature,
    )
    return mixture_plan_temperature(
        load_table(spark, sf_dir, "documents"), "text", "source", temperature=2
    )


def q_rollup_refresh_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (round 7): a per-customer
    rollup (count/sum/min/max over fixed-point order totals) is moved
    from snapshot v1 to v2 by re-aggregating ONLY the CDC-touched groups
    (continuous_agg.refresh_rollup_from_diff over
    parquet_sink.version_diff include_old) — deletes, in-place updates,
    AND group-moving updates all exercised. The oracle re-aggregates v2
    from the source table directly, so the hash certifies
    incremental == full recompute."""
    from redshift_to_pendo_api_data_pipeline_spark.sink import parquet_sink as PS
    from redshift_to_pendo_api_data_pipeline_spark.streaming.continuous_agg import (
        _partial,
        refresh_rollup_from_diff,
    )

    path = f"{stage_dir(sf_dir)}/versioned_orders.parquet"
    v1 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("val"),
    )
    v2 = (
        v1.where(F.col("o_orderkey") % 10 != 0)
        .withColumn(
            "val",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("val") + 100)
            .otherwise(F.col("val")),
        )
        .withColumn(
            "o_custkey",
            F.when(F.col("o_orderkey") % 13 == 0, F.col("o_custkey") + 1)
            .otherwise(F.col("o_custkey")),
        )
    )
    PS.write_versioned(v1, path, 1, mode="overwrite")
    PS.write_versioned(v2, path, 2, mode="append")
    rollup_v1 = _partial(v1, ["o_custkey"], "val")
    return refresh_rollup_from_diff(
        spark, path, rollup_v1, ["o_custkey"], "val", "o_orderkey", 1, 2
    )


def q_key_skew_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic over events.user_id
    (quality.key_skew_report): the top-20 hottest keys with exact
    integer basis-point shares — the pre-flight check before shuffling
    a 100 TB fact table on a key."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        key_skew_report,
    )
    return key_skew_report(load_table(spark, sf_dir, "events"), "user_id", top_n=20)


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase attributes to the user's
    most recent click at-or-before it (ties broken by greatest click
    id) — the marketing-analytics composition of temporal.asof_join.
    One user-key shuffle, no per-user row explosion; unattributed
    purchases survive with NULL click columns (left semantics)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts",
        F.unix_micros("ts").alias("purchase_us"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_us"),
    )
    out = asof_join(
        purchases, clicks, "user_id", "ts", "ts",
        right_vals=["click_id", "click_us"], right_tiebreak="click_id",
    )
    return out.select(
        "purchase_id", "user_id", "click_id",
        (F.col("purchase_us") - F.col("click_us")).alias("gap_us"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition signals (dup-word fraction, top-bigram share) —
    the boilerplate/spam detector of the curation funnel."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import repetition_stats
    return repetition_stats(load_table(spark, sf_dir, "documents"))


def q_image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup via perceptual dHash over REAL PNG bytes
    (multimodal.dhash_from_png / dhash_neardup_pairs): per doc a 16x16
    grayscale image is synthesized from a SQL-expressible formula —
    a (mid-density multiplier, offset) ramp shared by groups of 8 docs
    (g = doc_id div 8), one per-doc pixel perturbed — ENCODED to a
    genuine PNG and DECODED
    back through the stdlib codec before hashing, so the codec
    boundary is real (the media_png_roundtrip certification pattern).
    Same-group images differ in one pixel -> <= 4 dHash bits, all in
    band 0, so banding finds every pair; cross-group hashes verify
    out. The oracle re-derives hash, banding, and Hamming verify from
    the pixel formula directly — one flipped bit anywhere in encode,
    inflate, unfilter, or the hash breaks it."""
    import numpy as np
    import pandas as pd

    from redshift_to_pendo_api_data_pipeline_spark.operators.multimodal import (
        dhash_from_png,
        dhash_neardup_pairs,
        png_encode,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def _synth(batches):
        idx = np.arange(256, dtype=np.int64) + 1
        for pdf in batches:
            out = {"doc_id": [], "png": []}
            for doc_id in pdf["doc_id"]:
                g = int(doc_id) // 8
                # mid-density multiplier (wrap rate 25-75%) + per-group
                # offset: distinct (m, o) combos keep cross-group
                # hashes far apart, so output stays ~linear in groups
                m = 64 + (g * 73 + 37) % 124
                o = (g * 131 + 17) % 251
                px = (m * idx + o) % 251
                p = int(doc_id) % 8
                px[p] = (px[p] + 100) % 251
                out["doc_id"].append(doc_id)
                out["png"].append(
                    png_encode(px.astype(np.uint8).reshape(16, 16))
                )
            yield pd.DataFrame(out)

    # same width pin as q_audio_fingerprint_neardup: the tiny doc_id
    # scan is one split, serializing the PNG encode+decode Arrow stage;
    # par//4 balances Python-edge setup vs per-doc codec cost
    par = max(2, spark.sparkContext.defaultParallelism // 4)
    payloads = docs.repartition(par).mapInPandas(
        _synth, schema="doc_id long, png binary"
    )
    hashes = dhash_from_png(payloads, "png", "doc_id")
    return (
        # n_bands pinned at 4 (16-bit bands — what the oracle mirrors):
        # fixture flips cluster in band 0, so 4-band recall is exact here
        dhash_neardup_pairs(hashes, "doc_id", max_hamming=6, n_bands=4)
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "hamming",
        )
        .orderBy("doc_a", "doc_b")
    )


def q_user_path_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k sequence-similar users per seed (analytics.
    path_topk_similarity): event streams become chronological symbol
    strings, similarity = Jaccard over distinct char 4-grams, the 3
    smallest user ids probe the corpus — the trajectory-similarity
    search family in its scale-honest seed-probe form (all-pairs over
    a 5-symbol alphabet is degenerate AND quadratic; the probe form is
    one broadcast join, linear in corpus gram rows)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        path_topk_similarity,
    )
    return path_topk_similarity(
        load_table(spark, sf_dir, "events"),
        "user_id", "ts", "event_id", "event_type",
        n_seeds=3, gram=4, top_k=10,
    )


def q_batch_padding_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching payoff, certified (sampling.
    batch_padding_report): padding waste of arrival-order vs
    length-sorted fixed-size-32 batches — like-length batching is the
    serving-stack trick this quantifies. Two global_ranks passes, one
    (strategy, batch)-keyed agg, integers end-to-end."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        batch_padding_report,
    )
    return batch_padding_report(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        batch_size=32,
    )


def q_token_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token allocation (sampling.waterfill_allocation):
    spend 50% of the corpus token supply as uniformly across sources as
    availability allows — small sources give everything, large ones cap
    at the common water level; max-min-fair mixture planning beside the
    fixed-ratio and temperature plans. One corpus pass + source-bounded
    rank/prefix arithmetic."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        waterfill_allocation,
    )
    return waterfill_allocation(
        load_table(spark, sf_dir, "documents"), "text", "source",
        budget_ppm_of_total=500_000,
    )


def q_audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup via acoustic fingerprint over REAL WAV bytes
    (multimodal.audio_fingerprint_from_wav + the shared
    dhash_neardup_pairs banding): per doc, 1024 16-bit PCM samples are
    synthesized from a SQL-expressible sawtooth — (multiplier, offset)
    shared by groups of 8 docs, one per-doc sample clipped to 32000 —
    ENCODED to a genuine RIFF/WAVE container and DECODED back before
    windowed-energy hashing (the media_wav_roundtrip certification
    pattern). Same-group clips differ in one sample -> <= 4 fingerprint
    bits, all in band 0; the oracle re-derives window energies, the
    63-bit hash, banding, and the Hamming verify from the sample
    formula."""
    import numpy as np
    import pandas as pd

    from redshift_to_pendo_api_data_pipeline_spark.operators.multimodal import (
        audio_fingerprint_from_wav,
        dhash_neardup_pairs,
        wav_encode,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def _synth(batches):
        j = np.arange(1024, dtype=np.int64) + 1
        for pdf in batches:
            out = {"doc_id": [], "wav": []}
            for doc_id in pdf["doc_id"]:
                g = int(doc_id) // 8
                m = 64 + (g * 209 + 11) % 124
                o = (g * 59 + 29) % 2003
                v = ((m * j + o) % 2003) - 1001
                p = (int(doc_id) % 8) * 16 + 3
                v[p] = 32000
                out["doc_id"].append(doc_id)
                out["wav"].append(wav_encode(v.astype("<i2")))
            yield pd.DataFrame(out)

    # width pin (r11, the r9 AQE compute-amplification pattern): the
    # doc_id-only scan is byte-small (one parquet split), so the heavy
    # Arrow stage behind it — WAV synth + RIFF decode + windowed-energy
    # hashing — serialized on ONE task. par//4 measured best at this
    # relation size: each mapInPandas task pays two Python-edge
    # setups (~30 ms) against ~0.4 ms/doc of codec work, so full-width
    # fan-out spends more on edges than it saves (w32 1.41s / w8 0.84s
    # / w1 ~2s serialized); on a real cluster the same ratio holds per
    # executor. Shuffles only bare doc_ids; row-deterministic, hash
    # unchanged.
    par = max(2, spark.sparkContext.defaultParallelism // 4)
    payloads = docs.repartition(par).mapInPandas(
        _synth, schema="doc_id long, wav binary"
    )
    prints = audio_fingerprint_from_wav(payloads, "wav", "doc_id")
    return (
        # n_bands pinned at 4 (16-bit bands — the oracle's banding)
        dhash_neardup_pairs(prints, "doc_id", max_hamming=6, n_bands=4)
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "hamming",
        )
        .orderBy("doc_a", "doc_b")
    )


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020):
    documents ranked by unigram-LM cross-entropy (the staged perplexity
    scores of unigram_doc_scores), cut into ntile(3) buckets over the
    total order (xent_fp, doc_id) — head = most-predictable third —
    and counted per source: the per-source quality mix that decides
    which crawl dumps feed the next training run. The rank comes from
    global_ranks (range shuffle + broadcast offsets), never a
    single-reducer ntile window."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        global_ranks,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        unigram_doc_cross_entropy,
    )

    docs = load_table(spark, sf_dir, "documents")
    mapping, pieces = _unigram_stage(spark, sf_dir)
    scores = unigram_doc_cross_entropy(docs, "text", "doc_id", mapping, pieces)
    ranked = global_ranks(
        scores.select("doc_id", "xent_fp"),
        [F.col("xent_fp").asc(), F.col("doc_id").asc()],
        keep_total=True,
    )
    bucket = F.expr(
        "CASE WHEN __rank <= (__total % 3) * ((__total div 3) + 1) "
        "THEN (__rank - 1) div ((__total div 3) + 1) + 1 "
        "ELSE (__total % 3) "
        "  + (__rank - 1 - (__total % 3) * ((__total div 3) + 1)) "
        "    div (__total div 3) + 1 END"
    )
    named = ranked.select(
        "doc_id",
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == 2, F.lit("middle"))
        .otherwise(F.lit("tail")).alias("bucket"),
    )
    return (
        named.join(
            docs.select("doc_id", "source").hint("shuffle_hash"), "doc_id"
        )
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("source", "bucket")
    )


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID audit: confusion matrix of the stopword-overlap
    heuristic (text.lang_id) against the labeled lang column — the
    quality gate a curation funnel needs before trusting lang filters
    (zh has no stopword list, so it lands in 'und' by design: the
    audit SHOWS the blind spot instead of hiding it). One scan, one
    count aggregation on a 5x5-bounded key space."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("true_lang"),
            lang_id(F.col("text")).alias("pred_lang"),
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


def q_langid_chargram_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CJK-capable language ID via Cavnar-Trenkle char-n-gram rank
    profiles (text.charngram_profiles / charngram_lang_id) — closes the
    zh blind spot langid_confusion documents (the stopword heuristic
    reports zh as 'und'; a char-n-gram profile needs no spaces). The
    synthetic documents table carries no per-lang textual signal (one
    shared token pool for every label), so the corpus is made
    language-distinct DETERMINISTICALLY: per doc, words are reshaped by
    the label's morphology — es/de/fr suffixes ('acion'/'ung'/'eur'),
    zh words mapped through an md5-indexed 160-char CJK alphabet and
    joined WITHOUT spaces (a genuinely non-space-delimited script).
    Profiles (langs x 200, bounded) train on the corpus, stage to
    parquet, and classification (out-of-place distance over each doc's
    top-20 grams) runs against the staged copy; the oracle re-derives
    the corpus, grams, ranks, and argmin in SQL from the same staged
    profile relation. The confusion matrix is expected diagonal-heavy
    WITH zh on-diagonal — the capability the stopword form lacks."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        charngram_lang_id,
        charngram_profiles,
        words,
    )
    docs = load_table(spark, sf_dir, "documents")
    cjk = "".join(chr(0x4E00 + i) for i in range(160))
    w = words(F.col("text"))
    zh_text = F.array_join(
        F.transform(
            w,
            lambda x: F.substring(
                F.lit(cjk),
                (F.conv(F.substring(F.md5(x), 1, 4), 16, 10)
                 .cast("int") % 160) + 1,
                1,
            ),
        ),
        "",
    )

    def _suffixed(suffix: str):
        return F.array_join(
            F.transform(w, lambda x: F.concat(x, F.lit(suffix))), " "
        )

    corpus = docs.select(
        "doc_id", "lang",
        F.when(F.col("lang") == "zh", zh_text)
        .when(F.col("lang") == "es", _suffixed("acion"))
        .when(F.col("lang") == "de", _suffixed("ung"))
        .when(F.col("lang") == "fr", _suffixed("eur"))
        .otherwise(F.array_join(w, " ")).alias("mtext"),
    )
    prof = stage(
        spark, f"{stage_dir(sf_dir)}/charngram_profiles.parquet",
        lambda: charngram_profiles(corpus, "mtext", "lang", n=3, top_k=200),
    )
    pred = charngram_lang_id(
        corpus, prof, "mtext", "doc_id", n=3, doc_top=20, top_k=200
    )
    return (
        corpus.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


def _synthetic_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic messy-URL sidecar for the URL-curation family
    (documents carry no URL column): presentation noise — scheme/host
    case, userinfo ('u:pw@', h%%11), default :443 port, trailing
    slash, utm/fbclid tracking params, fragment (with an embedded '?',
    h%%7) — varies per doc via md5 bits, while the CANONICAL identity
    is (source, doc_id mod 7), so normalization provably collapses the
    noise and URL-keyed dedup has real collision clusters; h%%13 docs
    carry a NON-NUMERIC port (':bad') and must normalize to NULL. Four
    sources sit on a blockable domain. Mirrored 1:1 in the oracle
    SQL."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    k = F.col("doc_id") % 7
    dom = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3"),
        F.lit(".badsite.net"),
    ).otherwise(F.lit(".example.com"))
    url = F.concat(
        F.when(h % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(h % 11 == 0, F.lit("u:pw@")).otherwise(F.lit("")),
        F.when(h % 3 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.col("source"), dom,
        F.when(h % 13 == 0, F.lit(":bad"))
        .when(h % 4 == 0, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/page/"), k.cast("string"),
        F.when(h % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            h % 2 == 0,
            F.concat(F.lit("?utm_source=feed&item="), k.cast("string"),
                     F.lit("&fbclid=x")),
        ).otherwise(F.concat(F.lit("?item="), k.cast("string"))),
        F.when(h % 7 == 0, F.lit("#sec?x=1")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", "source", "n_chars", url.alias("url"))


def q_url_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb URL normalization (url.url_normalize /
    registrable_domain) over the deterministic messy-URL sidecar:
    scheme+host case, default port, trailing slash, tracking params and
    fragment all collapse; the oracle re-derives the same
    normalization with DuckDB's regexp/list algebra, so every branch
    of the normalizer is cross-checked per doc. Zero shuffles — one
    scan, pure column algebra."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.url import (
        registrable_domain,
        url_normalize,
    )

    urls = _synthetic_urls(spark, sf_dir)
    return urls.select(
        "doc_id",
        url_normalize(F.col("url")).alias("url_norm"),
        registrable_domain(F.col("url")).alias("domain"),
    ).orderBy("doc_id")


def q_url_blocklist_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filter (url.filter_blocked_domains): docs on
    the blocked registrable domain drop before any text processing —
    config-bounded broadcast anti-join, fact side never shuffles (the
    weak_label legitimate-broadcast contract). Per-source survivor
    counts; the four badsite sources must vanish."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.url import (
        filter_blocked_domains,
    )

    urls = _synthetic_urls(spark, sf_dir)
    kept = filter_blocked_domains(urls, "url", ["badsite.net"])
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
        .orderBy("source")
    )


def q_url_keyed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed keep-best dedup (url.url_dedup_keep_best): docs
    sharing a normalized URL collapse to the highest-n_chars row (ties
    to smallest doc_id) — the crawl-dedup every web pipeline runs
    before touching text. Digest-only shuffle; survivors returned with
    their canonical URL."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.url import (
        url_dedup_keep_best,
        url_normalize,
    )

    urls = _synthetic_urls(spark, sf_dir)
    kept = url_dedup_keep_best(urls, "url", "doc_id", "n_chars")
    return kept.select(
        "doc_id",
        url_normalize(F.col("url")).alias("url_norm"),
        F.col("n_chars").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


def q_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's line-level gates (curation.c4_line_filters; Raffel et al.
    2020 SS2.2): terminal-punctuation rule, min-words-per-line rule,
    line poison ('javascript'), doc poison ('lorem ipsum' / '{'),
    min-surviving-lines doc gate. Documents are single-line synthetic
    text, so a deterministic multi-LINE corpus is derived per doc:
    words chunk into 6-word lines; line (doc_id*31+i) %% 4 == 0 loses
    its terminal '.', %% 7 == 0 gains a 'javascript ' prefix, and doc_id
    %% 29 == 0 docs carry 'lorem ipsum' in line 0 — every rule has real
    attrition. Two exchanges: the doc_id width pin below and the
    orderBy's range exchange. Catalyst pushes the document gate (and
    with it the whole line pass) below the width pin into the scan
    stage (SCALE.md §11). The oracle re-derives lines and every gate in
    SQL."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.curation import (
        c4_line_filters,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import words

    # width pin (SCALE.md AQE compute-amplification trap): the whole
    # query is otherwise one single-task scan stage — and orderBy's
    # range sampler evaluates that stage TWICE (measured 2 x 1.7 s
    # single-threaded at sf0.1). The pin comes BEFORE the words()
    # split: an expression placed in the same select as the scan runs
    # IN the 1-task scan stage, upstream of the exchange (r10 profile:
    # 1.5 s single-task) — repartition the raw columns, transform wide.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).select("doc_id", words(F.col("text")).alias("__w"))

    def _line(i):
        base = F.array_join(F.slice(F.col("__w"), i * 6 + 1, 6), " ")
        h = F.col("doc_id") * 31 + i
        base = F.concat(
            F.when(h % 7 == 0, F.lit("javascript ")).otherwise(F.lit("")),
            base,
            F.when(h % 4 != 0, F.lit(".")).otherwise(F.lit("")),
        )
        return F.when(
            (F.col("doc_id") % 29 == 0) & (i == F.lit(0)),
            F.concat(base, F.lit(" lorem ipsum.")),
        ).otherwise(base)

    mdocs = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    ((F.size("__w") - 1) / 6).cast("int"),
                ),
                _line,
            ),
            "\n",
        ).alias("text"),
    )
    return c4_line_filters(mdocs, "text", "doc_id").orderBy("doc_id")


def q_corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's corpus-wide exact line dedup (curation.corpus_line_dedup):
    every duplicated line keeps ONE occurrence (earliest by (doc,
    pos)), other occurrences excise, emptied docs drop. Lines are
    synthesized onto a 40-value dictionary ('line K alpha beta.' with
    K = (doc_id*7 + pos*13) mod 40) so dedup pressure is extreme and
    deterministic: at most 40 line instances survive the whole corpus
    — PLUS planted EMPTY lines ((doc_id + pos) %% 6 == 0) that must
    pass through unconditionally (blank lines are paragraph
    separators, exempt from dedup). Winner selection is a
    partial-combining min-struct agg on the line digest (never a
    corpus window sort); the oracle re-derives winners, the blank
    exemption, and the per-doc rebuild in SQL."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.curation import (
        corpus_line_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mdocs = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), (F.col("doc_id") % 5).cast("int")),
                lambda i: F.when(
                    (F.col("doc_id") + i) % 6 == 0, F.lit("")
                ).otherwise(
                    F.concat(
                        F.lit("line "),
                        ((F.col("doc_id") * 7 + i * 13) % 40).cast("string"),
                        F.lit(" alpha beta."),
                    )
                ),
            ),
            "\n",
        ).alias("text"),
    )
    return corpus_line_dedup(mdocs, "text", "doc_id").orderBy("doc_id")


def q_bloom_semijoin_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter semi-join (skew.bloom_semijoin): lineitem reduced
    map-side by an m-bit Bloom bitmap of the high-value-order key set
    (o_totalprice > 250000) before the exact shuffle_hash semi-join —
    the fact is never shuffled at full width. Exact output (no false
    negatives; false positives die in the final join): the oracle is
    the plain semi-join, aggregated per returnflag."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.skew import (
        bloom_semijoin,
    )

    li = load_table(spark, sf_dir, "lineitem")
    hot = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 250000
    )
    reduced = bloom_semijoin(li, "l_orderkey", hot, "o_orderkey")
    return reduced.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        TR.fixed_point(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2
        ).alias("sum_qty_fp2"),
    ).orderBy("l_returnflag")


def q_dp_nation_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private customers-per-nation release
    (privacy.dp_histogram): discrete-Laplace (geometric-mechanism)
    noise on each count, derived integer-only from md5 bit-lengths so
    the DuckDB oracle re-derives the identical noise — the aggregate
    release gate that complements the k-anonymity / l-diversity /
    t-closeness audits."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.privacy import (
        dp_histogram,
    )
    # salt is a pinned PUBLIC certification fixture (the oracle mirrors
    # it); a real release would draw a secret per release.
    return dp_histogram(
        load_table(spark, sf_dir, "customer"), "c_nationkey", salt="dp1"
    )


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher repetition-rule signal set (text.gopher_repetition):
    top-{2,3,4}-gram char coverage and dup-{5..10}-gram char coverage in
    exact integer ppm plus the Table A1 pass flag — the published
    char-fraction family repetition_stats only sampled. One (doc, n,
    digest) explode covers all nine gram sizes; shuffle rows carry
    digests and longs, never text."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        gopher_repetition,
    )
    return gopher_repetition(load_table(spark, sf_dir, "documents"))


def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter rules (text.gopher_quality_rules): word
    count, mean word length, symbol ratio, alphabetic-word fraction and
    stopword hits, each surfaced as its own rule flag plus the combined
    keep — zero-shuffle column algebra."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        gopher_quality_rules,
    )
    return gopher_quality_rules(load_table(spark, sf_dir, "documents"))


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel: length -> language -> exact dedup ->
    decontamination, with per-stage survivor counts (the attrition report
    every corpus build emits)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators import curation as C
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("source") != "src19")
    eval_set = docs.where(F.col("source") == "src19")
    return C.quality_funnel(
        corpus,
        [
            ("min_length", C.min_length_stage("n_chars", 150)),
            ("lang", C.lang_allowlist_stage("lang", ["en", "es"])),
            ("exact_dedup", C.exact_dedup_stage("text", "doc_id")),
            ("decontaminated", C.decontamination_stage(eval_set, "text", "doc_id", 3)),
        ],
    )


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination scan: corpus docs (source != src19) sharing any
    3-gram with the stand-in benchmark set (source = src19); broadcast
    gram join, no corpus shuffle. n=3 here so the synthetic corpus
    actually overlaps (production uses 8-13)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        benchmark_contamination,
    )
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("source") != "src19")
    eval_set = docs.where(F.col("source") == "src19")
    return benchmark_contamination(corpus, eval_set, "text", "doc_id", n=3)


def q_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash-sample of documents (md5-prefix membership:
    reproducible across runs/engines/partitionings, unlike df.sample)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import hash_sample
    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.10, salt="s1").select(
        "doc_id", "source", "lang"
    )


def q_train_eval_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free hash-based train/eval split -> per-split row and char
    totals."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        train_eval_split,
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        train_eval_split(docs, "doc_id", eval_rate=0.05)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars"))
    )


def q_source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted data mixing: per-source keep rates (curated sources
    upweighted, long tail at 10%) -> post-mix composition."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import weighted_mix
    docs = load_table(spark, sf_dir, "documents")
    mixed = weighted_mix(
        docs, "doc_id", "source",
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.10,
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )


def q_token_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered selection under a PER-LANGUAGE character budget:
    within each lang, longest documents first until 100k chars. The window
    is partitioned by the stratum, so the running sum parallelizes across
    languages instead of funnelling the corpus through one reducer (the
    global-window variant exists for pre-shrunk candidate sets only)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        token_budget_head_stratified,
    )
    docs = load_table(spark, sf_dir, "documents")
    picked = token_budget_head_stratified(
        docs, "doc_id", "n_chars", "n_chars", "lang", budget_per_stratum=10_000
    )
    return picked.select("doc_id", "lang", "n_chars", "cum_tokens")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-then-chop sequence packing for pretraining batches:
    per-source deterministic-shuffle order, 8192-char sequences, integer
    assignment (operators/sampling.pack_sequences)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import pack_sequences
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, "doc_id", "n_chars", "source", seq_budget=8192
    ).select("doc_id", "source", "n_chars", "seq_id", "seq_offset")


def q_shuffled_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded corpus shuffle, first 50 docs with rank — distributed
    top-k on the hash order, window only over the k-row head."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import shuffled_head
    docs = load_table(spark, sf_dir, "documents")
    return shuffled_head(docs, "doc_id", k=50).select(
        "doc_id", "source", "shuffle_rank"
    )


def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative unigram rarity per document — exact integer
    surfaces (see operators/text.token_rarity_stats)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import token_rarity_stats
    return token_rarity_stats(load_table(spark, sf_dir, "documents"))


def q_hourly_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-filled hourly rollup with LOCF per event
    type (operators/temporal.time_bucket_gapfill)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        time_bucket_gapfill,
    )
    ev = load_table(spark, sf_dir, "events")
    out = time_bucket_gapfill(ev, "event_type", "ts", "value", "1 hour")
    return out.select(
        "event_type", F.unix_micros("bucket_start").alias("bucket_us"),
        "n", "sum_value_fp2",
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (explode -> two partial-combined
    aggregations -> broadcast df join -> per-doc top-k)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import tf_idf_top_terms
    return tf_idf_top_terms(load_table(spark, sf_dir, "documents"), top_k=3)


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID, quality score, token/subword counts, fingerprint —
    one codegen stage over one scan."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import analyze_documents
    return analyze_documents(load_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------- multimodal

def q_media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary media column -> mapInPandas decode
    (FakeCodec: deterministic byte-level stats). Oracle checks the
    SQL-expressible outputs (byte length + content digest)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.multimodal import (
        FakeCodec,
        attach_media,
        decode_stats,
    )
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media(docs, "text", media_type="image/fake")
    # FakeCodec pinned: payloads are synthetic text bytes, and the oracle
    # re-derives the byte-level stats — a real codec must never kick in
    return decode_stats(media, "doc_id", codec=FakeCodec()).select(
        "doc_id", "n_bytes", "digest"
    )


def q_media_frame_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: per-item frame explosion inside the Arrow
    batch; output = frames kept per doc (64-byte windows, every 2nd)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.multimodal import (
        FakeCodec,
        attach_media,
        sampled_frames,
    )
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media(docs, "text", media_type="video/fake")
    frames = sampled_frames(media, "doc_id", every_n=2, codec=FakeCodec())
    return frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_frames"))


def q_media_png_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode certified cross-engine (round 7): per document,
    a 16x16 grayscale PNG is synthesized from a pixel formula that is
    also SQL-expressible — px[i] = (n_chars * (i+1)) % 251 — ENCODED to
    a genuine PNG stream (chunks, CRCs, zlib) and DECODED back with the
    stdlib PngCodec (`operators/multimodal.png_encode/png_decode`)
    inside one mapInPandas stage. The emitted dimensions, pixel sum, and
    position-weighted pixel sum must hash-match DuckDB computing the
    same formula directly — one flipped bit anywhere in the chunk walk,
    inflate, or unfiltering breaks the hash. This is the image analog of
    the WavCodec certification: the codec boundary is REAL, not a
    byte-stream stand-in. Declared Python edge (mapInPandas)."""
    import numpy as np
    import pandas as pd

    from redshift_to_pendo_api_data_pipeline_spark.operators.multimodal import (
        png_decode,
        png_encode,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _roundtrip(batches):
        idx = np.arange(256, dtype=np.int64) + 1
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "sum_px": [], "possum_px": []}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                arr = ((int(n_chars) * idx) % 251).astype(np.uint8)
                px = png_decode(png_encode(arr.reshape(16, 16)))
                flat = px[:, :, 0].reshape(-1).astype(np.int64)
                out["doc_id"].append(doc_id)
                out["height"], out["width"] = (
                    out["height"] + [px.shape[0]], out["width"] + [px.shape[1]])
                out["sum_px"].append(int(flat.sum()))
                out["possum_px"].append(int((flat * idx).sum()))
            yield pd.DataFrame(out)

    # same width pin as q_audio_fingerprint_neardup: the 2-column scan
    # is one byte-small split, serializing the zlib-heavy PNG
    # encode+decode on a single task; par//4 balances the two
    # Python-edge setups per task against per-doc codec cost
    par = max(2, spark.sparkContext.defaultParallelism // 4)
    return docs.repartition(par).mapInPandas(
        _roundtrip,
        schema="doc_id long, width int, height int, sum_px long, possum_px long",
    )


# ------------------------------------------------- round-2b widened shapes

def _revenue_dec() -> F.Column:
    """The repo-standard exact money expression (same recipe as q3/q5):
    decimal multiply, surfaced later via transforms.fixed_point."""
    return (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("decimal(18,4)")


def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional trade volume between two nations.
    The same dimension (nation) plays two roles — supplier side and
    customer side — so the plan needs disambiguated aliases; both roles
    broadcast. Spine = lineitem ⋈ orders (one shuffle on orderkey);
    supplier and the filtered customer side hash in."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    ).where(F.col("supp_nation").isin(pair))
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    ).where(F.col("cust_nation").isin(pair))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp.join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            cust.join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(TR.fixed_point(F.sum(_revenue_dec()), 4).alias("revenue_fp4"))
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × year for parts whose
    name matches a pattern. Profit = revenue − retail cost of the
    quantity, all decimal arithmetic (exact, order-independent).
    Filtered part broadcast into the lineitem scan; supplier→nation
    broadcast; one shuffle on orderkey for the date dimension."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    cost = (
        F.col("p_retailprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    ).cast("decimal(18,4)")
    amount = (_revenue_dec() - cost).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(TR.fixed_point(F.sum(amount), 4).alias("profit_fp4"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    date window. Group keys carry the customer attributes (standard Q10
    form) so the aggregate shuffles one row per customer; top-k is
    TakeOrderedAndProject with a unique tiebreak."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            TR.fixed_point(F.sum(_revenue_dec()), 4).alias("revenue_fp4"),
            TR.fixed_point(
                F.max(F.col("c_acctbal").cast("decimal(18,2)"))
            ).alias("acctbal_fp2"),
        )
        .orderBy(F.desc("revenue_fp4"), F.asc("c_custkey"))
        .limit(20)
    )


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation — promo-typed revenue vs
    total revenue in one month. Surfaces both numerator and denominator
    as fixed-point integers (the ratio is a float division whose last
    bit could differ across engines; the two exact integers carry the
    same information)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-03-01 00:00:00")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01 00:00:00")))
    )
    part = load_table(spark, sf_dir, "part")
    rev = _revenue_dec()
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            TR.fixed_point(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)"))),
                4,
            ).alias("promo_fp4"),
            TR.fixed_point(F.sum(rev), 4).alias("total_fp4"),
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: group-HAVING subquery re-joined to the detail —
    orders whose total quantity clears a threshold, with their customer.
    The qualifying-keys relation stays aggregated (one row per order) and
    semi-joins back; quantity totals surface fixed-point."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__qty"))
        .where(F.col("__qty") > F.lit(130).cast("decimal(18,2)"))
        .select(
            F.col("l_orderkey").alias("__bigkey"),
            TR.fixed_point(F.col("__qty")).alias("total_qty_fp2"),
        )
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("__bigkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_micros("o_orderdate").alias("odate_us"),
            TR.fixed_point(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "totalprice_fp2"
            ),
            "total_qty_fp2",
        )
    )


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + anti join — customers
    richer than the positive-balance average with no recent order (none
    since 2000-07-01), rolled up per nation. The average is a 1-row
    broadcast cross; the anti join hashes on custkey. Balance sums
    surface fixed-point."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-07-01 00:00:00"))
    )
    cents = TR.fixed_point(F.col("c_acctbal").cast("decimal(18,2)"))
    # "above average" as the integer cross-multiply cents * n > sum_cents:
    # no float division, so the qualifying set can't flip on a last-bit
    # difference between engines' summation orders.
    pos = cust.where(F.col("c_acctbal") > 0).agg(
        F.sum(cents).alias("__sum_cents"), F.count(F.lit(1)).alias("__n_pos")
    )
    rich = cust.join(F.broadcast(pos)).where(
        cents * F.col("__n_pos") > F.col("__sum_cents")
    )
    dormant = rich.join(
        orders.select(F.col("o_custkey")),
        rich["c_custkey"] == F.col("o_custkey"),
        "left_anti",
    )
    return dormant.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_cust"),
        TR.fixed_point(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        ).alias("sum_acctbal_fp2"),
    )


def q_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters with a data-relative threshold: users whose
    event count exceeds the per-user average. The comparison is the
    integer cross-multiply n * n_users > n_total — no float division, so
    the qualifying set is deterministic cross-engine."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    counts = heavy_hitters(ev, "user_id", min_count=1)
    totals = counts.agg(
        F.sum("n").alias("__total"), F.count(F.lit(1)).alias("__users")
    )
    return (
        counts.join(F.broadcast(totals))
        .where(F.col("n") * F.col("__users") > F.col("__total"))
        .select("user_id", "n")
    )


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted deterministic sampling: keep each document
    with probability n_chars/4096 (capped) — pure integer md5-bucket
    arithmetic, filter at the scan, zero shuffle."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import weighted_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_hash_sample(
        docs, "doc_id", "n_chars", max_weight=4096, salt="w1"
    ).select("doc_id", "source", "n_chars")


def q_moving_avg_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame window per user: trailing-8-rows spend sum + frame
    size (the moving-average pair, kept as exact integers)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import sliding_frame_stats

    ev = load_table(spark, sf_dir, "events")
    return sliding_frame_stats(
        ev, "user_id", "ts", "event_id", "value", frame_rows=8
    )


def q_ntile_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency deciles of orders by price (ntile over a total
    order), per-decile count and exact sum."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import ntile_buckets

    orders = load_table(spark, sf_dir, "orders")
    return ntile_buckets(orders, "o_totalprice", "o_orderkey", 10, "o_totalprice")


def q_nation_segments_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG shape: per-nation sorted distinct market segments as one
    csv string (deterministic order ⇒ hashable cross-engine)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import grouped_sorted_concat

    cust = load_table(spark, sf_dir, "customer")
    return grouped_sorted_concat(cust, "c_nationkey", "c_mktsegment")


def q_median_mode_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolated, over integer cents) and deterministic
    mode (min value among max-frequency) of order value per priority."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import median_and_min_mode

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        TR.fixed_point(F.col("o_totalprice").cast("decimal(18,2)")).alias("cents"),
    )
    return median_and_min_mode(orders, "o_orderpriority", "cents")


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-aggregate — conjunctive range predicates
    (date window, discount band, quantity cap) all pushed to the parquet
    scan, one global decimal sum. The cheapest possible plan: no join, no
    groupBy shuffle, just partial sums -> one-row final. At 100 TB this is
    the query that proves predicate pushdown works (the scan skips row
    groups via parquet min/max stats on l_shipdate)."""
    li = load_table(spark, sf_dir, "lineitem")
    forecast = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_discount").cast("decimal(18,2)")
    ).cast("decimal(18,4)")
    return (
        li.where(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.09)
            & (F.col("l_quantity") < 24)
        )
        .agg(TR.fixed_point(F.sum(forecast), 4).alias("revenue_fp4"))
    )


def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-to-fact join + two-way conditional counts.
    (The synthetic lineitem has no l_shipmode; l_returnflag plays the
    category role.) lineitem date-filtered at the scan, one shuffle on
    orderkey; the CASE aggregation is a map-side-combined count pair."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01 00:00:00")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def q13_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join preserving zero-order customers +
    double aggregation (orders per customer, then customers per order
    count). The outer join is the operator under test — null o_orderkey
    rows must survive into count(o_orderkey)=0. Shuffles: custkey join,
    custkey agg (same key — one Exchange reused), then a tiny histogram
    agg on c_count."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT-IN subquery (left_anti join against a
    complained-about supplier set) + per-group COUNT DISTINCT. (No
    partsupp table in the synthetic data — lineitem provides the
    part↔supplier association.) The anti side broadcasts (it is a
    filtered 100-row dim); countDistinct over (brand, type, size) groups
    expands to a two-phase distinct-then-count agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").where(
        F.col("s_name").like("%9")
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs disjunctive predicate spanning both
    join sides (brand × size band × quantity band). Catalyst extracts the
    common join key, pushes the part-only conjuncts below the join via
    CNF conversion, and evaluates the residual disjunction post-join —
    the classic test that complex boolean pushdown works."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 20)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 40)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            TR.fixed_point(F.sum(_revenue_dec()), 4).alias("revenue_fp4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: double correlated EXISTS/NOT-EXISTS, decorrelated
    into grouped flags. A supplier qualifies in an order when it shipped
    late (> 60 days after the order date), the order has other suppliers
    (EXISTS), and none of the others were late (NOT EXISTS). Instead of
    two correlated re-scans of lineitem, one groupBy(orderkey, suppkey)
    computes per-supplier late flags and an orderkey-partitioned window
    derives (n_suppliers, n_late_suppliers) in the same pass; the
    predicate late ∧ n_supp > 1 ∧ n_late = 1 is then rowside — the whole
    query is one orderkey-spine shuffle chain plus a 100-row broadcast
    for supplier names. That is the plan a 100 TB run wants: the EXISTS
    pair never re-reads the fact and never self-joins."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_supp = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("__late"))
    )
    # (n_suppliers, n_late) per order as unbounded windows partitioned on
    # l_orderkey: the per-order rollup needs an orderkey exchange either
    # way, and the window form replaces the SortMergeJoin that a
    # join-back-to-own-rollup plan adds on top of it.
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    per_supp = per_supp.select(
        "l_orderkey",
        "l_suppkey",
        "__late",
        F.count(F.lit(1)).over(w).alias("__n_supp"),
        F.sum("__late").over(w).alias("__n_late"),
    )
    return (
        per_supp
        .where(
            (F.col("__late") == 1)
            & (F.col("__n_supp") > 1)
            & (F.col("__n_late") == 1)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(25)
    )


def q_debounced_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce dedup: keep an event only when it is the first
    of its (user, event_type) or >= 60 s after its predecessor — the
    standard duplicate-beacon filter in event pipelines. One lag window
    per (user_id, event_type): partition-parallel, single shuffle, no
    state beyond the window sort."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import debounce_events

    ev = load_table(spark, sf_dir, "events")
    out = debounce_events(ev, ["user_id", "event_type"], "ts", "event_id", gap_s=60)
    return out.select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("ts_us"),
    )


def q_duplicate_shingle_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplication diagnostic: per source, the fraction of
    distinct (doc, 3-gram shingle) pairs whose shingle also appears in
    some other document — the aggregate signal dedup teams read before
    picking thresholds. Surfaced as two exact integers (dup_pairs,
    total_pairs).

    Plan notes: dedup to distinct (doc, shingle) via explode-then-
    ``.distinct()``, NOT ``array_distinct``-then-explode — the latter
    re-evaluates the whole shingle lambda through the collapsed
    projection under the Generate (measured ~9x slower; same trap
    exploded_shingles' docstring documents). The doc->source attachment
    broadcasts (documents' id->source projection is small relative to
    the exploded relation at any SF with bounded source cardinality —
    and if it weren't, the join key is the high-cardinality doc id, so a
    shuffle-hash fallback stays skew-free). Both counting branches
    aggregate from the SAME Exchange((shingle, source)) — the partial
    agg before it is the only pass over the exploded data; Spark's
    ReusedExchange makes the per-shingle total branch free. No all-pairs
    anything; linear in corpus shingles."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import exploded_shingles

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        exploded_shingles(docs, "text", "doc_id", n=3)
        .distinct()
        .join(
            F.broadcast(docs.select(F.col("doc_id").alias("doc"), "source")),
            "doc",
        )
        .select("doc", "source", F.col("sh").alias("shingle"))
    )
    ss = pairs.groupBy("shingle", "source").agg(F.count(F.lit(1)).alias("__c"))
    # per-shingle total as an unbounded window over the shingle prefix of
    # the agg output — replaces a self-join back to a groupBy("shingle")
    # rollup (which planned as a SortMergeJoin) with one window pass
    from pyspark.sql import Window

    ss = ss.withColumn(
        "__tot", F.sum("__c").over(Window.partitionBy("shingle"))
    )
    return (
        ss
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("__tot") > 1, F.col("__c")).otherwise(0))
            .cast("long")
            .alias("dup_pairs"),
            F.sum("__c").cast("long").alias("total_pairs"),
        )
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a nation's share of regional revenue per year —
    the deepest snowflake in the suite (lineitem spine; orders carries
    the year; customer→nation→region restricts the market; supplier→
    nation tags the competitor; part restricts the product). All
    dimension arms broadcast; the only shuffles are the orderkey join
    and the per-year agg. Share surfaces as exact (numerator,
    denominator) fixed-point integers — the float division happens in
    the reader's head, not in the hash-checked result."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "EUROPE"
    )
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == "STANDARD"
    )
    market_cust = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nation = supp.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("s_nkey"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("s_nkey"),
    ).select("s_suppkey", "supp_nation")
    rev = _revenue_dec()
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # market_cust is the region-pruned KEY-ONLY projection of the
        # customer dim (one long per customer in the region) — broadcast
        # keeps the fact spine shuffle-free on custkey; at a scale where
        # even the key projection outgrows the broadcast budget this
        # becomes a shuffle-hash join on the same key, nothing else moves
        .join(F.broadcast(market_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            TR.fixed_point(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", rev)
                    .otherwise(F.lit(0).cast("decimal(18,4)"))
                ),
                4,
            ).alias("nation_rev_fp4"),
            TR.fixed_point(F.sum(rev), 4).alias("total_rev_fp4"),
        )
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value vs a global scalar threshold.
    (No partsupp table — shipped value per part from one nation's
    suppliers plays the stock-value role.) The global total is a 1-row
    broadcast; the HAVING threshold is the integer cross-multiply
    value * 1000 > total (no float division, deterministic set)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_1"
    )
    nation_supp = supp.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    value_cents = TR.fixed_point(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    )
    per_part = (
        li.join(F.broadcast(nation_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(value_cents.alias("value_fp2"))
    )
    total = per_part.agg(F.sum("value_fp2").alias("__total"))
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("value_fp2") * 1000 > F.col("__total"))
        .select("l_partkey", "value_fp2")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the view-then-max pattern — per-supplier revenue
    over a quarter, keep the supplier(s) equal to the maximum (ties kept,
    so the result is deterministic without a tiebreak). The max is a
    1-row broadcast compared on exact fixed-point cents."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01 00:00:00")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-04-01 00:00:00")))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy("l_suppkey")
        .agg(TR.fixed_point(F.sum(_revenue_dec()), 4).alias("total_rev_fp4"))
    )
    best = revenue.agg(F.max("total_rev_fp4").alias("__best"))
    return (
        revenue.join(F.broadcast(best))
        .where(F.col("total_rev_fp4") == F.col("__best"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_fp4")
    )


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: chained IN subqueries decorrelated to a
    groupBy-HAVING relation semi-joined back. (No partsupp/availqty —
    'shipped more than 50 units of some pattern-matched part in 1997'
    plays the excess-stock role.) The HAVING relation stays aggregated
    (one row per (supp, part) clearing the bar) and left-semi-joins
    supplier; nation broadcasts for the name."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01 00:00:00")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
    )
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like("%red%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    heavy = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__qty"))
        .where(F.col("__qty") > F.lit(50).cast("decimal(18,2)"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        # heavy is bounded by supplier-table cardinality (one row per
        # qualifying supplier) — broadcastable at any data scale
        supp.join(F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


def q_top_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: the 5 longest documents of every source — the
    curation 'show me the extremes per slice' query. row_number over a
    (source)-partitioned window: one shuffle on source, rank state per
    group only; never a global sort."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        docs.select("doc_id", "source", "n_chars", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 5)
    )


def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch per-user event frequencies next to their exact
    counts (operators/analytics.count_min_sketch). The per-key hash
    coordinates stage to the lake, so the oracle re-derives counters and
    estimates exactly — a sketch with a hash check, not a tolerance
    check."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import count_min_sketch

    ev = load_table(spark, sf_dir, "events")
    return count_min_sketch(
        ev, "user_id", depth=4, width=256,
        stage_map_path=f"{stage_dir(sf_dir)}/cms_map.parquet",
    )


def q_hll_user_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user registers per event type
    (operators/analytics.hyperloglog_registers) — the cardinality sketch
    completing the family (CMS=frequency, Bloom=membership,
    MinHash=similarity). The per-distinct-key 48-bit hash words stage to
    the lake and every downstream step (bucket mod, div, leading-zero
    rank via bin-string length, max) is integer/string algebra DuckDB
    re-derives exactly — a sketch with a hash check, not a tolerance
    check. Scale: one linear pass, the only shuffle carries
    |event_types| x m partially-maxed register rows."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        hyperloglog_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    return hyperloglog_registers(
        ev, "user_id", ["event_type"], m=256,
        stage_hash_path=f"{stage_dir(sf_dir)}/hll_user_hashes.parquet",
    )


def q_kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-algebra sketch (operators/analytics.kmv_sketches +
    kmv_pair_overlap): for every event-type pair, the union and
    intersection distinct-USER estimates derived from two k-row sketches
    — next to the exact twin computed from the key stream. Every
    estimator is integer division over staged 48-bit hash words (the
    SAME staged relation the HLL registers read — one word table, two
    sketch families), so DuckDB re-derives estimates exactly. At 100 TB
    the exact twin is the expensive side; production reads the sketches."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        kmv_pair_overlap,
        kmv_sketches,
    )

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketches(
        ev, "user_id", "event_type", k=128,
        stage_hash_path=f"{stage_dir(sf_dir)}/hll_user_hashes.parquet",
    )
    est = kmv_pair_overlap(sk, "event_type", k=128)

    ue = ev.select("event_type", "user_id").distinct()
    x = ue.select(F.col("event_type").alias("type_a"),
                  F.col("user_id").alias("u"))
    y = ue.select(F.col("event_type").alias("type_b"),
                  F.col("user_id").alias("u"))
    # the exact-twin audience self-join is corpus-cardinality on both
    # sides: shuffle_hash is the strategy that survives 100x (never SMJ,
    # never a broadcast of a distinct-user relation)
    inter = (
        x.join(y.hint("shuffle_hash"), "u")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    sizes = ue.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    exact = (
        inter.join(F.broadcast(sa), "type_a").join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b",
            (F.col("na") + F.col("nb") - F.col("exact_inter")).alias("exact_union"),
            "exact_inter",
        )
    )
    return est.join(F.broadcast(exact), ["type_a", "type_b"]).select(
        "type_a", "type_b", "est_union", "k_inter", "est_inter",
        "exact_union", "exact_inter",
    )


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: new batch (source = src0) near-dup'd
    against the existing corpus (every other source) — asymmetric banded
    LSH over two staged signature relations; the corpus never self-joins.
    The production shape for 'dedupe today's crawl against the lake'."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        incremental_minhash_neardup,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = stage_dir(sf_dir)
    return incremental_minhash_neardup(
        docs.where(F.col("source") == "src0"),
        docs.where(F.col("source") != "src0"),
        docs, "text", "doc_id",
        stage_new=f"{root}/minhash_sigs_new.parquet",
        stage_corpus=f"{root}/minhash_sigs_corpus.parquet",
        threshold=0.8,
    )


def q_ngram_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-5-gram duplicated-SPAN coverage per document (Lee et al. 2022
    substring dedup, k-gram-cover form): a token is covered when any
    5-gram window containing it appears in >= 2 distinct documents.
    Integer basis-point surface, fully hash-checked."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.spans import (
        duplicated_span_coverage,
    )
    return duplicated_span_coverage(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", k=5, min_docs=2
    )


def q_strip_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning transform of substring dedup: rewrite each document
    with its cross-document-duplicated 5-gram spans removed; survivors
    re-join in original token order so the clean text is deterministic
    and hash-checkable."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.spans import (
        strip_duplicated_spans,
    )
    return strip_duplicated_spans(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", k=5, min_docs=2
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: deterministic IVF k-means clusters the embedding space,
    then any vector with a lower-id same-cluster neighbor at cosine >=
    0.45 is dropped. Assignment staged to the lake; the oracle re-derives
    kept/dropped from the staged parquet independently."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return semantic_dedup(
        emb, "embedding", "vec_id",
        stage_path=f"{stage_dir(sf_dir)}/semdedup_assign.parquet",
        n_list=16, threshold=0.45,
    )


def q_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-describe: deterministic IVF k-means partitions the
    embedding space, the assignment is staged, and each cluster is
    summarized by its top-3 distinctive tokens (integer chi-squared
    keyness) — the corpus-exploration composition (cluster + keyness)
    a curation pipeline runs before choosing mixture weights. Oracle
    re-derives the keyness ranking from the staged assignment."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        ivf_assign, staged_ivf_centroids,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        distinctive_terms,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # reuse-aware trainer: a probe/bench rerun loads the staged quantizer
    cents = staged_ivf_centroids(emb, "embedding", "vec_id",
                                 f"{stage_dir(sf_dir)}/topic_centroids.parquet",
                                 n_list=8, n_iter=1)
    assigned = stage(
        spark, f"{stage_dir(sf_dir)}/topic_assign.parquet",
        lambda: ivf_assign(emb, "embedding", cents).select(
            "vec_id", F.col("__cluster").alias("cluster")
        ),
    )
    docs = load_table(spark, sf_dir, "documents")
    joined = docs.join(
        assigned, docs.doc_id == assigned.vec_id
    ).select("cluster", "text")
    return distinctive_terms(joined, "text", "cluster", top_k=3).withColumn(
        "keyness", TR.checked_bigint(F.col("keyness"))
    )


def _classifier_stage(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Stage the hashed feature relation and the trained fixed-point
    weight table ONCE for every classifier query; returns the staged
    (features, weights). Training is skipped under stage reuse."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        hashed_features,
        train_logreg,
        weights_fixed_point,
    )

    root = stage_dir(sf_dir)
    feats_path = f"{root}/clf_features.parquet"
    w_path = f"{root}/clf_weights.parquet"
    if reusable(spark, feats_path, w_path):
        return spark.read.parquet(feats_path), spark.read.parquet(w_path)
    docs = load_table(spark, sf_dir, "documents")
    feats = stage(spark, feats_path,
                  lambda: hashed_features(docs, "text", "doc_id"))
    labels = docs.select(
        F.col("doc_id").alias("doc"),
        F.col("source").isin([f"src{i}" for i in range(5)])
        .cast("int").alias("y"),
    )
    w = train_logreg(feats, labels, n_epochs=3)
    return feats, stage(spark, w_path, lambda: weights_fixed_point(w))


def q_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (fasttext/CCNet family, DSIR's parametric
    sibling): a logistic-regression domain discriminator over hashed
    bag-of-words features, trained full-batch IN SPARK (two linear
    shuffles per epoch, weights broadcast, no Python), scored as exact
    integer logits from the staged fixed-point weight table. The target
    domain is sources src0-src4 vs the rest — the train-a-classifier-
    to-weight-the-corpus move of GPT-3/CCNet-style curation. Both the
    hashed feature relation and the weight table are staged; the oracle
    recomputes every document's logit independently by joining them —
    the learned artifact is auditable, not a black box. Training is
    skipped under stage reuse (driver-coordinated epochs; same contract
    as the quantizer sidecars)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        score_logreg_fp,
    )

    feats, wfp = _classifier_stage(spark, sf_dir)
    return score_logreg_fp(feats, wfp).select(
        F.col("doc").alias("doc_id"), "logit_fp"
    )


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the learned quality filter (round 7): docs
    bucketed by FIXED-WIDTH integer logit bins (floor-div — map-side,
    corpus-scale safe; a global ntile would be a full-corpus sort, the
    classic calibration-curve scale trap), with per-bin positives and
    exact basis-point positive rate. Reuses the staged
    features×weights artifacts of quality_classifier_scores — same
    training, one more consumer; monotone pos_rate across bins is the
    'did the classifier learn a ranking' audit."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        score_logreg_fp,
    )

    feats, wfp = _classifier_stage(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("doc"),
        F.col("source").isin([f"src{i}" for i in range(5)])
        .cast("int").alias("y"),
    )
    scored = score_logreg_fp(feats, wfp).join(labels, "doc")
    width = 500_000  # half a fixed-point logit unit per bin
    # FLOOR division (negative logits!): Spark's `div` truncates toward
    # zero while DuckDB's // floors — subtract the non-negative pmod
    # first so the quotient is exact in both
    return (
        scored.groupBy(
            F.expr(f"(logit_fp - pmod(logit_fp, {width})) div {width}")
            .cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .select(
            "bin", "n", "n_pos",
            F.expr("(n_pos * 10000) div n").alias("pos_rate_bp"),
        )
    )


def q_dsir_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scores: per-doc sum of integer log-ratio
    surrogates bit_length(c_target+1) - bit_length(c_raw+1) over the
    doc's tokens, target = source 'src0'. High score = built from
    target-typical vocabulary."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.lm import dsir_scores

    docs = load_table(spark, sf_dir, "documents")
    return dsir_scores(docs, "text", "doc_id", F.col("source") == "src0")


def q_strip_contaminated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: corpus docs (source != src19) with
    every token position covered by an eval-set (source == src19) 5-gram
    excised — the surgical form of benchmark_contamination. Eval grams
    broadcast; corpus grams never shuffle for the membership join."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.spans import (
        strip_contaminated_spans,
    )
    docs = load_table(spark, sf_dir, "documents")
    return strip_contaminated_spans(
        docs.where(F.col("source") != "src19"),
        docs.where(F.col("source") == "src19"),
        "text", "doc_id", k=5,
    )


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning: per-source sampling rates realizing
    target ratio weights w = (source index mod 4) + 1 at the largest
    feasible total budget. Pure integer arithmetic, hash-exact."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        mixture_plan,
    )
    docs = load_table(spark, sf_dir, "documents")
    w = (F.regexp_extract("source", r"(\d+)", 1).cast("long") % 4) + 1
    return mixture_plan(docs, "text", "source", w)


def q_bloom_corpus_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered new-vs-corpus 8-gram membership: the incoming
    batch (doc_id % 7 == 0) is screened against the rest of the corpus
    through a broadcast Bloom position table, then exact-verified — so
    the result is exact membership and the oracle is a plain gram
    semi-join. See operators/dedup.py bloom_gram_membership."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        bloom_gram_membership,
    )
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    return bloom_gram_membership(batch, corpus, "text", "doc_id", n=8)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix over the events stream."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        retention_cohorts,
    )
    return retention_cohorts(load_table(spark, sf_dir, "events"), "user_id", "ts")


def q_windowed_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-window z-score anomaly flags, all-BIGINT
    cross-multiplied form (hash-exact)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        windowed_anomalies,
    )
    return windowed_anomalies(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "value", "event_id"
    )


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive tokens per source by the integer keyness
    numerator a*N - rowtot*coltot (observed-minus-expected, exact).
    The operator scores on DECIMAL(38,0) (overflow-proof to 10^19
    corpus tokens); the BIGINT cast here is for cross-engine hash
    parity and goes through checked_bigint, which raises on overflow
    regardless of the session's ANSI setting — never silently wraps."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        distinctive_terms,
    )
    out = distinctive_terms(load_table(spark, sf_dir, "documents"), "text", "source")
    return out.withColumn("keyness", TR.checked_bigint(F.col("keyness")))


def q_ewm_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving spend per user (bounded-frame
    integer EWMA numerator — exact BIGINT, no float smoothing)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        ewm_weighted_sum,
    )
    return ewm_weighted_sum(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "event_id", "value"
    )


def q_column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-profiling analyzer over orders: exact row/null/
    distinct counts per profiled column, long form."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        profile_columns,
    )
    return profile_columns(
        load_table(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"],
    )


def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE pair statistics over the document corpus:
    top-20 adjacent in-word character pairs."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        bpe_merge_pair_counts,
    )
    return bpe_merge_pair_counts(load_table(spark, sf_dir, "documents"), "text")


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production tokenize step bpe_train's merge list exists FOR:
    segment the corpus vocabulary under the learned tokenizer (one
    Arrow-batched pass over the DISTINCT-word dictionary — the only
    Python, dictionary-sized by Zipf), stage the (word, token, k)
    mapping, and histogram the corpus's subword tokens by broadcast
    join — the real-tokenizer token counts that budget/mixture math
    wants instead of the whitespace proxy (text_analysis). The oracle
    re-splits the text in SQL and joins the SAME staged mapping, so the
    segmentation artifact is what's certified. Training (20 merges) +
    segmentation are skipped under stage reuse."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        bpe_encode_counts,
        bpe_segment_words,
        bpe_train,
    )
    docs = load_table(spark, sf_dir, "documents")
    mapping = stage(
        spark, f"{stage_dir(sf_dir)}/bpe_word_tokens.parquet",
        lambda: bpe_segment_words(
            docs, "text", bpe_train(docs, "text", n_merges=20)
        ),
    )
    return bpe_encode_counts(docs, "text", mapping, top_k=50)


def q_wordpiece_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token histogram under a trained WORDPIECE tokenizer
    (text.wordpiece_train / wordpiece_segment_words) — the third
    production tokenizer family beside BPE (frequency-greedy) and
    Unigram-LM (EM), trained with the likelihood-gain pair score and
    segmented by vocab-driven greedy longest-match. Same certification
    shape as bpe_token_counts: the staged (word, token, k) mapping is
    the artifact; the oracle re-splits the text in SQL and joins the
    SAME mapping, so segmentation is what's certified. Training (20
    merges) + segmentation are skipped under stage reuse."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        bpe_encode_counts,
        wordpiece_segment_words,
        wordpiece_train,
    )
    docs = load_table(spark, sf_dir, "documents")
    mapping = stage(
        spark, f"{stage_dir(sf_dir)}/wordpiece_word_tokens.parquet",
        lambda: wordpiece_segment_words(
            docs, "text", wordpiece_train(docs, "text", n_merges=20)
        ),
    )
    return bpe_encode_counts(docs, "text", mapping, top_k=50)


def q_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence patterns (analytics.
    sequence_pattern_counts): per user, the chronological event-type
    symbol string is scanned for NON-OVERLAPPING matches of
    's[vc]*p' — signup, then purchase, with only views/clicks between
    (no error, no second signup). Funnel operators count step
    reachability; this counts occurrences of a session *shape*, with
    regex quantifiers/alternation for free. Symbols are the types'
    first characters (unique over this domain: c/e/p/s/v); leftmost
    greedy matching is identical in Java regex and RE2, so the counts
    hash-check cross-engine."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        sequence_pattern_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    return sequence_pattern_counts(
        ev, "user_id", "ts", "event_id", "event_type", "s[vc]*p"
    )


def q_event_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths (analytics.event_path_counts): each
    user's first 5 events joined '>'-separated, counted across users —
    the entry-path report. Per-key state is a bounded 5-struct slice;
    the path count agg is map-side combined over a tiny distinct-path
    domain."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        event_path_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    return event_path_counts(ev, "user_id", "ts", "event_id", "event_type", 5)


def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trapezoidal time-weighted mean of `value` per user
    (temporal.time_weighted_mean — TimescaleDB time_weight('Linear')
    semantic): integral of the linearly-interpolated series over time,
    divided by the observed span. Exact BIGINT surfaces (2-dp
    fixed-point values x integer-ms durations) + one IEEE division."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        time_weighted_mean,
    )

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_mean(ev, "user_id", "ts", "event_id", "value")


def q_entity_name_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: typo-class name MATCHING
    (dedup.editdist_pairs — blocked Levenshtein over the distinct-name
    dictionary) chained into transitive-closure CLUSTERING
    (dedup.connected_components — union-find on the driver, since the
    name graph is dictionary-sized), the canonical record-linkage
    pipeline (Fellegi-Sunter matching + clustering stage). Output:
    every distinct part name with its cluster representative (min name
    reachable via <=2-edit links; singletons represent themselves).
    The oracle recomputes the closure with a recursive CTE — certifying
    pair generation AND the clustering against a different algorithm."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        connected_components,
        editdist_pairs,
    )

    part = load_table(spark, sf_dir, "part")
    pairs = editdist_pairs(part, "p_name", max_dist=2)
    labels = connected_components(pairs, "name_a", "name_b")
    names = part.select(F.col("p_name").alias("name")).distinct()
    # labels is dictionary-sized but unbounded at corpus scale: pin a
    # shuffle-HASH join (no sort) rather than broadcast; both sides are
    # already hash-partitionable on the name key
    return names.join(
        labels.hint("shuffle_hash"), names["name"] == labels["node"], "left"
    ).select(
        "name", F.coalesce(F.col("cluster_id"), F.col("name")).alias("cluster")
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring grid (analytics.rfm_segments): recency /
    frequency / monetary ntile(5) scores over deterministic total
    orders, aggregated to the n^3-bounded segment grid. Every ntile
    runs the distributed global_ranks composition (range shuffle +
    broadcast offsets) — no single-reducer window; the oracle uses
    DuckDB's native ntile over the same total orders, certifying the
    distributed bucket formula against the engine-native one."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import rfm_segments

    orders = load_table(spark, sf_dir, "orders")
    return rfm_segments(orders, "o_custkey", "o_orderdate", "o_totalprice", 5)


def q_dup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster-size histogram (dedup.dup_size_histogram): the
    pre-dedup corpus diagnostic — clusters per multiplicity, digests
    shuffle (never text). Run on the part-NAME column (the fixture's
    documents are all-distinct, which would make the histogram a
    vacuous single row; part names repeat ~30x, a real multiplicity
    distribution)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        dup_size_histogram,
    )

    return dup_size_histogram(load_table(spark, sf_dir, "part"), "p_name")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window context chunking (sampling.chunk_documents):
    16-token windows, stride 8 (8-token overlap), last window reaching
    the tail — the split every pretraining/embedding pipeline applies
    before packing/encoding. Zero shuffle; chunk count in exact integer
    arithmetic; the oracle re-derives windows with generate_series +
    list slicing."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", max_tokens=16, stride=8)


def q_overlapping_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join (rangejoin.interval_overlap_join):
    pairs of orders by the SAME customer whose 14-day fulfillment
    windows [orderdate, orderdate+14d] overlap — order-burst detection,
    the two-sided range-join flavor (concurrency analysis) the
    point-in-interval queries can't express. Dates convert to integer
    epoch-days so bins and the overlap filter are exact integer
    arithmetic; orderkey order emits each unordered pair once. Banded
    on 32-day bins: both sides explode to covered bins, one hash
    equi-join on (custkey, bin), first-shared-bin equality dedups with
    NO distinct."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    o = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    lo = F.datediff(F.col("o_orderdate").cast("date"), epoch)
    base = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("uid"),
        lo.alias("lo"),
        (lo + 14).alias("hi"),
    )
    a = base.select(
        "custkey",
        F.col("uid").alias("uid_a"),
        F.col("lo").alias("lo_a"), F.col("hi").alias("hi_a"),
    )
    b = base.select(
        "custkey",
        F.col("uid").alias("uid_b"),
        F.col("lo").alias("lo_b"), F.col("hi").alias("hi_b"),
    )
    out = interval_overlap_join(
        a, b, "lo_a", "hi_a", "lo_b", "hi_b",
        bin_width=32, keys=["custkey"],
    ).where(F.col("uid_a") < F.col("uid_b"))
    return out.select(
        "custkey", "uid_a", "uid_b",
        (
            F.least("hi_a", "hi_b") - F.greatest("lo_a", "lo_b") + 1
        ).alias("overlap_days"),
    )


def q_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between label centroids
    (similarity.label_centroid_similarity): the cluster-separation
    diagnostic. Integer fixed-point component sums (centroid
    denominators cancel in cosine), DECIMAL(38,0) accumulation, one
    IEEE sqrt/divide per label pair; the pair relation is bounded by
    |labels|²·dim, never corpus size."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        label_centroid_similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return label_centroid_similarity(emb, "embedding", "label")


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier report per user
    (analytics.robust_outlier_stats): the 50%-breakdown sibling of the
    z-score anomaly queries — one wild value can't mask itself. All
    surfaces exact integers: doubled medians (med2 = 2·med,
    mad4 = 4·MAD) keep even-count midpoints integral; the
    |v−med| > 1.5·MAD rule runs as pure-integer 2·|2v−med2| > 3·mad4."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        robust_outlier_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    return robust_outlier_stats(ev, "user_id", "value")


def q_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked-backfill planner: split the event history into 8
    EQUI-DEPTH time ranges (equal row counts, not equal wall-time — a
    traffic spike would otherwise starve 7 workers) for parallel
    historical sync — the planning step in front of the reference's
    incremental cursor (tap-redshift/src/sync.py bookmark loop, which
    replays history through ONE cursor). Buckets via the distributed
    `with_ntile` (range shuffle + broadcast offsets, no single-reducer
    window); per-bucket (start_us, end_us, n_rows) aggregate map-side
    combined."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        with_ntile,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    tiled = with_ntile(
        ev, [F.col("ts_us").asc(), F.col("event_id").asc()], 8, "bucket"
    )
    return tiled.groupBy("bucket").agg(
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negative_topk): for every
    40th vector as a query, the 5 most-cosine-similar vectors with a
    DIFFERENT label — the contrastive-training negative set. One corpus
    scan against the broadcast query batch, JVM fold cosine, per-query
    windowed top-k with deterministic rounded-value + id ranking."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        hard_negative_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    queries_df = emb.where(F.col("vec_id") % 40 == 0)
    return hard_negative_topk(
        queries_df, emb, "embedding", "vec_id", "label", k=5
    )


def q_k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (privacy.k_anonymity_report): equivalence
    classes over the quasi-identifier pair (nation, market segment) on
    the customer extract, k=5 — the release gate a pipeline shipping
    user-derived rows to an external API must pass. One groupBy, class
    table bounded by distinct quasi combinations."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.privacy import (
        k_anonymity_report,
    )

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_report(cust, ["c_nationkey", "c_mktsegment"], 5)


def q_l_diversity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (privacy.l_diversity_report): within each
    (status, priority) quasi class, how many DISTINCT customers the
    class contains — a homogeneous class leaks the sensitive value
    even when k-anonymous. Exact countDistinct, one logical shuffle."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.privacy import (
        l_diversity_report,
    )

    orders = load_table(spark, sf_dir, "orders")
    return l_diversity_report(
        orders, ["o_orderstatus", "o_orderpriority"], "o_custkey", 3
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the mined co-purchase edge list once (the stage-once/
    probe-many pattern every signature family uses): the a-priori pair
    mining costs several shuffles over lineitem, and BOTH copurchase
    queries consume the same edges — staging turns the second consumer
    into a parquet read. The oracle recomputes the pairs independently
    in SQL, so the staged artifact is certified, not trusted."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        frequent_item_pairs,
    )
    return stage(
        spark, f"{stage_dir(sf_dir)}/copurchase_edges.parquet",
        lambda: frequent_item_pairs(
            load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
            min_pair_support=3, min_item_support=2,
        ),
    )


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori pruned market-basket pairs (basket.frequent_item_pairs):
    parts co-ordered in >= 3 orders, each self-join side pre-filtered
    to items in >= 2 baskets — the a-priori property bounds the
    quadratic basket self-join before it happens. Pair + both item
    supports (lift/confidence numerators come free). Edge list staged
    once (shared with copurchase_triangles)."""
    return _copurchase_edges(spark, sf_dir)


def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count (basket.triangle_count) of the co-purchase
    graph (edges = part pairs co-ordered >= 3 times): degree-oriented
    wedge enumeration — wedges only open at the LOW-degree endpoint,
    the bound that survives hub skew at 100 TB — closed by a semi-join
    against the canonical edge set. One audit row. Consumes the staged
    edge list (shared with copurchase_pairs) — the mining shuffles are
    paid once per corpus version, the triangle pass reads parquet."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        triangle_count,
    )

    edges = _copurchase_edges(spark, sf_dir)
    return triangle_count(edges, "item_a", "item_b")


def q_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (analytics.benford_first_digit) on
    order totals: observed vs log-uniform expected digit shares in
    integer ppm (expected shares are fixed-point literals; observed
    uses BIGINT floor-division — no float crosses the hash). <= 9
    output rows from one shuffle."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        benford_first_digit,
    )

    orders = load_table(spark, sf_dir, "orders")
    return benford_first_digit(orders, "o_totalprice")


def q_price_quantiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles per priority class
    (analytics.group_quantiles_disc): the element at rank ceil(q*n) in
    (price, orderkey) order — an actual data value, bit-identical
    cross-engine, no percentile_approx sketch error. One grouped
    window + a map-side rank filter; quantile fan-out via a single
    explode, not per-quantile re-windows."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        group_quantiles_disc,
    )

    orders = load_table(spark, sf_dir, "orders")
    return group_quantiles_disc(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    )


def q_group_kfold_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free k-fold split (sampling.group_kfold): fold is a pure
    md5 function of the CUSTOMER key, so all of a customer's orders
    share a fold (the split discipline that keeps same-user rows out
    of both train and eval). Certified as per-fold totals: orders,
    distinct customers, fixed-point revenue."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        group_kfold,
    )

    orders = load_table(spark, sf_dir, "orders")
    return (
        group_kfold(orders, "o_custkey", 5)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.sum(
                F.col("o_totalprice").cast("decimal(18,2)") * 100
            ).cast("long").alias("revenue_fp"),
        )
    )


def q_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution quality screen (text.char_entropy_profile):
    per-document counts over a fixed 37-symbol alphabet via 37
    whole-stage-codegen length-replace expressions — NO explode, no
    shuffle, evaluated at the scan — plus the integer bit-length
    entropy surrogate (lm.bigram_surprisal's idiom: bitlen replaces
    libm log so DuckDB reproduces it exactly). Certified per-source as
    aggregate moments to keep the row count bounded."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        char_entropy_profile,
    )

    docs = load_table(spark, sf_dir, "documents")
    prof = char_entropy_profile(docs, "text", "doc_id")
    src = docs.select(F.col("doc_id").alias("doc"), "source")
    return (
        prof.join(src, "doc")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ent_bits_x_n").cast("long").alias("sum_ent_bits_x_n"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("distinct_symbols").cast("int").alias("min_distinct"),
            F.max("top_symbol_count").cast("long").alias("max_top_count"),
        )
    )


def q_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard (analytics.churn_hazard): the
    Kaplan-Meier life table in integer-exact form over purchase
    activity — per 3-day tenure bucket, users still at risk vs last
    seen there, hazard as ppm BIGINT floor-div. One user-key shuffle +
    a reverse cumsum over the span-bounded life table."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import churn_hazard

    ev = load_table(spark, sf_dir, "events")
    return churn_hazard(
        ev.where(F.col("event_type") == "purchase"), "user_id", "ts", 3
    )


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve (analytics.cohort_ltv): customers grouped by
    first-order month; per (cohort, age-in-months) the period and
    CUMULATIVE fixed-point revenue — cohort month from a per-user min
    window (no join-back re-scan), cumsum over the bounded months²
    matrix. Exact integer month arithmetic."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import cohort_ltv

    orders = load_table(spark, sf_dir, "orders")
    return cohort_ltv(orders, "o_custkey", "o_orderdate", "o_totalprice")


def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (temporal.linear_attribution):
    every click/view in the 7 days before a purchase shares the credit
    equally, in integer ppm with the remainder pinned to the most
    recent touch — per-conversion credit sums to exactly 1,000,000
    (machine-checked in tests). One shuffle_hash user join + one
    conversion-partitioned window."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        linear_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase")
    touch = ev.where(F.col("event_type").isin("click", "view"))
    return linear_attribution(
        conv, touch, "user_id", "ts", "ts", "event_id", "event_id",
        window_days=7,
    )


def q_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule (sampling.curriculum_phases): per source,
    documents ordered easy->hard by length and cut into 4 phases of
    equal TOKEN budget (not doc count) — phase from exact integer
    prefix-weight arithmetic, per-stratum windows only (no global
    sort)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        curriculum_phases,
    )

    docs = load_table(spark, sf_dir, "documents")
    return curriculum_phases(
        docs, "source", "n_chars", "n_chars", "doc_id", 4
    )


def q_ann_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (similarity.rrf_fusion) of two exact
    retrievers over the same query — cosine top-20 and inner-product
    (MIPS) top-20 — fused as sum(1e6 div (60 + rank)), top-10. The
    hybrid-retrieval combiner in its integer-exact form: RRF consumes
    only RANKS, so the ppm form loses nothing and hash-checks
    cross-engine. The fusion itself runs on 2x20 rows; the heavy
    lifting stays in the upstream top-k scans."""
    from pyspark.sql import Window as W

    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        dot_to_query,
        rrf_fusion,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qv = _query_vec(spark, sf_dir)
    cos = brute_force_topk(emb, "embedding", "vec_id", qv, k=20)
    # rank windows run over the 20-row top-k relations — bounded by k,
    # never by the corpus
    cos_r = cos.withColumn(
        "rank",
        F.row_number().over(
            W.orderBy(F.desc("cosine"), F.asc("vec_id"))
        ),
    )
    dot = (
        emb.select(
            "vec_id",
            F.round(dot_to_query(F.col("embedding"), qv), 6).alias("dot"),
        )
        .orderBy(F.desc("dot"), F.asc("vec_id"))
        .limit(20)
    )
    dot_r = dot.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.desc("dot"), F.asc("vec_id"))),
    )
    return rrf_fusion([cos_r, dot_r], "vec_id", topn=10)


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width profiling histogram (quality.histogram_fixed): order
    totals over explicit [0, 600000) bounds in 24 buckets — fixed-point
    integer bucket arithmetic (cents, BIGINT div), out-of-range mass
    clamped into the edge buckets, one <= n_bins-key groupBy."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        histogram_fixed,
    )

    orders = load_table(spark, sf_dir, "orders")
    return histogram_fixed(orders, "o_totalprice", 0.0, 600000.0, 24)


def q_event_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type changepoint (analytics.mean_shift_changepoint):
    the binary-segmentation mean-shift statistic over the daily count
    series, integers end-to-end (cross-multiplied numerator, ppm
    floor-div), argmax split per key with earliest-day tiebreak. The
    corpus collapses to (key, day) once; all windows run on the
    span-bounded daily series."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        mean_shift_changepoint,
    )

    ev = load_table(spark, sf_dir, "events")
    return mean_shift_changepoint(ev, "event_type", "ts", min_side=3)


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands streaks (temporal.activity_streaks): per user
    the longest / current consecutive-day activity streak via the
    day - row_number island id — distinct (user, day) in one shuffle,
    then per-key bounded work only. Date-integer arithmetic,
    cross-engine exact."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        activity_streaks,
    )

    ev = load_table(spark, sf_dir, "events")
    return activity_streaks(ev, "user_id", "ts")


def q_next_error_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (temporal.asof_join_forward): for each
    purchase, the user's earliest error at-or-after it — the mirrored
    union+carry design (first_value over a forward frame), one
    user-key shuffle, no row explosion under skew; unmatched purchases
    survive with NULLs (left semantics). Timestamps surfaced as epoch
    micros for the cross-engine hash."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        asof_join_forward,
    )

    ev = load_table(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    errs = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("e_ts"),
        F.col("event_id").alias("error_id"),
    )
    out = asof_join_forward(
        purch, errs, "user_id", "p_ts", "e_ts", ["error_id", "e_ts"],
        right_tiebreak="error_id",
    )
    return out.select(
        "user_id", "purchase_id",
        F.unix_micros("p_ts").alias("p_ts_us"),
        "error_id",
        F.unix_micros("e_ts").alias("e_ts_us"),
    )


def q_readability_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Flesch readability (text.readability_scores): words /
    sentence-runs / vowel-group syllable proxy counted by three shared
    RE2-safe regexes at the scan (no explode, no shuffle); the score in
    milli-units via BIGINT floor-division — the float constant stack
    replaced by exact arithmetic."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        readability_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    return readability_scores(docs, "text", "doc_id")


def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality (analytics.weekday_seasonality): per
    event type the dow activity share and deviation from uniform in
    ppm; dow computed portably from epoch days ((d+4) mod 7) — engine
    dayofweek conventions differ and never touch the plan."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        weekday_seasonality,
    )

    ev = load_table(spark, sf_dir, "events")
    return weekday_seasonality(ev, "event_type", "ts")


def q_status_history_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history build (analytics.scd2_from_changelog):
    per-customer order-status runs collapsed into validity intervals
    [valid_from, valid_to) — lag-based change detection + lead-based
    interval close, two windows sharing one key exchange; current
    intervals keep NULL valid_to. Timestamps as epoch micros."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        scd2_from_changelog,
    )

    orders = load_table(spark, sf_dir, "orders")
    return scd2_from_changelog(
        orders, "o_custkey", "o_orderdate", "o_orderstatus", "o_orderkey"
    )


def q_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth per priority class (analytics.mom_growth):
    fixed-point monthly revenue, previous month, delta as ppm of the
    previous (BIGINT div — Spark div and DuckDB // both truncate toward
    zero, so negative growth hashes identically); NULL on first
    months."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        mom_growth,
    )

    orders = load_table(spark, sf_dir, "orders")
    return mom_growth(orders, "o_orderpriority", "o_orderdate", "o_totalprice")


def q_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl supply-concentration per part
    (analytics.concentration_hhi): supplier revenue shares in basis
    points, HHI = sum of squared bps shares — all-BIGINT (shares
    floor-div once, squares exact), two groupBys sharing the part
    key."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        concentration_hhi,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return concentration_hhi(li, "l_partkey", "l_suppkey", "l_extendedprice")


def q_stratified_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample (sampling.stratified_quota_sample):
    exactly min(10, |stratum|) docs per source in md5-hash order —
    deterministic, engine-reproducible, WindowGroupLimit-bounded (map
    tasks forward <= quota rows per stratum). The eval-set builder."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        stratified_quota_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return stratified_quota_sample(docs, "source", "doc_id", 10).select(
        "source", "doc_id", "n_chars"
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best exact dedup (dedup.exact_dedup_keep_best): within each
    normalized-name duplicate cluster the highest-retail-price part
    survives (id tiebreak) — the curation policy that prefers the
    curated copy over the lexicographically lucky one. One digest-key
    exchange; shuffle rows carry (digest, id, score), never text."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        exact_dedup_keep_best,
    )

    part = load_table(spark, sf_dir, "part")
    return exact_dedup_keep_best(part, "p_name", "p_partkey", "p_retailprice")


def q_token_drift_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift (text.token_drift_tv): total-variation
    contributions between two corpus slices (sources 0-4 vs the rest)
    in integer ppm — the 'what changed in this crawl' report without
    PSI/KL's libm logs. Both sides counted in ONE conditional-sum pass
    over a single token explode; top-20 drifting tokens."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        token_drift_tv,
    )

    docs = load_table(spark, sf_dir, "documents")
    side = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    return token_drift_tv(docs, "text", side, top_k=20)


def q_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution
    (temporal.time_decay_attribution): half-life 2 days as integer
    power-of-two staircase weights (1e6 div 2^(age div hl)), normalized
    per conversion with the remainder pinned to the most recent touch —
    credits sum to exactly 1e6. Completes the attribution triple
    (last-touch asof, linear, time-decay)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        time_decay_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase")
    touch = ev.where(F.col("event_type").isin("click", "view"))
    return time_decay_attribution(
        conv, touch, "user_id", "ts", "ts", "event_id", "event_id",
        half_life_days=2, window_days=7,
    )


def q_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-data screen (similarity.label_outlier_screen): each
    vector's cosine to its OWN label centroid — fixed-point component
    sums with the centroid denominator cancelled, DECIMAL(38,0)
    accumulation, one IEEE sqrt/divide per vector. Linear in corpus
    cells; the component table is |labels|·dim and broadcast."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        label_outlier_screen,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    return label_outlier_screen(emb, "embedding", "vec_id", "label")


def q_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification (analytics.abc_analysis): parts ranked
    by revenue, classes cut at 80%/95% of CUMULATIVE revenue — the
    distributed cumulative comes from analytics.global_prefix_sum
    (range shuffle + pid-windows + broadcast offsets), never a
    single-reducer global window over the catalog. Classes from the
    exclusive prefix share, all integer ppm."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        abc_analysis,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return abc_analysis(li, "l_partkey", "l_extendedprice")


def q_trimmed_mean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trimmed mean (analytics.trimmed_mean): drop the lowest and
    highest 5% of orders BY RANK per priority class, fixed-point mean
    of the survivors — robust location with exact integer semantics
    (no percentile estimate, no float mean)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        trimmed_mean,
    )

    orders = load_table(spark, sf_dir, "orders")
    return trimmed_mean(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey", 50
    )


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules (basket.association_rules) over the
    staged co-purchase edges: confidence and lift in integer ppm
    (lift > 1e6 = positive association), top-30 by lift. Runs on the
    support-bounded edge relation — no new corpus pass beyond the
    basket count scalar."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        association_rules,
    )

    edges = _copurchase_edges(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    n_baskets = li.select("l_orderkey").distinct().count()
    return association_rules(edges, n_baskets, top_k=30)


def q_copurchase_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram (basket.degree_distribution) of the staged
    co-purchase graph — hub detection before the triangle pass. Two
    groupBys over the edge relation."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        degree_distribution,
    )

    edges = _copurchase_edges(spark, sf_dir)
    return degree_distribution(edges, "item_a", "item_b")


def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sync reconciliation fingerprint (quality.table_fingerprint):
    row count + order-independent md5-sum checksum + key bounds, one
    aggregation pass — run on source and sink, equal fingerprints mean
    equal key multisets; the bounds localize mismatches for bisection.
    The reference-domain audit (did every tapped row land?) as a
    single-row relational op."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        table_fingerprint,
    )

    cust = load_table(spark, sf_dir, "customer")
    return table_fingerprint(cust, ["c_custkey", "c_name"])


def q_conversion_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen (quality.contingency_chi2): does
    order-fulfillment rate (status F) differ by priority class beyond
    chance — per-cell contributions with obs/expected CROSS-MULTIPLIED
    in DECIMAL(38,0) and one BIGINT floor-div per cell; no float
    division anywhere (decimal `/` rounding differs across engines)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        contingency_chi2,
    )

    orders = load_table(spark, sf_dir, "orders")
    return contingency_chi2(
        orders, "o_orderpriority", F.col("o_orderstatus") == "F"
    )


def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori depth-3 (basket.frequent_item_triples): part triples
    co-ordered >= 2 times — candidates generated from the frequent-PAIR
    lattice ((a,b) joins (a,c), third edge semi-checked) so the 3-way
    basket join only counts candidate-pruned items. The oracle's plain
    3-way join is equivalent because triple support >= min implies
    every pair's support >= min (the a-priori property itself)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        frequent_item_triples,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return frequent_item_triples(li, "l_orderkey", "l_partkey", 2, 2)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level novelty screen (text.ngram_novelty): per document,
    the ppm fraction of its distinct word 3-grams occurring in NO other
    document — templated/syndicated text scores near 0. Distinct
    (doc, gram) relation -> gram-key counts -> shuffle_hash join back;
    counts, never text, cross the second exchange."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        ngram_novelty,
    )

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, "text", "doc_id", 3)


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAU-waterfall growth accounting (analytics.growth_accounting):
    per month, actives split into new/retained/resurrected by each
    customer's previous active month, plus how many of the month's
    actives lapse after it (last month censored). Exact integer month
    indices; one user-key shuffle + user-keyed lag/lead windows."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        growth_accounting,
    )

    orders = load_table(spark, sf_dir, "orders")
    return growth_accounting(orders, "o_custkey", "o_orderdate")


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini revenue-concentration per priority class
    (analytics.gini_coefficient): the exact discrete Gini in integer
    ppm — rank-weighted sums in DECIMAL(38,0), one floor-div at the
    end; members collapse to one row each before any window."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        gini_coefficient,
    )

    orders = load_table(spark, sf_dir, "orders")
    return gini_coefficient(
        orders, "o_orderpriority", "o_custkey", "o_totalprice"
    )


def q_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-adjusted anomaly screen (analytics.seasonal_residuals):
    each (event_type, day) count vs the type's own day-of-week
    baseline, residual as cross-multiplied ppm — integers end-to-end,
    no float rates. The stream collapses to the daily relation once."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        seasonal_residuals,
    )

    ev = load_table(spark, sf_dir, "events")
    return seasonal_residuals(ev, "event_type", "ts")


def q_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry/exit matrix (temporal.session_entry_exit): gap-rule
    sessions' first and last event types with bounce counts — the
    landing/exit-page analysis, one user-key exchange end-to-end."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        session_entry_exit,
    )

    ev = load_table(spark, sf_dir, "events")
    return session_entry_exit(
        ev, "user_id", "ts", "event_id", "event_type"
    )


def q_label_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette-lite label margin (similarity.label_margin_screen):
    per vector, cosine to its own centroid minus best cosine to any
    OTHER centroid — negative margin = mislabel candidate. Fixed-point
    component sums with cancelled denominators; the per-vector
    candidate relation is |labels|-bounded."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        label_margin_screen,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    return label_margin_screen(emb, "embedding", "vec_id", "label")


def q_event_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer lag-1/lag-7 autocorrelation of daily event counts
    (analytics.daily_autocorrelation): mean-centered products
    cross-multiplied to n²-scaled integers (DECIMAL(38,0)), one ppm
    floor-div per lag; gap-aware lag pairing (a missing day breaks the
    pair, never silently shifts it)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        daily_autocorrelation,
    )

    ev = load_table(spark, sf_dir, "events")
    return daily_autocorrelation(ev, "event_type", "ts", lags=[1, 7])


def q_media_wav_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio roundtrip certified cross-engine: per document, 256
    int16 PCM samples from the SQL-expressible formula
    s[i] = ((n_chars * (i+1)) % 65536) - 32768 are ENCODED to a genuine
    RIFF/WAVE stream (multimodal.wav_encode) and DECODED back through
    WavCodec's PCM reader inside one mapInPandas stage; the emitted
    sample count, sum, and position-weighted sum hash-match DuckDB
    computing the formula directly — one mis-parsed header field or
    frame offset breaks the hash. The audio analog of
    media_png_roundtrip_stats. Declared Python edge (mapInPandas)."""
    import numpy as np
    import pandas as pd

    from redshift_to_pendo_api_data_pipeline_spark.operators.multimodal import (
        WavCodec,
        wav_encode,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _roundtrip(batches):
        idx = np.arange(256, dtype=np.int64) + 1
        for pdf in batches:
            out = {"doc_id": [], "n_samples": [], "sum_s": [], "possum_s": []}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                s = (((int(n_chars) * idx) % 65536) - 32768).astype("<i2")
                pcm, _rate = WavCodec._pcm(wav_encode(s, 16000))
                dec = pcm.astype(np.int64)
                out["doc_id"].append(doc_id)
                out["n_samples"].append(int(dec.shape[0]))
                out["sum_s"].append(int(dec.sum()))
                out["possum_s"].append(int((dec * idx).sum()))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        _roundtrip,
        schema="doc_id long, n_samples long, sum_s long, possum_s long",
    )


def q_arrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness screen (analytics.arrival_burstiness):
    per event type, mean gap and CV² in integer ppm (1e6 ≈ Poisson;
    above = bursty, below = scheduled) — cross-multiplied µs integers
    in DECIMAL(38,0), one key shuffle, lag gaps per key."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        arrival_burstiness,
    )

    ev = load_table(spark, sf_dir, "events")
    return arrival_burstiness(ev, "event_type", "ts", "event_id")


def q_consistent_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash re-sharding audit (layout.shard_assignment):
    customers assigned to 8 shards and to the same ring grown to 9 —
    the (before, after) transition matrix proves the consistent-hash
    property (only ~1/9 of keys move; modulo hashing would move ~8/9).
    ZERO-shuffle assignment: the ring is a sorted literal struct array,
    lookup is filter + array_min per row in codegen; the oracle does
    the same lookup as a bounded cross join + min_by — a different
    plan shape certifying the same ring arithmetic."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.layout import (
        shard_assignment,
    )

    from redshift_to_pendo_api_data_pipeline_spark.operators.layout import (
        ring_point,
    )

    cust = load_table(spark, sf_dir, "customer")
    s8 = [f"shard{i}" for i in range(8)]
    # both ring lookups are withColumn expressions: chain them on the
    # SAME row with the md5 ring point computed ONCE — one scan, zero
    # joins, one hash (the previous form self-joined the corpus on
    # c_custkey AND paid the md5/conv twice; hash-identical result)
    pointed = cust.select("c_custkey").withColumn(
        "__pt", ring_point("c_custkey")
    )
    a = shard_assignment(pointed, "c_custkey", s8, 16, point_col="__pt")
    ab = shard_assignment(
        a, "c_custkey", s8 + ["shard8"], 16,
        out_col="shard_after", point_col="__pt",
    )
    return (
        ab.groupBy("shard", "shard_after")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    )


def q_token_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence lift — the basket operators applied to TEXT
    (baskets = documents, items = distinct tokens): a-priori pruned
    token pairs co-occurring in >= 150 docs, scored as directed rules
    with integer-ppm confidence/lift (the PMI-style collocation signal
    without logs). One operator family, two domains — the registry's
    operator-reuse proof."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        association_rules,
        frequent_item_pairs,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("b"),
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("t"),
    ).where(F.col("t") != "")
    edges = frequent_item_pairs(
        toks, "b", "t", min_pair_support=150, min_item_support=150
    )
    n_docs = docs.count()
    return association_rules(edges, n_docs, top_k=30)


def q_doc_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidates over documents
    (operators/linkage.sorted_neighborhood_pairs): records sorted by a
    64-char normalized-text prefix key, all pairs within a rank window
    of 4, verified with a BOUNDED prefix edit distance (levenshtein on
    the 64-char keys, <= 20) — the Hernández–Stolfo blocking strategy
    that catches typo-class near-dups hash blocking misses. The global
    rank is the distributed range-partitioned form (no single-reducer
    window); candidates are n·window, never n²."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import normalize_text
    from redshift_to_pendo_api_data_pipeline_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.substring(normalize_text(F.col("text")), 1, 64).alias("key"),
    )
    pairs = sorted_neighborhood_pairs(keyed, "doc_id", "key", window=4)
    return (
        pairs.withColumn(
            "dist", F.levenshtein("key_a", "key_b").cast("long")
        )
        .where(F.col("dist") <= 20)
        .select("id_a", "id_b", "rank_gap", "dist")
    )


def _linkage_pairs_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the FS-scored part pairs once (stage-once/probe-many, the
    copurchase-edges pattern): three consumers (the pair query, the
    mutual-best-match refinement, the golden-record merge) read the
    parquet instead of re-running the blocked quadratic + 8M
    levenshteins each. The oracle recomputes the pairs independently
    in SQL, so the staged artifact is certified, not trusted."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.linkage import (
        linkage_scores,
    )

    parts = load_table(spark, sf_dir, "part")
    # r8 s2 candidate tightening (the SCALE.md §10 watch item made
    # concrete): the published threshold (>= 20) is REACHABLE ONLY when
    # the name rule (+18/−10) and the type rule (+12/−8) both agree
    # (18+12−4 = 26 >= 20, but 18−8+6 = 16 < 20), so TYPE EQUALITY and
    # the name length-band (levenshtein <= 3 ⇒ |len diff| <= 3 ⇒ same
    # or adjacent len-div-3 band) can join the block key without
    # changing the surviving pair set — the blocked quadratic drops
    # from |brand block|² (~8.6k² per brand at sf1, measured 266 s) to
    # (brand, type, band)-local products (~2 s). Result-identical:
    # every excluded candidate scores < 20 by construction, and the
    # oracle still recomputes pairs from the brand-only definition.
    # r11 dictionary collapse (the `name_editdist_pairs` design applied
    # to the linkage arc; measured on the sf3 fixture census): the
    # levenshtein candidate join now runs over DISTINCT
    # (brand, type, name) dictionary entries — 5.8x fewer candidate
    # pairs at every SF (sf3: 1.26B row-level vs 218M dictionary-level
    # same-band products) — and row pairs hydrate from the SURVIVING
    # dictionary pairs only (two name-keyed joins, linear in rows +
    # output). Result-identical: every row pair's name rule depends
    # only on the name pair, and the dictionary join keeps exactly the
    # lev <= 3 name pairs, which is implied by every surviving score
    # (>= 20 is reachable only with name AND type agreement — the r8
    # tightening). The remaining quadratic is the dictionary blocked
    # product itself, Σ|dict block|² — the documented blocked-linkage
    # bound (SCALE.md §10e); at 100 TB the lever is a more
    # discriminative blocking config, not a bigger cluster.
    band = F.expr("CAST(length(p_name) AS BIGINT) div 3")
    dic = parts.select(
        F.col("p_brand").alias("__blk"),
        F.col("p_type").alias("__type"),
        F.col("p_name").alias("__name"),
    ).distinct()
    a = dic.select(
        F.col("__name").alias("name_a"), "__blk", "__type",
        F.explode(
            F.array(
                F.expr("CAST(length(__name) AS BIGINT) div 3") - 1,
                F.expr("CAST(length(__name) AS BIGINT) div 3"),
                F.expr("CAST(length(__name) AS BIGINT) div 3") + 1,
            )
        ).alias("__band"),
    )
    b = dic.select(
        F.col("__name").alias("name_b"), "__blk", "__type",
        F.expr("CAST(length(__name) AS BIGINT) div 3").alias("__band"),
    )
    # width pin (SCALE.md AQE compute-amplification trap): the
    # (brand, type, band) exchanges are byte-small, so AQE coalesces
    # the levenshtein-amplified join stage to ~2 tasks (profiled 2 x
    # 1.0 s serial at sf0.1); a user-pinned repartition on the join
    # keys is AQE-exempt and keeps both sides at full width
    a = a.repartition(
        spark.sparkContext.defaultParallelism, "__blk", "__type", "__band"
    )
    # ALL ordered dictionary name pairs (diagonal included — exact-dup
    # rows share one dictionary entry) surviving the name rule
    dict_pairs = (
        a.join(b.hint("shuffle_hash"), ["__blk", "__type", "__band"])
        .where(F.levenshtein("name_a", "name_b") <= 3)
        .drop("__band")
    )
    rows_a = parts.select(
        F.col("p_partkey").alias("k_a"), F.col("p_name").alias("name_a"),
        F.col("p_type").alias("type_a"), F.col("p_size").alias("size_a"),
        F.col("p_brand").alias("__blk"), F.col("p_type").alias("__type"),
    )
    rows_b = parts.select(
        F.col("p_partkey").alias("k_b"), F.col("p_name").alias("name_b"),
        F.col("p_type").alias("type_b"), F.col("p_size").alias("size_b"),
        F.col("p_brand").alias("__blk"), F.col("p_type").alias("__type"),
    )
    par = spark.sparkContext.defaultParallelism
    cand = (
        dict_pairs.repartition(par, "__blk", "__type", "name_a")
        .join(rows_a.hint("shuffle_hash"), ["__blk", "__type", "name_a"])
        .join(rows_b.hint("shuffle_hash"), ["__blk", "__type", "name_b"])
        .where(F.col("k_a") < F.col("k_b"))
        .drop("__blk", "__type")
    )
    scored = linkage_scores(
        cand,
        [
            ("name_sim", F.levenshtein("name_a", "name_b") <= 3, 18, -10),
            ("type_eq", F.col("type_a") == F.col("type_b"), 12, -8),
            ("size_near", F.abs(F.col("size_a") - F.col("size_b")) <= 1, 6, -4),
        ],
    )
    return stage(
        spark, f"{stage_dir(sf_dir)}/linkage_pairs.parquet",
        lambda: scored.where(F.col("link_score") >= 20).select(
            "k_a", "k_b", "link_score", "agree_mask"
        ),
    )


def q_part_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record linkage over the part master
    (operators/linkage.linkage_scores): candidates blocked on p_brand
    (the reference's synced entity tables carry exactly this shape —
    tap-redshift discover.py:20-54 enumerates them, then linkage is the
    first curation ask), scored with integer agree/disagree weights on
    three fields: name edit distance <= 3 (+18/−10), type equality
    (+12/−8), size within 1 (+6/−4). Pairs scoring >= 20 (name AND type
    must agree) surface with the per-field agreement bitmask. The
    scored relation stages once; the mutual-best-match and
    golden-record queries consume the same parquet."""
    return _linkage_pairs_staged(spark, sf_dir)


def q_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency mining across the full synced schema
    (operators/linkage.inclusion_dependencies): the FK-discovery
    complement of the reference's PK scan (tap-redshift reads DECLARED
    constraints from information_schema; real warehouses declare none,
    so migration tooling mines them). Ten candidates — the seven true
    TPC-H-ish FKs, one cross-domain link (events.user_id → customers),
    one reversed edge and one junk pair — each reported with distinct
    child values, violation count, and containment ppm."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.linkage import (
        inclusion_dependencies,
    )

    t = {
        n: load_table(spark, sf_dir, n)
        for n in ["customer", "orders", "lineitem", "part", "supplier",
                  "nation", "region", "events"]
    }
    cands = [
        ("orders.o_custkey", t["orders"], "o_custkey",
         "customer.c_custkey", t["customer"], "c_custkey"),
        ("lineitem.l_orderkey", t["lineitem"], "l_orderkey",
         "orders.o_orderkey", t["orders"], "o_orderkey"),
        ("lineitem.l_partkey", t["lineitem"], "l_partkey",
         "part.p_partkey", t["part"], "p_partkey"),
        ("lineitem.l_suppkey", t["lineitem"], "l_suppkey",
         "supplier.s_suppkey", t["supplier"], "s_suppkey"),
        ("customer.c_nationkey", t["customer"], "c_nationkey",
         "nation.n_nationkey", t["nation"], "n_nationkey"),
        ("supplier.s_nationkey", t["supplier"], "s_nationkey",
         "nation.n_nationkey", t["nation"], "n_nationkey"),
        ("nation.n_regionkey", t["nation"], "n_regionkey",
         "region.r_regionkey", t["region"], "r_regionkey"),
        ("events.user_id", t["events"], "user_id",
         "customer.c_custkey", t["customer"], "c_custkey"),
        ("customer.c_custkey", t["customer"], "c_custkey",
         "orders.o_custkey", t["orders"], "o_custkey"),
        ("part.p_size", t["part"], "p_size",
         "nation.n_nationkey", t["nation"], "n_nationkey"),
    ]
    return inclusion_dependencies(cands)


def q_part_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge closing the linkage arc (block → score →
    cluster → merge, operators/linkage.golden_records): the
    Fellegi–Sunter pairs at score >= 20 become clusters via
    dedup.connected_components, unmatched parts stay singleton
    clusters, and each cluster resolves to ONE golden record — every
    field independently taking its modal value (count desc, value asc
    tiebreak). Returns multi-member clusters only (the merge report)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.linkage import (
        golden_records,
    )

    pairs = q_part_record_linkage(spark, sf_dir)
    cc = connected_components(pairs, id_a="k_a", id_b="k_b")
    parts = load_table(spark, sf_dir, "part")
    members = parts.join(
        cc.withColumnRenamed("node", "p_partkey").hint("shuffle_hash"),
        "p_partkey",
        "left",
    ).select(
        F.coalesce(F.col("cluster_id"), F.col("p_partkey")).alias("cluster"),
        "p_name", "p_type", "p_size", "p_brand",
    )
    return (
        golden_records(members, "cluster", ["p_name", "p_type", "p_size", "p_brand"])
        .where(F.col("n_members") >= 2)
        .select(
            "cluster", "n_members", "p_name", "p_type",
            F.col("p_size").cast("long").alias("p_size"), "p_brand",
        )
    )


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling over the customer×part implicit-
    feedback matrix (operators/sampling.negative_samples): positives =
    parts a customer actually ordered (orders ⋈ lineitem), negatives =
    5 md5-indexed non-interacted parts per customer, reproducible
    across engines and reruns (no RNG). The contrastive-training data
    generator every recsys/two-tower pipeline needs at corpus scale."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        negative_samples,
    )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    positives = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            lineitem.select("l_orderkey", "l_partkey").hint("shuffle_hash"),
            orders.o_orderkey == lineitem.l_orderkey,
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
    )
    return negative_samples(
        positives, "custkey", "partkey", part, "p_partkey", k=5
    )


def _ndcg_weights(k: int = 20, scale: int = 1_000_000) -> list[int]:
    """Integer rank discounts floor(scale/log2(r+1)) for r=1..k —
    computed ONCE in Python and embedded as literals in both the Spark
    plan and the DuckDB oracle, so neither engine ever evaluates a
    log."""
    import math

    return [int(scale / math.log2(r + 1)) for r in range(1, k + 1)]


def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the learned quality filter via the Mann–Whitney
    rank statistic (operators/classifier.exact_auc): tie-aware integer
    rank algebra over the per-distinct-logit relation — the
    threshold-free companion of classifier_calibration, answering 'did
    the classifier learn a RANKING' in one number. Reuses the staged
    features×weights artifacts (same training, one more consumer)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        exact_auc,
        score_logreg_fp,
    )

    feats, wfp = _classifier_stage(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("doc"),
        F.col("source").isin([f"src{i}" for i in range(5)])
        .cast("int").alias("y"),
    )
    scored = score_logreg_fp(feats, wfp).join(labels, "doc")
    return exact_auc(scored, "logit_fp", "y")


def q_join_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-cardinality profile of the lineitem×lineitem
    part-key self-join (operators/skew.join_size_profile) — the
    'predict the explosion before paying for it' planning diagnostic:
    sum(f(k)^2) join rows, the dominant key, and its skew share in ppm,
    all from two per-key count passes; the profiled join itself never
    runs."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.skew import (
        join_size_profile,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return join_size_profile(li, "l_partkey", li, "l_partkey")


def q_ann_ranking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-aware ANN audit (operators/similarity.ranking_metrics):
    MRR and integer-weighted NDCG@20 of all three ANN variants against
    the exact top-20 — set-level recall (embedding_ann_recall) can't
    distinguish 'found the best neighbor first' from 'found it at rank
    19'. Each ANN's RANKED list is staged; the oracle recomputes the
    exact ground truth independently and applies the identical integer
    rank discounts (floor(1e6/log2(r+1)), precomputed constants — no
    log evaluates in either engine)."""
    from pyspark.sql import Window
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
        ranking_metrics,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = _query_vec(spark, sf_dir)
    k = 20
    weights = _ndcg_weights(k)
    root = stage_dir(sf_dir)
    exact = brute_force_topk(emb, "embedding", "vec_id", q, k=k).select(
        "vec_id"
    )
    # rank assignment windows run over k-row relations (post-limit) —
    # bounded by contract, same exception class as the sketch sidecars
    w_rank = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    out = []
    for algo, topk in (
        ("lsh", lsh_topk(emb, "embedding", "vec_id", q, k=k)),
        ("ivf", ivf_topk(emb, "embedding", "vec_id", q, k=k, n_list=16,
                         n_probe=4,
                         cent_path=f"{root}/ivf_rank_centroids.parquet")),
        ("ivfpq", _ivfpq_topk(spark, sf_dir, k=k)),
    ):
        staged = stage(
            spark, f"{root}/ann_{algo}_rank.parquet",
            lambda: topk.withColumn(
                "rank", F.row_number().over(w_rank).cast("long")
            ).select("vec_id", "rank"),
        )
        out.append(
            ranking_metrics(staged, exact, "vec_id", "rank", weights)
            .select(
                F.lit(algo).alias("algo"), F.lit(k).alias("k"),
                "n_hits", "first_hit_rank", "dcg", "rr_scaled",
                "ndcg_scaled",
            )
        )
    return out[0].unionByName(out[1]).unionByName(out[2])


def q_candidate_keys_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key mining over orders (operators/linkage.
    candidate_keys): every single column and column pair scored by an
    EXACT distinct-tuple count, uniqueness in ppm, is_key flag.
    r8 plan: singles pass first, key-propagation makes every pair
    containing a proven key free (its n_distinct is n_rows by
    definition), and only the surviving sub-key pairs pay an exact
    distinct pass — vs the old single Expand x21 agg that shuffled up
    to 21 corpora. The discovery-side complement of the reference's
    declared-PK catalog scan (tap-redshift/src/discover.py) — a
    warehouse with no declared constraints gets its keys mined."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.linkage import (
        candidate_keys,
    )

    orders = load_table(spark, sf_dir, "orders")
    return candidate_keys(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
    )


def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer PageRank over the mined co-purchase
    graph (operators/basket.pagerank_fixed): 3 iterations, damping
    0.85, total mass 1e12 ppt — every arithmetic step integer
    floor-div, so the centrality ranking hash-checks cross-engine with
    the oracle unrolling the same 3 iterations as chained CTEs over
    the SAME staged edge parquet. Top-30 hub parts by rank."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        pagerank_fixed,
    )

    edges = _copurchase_edges(spark, sf_dir)
    pr = pagerank_fixed(edges, "item_a", "item_b", n_iter=3)
    return (
        pr.orderBy(F.desc("rank"), F.asc("node"))
        .limit(30)
        .select(F.col("node").alias("part"),
                F.col("rank").alias("rank_ppt"))
    )


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth at 25/50/75/100% corpus prefixes
    (operators/text.vocab_growth): each token maps ONCE to the rank of
    its first document, so every cutoff is a conditional count over the
    vocabulary relation — cutoffs never add corpus passes. The
    'will the tokenizer vocabulary fit at 100x' scaling read."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import vocab_growth

    docs = load_table(spark, sf_dir, "documents")
    return vocab_growth(docs, "text", "doc_id")


def q_zipf_token_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency head (operators/text.zipf_token_ranks):
    top-50 tokens with rank·frequency products — the boilerplate-
    dominance smell test read next to the duplicate-shingle rate."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        zipf_token_ranks,
    )

    docs = load_table(spark, sf_dir, "documents")
    return zipf_token_ranks(docs, "text", top_k=50)


def q_embedding_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA served at corpus scale (operators/similarity.train_pca_fp +
    pca_project_fp): train driver-side on the exact integer moment
    sidecar (one distributed pass; eigh on the dim²-bounded
    covariance), stage sign-canonicalized fixed-point components+mean,
    then project EVERY embedding with zero shuffles — map-side
    zip_with/aggregate integer dot products against component literals.
    The oracle re-derives every projection from the staged components
    and the raw embeddings with the identical round-half-away fixed-
    pointing — the trained artifact is auditable, not a black box."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        pca_project_fp,
        train_pca_fp,
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    root = stage_dir(sf_dir)
    comp_path = f"{root}/pca_components.parquet"
    mean_path = f"{root}/pca_mean.parquet"
    if reusable(spark, comp_path, mean_path):
        comp_rows = spark.read.parquet(comp_path).collect()
        mean_rows = spark.read.parquet(mean_path).collect()
        k = 1 + max(r["pc"] for r in comp_rows)
        dim = len(mean_rows)
        comps = [[0] * dim for _ in range(k)]
        for r in comp_rows:
            comps[r["pc"]][r["d"]] = int(r["comp_fp"])
        mean = [0] * dim
        for r in mean_rows:
            mean[r["d"]] = int(r["mean_fp"])
    else:
        # the trained ints are what the staged copy holds, so the
        # projection uses them directly; the oracle reads the copy
        comps, mean = train_pca_fp(emb, "embedding", k=3)
        stage_parquet(
            spark.createDataFrame(
                [(pc, d, c) for pc, comp in enumerate(comps)
                 for d, c in enumerate(comp)],
                "pc int, d int, comp_fp long",
            ),
            comp_path,
        )
        stage_parquet(
            spark.createDataFrame(
                [(d, m) for d, m in enumerate(mean)],
                "d int, mean_fp long",
            ),
            mean_path,
        )
    return pca_project_fp(emb, "embedding", "vec_id", comps, mean)


def q_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source compression-ratio quality screen (operators/text.
    compression_stats_staged + compression_quality): the Gopher
    'highly compressible = repetitive boilerplate' signal. zlib runs
    once in a declared Arrow edge and stages (doc, n_raw, n_comp);
    the screen itself is a pure-JVM join+groupBy over the staged
    relation, and the oracle re-derives the per-source report from the
    same staged artifact — the codec is test-pinned, the arithmetic is
    hash-certified."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        compression_quality,
        compression_stats_staged,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats = compression_stats_staged(
        docs, "text", "doc_id",
        f"{stage_dir(sf_dir)}/compress_stats.parquet",
    )
    return compression_quality(stats, docs, "doc_id", "source")


def q_part_mutual_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-best-match refinement of the Fellegi–Sunter pairs
    (operators/linkage.mutual_best_match): a pair survives only when
    each side is the other's single best partner — the high-precision
    ER filter that kills transitive chains before clustering. Same
    scored candidates as part_record_linkage, one window + one
    best-relation self-join."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.linkage import (
        mutual_best_match,
    )

    pairs = q_part_record_linkage(spark, sf_dir)
    return mutual_best_match(pairs, "k_a", "k_b", "link_score")


def q_event_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length histogram of per-user event streams
    (operators/temporal.run_length_encode): consecutive identical
    event types collapse to runs; the (event_type, run_len → n_runs)
    histogram is the rage-click / retry-storm / duplicate-beacon
    diagnostic. One key exchange shared by both windows and the
    collapse."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        run_length_encode,
    )

    ev = load_table(spark, sf_dir, "events")
    runs = run_length_encode(
        ev, "user_id", "event_type", ["ts", "event_id"]
    )
    return runs.groupBy("event_type", "run_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs")
    )


_WEAK_RULES = {
    "compute": ["join", "agg", "hash", "sort", "group"],
    "storage": ["table", "column", "scan", "row"],
    "streaming": ["stream", "window", "batch"],
}


def q_weak_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision labeling (operators/classifier.weak_label):
    keyword labeling functions vote per document with distinct-hit
    counts; argmax with deterministic tiebreaks, explicit abstain rows
    — the Snorkel-style bootstrap that feeds train_logreg an auditable
    label column instead of a manual pass. Rule table broadcast (the
    one legitimately config-bounded broadcast); one explode + one
    count + one per-doc argmax window."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        weak_label,
    )

    docs = load_table(spark, sf_dir, "documents")
    return weak_label(docs, "text", "doc_id", _WEAK_RULES)


def q_price_qty_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price-elasticity slope (operators/analytics.
    grouped_ols_slope): exact integer least squares with floored-mean
    centering — the overflow-safe form whose centered sums are
    n·variance-sized (the raw normal-equation cross terms need 38
    digits at corpus scale). Quantity-vs-price slope per brand in ppm;
    degenerate brands surface NULL, not a crash."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        grouped_ols_slope,
    )

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    base = li.join(
        part.select("p_partkey", "p_brand").hint("shuffle_hash"),
        li.l_partkey == part.p_partkey,
    ).select(
        "p_brand",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("x_fp"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("long").alias("y_fp"),
    )
    return grouped_ols_slope(base, ["p_brand"], "x_fp", "y_fp")


def q_incremental_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest fuzzy linkage (operators/dedup.
    incremental_editdist_pairs): the newest part-key slice fuzzy-
    matches against the standing catalog — dictionaries collapse
    first, the corpus never self-joins (the candidates_between_
    signatures asymmetry, edit-distance flavor). The per-ingest ER
    step a live sync pipeline runs on every batch."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        incremental_editdist_pairs,
    )

    parts = load_table(spark, sf_dir, "part")
    new = parts.where(F.col("p_partkey") >= 1900)
    corpus = parts.where(F.col("p_partkey") < 1900)
    return incremental_editdist_pairs(new, corpus, "p_name", max_dist=2)


def q_copurchase_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop blast radius from low-key seed parts over the staged
    co-purchase graph (operators/basket.k_hop_reachability): frontier
    BFS with anti-joined visited set — every node labeled with its
    MINIMUM hop distance, fixed k so the oracle unrolls the same three
    frontier expansions as chained CTEs. The fraud-ring/contamination
    expansion primitive."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        k_hop_reachability,
    )

    edges = _copurchase_edges(spark, sf_dir)
    nodes = edges.select(F.col("item_a").alias("node")).unionAll(
        edges.select(F.col("item_b").alias("node"))
    ).distinct()
    seeds = nodes.where(F.col("node") <= 500)
    return k_hop_reachability(edges, seeds, k=3, src="item_a", dst="item_b")


def q_related_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item top-3 related items by lift (operators/basket.
    related_items) — the 'customers also bought' SERVING table over the
    staged co-purchase edges; WindowGroupLimit bounds output at
    |items|·k. association_rules' global top-k is the diagnostic view;
    this is the artifact a recommender actually ships."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        related_items,
    )

    edges = _copurchase_edges(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    n_baskets = li.select("l_orderkey").distinct().count()
    return related_items(edges, n_baskets, per_item_k=3)


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same near-dup GROUPS as dedup_clusters, computed by the
    O(log²)-round large-star/small-star contraction (operators/dedup.
    connected_components_star) — the path connected_components takes
    above its driver edge cap, called directly here because the
    registry graph sits under the cap. Its round count does not grow
    with the diameter, so it survives chain-shaped graphs
    (entity-resolution chains, citation paths). Same staged pair
    graph, same recursive-CTE oracle as dedup_clusters' union-find:
    two independent algorithms, one hash-certified answer."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        connected_components_star,
        minhash_dedup_pairs_staged,
    )

    pairs = minhash_dedup_pairs_staged(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        stage_path=f"{stage_dir(sf_dir)}/minhash_sigs.parquet",
        threshold=0.8,
    )
    cc = connected_components_star(pairs, "id_a", "id_b")
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/size Pareto front of the part catalog (operators/
    analytics.skyline_2d): cheapest-for-its-size parts no other part
    dominates. The O(n²) keyless dominance anti-join becomes one range
    shuffle + an exclusive distributed running max
    (global_prefix_max_excl) — exact, linear, no single-reducer
    window; the oracle runs the NOT EXISTS dominance definition
    directly."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        skyline_2d,
    )

    parts = load_table(spark, sf_dir, "part")
    base = parts.select(
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("price_fp"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return skyline_2d(base, "price_fp", "p_size")


def q_u_shaped_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based 40/20/40) multi-touch attribution
    (temporal.u_shaped_attribution): first and last touch take 40%
    each, middles split the rest, rounding remainder pinned to the
    last touch — per-conversion credits sum to exactly 1e6. Completes
    the attribution set: last-touch / linear / time-decay /
    position-based."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        u_shaped_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase")
    touch = ev.where(F.col("event_type").isin("click", "view"))
    return u_shaped_attribution(
        conv, touch, "user_id", "ts", "ts", "event_id", "event_id",
        window_days=7,
    )


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per active day
    (operators/analytics.rolling_active_users): the contribution
    inversion — each (user, day) activity explodes to the 7 window-end
    days it serves, so every day's trailing distinct count comes from
    ONE explode + distinct + count instead of a per-day range
    self-join. Integer epoch days, ppm stickiness."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        rolling_active_users,
    )

    ev = load_table(spark, sf_dir, "events")
    return rolling_active_users(ev, "user_id", "ts", window_days=7)


def q_funnel_with_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-condition funnel (operators/analytics.
    funnel_with_exclusion): click → purchase with NO error strictly
    between — the 'clean conversion' question a plain step chain
    cannot ask. One user-key scan collecting first-A + sorted B/E
    arrays; interval exclusion checked row-side with ANSI-safe
    array_min/filter."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        funnel_with_exclusion,
    )

    ev = load_table(spark, sf_dir, "events")
    return funnel_with_exclusion(
        ev, "user_id", "ts", "event_type", "click", "purchase", "error"
    )


def q_order_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneously-open orders (operators/analytics.
    interval_concurrency_peak): order lifetime = [orderdate, last
    shipdate + 1) in epoch days; the sweep-line +1/−1 endpoint stream
    runs through the distributed prefix sum (one range shuffle, no
    single-reducer window), exclusive-end tie semantics (a close frees
    before a same-day open). The capacity-planning read."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        interval_concurrency_peak,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    epoch = F.lit("1970-01-01").cast("date")
    ship = li.groupBy("l_orderkey").agg(
        (F.max(F.datediff(F.col("l_shipdate").cast("date"), epoch)) + 1)
        .cast("long").alias("end_d")
    )
    intervals = orders.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
        .cast("long").alias("start_d"),
    ).join(ship, orders.o_orderkey == ship.l_orderkey)
    return interval_concurrency_peak(
        intervals, "o_orderkey", "start_d", "end_d"
    )


def q_revenue_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly recognized revenue (operators/analytics.
    amortize_over_days): each order's total spreads evenly over its
    [orderdate, last shipdate] service window in exact integer cents —
    last day absorbs the remainder, so the monthly roll-up re-sums to
    total booked revenue to the cent. Fan-out bounded by the max ship
    lag (a business constant), never the corpus."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        amortize_monthly,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    epoch = F.lit("1970-01-01").cast("date")
    ship = li.groupBy("l_orderkey").agg(
        F.max(F.datediff(F.col("l_shipdate").cast("date"), epoch))
        .cast("long").alias("end_d")
    )
    iv = orders.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
        .cast("long").alias("start_d"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("amount_fp"),
    ).join(ship, orders.o_orderkey == ship.l_orderkey)
    # month-level amortization: algebraically equal to the day-level
    # explode rolled up by month (property-tested), ~30x less fan-out —
    # 5.0s -> sub-second at sf0.1. n_order_days comes from the same
    # month-overlap arithmetic, no day rows ever materialize.
    monthly = amortize_monthly(
        iv, "o_orderkey", "start_d", "end_d", "amount_fp"
    )
    return monthly.groupBy("month_key").agg(
        F.sum("month_fp").cast("long").alias("recognized_fp"),
        F.sum("n_days").cast("long").alias("n_order_days"),
    )


def q_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 documents for a fixed 4-term query
    (operators/text.bm25_scores): per-term partials rounded to
    micro-units then summed as BIGINT, so the cross-term sum is
    order-independent and hash-stable."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(
        docs, ["join", "vector", "spark", "window"], top_k=20
    )


def q_woe_iv_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value scorecard of order price
    deciles against the urgent-priority label
    (operators/analytics.woe_iv_bins)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        woe_iv_bins,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice",
        "o_orderkey",
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("__y"),
    )
    return woe_iv_bins(o, "o_totalprice", "__y", "o_orderkey", n_bins=10)


def q_cuped_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced per-arm spend readout
    (operators/analytics.cuped_adjusted_means): pre-period spend
    (< 1996-01-01) is the covariate for post-period spend; arms are
    custkey parity; all surfaces exact integer ppm."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        cuped_adjusted_means,
    )

    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    cut = F.lit("1996-01-01").cast("date")
    per = o.groupBy("o_custkey").agg(
        F.sum(
            F.when(F.col("o_orderdate").cast("date") < cut, cents).otherwise(0)
        ).cast("long").alias("pre_fp"),
        F.sum(
            F.when(F.col("o_orderdate").cast("date") >= cut, cents).otherwise(0)
        ).cast("long").alias("post_fp"),
    ).withColumn("arm", (F.col("o_custkey") % 2).cast("long"))
    return cuped_adjusted_means(per, "o_custkey", "pre_fp", "post_fp", "arm")


def q_nb_source_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes source routing
    (operators/classifier.naive_bayes_classify): train on doc_id % 5
    != 0 with class = source, score the held-out fifth; integer
    micro-unit log-space scores, OOV floors, empty docs kept."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        naive_bayes_classify,
    )

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    score = docs.where(F.col("doc_id") % 5 == 0)
    return naive_bayes_classify(
        train, score, text_col="text", id_col="doc_id", class_col="source"
    )


def q_embedding_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation ablation
    (operators/similarity.dim_truncation_recall): overlap@10 between
    full-64-dim and first-32-dim exact cosine top-10, per probe query
    (vec_id % 16 == 0)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        dim_truncation_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return dim_truncation_recall(
        emb, emb.where(F.col("vec_id") % 16 == 0), keep_dims=32, k=10
    )


def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding table
    (operators/sampling.kcenter_select): 8 maximally-spread exemplars,
    k linear passes, one collected row per pass (bounded by
    contract)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        kcenter_select,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_select(emb, "embedding", "vec_id", k=8)


def q_shapley_credits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact closed-form Shapley channel attribution
    (operators/analytics.shapley_channel_credits): 4 touch channels
    (click/error/signup/view), conversion = any purchase; v(S) =
    conversion ppm among users whose exact channel set is S; one
    corpus-scale user agg, then enum-bounded subset algebra in exact
    BIGINT."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        shapley_channel_credits,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    return shapley_channel_credits(
        ev, "user_id", "event_type", "conv",
        ["click", "error", "signup", "view"],
    )


def q_lpa_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous 3-round label-propagation communities over the
    staged co-purchase graph (operators/basket.lpa_communities):
    most-frequent-neighbor vote, min-label ties — deterministic, so
    the oracle unrolls the same 3 rounds as chained CTEs over
    independently recomputed pairs."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        lpa_communities,
    )

    edges = _copurchase_edges(spark, sf_dir)
    return lpa_communities(edges, "item_a", "item_b", n_iter=3)


def q_customer_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier customer-lifetime curve
    (operators/temporal.kaplan_meier): duration = days between first
    and last order; churn event if the last order predates the
    observation end by > 365 days, else censored."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        kaplan_meier,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    )
    per = o.groupBy("o_custkey").agg(
        F.min("d").alias("f"), F.max("d").alias("l")
    )
    endd = per.agg(F.max("l").alias("endd"))
    du = per.crossJoin(F.broadcast(endd)).select(
        F.datediff(F.col("l"), F.col("f")).cast("long").alias("dur"),
        (F.datediff(F.col("endd"), F.col("l")) > 365)
        .cast("int").alias("ev"),
    )
    return kaplan_meier(du, "dur", "ev")


def q_deletion_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR deletion-cascade pre-flight audit
    (operators/privacy.deletion_cascade_audit): subjects = custkey %
    97 == 3; per-table row-loss counts via broadcast left_semi —
    customer directly, orders by FK, lineitem through the
    orders cascade."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.privacy import (
        deletion_cascade_audit,
    )

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    subs = cust.where(F.col("c_custkey") % 97 == 3)
    li_c = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select("o_custkey")
    return deletion_cascade_audit(
        subs,
        [
            ("customer", cust, "c_custkey"),
            ("orders", orders, "o_custkey"),
            ("lineitem", li_c, "o_custkey"),
        ],
        "c_custkey",
    )


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution over user journeys
    (operators/analytics.markov_removal_attribution): 6-step integer
    ppm reach probabilities; each channel's credit = clamped drop in
    reach when its node is removed; enum-bounded transition matrix is
    the only thing collected."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        markov_removal_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    return markov_removal_attribution(
        ev, "user_id", "event_type", "ts", "event_id", "purchase", n_steps=6
    )


def q_seasonal_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive vs naive MASE backtest per event type
    (operators/analytics.seasonal_naive_mase): lag-7 vs lag-1 forecast
    absolute errors over the daily count series — integer sums, one
    truncating div."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        seasonal_naive_mase,
    )

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return seasonal_naive_mase(daily, "event_type", "day", "n", season=7)


def q_gini_price_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split scan on order price vs urgent priority
    (operators/classifier.gini_split_scan): 64 integer-binned
    candidate thresholds, weighted Gini in exact ppm, best 5 splits."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        gini_split_scan,
    )

    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("price_fp"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("y"),
    )
    return gini_split_scan(o, "price_fp", "y", n_bins=64, top_k=5)


def q_loo_brand_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-brand-out influence on the global price-vs-quantity
    OLS slope (operators/analytics.loo_group_slope_influence): data
    valuation from sufficient statistics — one corpus pass, |brands|
    exact re-evaluations, no refits."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        loo_group_slope_influence,
    )

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    base = li.join(
        part.select("p_partkey", "p_brand").hint("shuffle_hash"),
        li.l_partkey == part.p_partkey,
    ).select(
        "p_brand",
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("long").alias("x_fp"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("y_fp"),
    )
    return loo_group_slope_influence(base, "p_brand", "x_fp", "y_fp")


def q_conformal_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90% split-conformal residual bound for the global price-vs-
    quantity OLS fit (operators/analytics.conformal_residual_bound):
    exact rational residuals, qhat via the distributed global_ranks
    order statistic, coverage audited in the same pass."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        conformal_residual_bound,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long").alias("rid"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("long").alias("x_fp"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("y_fp"),
    )
    return conformal_residual_bound(li, "x_fp", "y_fp", "rid", coverage_pm=900)


def q_wilson_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm user-conversion Wilson 95% interval
    (operators/analytics.wilson_ci_by_group): arms = user parity,
    success = any purchase; exact counts + one sqrt at round-6."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        wilson_ci_by_group,
    )

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("long").alias("arm"), "converted"
    )
    return wilson_ci_by_group(per_user, "arm", "converted", z=1.96)


def q_embedding_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-Mahalanobis embedding outliers
    (operators/similarity.mahalanobis_outliers): fixed-point
    quantization, dim-bounded moment relation, exact BIGINT scores,
    top-20."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        mahalanobis_outliers,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return mahalanobis_outliers(emb, "embedding", "vec_id", top_k=20)


def q_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity orphan audit across the schema's FK
    relationships (operators/quality.orphan_audit): one left_anti per
    relationship against the parent's distinct-key dictionary."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        orphan_audit,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    return orphan_audit([
        ("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
        ("orders->customer", orders, "o_custkey", cust, "c_custkey"),
        ("lineitem->part", li, "l_partkey", part, "p_partkey"),
        ("customer->nation", cust, "c_nationkey", nation, "n_nationkey"),
    ])


def q_recsys_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender hit-rate@3 (operators/basket.hitrate_at_k):
    lift table mined from the 80% train baskets, evaluated on the
    held-out fifth — does 'customers also bought' predict unseen
    co-purchases."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        hitrate_at_k,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    train = li.where(F.col("basket") % 5 != 0)
    test = li.where(F.col("basket") % 5 == 0)
    return hitrate_at_k(train, test, "basket", "item", per_item_k=3)


def q_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order next-event prediction accuracy
    (operators/analytics.next_event_accuracy): argmax-successor model
    from 80% of users, top-1 accuracy + coverage on the held-out
    fifth's transitions."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        next_event_accuracy,
    )

    ev = load_table(spark, sf_dir, "events")
    train = ev.where(F.col("user_id") % 5 != 0)
    test = ev.where(F.col("user_id") % 5 == 0)
    return next_event_accuracy(
        train, test, "user_id", "event_type", "ts", "event_id"
    )


def q_did_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences revenue readout
    (operators/analytics.did_estimate): treated = low-key nations,
    post = orders from 1995 on; 2x2 cell means in exact ppm."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        did_estimate,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(
        c.select("c_custkey", "c_nationkey").hint("shuffle_hash"),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        (F.col("c_nationkey") < 12).cast("int").alias("treated"),
        (F.col("o_orderdate").cast("date") >= F.lit("1995-01-01").cast("date"))
        .cast("int").alias("post"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("rev_fp"),
    )
    return did_estimate(base, "treated", "post", "rev_fp")


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order-price deciles (integer
    equal-width bins) and order priority
    (operators/analytics.mutual_information_binned): per-cell
    micro-nat terms summed as BIGINT — order-independent."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        mutual_information_binned,
    )

    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("v"),
        F.col("o_orderpriority").alias("prio"),
    )
    mm = o.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    binned = o.crossJoin(F.broadcast(mm)).select(
        F.least(F.lit(9), F.expr("(v - lo) * 10 div (hi - lo + 1)"))
        .cast("int").alias("price_bin"),
        "prio",
    )
    return mutual_information_binned(binned, "price_bin", "prio")


def q_ppr_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the graph's two smallest part keys
    (operators/basket.personalized_pagerank): teleport returns to the
    seed set, so rank = relevance to the seeds — the 'more like
    these' expansion; exact integer ppt, 3 unrolled iterations,
    top-30."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        personalized_pagerank,
    )

    edges = _copurchase_edges(spark, sf_dir)
    # deterministic seed set: the 2 smallest node ids in the graph
    # (enum-bounded collect by contract)
    nodes = edges.select(F.col("item_a").alias("n")).union(
        edges.select(F.col("item_b").alias("n"))
    ).distinct().orderBy("n").limit(2)
    seeds = [r["n"] for r in nodes.collect()]
    pr = personalized_pagerank(edges, seeds, "item_a", "item_b", n_iter=3)
    return (
        pr.orderBy(F.desc("rank"), F.asc("node"))
        .limit(30)
        .select(F.col("node").alias("part"), F.col("rank").alias("rank_ppt"))
    )


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit of order priority within market segments
    (operators/privacy.t_closeness_emd): ordinal EMD between each
    segment's priority distribution and the global one, exact
    rational arithmetic over the common denominator."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.privacy import (
        t_closeness_emd,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(
        c.select("c_custkey", "c_mktsegment").hint("shuffle_hash"),
        o.o_custkey == F.col("c_custkey"),
    ).select("c_mktsegment", "o_orderpriority")
    return t_closeness_emd(base, ["c_mktsegment"], "o_orderpriority")


def q_minmax_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map clustering-depth audit (operators/layout.
    minmax_overlap_depth): lineitem bucketed by insertion order
    (orderkey div 1500 — a rowgroup stand-in), each bucket collapsed
    to its shipdate [min, max+1) envelope, peak envelope overlap via
    the distributed sweep line = files a point lookup must open."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.layout import (
        minmax_overlap_depth,
    )

    li = load_table(spark, sf_dir, "lineitem")
    epoch = F.lit("1970-01-01").cast("date")
    base = li.select(
        F.expr("l_orderkey div 1500").cast("long").alias("bucket"),
        F.datediff(F.col("l_shipdate").cast("date"), epoch)
        .cast("long").alias("ship_d"),
    )
    return minmax_overlap_depth(base, "bucket", "ship_d")


def q_cusum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift chart over daily event counts per type
    (operators/analytics.cusum_alarms): the sequential-looking
    recursion via its prefix-minimum closed form — two cumulative
    windows, exact integers, alarms at 4k."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        cusum_alarms,
    )

    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), epoch).cast("long").alias("day_n"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return cusum_alarms(daily, "event_type", "day_n", "n")


def q_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's numeric columns
    (operators/quality.corr_matrix_pearson): one pass for every
    pair's exact sufficient statistics, r at round-6."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        corr_matrix_pearson,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("long").alias("qty_fp"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("price_fp"),
        (F.col("l_discount").cast("decimal(18,4)") * 10000)
        .cast("long").alias("disc_fp"),
        (F.col("l_tax").cast("decimal(18,4)") * 10000)
        .cast("long").alias("tax_fp"),
    )
    return corr_matrix_pearson(li, ["qty_fp", "price_fp", "disc_fp", "tax_fp"])


def q_neyman_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation of a 10k-doc sampling budget across
    sources (operators/sampling.neyman_allocation): strata weighted by
    N_h·σ_h of document length, seats by largest remainder — exact."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        neyman_allocation,
    )

    docs = load_table(spark, sf_dir, "documents")
    return neyman_allocation(docs, "source", "n_chars", budget=10000)


def q_hll_union_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register MERGE (operators/analytics.hll_merge_estimate):
    per-type register tables union by per-bucket max into ONE global
    distinct-user estimate — cardinality rolls up without revisiting
    keys; exact-integer raw estimator, exact distinct + signed error
    alongside (self-auditing)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        hll_merge_estimate,
        hyperloglog_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    regs = hyperloglog_registers(
        ev, "user_id", ["event_type"], m=256,
        stage_hash_path=f"{stage_dir(sf_dir)}/hll_user_hashes.parquet",
    )
    est = hll_merge_estimate(regs, merge_over=["event_type"], m=256)
    exact = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "n_zero_buckets", "est_distinct", "exact_distinct",
        F.expr(
            "(est_distinct - exact_distinct) * 1000000 div exact_distinct"
        ).cast("long").alias("err_ppm"),
    )


def q_join_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only JOIN-view maintenance (streaming/continuous_agg.
    append_join_view): the pre-1996 order x customer view is STAGED to
    the lake once; the refresh joins ONLY the post-1996 delta and
    unions — old rows never re-join. Output re-aggregates per nation,
    and the oracle recomputes the FULL join from source, certifying
    staged + delta == full."""
    from redshift_to_pendo_api_data_pipeline_spark.streaming.continuous_agg import (
        append_join_view,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("val"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    cut = F.lit("1996-01-01").cast("date")
    v1 = stage(
        spark, f"{stage_dir(sf_dir)}/joinview_orders_v1.parquet",
        lambda: o.where(F.col("od") < cut).join(c, ["o_custkey"]).select(
            "o_orderkey", "c_nationkey", "val"
        ),
    )
    delta = o.where(F.col("od") >= cut).select("o_orderkey", "o_custkey", "val")
    refreshed = append_join_view(v1, delta, c, ["o_custkey"])
    return refreshed.groupBy(
        F.col("c_nationkey").cast("long").alias("nation")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("val").cast("long").alias("rev_fp"),
    )


def q_mannwhitney_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum screen (operators/stats.mann_whitney_u):
    do URGENT and LOW orders draw from the same price distribution —
    doubled midranks keep ties integral, distinct-value prefix sums
    via global_prefix_sum (no single-reducer window), one sqrt at the
    end for the tie-corrected z."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        mann_whitney_u,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("grp"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("price_fp"),
    )
    return mann_whitney_u(base, "grp", "price_fp")


def q_ks_doclen_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift screen (operators/stats.
    ks_two_sample): document-length ECDFs of the src0-src9 source
    cohort vs src10-src19 — cross-multiplied integer ECDF distance,
    one packed prefix pass over the distinct-length relation."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        ks_two_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        (F.length("source") <= 4).cast("long").alias("grp"),
        F.col("n_chars").cast("long").alias("len_v"),
    )
    return ks_two_sample(base, "grp", "len_v")


def q_bh_fdr_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over 25 per-nation fulfillment
    screens (operators/stats.bh_fdr): each nation's order-status chi2
    (quality.contingency_chi2, exact integers) converts to a fixed-
    point p-value through the Chebyshev tail bound p <= 1/z^2 — an
    exact integer division, no erf/exp float tail anywhere — then the
    step-up frontier is the exact comparison p_fp*m <= alpha_fp*rank.
    The ranking window is bounded by the TEST count (25 nations), not
    by data."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        contingency_chi2,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import bh_fdr

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").cast("long").alias("nation"),
    )
    base = orders.select("o_custkey", "o_orderstatus").join(cust, "o_custkey")
    chi2 = contingency_chi2(
        base, "nation", F.col("o_orderstatus") == "F"
    )
    scale = 10**6
    with_p = chi2.select(
        F.col("g").alias("nation"),
        F.least(
            F.lit(scale).cast("long"),
            F.expr(
                "CAST(CAST(%d AS DECIMAL(38,0)) * %d "
                "div greatest(chi2_contrib_fp, 1) AS BIGINT)"
                % (scale, scale)
            ),
        ).alias("p_fp"),
    )
    return bh_fdr(with_p, "nation", "p_fp", alpha_fp=50000, scale=scale)


def q_bootstrap_doclen_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap of mean document length
    (operators/stats.poisson_bootstrap_weights + bootstrap_mean_ci):
    64 replicates ride one scan as map-side hash-drawn Poisson(1)
    weights (the coordination-free distributed bootstrap), each
    replicate mean an exact integer div, nearest-rank 2.5/97.5
    percentile CI over the 64-row replicate relation. The weight draws
    stage to the lake so the oracle resamples IDENTICALLY."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        bootstrap_mean_ci,
        poisson_bootstrap_weights,
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("len_v")
    )
    n_reps = 64
    staged = stage(
        spark, f"{stage_dir(sf_dir)}/bootstrap_doclen_w64.parquet",
        lambda: poisson_bootstrap_weights(
            docs, "doc_id", n_reps=n_reps, seed=41
        ),
    )
    return bootstrap_mean_ci(
        docs, staged, "doc_id", "len_v", n_reps=n_reps
    )


def q_ra_links_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction (basket.
    resource_allocation_links) over the staged co-purchase graph:
    which part pairs are NOT yet co-ordered but share many co-purchase
    neighbors — the 'customers also bought' candidate generator.
    Exact-integer RA index (scale div deg per wedge; Adamic-Adar's
    1/ln would put a libm log in the hash), adjacency excluded via
    left_anti, top-20 by TakeOrderedAndProject."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        resource_allocation_links,
    )

    edges = _copurchase_edges(spark, sf_dir)
    return resource_allocation_links(edges, "item_a", "item_b", top_k=20)


def q_clustering_coeff_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficients (basket.
    clustering_coefficients) of the co-purchase graph — how clique-like
    each part's neighborhood is (the community-structure screen read
    next to the triangle census). Degree-oriented wedges (hub-skew
    bound), per-corner triangle credits via a 3-row explode, cc in
    exact fixed point: 2*scale*T div (deg*(deg-1))."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        clustering_coefficients,
    )

    edges = _copurchase_edges(spark, sf_dir)
    return clustering_coefficients(edges, "item_a", "item_b")


def q_feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision census (operators/classifier.
    feature_hash_collision_audit): how many of a candidate dim=64
    buckets hold k distinct corpus tokens — the audit read before
    shrinking `hashed_features`' dim (the histogram tail is the
    token-merging risk made visible). The distinct (token, bucket)
    relation stages so the oracle certifies the census from identical
    draws (xxhash64 is Spark-side only); a k=0 row closes the census
    to exactly dim buckets."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        feature_hash_collision_audit,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )
    dim = 64
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok")
    ).where(F.col("tok") != "").distinct()
    tok_feat = stage(
        spark, f"{stage_dir(sf_dir)}/feature_hash_tokfeat_d64.parquet",
        lambda: toks.select(
            "tok",
            F.pmod(F.xxhash64("tok"), F.lit(dim)).cast("int").alias("feat"),
        ),
    )
    return feature_hash_collision_audit(tok_feat, dim=dim)


def q_event_lateness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay sizing histogram (operators/temporal.
    lateness_histogram): lateness of each event vs the running max
    event time in ARRIVAL order (event_id = the append-log order) —
    the tail mass at each bucket is the drop rate a
    `withWatermark(delay)` of that size would pay. Running max via
    `global_prefix_max_excl` (range shuffle, offsets broadcast,
    checkpoint-pinned); 15-minute buckets capped at 48."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        lateness_histogram,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
    ).select(
        # the synthetic stream is perfectly ts-ordered by event_id, so a
        # DETERMINISTIC modular transport delay (0..600 s keyed on
        # event_id — same arithmetic on the oracle side, no hash)
        # simulates the out-of-order arrival a real ingest log shows;
        # event_id stays as the unique arrival tiebreak.
        (F.col("ts_us")
         + (F.col("event_id") % 601) * 1_000_000).alias("arr_us"),
        "event_id", "ts_us",
    )
    return lateness_histogram(
        ev, ["arr_us", "event_id"], "ts_us",
        bucket_us=60_000_000, max_buckets=12,
    )


def q_quantile_normalized_doclen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source quantile normalization (operators/stats.
    quantile_normalize) of document lengths: each doc's length maps to
    the POOLED length distribution's value at the doc's within-source
    percentile, so every source ends up with the same marginal — the
    score-alignment step before thresholding differently-calibrated
    sources. Exact integer rank mapping; pooled ranks via
    `global_ranks`."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        quantile_normalize,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("len_v")
    )
    return quantile_normalize(docs, "source", "len_v", "doc_id")


def q_ipw_return_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified-IPW treatment effect (analytics.ipw_effect_stratified)
    on observational lineitem data: does a deep discount (>= 5%) change
    the return rate, stratified by part brand (the confounder proxy) —
    propensity per stratum is the exact rational nt/n so every IPW
    weight is integer arithmetic; positivity-violating strata dropped
    and counted."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        ipw_effect_stratified,
    )

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    base = li.select(
        "l_partkey",
        (F.col("l_discount").cast("decimal(18,4)") >= 0.05)
        .cast("long").alias("treated"),
        (F.col("l_returnflag") == "R").cast("long").alias("returned"),
    ).join(F.broadcast(part), "l_partkey")
    return ipw_effect_stratified(base, "p_brand", "treated", "returned")


def q_revenue_drawdown_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation monthly-revenue max drawdown (analytics.
    max_drawdown_by_group): largest drop from the running revenue peak
    and the earliest month it happened — partitioned windows only,
    revenue in exact cents."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        max_drawdown_by_group,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").cast("long").alias("nation"),
    )
    monthly = (
        o.join(F.broadcast(c), "o_custkey")
        .groupBy(
            "nation",
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long").alias("yyyymm"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long")
            ).cast("long").alias("rev_fp")
        )
    )
    return max_drawdown_by_group(monthly, "nation", "yyyymm", "rev_fp")


def q_engagement_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L28 / power-user curve (analytics.engagement_curve): per month,
    how many users were active on exactly k days — the engagement-depth
    histogram product teams read before retention work. Two map-side
    combined aggregations."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        engagement_curve,
    )

    ev = load_table(spark, sf_dir, "events")
    return engagement_curve(
        ev, "user_id",
        F.to_date("ts"),
        (F.year("ts") * 100 + F.month("ts")).cast("long"),
    )


def q_embedding_ann_bq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN (similarity.binary_quantized_topk) —
    the zero-training compression tier beside LSH/IVF/PQ: sign-bit
    signatures (1 bit/dim, 32 dims per BIGINT word), Hamming top-100
    by bit_count(XOR), exact cosine re-rank to top-20. NO staging
    needed: the signature is seedless deterministic arithmetic, so the
    DuckDB twin re-derives sigs, Hamming pool AND re-rank from the raw
    vectors — the only ANN variant whose entire path is
    oracle-recomputable from scratch."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        binary_quantized_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = _query_vec(spark, sf_dir)
    return binary_quantized_topk(
        emb, "embedding", "vec_id", q, dim=64, k=20, rerank=100
    )


def q_pettitt_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based changepoint (analytics.pettitt_changepoint)
    over each event type's daily count series — the outlier-robust
    complement to the CUSUM drift chart: only ranks enter, doubled
    midranks keep the statistic integral, partitioned windows only."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        pettitt_changepoint,
    )

    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), epoch).cast("long").alias("day_n"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
    return pettitt_changepoint(daily, "event_type", "day_n", "n_ev")


def _loo_brand_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the LOO brand-encoding scored relation ONCE for its three
    consumers (target_encode_brand_returns, lift_table_brand_score,
    qini_discount_uplift): (line_uid, treated, category, y, enc_fp).
    The encode's expensive prefix — full-width lineitem scan, the
    16-column uid concat, brand broadcast join, category hydration
    shuffle — was paid three times for byte-identical rows (r10
    verdict: both ranking queries bottlenecked on exactly this
    materialization); the rankers now range-shuffle a narrow staged
    projection instead. The DuckDB oracles still re-derive the
    encoding independently from the RAW tables, so cross-engine
    certification strength is unchanged — staging here is purely a
    stage-once/probe-many performance artifact (the ANN/minhash
    contract). Skipped under stage reuse."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        target_encode_loo,
    )

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    base = _lineitem_uid(li).select(
        "line_uid",
        "l_partkey",
        (F.col("l_discount").cast("decimal(18,4)") >= 0.05)
        .cast("long").alias("treated"),
        (F.col("l_returnflag") == "R").cast("long").alias("returned"),
    ).join(F.broadcast(part), "l_partkey")
    return stage(
        spark, f"{stage_dir(sf_dir)}/loo_brand_scored.parquet",
        lambda: target_encode_loo(
            base.select("line_uid", "treated", "p_brand", "returned"),
            "p_brand", "returned", ["line_uid", "treated"],
        ),
    )


def q_target_encode_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (classifier.target_encode_loo) of
    part brand against the return flag — the leak-free categorical
    feature transform: each lineitem's brand becomes the return rate
    of OTHER lines of that brand, exact integer arithmetic, singleton
    categories falling back to the LOO global mean. Reads the shared
    staged encode (_loo_brand_scored); the oracle re-derives it
    from the raw tables."""
    return _loo_brand_scored(spark, sf_dir).select(
        "line_uid", "category", "y", "enc_fp"
    )


def q_isotonic_return_by_discount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closed-form isotonic regression (classifier.isotonic_fit_binned)
    of return rate on discount level: PAVA's minimax formula
    iso(k) = max_{i<=k} min_{j>=k} mean(i..j) evaluated over the
    11-bin discount relation — no iterative sweep, deterministic
    fixed-point pooled means, B^3-bounded expansion by contract. The
    monotone fit is what a calibration consumer reads where raw binned
    rates zigzag."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        isotonic_fit_binned,
    )

    li = load_table(spark, sf_dir, "lineitem")
    binned = li.groupBy(
        (F.col("l_discount").cast("decimal(18,4)") * 10000)
        .cast("long").alias("disc_bp")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long"))
        .cast("long").alias("pos"),
    )
    return isotonic_fit_binned(binned, "disc_bp", "n", "pos")


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (text.rake_keywords, Rose et al. 2010):
    corpus top-20 candidate phrases — maximal stopword-free token
    runs scored by summed word degree/frequency ratios, segmentation
    on the token relation (per-doc windows), exact fixed-point
    scores."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        rake_keywords,
    )

    docs = load_table(spark, sf_dir, "documents")
    return rake_keywords(docs, "text", "doc_id", top_k=20)


def q_blocking_quality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit (linkage.blocking_quality): reduction
    ratio + pair completeness of a date-sorted-neighborhood blocker
    (window 3) against the same-customer-same-day duplicate-submission
    ground truth — the metric pair every linkage blocker is judged by
    before production. Composes `sorted_neighborhood_pairs` with an
    exact truth join; one audit row."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.linkage import (
        blocking_quality,
        sorted_neighborhood_pairs,
    )

    o = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    base = o.select(
        "o_orderkey", "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
        .cast("long").alias("day_n"),
    )
    cand = sorted_neighborhood_pairs(
        base, "o_orderkey", "day_n", window=3
    )
    t1 = base.select(
        F.col("o_orderkey").alias("id_a"), "o_custkey", "day_n"
    )
    t2 = base.select(
        F.col("o_orderkey").alias("id_b"), "o_custkey", "day_n"
    )
    truth = t1.join(
        t2.hint("shuffle_hash"), ["o_custkey", "day_n"]
    ).where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    n = base.count()
    return blocking_quality(cand, truth, n)


def q_pps_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic PPS sample (sampling.
    pps_systematic_sample): 50 documents drawn proportional to length
    — the survey design for 'sample tokens, not documents'; heavy docs
    carry multiplicity, stride points laid over the cumulative-weight
    axis from one prefix pass."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        pps_systematic_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    return pps_systematic_sample(docs, "doc_id", "n_chars", k=50)


def q_weighted_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted price quantiles (sampling.
    weighted_quantiles_exact): the smallest price whose cumulative
    QUANTITY reaches ceil(q*W) — percentile_disc generalized to
    weighted rows, one distributed prefix pass, no single-reducer
    percentile."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        weighted_quantiles_exact,
    )

    # NOTE: line_id here is NOT unique (the generator repeats
    # (orderkey, linenumber) — see _lineitem_uid), but the quantile is
    # still deterministic: v enters the hit set iff its TOTAL
    # cumulative weight C+W_v >= target, which is independent of the
    # internal order of tied (v, id) rows. Rank-sensitive consumers
    # (lift/Qini deciles) must use _lineitem_uid instead.
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("price_fp"),
        (F.col("l_orderkey") * 100 + F.col("l_linenumber"))
        .cast("long").alias("line_id"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return weighted_quantiles_exact(
        li, "price_fp", "qty", "line_id",
        qs_ppm=[250000, 500000, 750000, 900000],
    )


def q_embedding_mmd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel MMD drift matrix (similarity.linear_mmd_by_group)
    between label cohorts of the embedding table: MMD^2 with the
    linear kernel collapses to ||mu_a - mu_b||^2 — exact integers from
    per-element quantization (floats never sum), the corpus collapsing
    to a |groups|x dim moment relation before any pairing."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        linear_mmd_by_group,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("embedding"),
        (F.col("vec_id") % 4).cast("long").alias("cohort"),
    )
    return linear_mmd_by_group(emb, "embedding", "cohort", dim=64)


def q_lift_table_brand_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table (classifier.lift_table) of the LOO
    brand-encoding score against actual returns — the acceptance
    report for any propensity score: per-decile response rate +
    cumulative lift over base rate, distributed ntile (no
    single-reducer window), exact integers. Ranks the shared staged
    encode (_loo_brand_scored) — the r10 bottleneck was paying
    the full encode materialization per ranking query; the oracle
    still re-derives encode + ranking from the raw tables."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        lift_table,
    )

    scored = _loo_brand_scored(spark, sf_dir)
    return lift_table(scored, "enc_fp", "y", "line_uid", n_buckets=10)


def q_overdispersion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-of-dispersion screen (quality.overdispersion_screen) over
    per-type daily event counts — the 'is this Poisson' check run
    before anomaly thresholds assume var == mean; exact cross-
    multiplied sufficient statistics, one combiner groupBy."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        overdispersion_screen,
    )

    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), epoch).cast("long").alias("day_n"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
    return overdispersion_screen(daily, "event_type", "n_ev")


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (basket.degree_assortativity, Newman 2002)
    of the co-purchase graph: Pearson correlation of endpoint degrees
    over both edge orientations — exact integer sufficient statistics,
    one audit row; the topology read before picking a graph-join
    partitioning strategy."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        degree_assortativity,
    )

    edges = _copurchase_edges(spark, sf_dir)
    return degree_assortativity(edges, "item_a", "item_b")


def q_phonetic_linkage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic (Soundex) blocking for record linkage (dedup.
    editdist_pairs_from_dict): the sounds-alike blocker that catches
    typo classes a token or trailing-word blocker misses — block key =
    soundex(head token) of the DISTINCT part-name dictionary
    (JVM-built-in, codegen), pairs verified by Levenshtein <= 3 within
    blocks. Soundex exists only Spark-side, so the keyed dictionary
    STAGES to the lake and the oracle re-derives pairing + distances
    from the identical staged relation."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        editdist_pairs_from_dict,
    )
    part = load_table(spark, sf_dir, "part")
    dic = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        "name", "n",
        F.soundex(F.element_at(F.split(F.col("name"), " "), 1))
        .alias("__blk"),
    )
    blocks = stage(
        spark, f"{stage_dir(sf_dir)}/phonetic_name_blocks.parquet", lambda: dic
    )
    return editdist_pairs_from_dict(blocks, max_dist=3)


def q_file_row_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-file row-skew audit (layout.file_row_skew): lineitem
    is staged range-partitioned on l_linenumber — a deliberately
    SKEWED 4-file layout (line numbers are heavy-tailed) standing in
    for a production table after uneven ingest — then the audit counts
    rows per backing file via input_file_name(). Only counts surface
    (paths differ across engines); the oracle re-audits the same
    staged directory via read_parquet(filename=true)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.layout import (
        file_row_skew,
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    return file_row_skew(stage(
        spark, f"{stage_dir(sf_dir)}/lineitem_skewed_files.parquet",
        lambda: li.repartitionByRange(4, "l_linenumber"),
    ))


def q_eb_shrunk_brand_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-brand return rates (stats.
    eb_shrunk_rates): small brands' raw rates swing wildly — a
    200-observation Beta prior pulls each toward the global rate until
    the brand earns its evidence; exact rational arithmetic
    cross-multiplied, no float rate anywhere."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        eb_shrunk_rates,
    )

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    base = li.select(
        "l_partkey",
        (F.col("l_returnflag") == "R").cast("long").alias("returned"),
    ).join(F.broadcast(part), "l_partkey")
    return eb_shrunk_rates(base, "p_brand", "returned", pseudo_n=200)


def q_trend_test_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test (stats.cochran_armitage_trend): does
    the return rate RISE with discount level — the directional 1-df
    upgrade of the chi-square screen; bin scores = discount basis
    points, exact integer sufficient statistics, one IEEE sqrt."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        cochran_armitage_trend,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_discount").cast("decimal(18,4)") * 10000)
        .cast("long").alias("disc_bp"),
        (F.col("l_returnflag") == "R").cast("long").alias("returned"),
    )
    return cochran_armitage_trend(li, "disc_bp", "returned")


def q_oph_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-Permutation-Hashing MinHash near-dup pairs (dedup.
    oph_dedup_pairs_staged, Li et al. 2012 + rotation densification):
    ONE hash per shingle instead of k=48 — the cheap-signature
    production path; banding, exact-Jaccard verify, and the staged-
    signature oracle trust model are all shared with the classic
    `minhash_neardup`."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        oph_dedup_pairs_staged,
    )

    return oph_dedup_pairs_staged(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        stage_path=f"{stage_dir(sf_dir)}/oph_minhash_sigs.parquet",
        threshold=0.8,
    )


def q_spearman_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (stats.spearman_rho) of lineitem
    price vs quantity — the outlier-proof monotonic-association
    screen beside the Pearson matrix; doubled midranks keep the
    sufficient statistics exactly integral under ties, one sqrt at
    the end."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        spearman_rho,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("price_fp"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return spearman_rho(li, "price_fp", "qty")


def q_group_sequential_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitor (stats.group_sequential_monitor):
    yearly interim looks at the fulfillment-rate difference between
    customer-parity arms, cumulative two-proportion z vs an
    O'Brien-Fleming-SHAPE boundary c*sqrt(K/k) (c = 2.0 fixed-point
    literals; alpha calibration of c is an offline table decision) —
    first crossing flagged as the stop."""
    import math

    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        group_sequential_monitor,
    )

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.year("o_orderdate").cast("long").alias("yr"),
        (F.col("o_custkey") % 2).cast("int").alias("arm"),
        (F.col("o_orderstatus") == "F").cast("long").alias("filled"),
    )
    k_looks = 7  # 1992..1998
    bounds = [int(2.0 * math.sqrt(k_looks / k) * 10**6)
              for k in range(1, k_looks + 1)]
    return group_sequential_monitor(base, "yr", "arm", "filled", bounds)


def q_cramers_v_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association matrix (quality.cramers_v_matrix) over
    the categorical columns of the order domain — which encodings are
    redundant, read before feature selection; exact cross-multiplied
    chi2 per pair, one sqrt per pair."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        cramers_v_matrix,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    base = o.join(F.broadcast(c), "o_custkey").select(
        "o_orderpriority", "o_orderstatus", "c_mktsegment"
    )
    return cramers_v_matrix(base, [
        ("o_orderpriority", "o_orderstatus"),
        ("o_orderpriority", "c_mktsegment"),
        ("o_orderstatus", "c_mktsegment"),
    ])


def q_partial_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation (quality.partial_corr): price vs quantity
    with discount held fixed — the confounder screen after the raw
    Pearson matrix; one pass of exact integer sufficient statistics,
    the r-combination evaluated in doubles at the end."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        partial_corr,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("price_fp"),
        F.col("l_quantity").cast("long").alias("qty"),
        (F.col("l_discount").cast("decimal(18,4)") * 10000)
        .cast("long").alias("disc_fp"),
    )
    return partial_corr(li, "price_fp", "qty", "disc_fp")


def q_logrank_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank survival test (temporal.logrank_test): do
    BUILDING-segment customers churn on a different clock than the
    rest — the hypothesis test beside the Kaplan-Meier curve; per-time
    terms quantized then summed as integers (float term sums are
    partition-order dependent), at-risk counts on the dense time x
    group grid."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
        logrank_test,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("grp"),
    )
    per = o.groupBy("o_custkey").agg(
        F.min("d").alias("f"), F.max("d").alias("l")
    )
    endd = per.agg(F.max("l").alias("endd"))
    du = (
        per.crossJoin(F.broadcast(endd))
        .join(F.broadcast(cust), "o_custkey")
        .select(
            F.datediff(F.col("l"), F.col("f")).cast("long").alias("dur"),
            (F.datediff(F.col("endd"), F.col("l")) > 365)
            .cast("int").alias("ev"),
            "grp",
        )
    )
    return logrank_test(du, "dur", "ev", "grp")


def q_pvm_bridge_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix revenue bridge (analytics.price_volume_mix):
    1995 -> 1996 lineitem revenue change per nation decomposed into
    volume, price and mix effects — cross-multiplied fixed point, mix
    defined as the residual so the bridge identity holds exactly."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        price_volume_mix,
    )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey",
        F.year("o_orderdate").cast("long").alias("yr"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").cast("long").alias("nation"),
    )
    base = (
        li.select(
            "l_orderkey",
            F.col("l_quantity").cast("long").alias("qty"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").alias("rev_fp"),
        )
        .join(o.hint("shuffle_hash"), "l_orderkey")
        .join(F.broadcast(c), "o_custkey")
        .where(F.col("yr").isin(1995, 1996))
    )
    return price_volume_mix(
        base, "nation", "yr", "qty", "rev_fp", 1995, 1996
    )


def q_theil_sen_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust price-quantity slope per brand (stats.
    theil_sen_slope) over MONTHLY aggregates (the boundedness
    contract: months, not rows, enter the quadratic pair expansion) —
    the outlier-proof twin of the per-brand OLS elasticity."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        theil_sen_slope,
    )

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    monthly = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy(
            "p_brand",
            (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
            .cast("long").alias("yyyymm"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long")
            .alias("qty"),
            F.expr(
                "CAST(sum(CAST(cast(l_extendedprice as decimal(18,2))"
                " * 100 AS DECIMAL(38,0))) div count(*) AS BIGINT)"
            ).alias("avg_price_fp"),
        )
    )
    return theil_sen_slope(monthly, "p_brand", "avg_price_fp", "qty")


def q_qini_discount_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve (stats.qini_curve): treated = deep discount,
    outcome = return flag, score = the LOO brand encoding — at each
    cumulative decile, treated responders minus volume-scaled control
    responders; exact fixed point, windows over the 10-row bucket
    relation. Ranks the shared staged encode (_loo_brand_scored,
    where `treated` rides through as an id column); the oracle still
    re-derives encode + curve from the raw tables."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        qini_curve,
    )

    scored = _loo_brand_scored(spark, sf_dir)
    return qini_curve(
        scored, "enc_fp", "treated", "y", "line_uid", n_buckets=10
    )


def _lineitem_uid(li: DataFrame) -> DataFrame:
    """Append `line_uid` — a deterministic, cross-engine-identical,
    GENUINELY unique row key for lineitem. The synthetic generator does
    NOT keep (l_orderkey, l_linenumber) unique (sf0.01: 45,832 distinct
    of 60,000 — even adding l_partkey leaves 7 collisions), and a
    non-unique tiebreak under a rank/ntile makes bucket membership of
    tied rows NONDETERMINISTIC (caught round 7: the Qini deciles
    flapped). Full rows ARE distinct at every SF, so the uid is the
    pipe-joined string of every column — floats fixed-point-cast first
    (raw double formatting differs across engines), dates as epoch
    days."""
    epoch = F.lit("1970-01-01").cast("date")
    return li.withColumn(
        "line_uid",
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_partkey").cast("string"),
            F.col("l_suppkey").cast("string"),
            F.col("l_quantity").cast("long").cast("string"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").cast("string"),
            (F.col("l_discount").cast("decimal(18,4)") * 10000)
            .cast("long").cast("string"),
            (F.col("l_tax").cast("decimal(18,4)") * 10000)
            .cast("long").cast("string"),
            F.col("l_returnflag"),
            F.col("l_linestatus"),
            F.datediff(F.col("l_shipdate").cast("date"), epoch)
            .cast("string"),
        ),
    )


_LINE_UID_SQL = (
    "concat_ws('|', l_orderkey, l_linenumber, l_partkey, l_suppkey, "
    "CAST(l_quantity AS BIGINT), "
    "CAST(cast(l_extendedprice as decimal(18,2)) * 100 AS BIGINT), "
    "CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT), "
    "CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT), "
    "l_returnflag, l_linestatus, "
    "date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)))"
)


def q_kruskal_doclen_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across ALL 20 sources' document-length
    distributions (stats.kruskal_wallis) — the k-group screen run
    BEFORE pairwise tests + BH; doubled midranks keep rank sums
    integral, per-group terms floor-quantized before the fold so no
    float sum crosses the hash."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        kruskal_wallis,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("len_v")
    )
    return kruskal_wallis(docs, "source", "len_v")


def q_mh_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio (stats.mantel_haenszel_or):
    deep discount vs return flag adjusted for brand strata — the OR
    companion to the stratified-IPW risk difference; per-stratum a*d/n
    terms quantized then integer-summed, one cross-division."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        mantel_haenszel_or,
    )

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    base = li.select(
        "l_partkey",
        (F.col("l_discount").cast("decimal(18,4)") >= 0.05)
        .cast("long").alias("exposed"),
        (F.col("l_returnflag") == "R").cast("long").alias("returned"),
    ).join(F.broadcast(part), "l_partkey")
    return mantel_haenszel_or(base, "p_brand", "exposed", "returned")


def q_mcnemar_purchase_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired flip test (stats.mcnemar_test): per user,
    purchased in the FIRST half of the event window vs the SECOND —
    did the same users change behavior; discordant-pair chi2 exact
    fixed point, net flip direction alongside."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        mcnemar_test,
    )

    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    days = ev.select(
        "user_id", "event_type",
        F.datediff(F.to_date("ts"), epoch).cast("long").alias("d"),
    )
    mid = days.agg(
        F.expr("CAST((min(d) + max(d)) div 2 AS BIGINT)").alias("mid")
    )
    per_user = (
        days.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.max(
                ((F.col("event_type") == "purchase")
                 & (F.col("d") <= F.col("mid"))).cast("long")
            ).alias("before"),
            F.max(
                ((F.col("event_type") == "purchase")
                 & (F.col("d") > F.col("mid"))).cast("long")
            ).alias("after"),
        )
    )
    return mcnemar_test(per_user, "user_id", "before", "after")


def q_kappa_order_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (stats.cohens_kappa) between two binary order
    signals — urgency (priority 1-2) vs fulfillment (status F):
    chance-corrected agreement as one exact rational, no float
    probability anywhere."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        cohens_kappa,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        .cast("long").alias("ra"),
        (F.col("o_orderstatus") == "F").cast("long").alias("rb"),
    )
    return cohens_kappa(o, "ra", "rb")


def q_cohens_d_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d (stats.cohens_d) for URGENT-vs-LOW order prices — the
    effect SIZE beside the Mann-Whitney significance on the same
    cohorts; exact per-group sufficient statistics, one sqrt."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        cohens_d,
    )

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("grp"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("price_fp"),
    )
    return cohens_d(o, "grp", "price_fp")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order = driver-certification rotation (r11): position 1 is
    # rfm_segments — the single query never yet in any driver CORRECTNESS
    # window (it held position 51 behind the 50-wide r10 window) — followed
    # by every query whose operator was rewritten or touched in r10/r11
    # AFTER its last driver-green row (the local sweep and judge spot-checks
    # are green, but the driver row is the hard signal), then
    # stalest-certified fill. After the window, the remaining queries run
    # STALEST-CERTIFICATION-FIRST (driver round of last green hash,
    # ascending; COVERAGE.md carries the per-query last-certified table).
    return {
        # --- r11 window (positions 1-50): rfm_segments (the one query
        # never yet driver-certified) + every query whose operator was
        # rewritten/touched in r10-r11 after its last driver-green row
        # (advice fixes, url fuzz hardening, dhash materialize-once +
        # width pins, hard-negative auto-routing, linkage dictionary
        # collapse, shared LOO-encode stage), then stalest-certified
        # fill (last green: r2) ---
        "rfm_segments": q_rfm_segments,
        "bloom_semijoin_lineitem": q_bloom_semijoin_lineitem,
        "kcenter_coreset": q_kcenter_coreset,
        "dedup_clusters": q_dedup_clusters,
        "cluster_representatives": q_cluster_representatives,
        "cluster_split": q_cluster_split,
        "entity_name_clusters": q_entity_name_clusters,
        "part_golden_records": q_part_golden_records,
        "target_encode_brand_returns": q_target_encode_brand,
        "abc_parts": q_abc_parts,
        "event_changepoints": q_event_changepoints,
        "mom_revenue_growth": q_mom_revenue_growth,
        "lift_table_brand_score": q_lift_table_brand_score,
        "qini_discount_uplift": q_qini_discount_uplift,
        "audio_fingerprint_neardup": q_audio_fingerprint_neardup,
        "image_dhash_neardup": q_image_dhash_neardup,
        "url_normalize_docs": q_url_normalize_docs,
        "url_blocklist_sources": q_url_blocklist_sources,
        "url_keyed_dedup": q_url_keyed_dedup,
        "ann_hard_negatives": q_ann_hard_negatives,
        "part_record_linkage": q_part_record_linkage,
        "part_mutual_best_match": q_part_mutual_best_match,
        "media_png_roundtrip_stats": q_media_png_roundtrip_stats,
        "sync_incremental_semijoin": q_sync_incremental_semijoin,
        "full_table_projection": q_full_table_projection,
        "ordered_limit_topk": q_ordered_limit_topk,
        "volume_count": q_volume_count,
        "bookmark_max": q_bookmark_max,
        "uuid_validation": q_uuid_validation,
        "payload_reshape": q_payload_reshape,
        "q1_pricing_summary": q1_pricing_summary,
        "grouped_stream_stats": q_grouped_stream_stats,
        "pairwise_deltas": q_pairwise_deltas,
        "latest_event_per_user": q_latest_event_per_user,
        "rollup_pricing": q_rollup_pricing,
        "cube_order_stats": q_cube_order_stats,
        "distinct_users": q_distinct_users,
        "approx_distinct_users": q_approx_distinct_users,
        "setops_user_segments": q_setops_user_segments,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q4_priority_exists": q4_priority_exists,
        "q2_min_acctbal_supplier": q2_min_acctbal_supplier,
        "range_join_price_bands": q_range_join_price_bands,
        "range_join_event_windows": q_range_join_event_windows,
        "failed_record_routing": q_failed_record_routing,
        "salted_grouped_stats": q_salted_grouped_stats,
        "percentile_order_value": q_percentile_order_value,
        "hourly_event_buckets": q_hourly_event_buckets,
        # --- already certified, stalest-certification-first (last
        # driver-green round ascending; COVERAGE.md carries the ledger) ---
        # last certified r2
        "rank_orders": q_rank_orders,
        "running_user_spend": q_running_user_spend,
        "flatten_nested_props": q_flatten_nested_props,
        "asof_join_latest_order": q_asof_join_latest_order,
        "session_stats": q_session_stats,
        "exact_dedup_docs": q_exact_dedup_docs,
        "minhash_neardup": q_minhash_neardup,
        "simhash_neardup": q_simhash_neardup,
        "word_jaccard_pairs": q_word_jaccard_pairs,
        "embedding_neardup": q_embedding_neardup,
        "embedding_topk": q_embedding_topk,
        "embedding_ann_recall": q_embedding_ann_recall,
        "label_centroids": q_label_centroids,
        "event_funnel": q_event_funnel,
        "repetition_stats": q_repetition_stats,
        "quality_funnel": q_quality_funnel,
        "benchmark_contamination": q_benchmark_contamination,
        "sampled_docs": q_sampled_docs,
        "train_eval_split_counts": q_train_eval_split_counts,
        "source_mix_sample": q_source_mix_sample,
        # last certified r3
        "weighted_sample_docs": q_weighted_sample_docs,
        "moving_avg_user_spend": q_moving_avg_user_spend,
        "ntile_price_deciles": q_ntile_price_deciles,
        "nation_segments_concat": q_nation_segments_concat,
        "median_mode_order_value": q_median_mode_order_value,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q12_priority_by_returnflag": q12_priority_by_returnflag,
        "q13_order_count_histogram": q13_order_count_histogram,
        "q16_supplier_part_counts": q16_supplier_part_counts,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        "q21_sole_late_supplier": q21_sole_late_supplier,
        "debounced_events": q_debounced_events,
        "duplicate_shingle_rate": q_duplicate_shingle_rate,
        "top_docs_per_source": q_top_docs_per_source,
        "cms_user_counts": q_cms_user_counts,
        "incremental_neardup": q_incremental_neardup,
        "q8_market_share": q8_market_share,
        "q11_important_parts": q11_important_parts,
        "q15_top_supplier": q15_top_supplier,
        "q20_excess_shippers": q20_excess_shippers,
        "minhash_recall": q_minhash_recall,
        "zorder_locality": q_zorder_locality,
        # last certified r4
        "heavy_hitter_users": q_heavy_hitter_users,
        # last certified r5
        "q10_returned_items": q10_returned_items,
        "q14_promo_share": q14_promo_share,
        "q18_large_orders": q18_large_orders,
        "q22_dormant_customers": q22_dormant_customers,
        # last certified r6
        "grouping_sets_orders": q_grouping_sets_orders,
        "embedding_ann_lsh": q_embedding_ann_lsh,
        "embedding_ann_ivf": q_embedding_ann_ivf,
        "embedding_ann_ivf_persisted": q_embedding_ann_ivf_persisted,
        "embedding_ann_ivf_appended": q_embedding_ann_ivf_appended,
        "embedding_ann_pq": q_embedding_ann_pq,
        "embedding_ann_ivfpq": q_embedding_ann_ivfpq,
        "bloom_corpus_membership": q_bloom_corpus_membership,
        "retention_cohorts": q_retention_cohorts,
        "windowed_anomalies": q_windowed_anomalies,
        "distinctive_terms": q_distinctive_terms,
        "column_profile_orders": q_column_profile_orders,
        "bpe_merge_pairs": q_bpe_merge_pairs,
        "bpe_token_counts": q_bpe_token_counts,
        "topic_clusters": q_topic_clusters,
        "ewm_user_spend": q_ewm_user_spend,
        "embedding_neardup_bucketed": q_embedding_neardup_bucketed,
        "source_overlap_matrix": q_source_overlap_matrix,
        "bigram_surprisal": q_bigram_surprisal,
        "vocab_coverage": q_vocab_coverage,
        "source_vocab_profile": q_source_vocab_profile,
        "data_quality_report": q_data_quality_report,
        "bucketed_neardup_recall": q_bucketed_neardup_recall,
        "name_editdist_pairs": q_name_editdist_pairs,
        "pii_rate_by_source": q_pii_rate_by_source,
        "doc_length_histogram": q_doc_length_histogram,
        "ngram_span_coverage": q_ngram_span_coverage,
        "strip_duplicated_spans": q_strip_duplicated_spans,
        "strip_contaminated_spans": q_strip_contaminated_spans,
        "semantic_dedup": q_semantic_dedup,
        "dsir_doc_scores": q_dsir_doc_scores,
        "quality_classifier_scores": q_quality_classifier_scores,
        "mixture_plan": q_mixture_plan,
        "token_budget_head": q_token_budget_head,
        "pack_sequences": q_pack_sequences,
        "shuffled_head": q_shuffled_head,
        "token_rarity": q_token_rarity,
        "hourly_gapfill_locf": q_hourly_gapfill_locf,
        "approx_percentile_check": q_approx_percentile_check,
        "pivot_event_matrix": q_pivot_event_matrix,
        "unpivot_order_facts": q_unpivot_order_facts,
        "cdc_merge_customers": q_cdc_merge_customers,
        "scd2_user_state": q_scd2_user_state,
        "text_analysis": q_text_analysis,
        "tfidf_top_terms": q_tfidf_top_terms,
        "media_decode_stats": q_media_decode_stats,
        "media_frame_counts": q_media_frame_counts,
        "q7_nation_trade": q7_nation_trade,
        "q9_product_profit": q9_product_profit,
        # last certified r7
        "kappa_order_signals": q_kappa_order_signals,
        "cohens_d_price": q_cohens_d_price,
        "mh_odds_ratio_brands": q_mh_odds_ratio,
        "mcnemar_purchase_halves": q_mcnemar_purchase_halves,
        "kruskal_doclen_sources": q_kruskal_doclen_sources,
        "theil_sen_brands": q_theil_sen_brands,
        "pvm_bridge_nations": q_pvm_bridge_nations,
        "logrank_segments": q_logrank_segments,
        "cramers_v_orders": q_cramers_v_orders,
        "partial_corr_lineitem": q_partial_corr_lineitem,
        "group_sequential_orders": q_group_sequential_orders,
        "spearman_price_qty": q_spearman_price_qty,
        "oph_minhash_neardup": q_oph_minhash_neardup,
        "eb_shrunk_brand_rates": q_eb_shrunk_brand_rates,
        "trend_test_discount": q_trend_test_discount,
        "file_row_skew_lineitem": q_file_row_skew,
        "phonetic_linkage_pairs": q_phonetic_linkage_pairs,
        "overdispersion_events": q_overdispersion_events,
        "degree_assortativity_parts": q_degree_assortativity,
        "embedding_mmd_cohorts": q_embedding_mmd_sources,
        "pps_sample_docs": q_pps_sample_docs,
        "weighted_price_quantiles": q_weighted_quantiles_price,
        "blocking_quality_orders": q_blocking_quality_orders,
        "rake_keywords_corpus": q_rake_keywords,
        "isotonic_return_by_discount": q_isotonic_return_by_discount,
        "pettitt_event_changepoints": q_pettitt_event_types,
        "embedding_ann_bq": q_embedding_ann_bq,
        "ipw_return_effect": q_ipw_return_effect,
        "revenue_drawdown_nation": q_revenue_drawdown_nation,
        "engagement_curve_monthly": q_engagement_curve,
        "feature_hash_collisions": q_feature_hash_collisions,
        "event_lateness_histogram": q_event_lateness_histogram,
        "quantile_normalized_doclen": q_quantile_normalized_doclen,
        "ra_links_parts": q_ra_links_parts,
        "clustering_coeff_parts": q_clustering_coeff_parts,
        "mannwhitney_price_priority": q_mannwhitney_price,
        "ks_doclen_sources": q_ks_doclen_sources,
        "bh_fdr_nations": q_bh_fdr_nations,
        "bootstrap_doclen_ci": q_bootstrap_doclen_ci,
        "hll_union_types": q_hll_union_types,
        "join_view_refresh": q_join_view_refresh,
        "cusum_event_drift": q_cusum_events,
        "corr_matrix_lineitem": q_corr_lineitem,
        "neyman_allocation_sources": q_neyman_sources,
        "ppr_copurchase_seeds": q_ppr_copurchase,
        "t_closeness_segments": q_t_closeness,
        "minmax_clustering_depth": q_minmax_depth,
        # last certified r8
        "recsys_hitrate_at3": q_recsys_hitrate,
        "next_event_accuracy": q_next_event_accuracy,
        "did_revenue_estimate": q_did_revenue,
        "mi_price_priority": q_mutual_information,
        "conformal_price_interval": q_conformal_price,
        "wilson_conversion_ci": q_wilson_conversion,
        "embedding_mahalanobis": q_embedding_mahalanobis,
        "orphan_integrity_audit": q_orphan_audit,
        "markov_removal_attribution": q_markov_attribution,
        "seasonal_mase_events": q_seasonal_mase,
        "gini_price_stump": q_gini_price_stump,
        "loo_brand_influence": q_loo_brand_influence,
        "shapley_channel_credits": q_shapley_credits,
        "lpa_copurchase_communities": q_lpa_copurchase,
        "customer_survival_km": q_customer_survival,
        "deletion_cascade_audit": q_deletion_cascade,
        "bm25_ranking": q_bm25_ranking,
        "woe_iv_price_deciles": q_woe_iv_price,
        "cuped_adjusted_spend": q_cuped_spend,
        "nb_source_classify": q_nb_source_classify,
        "embedding_dim_recall": q_embedding_dim_recall,
        "doc_sorted_neighborhood": q_doc_sorted_neighborhood,
        "fk_discovery": q_fk_discovery,
        "negative_samples_parts": q_negative_samples,
        "classifier_auc": q_classifier_auc,
        "join_size_lineitem_partkey": q_join_size_profile,
        "ann_ranking_quality": q_ann_ranking_quality,
        "candidate_keys_orders": q_candidate_keys_orders,
        "pagerank_copurchase": q_pagerank_copurchase,
        "vocab_growth_docs": q_vocab_growth,
        "zipf_token_ranks": q_zipf_token_ranks,
        "embedding_pca_projection": q_embedding_pca_projection,
        "compression_quality_sources": q_compression_quality,
        "event_run_lengths": q_event_run_lengths,
        "weak_labels_docs": q_weak_labels,
        "price_qty_slope_brand": q_price_qty_slope,
        "incremental_name_linkage": q_incremental_name_linkage,
        "copurchase_blast_radius": q_copurchase_blast_radius,
        "related_items_parts": q_related_items,
        "dedup_clusters_star": q_dedup_clusters_star,
        "part_skyline": q_part_skyline,
        "u_shaped_credits": q_u_shaped_attribution,
        "rolling_active_users": q_rolling_active_users,
        "funnel_clean_conversions": q_funnel_with_exclusion,
        "order_concurrency_peak": q_order_concurrency,
        "revenue_recognition_monthly": q_revenue_recognition,
        # last certified r9
        "exact_substr_dedup": q_exact_substr_dedup,
        "strip_exact_duplicates": q_strip_exact_duplicates,
        "incremental_substr_matches": q_incremental_substr_matches,
        "unigram_token_counts": q_unigram_token_counts,
        "unigram_doc_scores": q_unigram_doc_scores,
        "wordpiece_token_counts": q_wordpiece_token_counts,
        "gopher_repetition_docs": q_gopher_repetition,
        "gopher_quality_rules_docs": q_gopher_quality_rules,
        "dp_nation_histogram": q_dp_nation_histogram,
        "token_waterfill_sources": q_token_waterfill,
        "batch_padding_report": q_batch_padding_report,
        "ccnet_perplexity_buckets": q_ccnet_buckets,
        "langid_confusion": q_langid_confusion,
        "user_path_similarity": q_user_path_similarity,
        "watermark_sizing_events": q_watermark_sizing_events,
        "tokenizer_compression_compare": q_tokenizer_compression_compare,
        "tokenizer_fertility_by_source": q_tokenizer_fertility_by_source,
        "version_diff_customers": q_version_diff_customers,
        "rollup_refresh_orders": q_rollup_refresh_orders,
        "purchase_attribution": q_purchase_attribution,
        "time_decay_credits": q_time_decay_attribution,
        "linear_attribution_credits": q_linear_attribution,
        "status_history_scd2": q_status_history_scd2,
        "growth_accounting_orders": q_growth_accounting,
        "cohort_ltv_curve": q_cohort_ltv,
        "token_cooccurrence_lift": q_token_cooccurrence_lift,
        "consistent_sharding_moves": q_consistent_sharding,
        "arrival_burstiness_events": q_arrival_burstiness,
        "media_wav_roundtrip_stats": q_media_wav_roundtrip_stats,
        "label_margins": q_label_margins,
        "event_autocorrelation": q_event_autocorrelation,
        "revenue_gini": q_revenue_gini,
        "seasonal_residuals_events": q_seasonal_residuals,
        "session_entry_exit_matrix": q_session_entry_exit,
        "ngram_novelty_docs": q_ngram_novelty,
        "frequent_triples_parts": q_frequent_triples,
        "table_fingerprint_customer": q_table_fingerprint,
        "conversion_chi2": q_conversion_chi2,
        "trimmed_mean_prices": q_trimmed_mean_prices,
        "association_rules_parts": q_association_rules,
        "copurchase_degree_dist": q_copurchase_degree_dist,
        "dedup_keep_best_parts": q_dedup_keep_best,
        "token_drift_sources": q_token_drift_sources,
        "label_outliers": q_label_outliers,
        # last certified r10
        "supplier_concentration": q_supplier_concentration,
        "stratified_quota_docs": q_stratified_quota_sample,
        "activity_streaks_users": q_activity_streaks,
        "next_error_after_purchase": q_next_error_after_purchase,
        "readability_docs": q_readability_docs,
        "weekday_seasonality_events": q_weekday_seasonality,
        "ann_rank_fusion": q_ann_rank_fusion,
        "price_histogram": q_price_histogram,
        "churn_hazard_purchases": q_churn_hazard,
        "curriculum_phases_docs": q_curriculum_phases,
        "k_anonymity_customers": q_k_anonymity_customers,
        "l_diversity_orders": q_l_diversity_orders,
        "copurchase_pairs": q_copurchase_pairs,
        "copurchase_triangles": q_copurchase_triangles,
        "benford_totalprice": q_benford_totalprice,
        "price_quantiles_disc": q_price_quantiles_disc,
        "group_kfold_orders": q_group_kfold_orders,
        "char_entropy_quality": q_char_entropy_quality,
        "backfill_plan": q_backfill_plan,
        "robust_outliers": q_robust_outliers,
        "label_centroid_similarity": q_label_centroid_similarity,
        "overlapping_order_windows": q_overlapping_order_windows,
        "chunk_documents": q_chunk_documents,
        "dup_size_histogram": q_dup_size_histogram,
        "event_pattern_match": q_event_pattern_match,
        "event_path_counts": q_event_path_counts,
        "time_weighted_value": q_time_weighted_value,
        "hll_user_registers": q_hll_user_registers,
        "kmv_audience_overlap": q_kmv_audience_overlap,
        "word_containment_pairs": q_word_containment_pairs,
        "event_funnel_windowed": q_event_funnel_windowed,
        "key_skew_events": q_key_skew_events,
        "event_funnel_any_chain": q_event_funnel_any_chain,
        "mixture_plan_temperature": q_mixture_plan_temperature,
        "embedding_moments": q_embedding_moments,
        "classifier_calibration": q_classifier_calibration,
        "event_transition_matrix": q_event_transition_matrix,
        "conversion_latency_histogram": q_conversion_latency_histogram,
        "cross_source_dup_matrix": q_cross_source_dup_matrix,
        "neardup_threshold_sensitivity": q_neardup_threshold_sensitivity,
        "langid_chargram_confusion": q_langid_chargram_confusion,
        "embedding_ann_opq": q_embedding_ann_opq,
        "c4_line_filters_docs": q_c4_line_filters,
        "corpus_line_dedup_docs": q_corpus_line_dedup,
    }


# Staging area the signature/ANN queries write to at sf0.01 — the only SF
# the correctness gate runs at (other SFs stage under their own basename,
# so a bench run never clobbers the oracle's inputs).
_STAGE = f"{DEFAULT_ROOT}/sf0.01"
_CJK160 = "".join(chr(0x4E00 + i) for i in range(160))
_NDCG_VALUES = ", ".join(
    f"({r}, {w})" for r, w in enumerate(_ndcg_weights(20), start=1)
)
_NDCG_IDCG = sum(_ndcg_weights(20))


def _ck_oracle(table: str, cols: list[str]) -> str:
    """Candidate-key oracle: one UNION ALL branch per combo, mirroring
    candidate_keys' combo enumeration (sorted singles then sorted
    pairs)."""
    ordered = sorted(cols)
    combos = [(c,) for c in ordered] + [
        (a, b) for i, a in enumerate(ordered) for b in ordered[i + 1:]
    ]
    parts = []
    for combo in combos:
        name = "+".join(combo)
        expr = (
            f"count(DISTINCT {combo[0]})"
            if len(combo) == 1
            else f"count(DISTINCT ({combo[0]}, {combo[1]}))"
        )
        parts.append(
            f"""SELECT '{name}' AS candidate,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST({expr} AS BIGINT) AS n_distinct,
                   CAST({expr} * 1000000 // count(*) AS BIGINT)
                       AS uniqueness_ppm,
                   ({expr} = count(*)) AS is_key
            FROM {table}"""
        )
    return "\nUNION ALL\n".join(parts)

# Distinct word-3-gram shingle set per document — the DuckDB twin of
# operators/dedup.shingle_sets(n=3, distinct=True).
_SHINGLES_CTE = """
    w AS (
      SELECT doc_id,
             list_distinct(list_transform(
                 range(1, greatest(len(w0) - 2, 1) + 1),
                 i -> array_to_string(list_slice(w0, i, i + 2), ' '))) AS sh
      FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                ' ') AS w0
            FROM documents))
"""

# MinHash banding + exact-Jaccard verify over the STAGED signatures
# (k=48, 8 bands of 6). Band membership is signature-slice equality —
# Spark's band-bucket hash can only ADD candidates on a 2^-32 hash
# collision, and those are filtered identically by the exact verify
# unless the colliding pair also clears the Jaccard threshold
# (probability ~0 at any SF).
_MINHASH_VERIFIED_CTE = f"""
    sigs AS (SELECT doc, sig
             FROM read_parquet('{_STAGE}/minhash_sigs.parquet/*.parquet')),
    cand AS (
      SELECT a.doc AS id_a, b.doc AS id_b
      FROM sigs a JOIN sigs b ON a.doc < b.doc
      WHERE list_slice(a.sig,  1,  6) = list_slice(b.sig,  1,  6)
         OR list_slice(a.sig,  7, 12) = list_slice(b.sig,  7, 12)
         OR list_slice(a.sig, 13, 18) = list_slice(b.sig, 13, 18)
         OR list_slice(a.sig, 19, 24) = list_slice(b.sig, 19, 24)
         OR list_slice(a.sig, 25, 30) = list_slice(b.sig, 25, 30)
         OR list_slice(a.sig, 31, 36) = list_slice(b.sig, 31, 36)
         OR list_slice(a.sig, 37, 42) = list_slice(b.sig, 37, 42)
         OR list_slice(a.sig, 43, 48) = list_slice(b.sig, 43, 48)),
    {_SHINGLES_CTE.strip()},
    j AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(wa.sh, wb.sh)) AS inter,
             len(wa.sh) AS na, len(wb.sh) AS nb
      FROM cand c
      JOIN w wa ON wa.doc_id = c.id_a
      JOIN w wb ON wb.doc_id = c.id_b),
    verified AS (
      SELECT id_a, id_b,
             round(cast(inter as double) / cast(na + nb - inter as double), 6)
                 AS jaccard
      FROM j
      WHERE round(cast(inter as double) / cast(na + nb - inter as double), 6)
            >= 0.8)
"""


# Positional word-5-grams per document — the DuckDB twin of
# operators/spans.positional_kgrams(k=5): gram at 1-based pos i is words
# i..i+4 (clamped at the end; docs shorter than 5 words yield one
# truncated gram at pos 1). The oracle groups by the gram STRING — exact
# equality — while Spark groups by xxhash64(gram): a hash collision
# (2^-64 per pair) could only add a false covered span on the Spark
# side, the same one-sided-error budget the MinHash banding oracle
# documents.
_POS_GRAMS_CTE = """
    t AS (
      SELECT doc_id AS doc,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS w0
      FROM documents),
    g AS (
      SELECT doc, len(w0) AS n_tokens, i AS pos,
             array_to_string(list_slice(w0, i, i + 4), ' ') AS gd
      FROM t, unnest(range(1, greatest(len(w0) - 4, 1) + 1)) AS r(i)),
    dup AS (SELECT gd FROM g GROUP BY gd HAVING count(DISTINCT doc) >= 2),
    cov AS (
      SELECT DISTINCT doc, p
      FROM (SELECT g.doc,
                   unnest(range(g.pos, least(g.pos + 4, g.n_tokens) + 1)) AS p
            FROM g JOIN dup USING (gd))),
    c AS (SELECT doc, count(*) AS dup_tokens FROM cov GROUP BY doc)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "exact_substr_dedup": f"""
            WITH seeds AS (
              SELECT doc, pos, g FROM read_parquet(
                '{_STAGE}/substr_seeds_k4.parquet/*.parquet')),
            occ_ok AS (
              SELECT g FROM seeds GROUP BY g
              HAVING count(*) >= 2 AND count(*) <= 16),
            s AS (SELECT seeds.* FROM seeds JOIN occ_ok USING (g)),
            pairs AS (
              SELECT a.doc AS doc_a, b.doc AS doc_b,
                     a.pos AS pos_a, b.pos AS pos_b,
                     b.pos - a.pos AS shift
              FROM s a JOIN s b ON a.g = b.g
               AND (a.doc < b.doc
                    OR (a.doc = b.doc AND a.pos < b.pos))),
            runs AS (
              SELECT doc_a, doc_b, shift, pos_a, pos_b,
                     pos_a - row_number() OVER (
                       PARTITION BY doc_a, doc_b, shift
                       ORDER BY pos_a) AS isl
              FROM pairs),
            matches AS (
              SELECT doc_a, doc_b,
                     CAST(count(*) - 1 + 4 AS BIGINT) AS len_tokens
              FROM runs GROUP BY doc_a, doc_b, shift, isl
              HAVING count(*) - 1 + 4 >= 8),
            endpoints AS (
              SELECT doc_a AS doc_id, doc_b AS partner, len_tokens
              FROM matches
              UNION ALL
              SELECT doc_b AS doc_id, doc_a AS partner, len_tokens
              FROM matches WHERE doc_a <> doc_b)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_matches,
                   CAST(max(len_tokens) AS BIGINT) AS max_len_tokens,
                   CAST(count(DISTINCT partner) AS BIGINT)
                       AS n_partner_docs
            FROM endpoints GROUP BY doc_id
        """,
        "kappa_order_signals": """
            WITH base AS (
              SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 ELSE 0 END AS ra,
                     CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                         AS rb
              FROM orders),
            fold AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_agree,
                     CAST(sum(ra) AS BIGINT) AS ma,
                     CAST(sum(rb) AS BIGINT) AS mb
              FROM base)
            SELECT n, n_agree,
                   CAST(CASE WHEN CAST(n AS HUGEINT) * n
                             - (CAST(ma AS HUGEINT) * mb
                                + CAST(n - ma AS HUGEINT) * (n - mb))
                             <> 0
                        THEN (CAST(n AS HUGEINT) * n_agree
                              - (CAST(ma AS HUGEINT) * mb
                                 + CAST(n - ma AS HUGEINT) * (n - mb)))
                             * 1000000
                             // (CAST(n AS HUGEINT) * n
                                 - (CAST(ma AS HUGEINT) * mb
                                    + CAST(n - ma AS HUGEINT)
                                      * (n - mb))) END AS BIGINT)
                       AS kappa_fp
            FROM fold
        """,
        "cohens_d_price": """
            WITH base AS (
              SELECT CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END AS g,
                     CAST(cast(o_totalprice as decimal(18,2)) * 100
                          AS BIGINT) AS v
              FROM orders
              WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
            cells AS (
              SELECT g, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(v) AS HUGEINT) AS s,
                     CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
              FROM base GROUP BY g),
            j AS (
              SELECT a.n AS n1, a.s AS s1, a.q AS q1,
                     b.n AS n0, b.s AS s0, b.q AS q0
              FROM cells a, cells b WHERE a.g = 1 AND b.g = 0)
            SELECT n1, n0,
                   CAST(s1 * 1000000 // n1 AS BIGINT) AS mean1_fp,
                   CAST(s0 * 1000000 // n0 AS BIGINT) AS mean0_fp,
                   CASE WHEN n1 > 1 AND n0 > 1 THEN
                     round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                            - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                           / sqrt(((CAST(q1 AS DOUBLE)
                                    - CAST(s1 AS DOUBLE)
                                      * CAST(s1 AS DOUBLE)
                                      / CAST(n1 AS DOUBLE))
                                   + (CAST(q0 AS DOUBLE)
                                      - CAST(s0 AS DOUBLE)
                                        * CAST(s0 AS DOUBLE)
                                        / CAST(n0 AS DOUBLE)))
                                  / CAST(n1 + n0 - 2 AS DOUBLE)), 6)
                   END AS d_fp
            FROM j
        """,
        "mh_odds_ratio_brands": """
            WITH base AS (
              SELECT p.p_brand AS s,
                     CASE WHEN CAST(l.l_discount AS DECIMAL(18,4))
                               >= 0.05 THEN 1 ELSE 0 END AS e,
                     CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END
                         AS y
              FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
            cells AS (
              SELECT s, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(e * y) AS BIGINT) AS a,
                     CAST(sum(e * (1 - y)) AS BIGINT) AS b,
                     CAST(sum((1 - e) * y) AS BIGINT) AS c,
                     CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d
              FROM base GROUP BY s),
            fold AS (
              SELECT CAST(count(*) AS BIGINT) AS n_strata,
                     CAST(sum(n) AS BIGINT) AS n_rows,
                     CAST(sum(CAST(a AS HUGEINT) * d * 1000000 // n)
                          AS HUGEINT) AS num,
                     CAST(sum(CAST(b AS HUGEINT) * c * 1000000 // n)
                          AS HUGEINT) AS den
              FROM cells)
            SELECT n_strata, n_rows,
                   CAST(CASE WHEN den > 0
                             THEN num * 1000000 // den END AS BIGINT)
                       AS or_mh_fp
            FROM fold
        """,
        "mcnemar_purchase_halves": """
            WITH days AS (
              SELECT user_id, event_type,
                     CAST(date_diff('day', DATE '1970-01-01',
                                    CAST(ts AS DATE)) AS BIGINT) AS d
              FROM events),
            mid AS (
              SELECT CAST((min(d) + max(d)) // 2 AS BIGINT) AS mid
              FROM days),
            per_user AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase'
                              AND d <= mid THEN 1 ELSE 0 END) AS b0,
                     max(CASE WHEN event_type = 'purchase'
                              AND d > mid THEN 1 ELSE 0 END) AS a0
              FROM days, mid GROUP BY user_id),
            fold AS (
              SELECT CAST(count(*) AS BIGINT) AS n_subjects,
                     CAST(sum(CASE WHEN b0 = 1 AND a0 = 0
                                   THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_yes_no,
                     CAST(sum(CASE WHEN b0 = 0 AND a0 = 1
                                   THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_no_yes
              FROM per_user)
            SELECT n_subjects, n_yes_no, n_no_yes,
                   CAST(n_no_yes - n_yes_no AS BIGINT) AS net_flips,
                   CAST(CASE WHEN n_yes_no + n_no_yes > 0
                             THEN CAST(n_yes_no - n_no_yes AS HUGEINT)
                                  * (n_yes_no - n_no_yes) * 1000000
                                  // (n_yes_no + n_no_yes) END
                        AS BIGINT) AS chi2_fp
            FROM fold
        """,
        "kruskal_doclen_sources": """
            WITH base AS (
              SELECT source AS g, CAST(n_chars AS BIGINT) AS v
              FROM documents),
            cells AS (
              SELECT v, g, CAST(count(*) AS BIGINT) AS cnt
              FROM base GROUP BY v, g),
            pv AS (
              SELECT v, CAST(sum(cnt) AS BIGINT) AS vt
              FROM cells GROUP BY v),
            cum AS (
              SELECT v, vt, sum(vt) OVER (ORDER BY v) AS c FROM pv),
            dr AS (
              SELECT v,
                     CAST(2 * (c - vt) + vt + 1 AS BIGINT) AS dr,
                     CAST(CAST(vt AS HUGEINT) * vt * vt - vt
                          AS HUGEINT) AS tie
              FROM cum),
            pg AS (
              SELECT cells.g,
                     CAST(sum(cnt) AS BIGINT) AS ng,
                     CAST(sum(CAST(cnt AS HUGEINT) * dr.dr) AS HUGEINT)
                         AS r2g
              FROM cells JOIN dr ON dr.v = cells.v
              GROUP BY cells.g),
            tt AS (SELECT CAST(sum(tie) AS HUGEINT) AS tc FROM dr),
            fold AS (
              SELECT CAST(sum(ng) AS BIGINT) AS n_total,
                     CAST(count(*) AS BIGINT) AS n_groups,
                     CAST(max(tt.tc) AS HUGEINT) AS tie_cubes,
                     CAST(sum(r2g * r2g // ng) AS HUGEINT) AS s2
              FROM pg, tt)
            SELECT n_total, n_groups,
                   CAST(tie_cubes AS BIGINT) AS tie_cubes,
                   round((12.0 / (CAST(n_total AS DOUBLE)
                                  * (CAST(n_total AS DOUBLE) + 1.0))
                          * (CAST(s2 AS DOUBLE) / 4.0)
                          - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))
                         / (1.0 - CAST(tie_cubes AS DOUBLE)
                            / (CAST(n_total AS DOUBLE)
                               * CAST(n_total AS DOUBLE)
                               * CAST(n_total AS DOUBLE)
                               - CAST(n_total AS DOUBLE))), 6)
                       AS h_fp
            FROM fold
        """,
        "theil_sen_brands": """
            WITH monthly AS (
              SELECT p.p_brand AS g,
                     CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate)
                          AS BIGINT) AS m,
                     CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT)
                         AS y,
                     CAST(sum(CAST(cast(l.l_extendedprice as
                                        decimal(18,2)) * 100
                                   AS HUGEINT)) // count(*) AS BIGINT)
                         AS x
              FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
              GROUP BY 1, 2),
            pairs AS (
              SELECT a.g,
                     CAST(CAST(b.y - a.y AS HUGEINT) * 1000000
                          // (b.x - a.x) AS BIGINT) AS s
              FROM monthly a JOIN monthly b
                ON b.g = a.g AND a.x < b.x),
            ranked AS (
              SELECT g, s,
                     row_number() OVER (PARTITION BY g ORDER BY s)
                         AS rn
              FROM pairs),
            cnt AS (
              SELECT g, CAST(count(*) AS BIGINT) AS n_pairs
              FROM pairs GROUP BY g),
            npts AS (
              SELECT g, CAST(count(*) AS BIGINT) AS n_points
              FROM monthly GROUP BY g)
            , med AS (
              SELECT r.g, cnt.n_pairs, r.s
              FROM ranked r JOIN cnt ON cnt.g = r.g
              WHERE r.rn = (cnt.n_pairs + 1) // 2)
            SELECT npts.g AS p_brand, npts.n_points,
                   COALESCE(med.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
                   med.s AS slope_fp
            FROM npts LEFT JOIN med ON med.g = npts.g
        """,
        "qini_discount_uplift": """
            WITH base AS (
              SELECT concat_ws('|', l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, CAST(l.l_quantity AS BIGINT), CAST(cast(l.l_extendedprice as decimal(18,2)) * 100 AS BIGINT), CAST(CAST(l.l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT), CAST(CAST(l.l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT), l.l_returnflag, l.l_linestatus, date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))) AS line_uid,
                     p.p_brand AS c,
                     CASE WHEN CAST(l.l_discount AS DECIMAL(18,4))
                               >= 0.05 THEN 1 ELSE 0 END AS t,
                     CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END
                         AS y
              FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
            sums AS (
              SELECT c, CAST(sum(y) AS BIGINT) AS sy,
                     CAST(count(*) AS BIGINT) AS nc
              FROM base GROUP BY c),
            tot AS (
              SELECT CAST(sum(y) AS BIGINT) AS st,
                     CAST(count(*) AS BIGINT) AS nt
              FROM base),
            scored AS (
              SELECT b.line_uid, b.t, b.y,
                     CAST(CASE WHEN s.nc > 1
                               THEN CAST(s.sy - b.y AS HUGEINT) * 1000000
                                    // (s.nc - 1)
                               ELSE CAST(tt.st - b.y AS HUGEINT)
                                    * 1000000 // (tt.nt - 1) END
                          AS BIGINT) AS enc_fp
              FROM base b JOIN sums s ON s.c = b.c, tot tt),
            ranked AS (
              SELECT t, y,
                     CAST(row_number() OVER (ORDER BY enc_fp DESC,
                                             line_uid) AS BIGINT) AS r,
                     CAST(count(*) OVER () AS BIGINT) AS m
              FROM scored),
            bucketed AS (
              SELECT t, y,
                     CASE WHEN r <= (m % 10) * ((m // 10) + 1)
                          THEN (r - 1) // ((m // 10) + 1) + 1
                          ELSE (m % 10)
                               + (r - 1 - (m % 10) * ((m // 10) + 1))
                                 // (m // 10) + 1 END AS bucket
              FROM ranked),
            per AS (
              SELECT CAST(bucket AS BIGINT) AS bucket,
                     CAST(sum(t) AS BIGINT) AS n_treated,
                     CAST(sum(1 - t) AS BIGINT) AS n_control,
                     CAST(sum(t * y) AS BIGINT) AS y_treated,
                     CAST(sum((1 - t) * y) AS BIGINT) AS y_control
              FROM bucketed GROUP BY bucket)
            SELECT bucket, n_treated, n_control, y_treated, y_control,
                   CAST(CASE WHEN n_treated > 0 AND n_control > 0 THEN
                        CAST(y_treated AS HUGEINT) * 1000000
                        // n_treated
                        - CAST(y_control AS HUGEINT) * 1000000
                          // n_control END AS BIGINT) AS uplift_fp,
                   CAST(sum(y_treated) OVER (ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)
                        * CAST(1000000 AS HUGEINT)
                        - CAST(sum(y_control) OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS HUGEINT)
                          * sum(n_treated) OVER (ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
                          * 1000000
                          // greatest(sum(n_control) OVER (
                               ORDER BY bucket
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW), 1)
                        AS BIGINT) AS qini_fp
            FROM per
        """,
        "pvm_bridge_nations": """
            WITH base AS (
              SELECT CAST(c.c_nationkey AS BIGINT) AS g,
                     CAST(year(o.o_orderdate) AS BIGINT) AS yr,
                     CAST(l.l_quantity AS BIGINT) AS qty,
                     CAST(cast(l.l_extendedprice as decimal(18,2)) * 100
                          AS BIGINT) AS rev
              FROM lineitem l
              JOIN orders o ON o.o_orderkey = l.l_orderkey
              JOIN customer c ON c.c_custkey = o.o_custkey
              WHERE year(o.o_orderdate) IN (1995, 1996)),
            cells AS (
              SELECT g,
                     sum(CASE WHEN yr = 1995 THEN qty END) AS q0,
                     sum(CASE WHEN yr = 1995 THEN rev END) AS r0,
                     sum(CASE WHEN yr = 1996 THEN qty END) AS q1,
                     sum(CASE WHEN yr = 1996 THEN rev END) AS r1
              FROM base GROUP BY g
              HAVING q0 IS NOT NULL AND q1 IS NOT NULL
                 AND q0 > 0 AND q1 > 0),
            eff AS (
              SELECT g, r0, r1,
                     CAST(r1 - r0 AS HUGEINT) * 1000000 AS delta,
                     CAST(CAST(q1 - q0 AS HUGEINT) * r0 * 1000000
                          // q0 AS HUGEINT) AS volume,
                     CAST(q0 AS HUGEINT) * r1 * 1000000 // q1
                       - CAST(r0 AS HUGEINT) * 1000000 AS price
              FROM cells)
            SELECT g, CAST(r0 AS BIGINT) AS rev_a_fp,
                   CAST(r1 AS BIGINT) AS rev_b_fp,
                   CAST(delta AS BIGINT) AS delta_fp,
                   CAST(volume AS BIGINT) AS volume_fp,
                   CAST(price AS BIGINT) AS price_fp,
                   CAST(delta - volume - price AS BIGINT) AS mix_fp
            FROM eff
        """,
        "logrank_segments": """
            WITH per AS (
              SELECT o_custkey,
                     min(CAST(o_orderdate AS DATE)) AS f,
                     max(CAST(o_orderdate AS DATE)) AS l
              FROM orders GROUP BY 1),
            endd AS (SELECT max(l) AS e FROM per),
            du AS (
              SELECT CAST(date_diff('day', per.f, per.l) AS BIGINT)
                         AS dur,
                     CASE WHEN date_diff('day', per.l, endd.e) > 365
                          THEN 1 ELSE 0 END AS ev,
                     CASE WHEN c.c_mktsegment = 'BUILDING'
                          THEN 1 ELSE 0 END AS g
              FROM per
              CROSS JOIN endd
              JOIN customer c ON c.c_custkey = per.o_custkey),
            cells AS (
              SELECT dur AS t, g, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(ev) AS BIGINT) AS d
              FROM du GROUP BY 1, 2),
            grid AS (SELECT DISTINCT t FROM cells),
            gg AS (SELECT t, 0 AS g FROM grid
                   UNION ALL SELECT t, 1 FROM grid),
            dense AS (
              SELECT gg.t, gg.g, coalesce(c.n, 0) AS n,
                     coalesce(c.d, 0) AS d
              FROM gg LEFT JOIN cells c
                ON c.t = gg.t AND c.g = gg.g),
            atr AS (
              SELECT t, g, d,
                     sum(n) OVER (PARTITION BY g ORDER BY t DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS atr
              FROM dense),
            tt AS (
              SELECT a1.t, a1.d AS d1, a1.atr AS n1,
                     a0.d AS d0, a0.atr AS n0
              FROM atr a1 JOIN atr a0
                ON a0.t = a1.t AND a1.g = 1 AND a0.g = 0),
            tm AS (
              SELECT *, d1 + d0 AS dt, n1 + n0 AS nt
              FROM tt WHERE d1 + d0 > 0 AND n1 + n0 > 1),
            fold AS (
              SELECT CAST(count(*) AS BIGINT) AS n_times,
                     CAST(sum(CAST(d1 AS HUGEINT) * 1000000
                              - CAST(dt AS HUGEINT) * n1 * 1000000
                                // nt) AS BIGINT) AS u_fp,
                     CAST(sum(CAST(dt AS HUGEINT) * n1 * n0 * (nt - dt)
                              * 1000000
                              // (CAST(nt AS HUGEINT) * nt * (nt - 1)))
                          AS BIGINT) AS v_fp
              FROM tm)
            SELECT n_times, u_fp, v_fp,
                   round(CAST(u_fp AS DOUBLE)
                         / sqrt(CAST(v_fp AS DOUBLE) * 1000000.0), 6)
                       AS z_fp
            FROM fold
        """,
        "cramers_v_orders": """
            WITH base AS (
              SELECT o.o_orderpriority, o.o_orderstatus, c.c_mktsegment
              FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
            pairs AS (
              SELECT 'o_orderpriority' AS col_a,
                     'o_orderstatus' AS col_b,
                     o_orderpriority AS a, o_orderstatus AS b FROM base
              UNION ALL
              SELECT 'o_orderpriority', 'c_mktsegment',
                     o_orderpriority, c_mktsegment FROM base
              UNION ALL
              SELECT 'o_orderstatus', 'c_mktsegment',
                     o_orderstatus, c_mktsegment FROM base),
            cells AS (
              SELECT col_a, col_b, a, b,
                     CAST(count(*) AS BIGINT) AS o
              FROM pairs GROUP BY 1, 2, 3, 4),
            ra AS (SELECT col_a, col_b, a,
                          CAST(sum(o) AS BIGINT) AS ram
                   FROM cells GROUP BY 1, 2, 3),
            cb AS (SELECT col_a, col_b, b,
                          CAST(sum(o) AS BIGINT) AS cbm
                   FROM cells GROUP BY 1, 2, 3),
            tot AS (SELECT col_a, col_b,
                           CAST(sum(o) AS BIGINT) AS n,
                           CAST(count(DISTINCT a) AS BIGINT) AS ka,
                           CAST(count(DISTINCT b) AS BIGINT) AS kb
                    FROM cells GROUP BY 1, 2),
            hyd AS (
              SELECT c.col_a, c.col_b, c.o, r.ram, m.cbm, t.n,
                     least(t.ka, t.kb) AS klo
              FROM cells c
              JOIN ra r ON r.col_a = c.col_a AND r.col_b = c.col_b
                        AND r.a = c.a
              JOIN cb m ON m.col_a = c.col_a AND m.col_b = c.col_b
                        AND m.b = c.b
              JOIN tot t ON t.col_a = c.col_a AND t.col_b = c.col_b),
            fold AS (
              SELECT col_a, col_b, max(n) AS n,
                     max(klo) AS n_lo_card,
                     CAST(sum(CAST(o AS HUGEINT) * o * n * 1000000
                              // (CAST(ram AS HUGEINT) * cbm))
                          - CAST(max(n) AS HUGEINT) * 1000000
                          AS BIGINT) AS chi2_fp
              FROM hyd GROUP BY col_a, col_b)
            SELECT col_a, col_b, n, n_lo_card, chi2_fp,
                   round(sqrt(CAST(chi2_fp AS DOUBLE) / 1000000.0
                              / (CAST(n AS DOUBLE)
                                 * (CAST(n_lo_card AS DOUBLE) - 1.0))),
                         6) AS v_fp
            FROM fold
        """,
        "partial_corr_lineitem": """
            WITH base AS (
              SELECT CAST(cast(l_extendedprice as decimal(18,2)) * 100
                          AS BIGINT) AS x,
                     CAST(l_quantity AS BIGINT) AS y,
                     CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                          AS BIGINT) AS z
              FROM lineitem),
            fold AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS HUGEINT) AS sx,
                     CAST(sum(y) AS HUGEINT) AS sy,
                     CAST(sum(z) AS HUGEINT) AS sz,
                     CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                     CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
                     CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
                     CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                     CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
                     CAST(sum(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
              FROM base),
            rs AS (
              SELECT n,
                     CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
                         AS rxy,
                     CAST(n * sxz - sx * sz AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * szz - sz * sz AS DOUBLE))
                         AS rxz,
                     CAST(n * syz - sy * sz AS DOUBLE)
                       / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                              * CAST(n * szz - sz * sz AS DOUBLE))
                         AS ryz
              FROM fold)
            SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
                   round(ryz, 6) AS r_yz,
                   round((rxy - rxz * ryz)
                         / sqrt((1.0 - rxz * rxz)
                                * (1.0 - ryz * ryz)), 6)
                       AS r_xy_given_z
            FROM rs
        """,
        "group_sequential_orders": """
            WITH base AS (
              SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                     CAST(o_custkey % 2 AS INT) AS arm,
                     CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                         AS f
              FROM orders),
            cells AS (
              SELECT yr, arm, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(f) AS BIGINT) AS x
              FROM base GROUP BY 1, 2),
            cum AS (
              SELECT yr, arm,
                     CAST(sum(n) OVER (PARTITION BY arm ORDER BY yr)
                          AS BIGINT) AS cn,
                     CAST(sum(x) OVER (PARTITION BY arm ORDER BY yr)
                          AS BIGINT) AS cx
              FROM cells),
            looks AS (
              SELECT a1.yr, a1.cn AS n1, a1.cx AS x1,
                     a0.cn AS n0, a0.cx AS x0
              FROM cum a1 JOIN cum a0
                ON a0.yr = a1.yr AND a1.arm = 1 AND a0.arm = 0),
            idx AS (
              SELECT *, row_number() OVER (ORDER BY yr) AS k FROM looks),
            wz AS (
              SELECT yr AS look, n1, x1, n0, x0,
                     round((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                            - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                           / sqrt((CAST(x1 + x0 AS DOUBLE)
                                   / CAST(n1 + n0 AS DOUBLE))
                                  * (1.0 - CAST(x1 + x0 AS DOUBLE)
                                           / CAST(n1 + n0 AS DOUBLE))
                                  * (1.0 / CAST(n1 AS DOUBLE)
                                     + 1.0 / CAST(n0 AS DOUBLE))), 6)
                         AS z_fp,
                     CAST(CASE k WHEN 1 THEN 5291502 WHEN 2 THEN 3741657 WHEN 3 THEN 3055050 WHEN 4 THEN 2645751 WHEN 5 THEN 2366431 WHEN 6 THEN 2160246 WHEN 7 THEN 2000000 END AS BIGINT) AS boundary_fp
              FROM idx),
            wc AS (
              SELECT *, CASE WHEN CAST(round(abs(z_fp) * 1000000)
                                       AS BIGINT) >= boundary_fp
                             THEN 1 ELSE 0 END AS crossed
              FROM wz)
            SELECT look, n1, x1, n0, x0, z_fp, boundary_fp,
                   CAST(crossed AS INT) AS crossed,
                   CAST(CASE WHEN crossed = 1
                             AND coalesce(max(crossed) OVER (
                                   ORDER BY look
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0) = 0
                        THEN 1 ELSE 0 END AS INT) AS stopped
            FROM wc
        """,
        "spearman_price_qty": """
            WITH base AS (
              SELECT CAST(cast(l_extendedprice as decimal(18,2)) * 100
                          AS BIGINT) AS x,
                     CAST(l_quantity AS BIGINT) AS y
              FROM lineitem),
            rx AS (
              SELECT v AS x, CAST(2 * (cum - cnt) + cnt + 1 AS BIGINT)
                         AS drx
              FROM (SELECT v, cnt,
                           sum(cnt) OVER (ORDER BY v) AS cum
                    FROM (SELECT x AS v, CAST(count(*) AS BIGINT) AS cnt
                          FROM base GROUP BY x))),
            ry AS (
              SELECT v AS y, CAST(2 * (cum - cnt) + cnt + 1 AS BIGINT)
                         AS dry
              FROM (SELECT v, cnt,
                           sum(cnt) OVER (ORDER BY v) AS cum
                    FROM (SELECT y AS v, CAST(count(*) AS BIGINT) AS cnt
                          FROM base GROUP BY y))),
            ranked AS (
              SELECT rx.drx, ry.dry
              FROM base JOIN rx ON rx.x = base.x
                        JOIN ry ON ry.y = base.y),
            fold AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(drx) AS HUGEINT) AS sx,
                     CAST(sum(dry) AS HUGEINT) AS sy,
                     CAST(sum(CAST(drx AS HUGEINT) * drx) AS HUGEINT)
                         AS sxx,
                     CAST(sum(CAST(dry AS HUGEINT) * dry) AS HUGEINT)
                         AS syy,
                     CAST(sum(CAST(drx AS HUGEINT) * dry) AS HUGEINT)
                         AS sxy
              FROM ranked)
            SELECT n,
                   round(CAST(n * sxy - sx * sy AS DOUBLE)
                         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                * CAST(n * syy - sy * sy AS DOUBLE)),
                         6) AS rho_fp
            FROM fold
        """,
        "oph_minhash_neardup": f"""
            WITH {_MINHASH_VERIFIED_CTE.strip().replace(
                "minhash_sigs.parquet", "oph_minhash_sigs.parquet")}
            SELECT id_a, id_b, jaccard FROM verified
        """,
        "eb_shrunk_brand_rates": """
            WITH base AS (
              SELECT p.p_brand AS g,
                     CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END
                         AS y
              FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
            cells AS (
              SELECT g, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS pos
              FROM base GROUP BY g),
            tot AS (
              SELECT CAST(sum(n) AS BIGINT) AS nn,
                     CAST(sum(pos) AS BIGINT) AS rr
              FROM cells)
            SELECT g, n, pos,
                   CAST(CAST(pos AS HUGEINT) * 1000000 // n AS BIGINT)
                       AS raw_fp,
                   CAST((CAST(pos AS HUGEINT) * nn + 200 * rr) * 1000000
                        // (CAST(nn AS HUGEINT) * (n + 200)) AS BIGINT)
                       AS shrunk_fp
            FROM cells, tot
        """,
        "trend_test_discount": """
            WITH base AS (
              SELECT CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                          AS BIGINT) AS s,
                     CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                         AS y
              FROM lineitem),
            cells AS (
              SELECT s, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS r
              FROM base GROUP BY s),
            fold AS (
              SELECT CAST(count(*) AS BIGINT) AS n_bins,
                     CAST(sum(n) AS BIGINT) AS nn,
                     CAST(sum(r) AS BIGINT) AS rr,
                     CAST(sum(CAST(s AS HUGEINT) * r) AS HUGEINT) AS sr,
                     CAST(sum(CAST(s AS HUGEINT) * n) AS HUGEINT) AS sn,
                     CAST(sum(CAST(s AS HUGEINT) * s * n) AS HUGEINT)
                         AS ssn
              FROM cells)
            SELECT n_bins, nn AS n_total, rr AS pos_total,
                   CAST(CAST(nn AS HUGEINT) * sr - sn * rr AS BIGINT)
                       AS t_num,
                   round(CAST(CAST(nn AS HUGEINT) * sr - sn * rr
                              AS DOUBLE)
                         / sqrt(CAST(rr AS DOUBLE)
                                * CAST(nn - rr AS DOUBLE)
                                / CAST(nn AS DOUBLE)
                                * CAST(CAST(nn AS HUGEINT) * ssn
                                       - sn * sn AS DOUBLE)), 6)
                       AS z_fp
            FROM fold
        """,
        "file_row_skew_lineitem": f"""
            WITH per AS (
              SELECT filename, CAST(count(*) AS BIGINT) AS rows_f
              FROM read_parquet(
                '{_STAGE}/lineitem_skewed_files.parquet/*.parquet',
                filename=true)
              GROUP BY filename),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_files,
                     CAST(sum(rows_f) AS BIGINT) AS total_rows,
                     CAST(min(rows_f) AS BIGINT) AS min_file_rows,
                     CAST(max(rows_f) AS BIGINT) AS max_file_rows
              FROM per)
            SELECT n_files, total_rows, min_file_rows, max_file_rows,
                   CAST(CAST(max_file_rows AS HUGEINT) * 1000000
                        // (total_rows // n_files) AS BIGINT) AS skew_fp
            FROM agg
        """,
        "phonetic_linkage_pairs": f"""
            WITH dic AS (
              SELECT name, n, __blk
              FROM read_parquet(
                '{_STAGE}/phonetic_name_blocks.parquet/*.parquet'))
            SELECT a.name AS name_a, b.name AS name_b,
                   CAST(levenshtein(a.name, b.name) AS INT) AS dist,
                   a.n AS n_a, b.n AS n_b
            FROM dic a JOIN dic b
              ON b.__blk = a.__blk AND a.name < b.name
            WHERE abs(length(a.name) - length(b.name)) <= 3
              AND levenshtein(a.name, b.name) <= 3
        """,
        "overdispersion_events": """
            WITH daily AS (
              SELECT event_type,
                     CAST(date_diff('day', DATE '1970-01-01',
                                    CAST(ts AS DATE)) AS BIGINT) AS d,
                     CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            agg AS (
              SELECT event_type AS g,
                     CAST(count(*) AS BIGINT) AS n_obs,
                     CAST(sum(x) AS HUGEINT) AS s,
                     CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
              FROM daily GROUP BY 1)
            SELECT g, n_obs,
                   CAST(s * 1000000 // n_obs AS BIGINT) AS mean_fp,
                   CAST(CASE WHEN n_obs > 1 AND s > 0
                             THEN (n_obs * q - s * s) * 1000000
                                  // (s * (n_obs - 1)) END AS BIGINT)
                       AS dispersion_fp
            FROM agg
        """,
        "degree_assortativity_parts": f"""
            WITH canon AS (
              SELECT DISTINCT least(item_a, item_b) AS a,
                              greatest(item_a, item_b) AS b
              FROM read_parquet(
                '{_STAGE}/copurchase_edges.parquet/*.parquet')
              WHERE item_a <> item_b),
            adj AS (
              SELECT a AS u, b AS v FROM canon
              UNION ALL SELECT b, a FROM canon),
            deg AS (
              SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
              FROM adj GROUP BY u),
            hyd AS (
              SELECT du.deg AS du, dv.deg AS dv
              FROM adj
              JOIN deg du ON du.node = adj.u
              JOIN deg dv ON dv.node = adj.v),
            fold AS (
              SELECT CAST(count(*) AS HUGEINT) AS m,
                     CAST(sum(du) AS HUGEINT) AS sx,
                     CAST(sum(CAST(du AS HUGEINT) * du) AS HUGEINT)
                         AS sxx,
                     CAST(sum(CAST(du AS HUGEINT) * dv) AS HUGEINT)
                         AS sxy
              FROM hyd)
            SELECT CAST(m // 2 AS BIGINT) AS n_edges,
                   CAST(CASE WHEN m * sxx - sx * sx <> 0
                             THEN (m * sxy - sx * sx) * 1000000
                                  // (m * sxx - sx * sx) END AS BIGINT)
                       AS r_fp
            FROM fold
        """,
        "embedding_mmd_cohorts": """
            WITH fp AS (
              SELECT CAST(vec_id % 4 AS BIGINT) AS g, t.d,
                     CAST(round((embedding::DOUBLE[])[t.d] * 1000000)
                          AS BIGINT) AS x
              FROM embeddings, range(1, 65) t(d)),
            mu AS (
              SELECT g, d,
                     CAST(CAST(sum(x) AS HUGEINT) // count(*)
                          AS BIGINT) AS mu
              FROM fp GROUP BY g, d),
            pairs AS (
              SELECT a.g AS group_a, b.g AS group_b,
                     CAST(a.mu - b.mu AS HUGEINT) AS diff
              FROM mu a JOIN mu b ON b.d = a.d AND a.g < b.g)
            SELECT group_a, group_b,
                   CAST(sum(diff * diff) // 1000000 AS BIGINT)
                       AS mmd2_fp
            FROM pairs GROUP BY group_a, group_b
        """,
        "lift_table_brand_score": """
            WITH base AS (
              SELECT concat_ws('|', l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, CAST(l.l_quantity AS BIGINT), CAST(cast(l.l_extendedprice as decimal(18,2)) * 100 AS BIGINT), CAST(CAST(l.l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT), CAST(CAST(l.l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT), l.l_returnflag, l.l_linestatus, date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))) AS line_uid,
                     p.p_brand AS c,
                     CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END
                         AS y
              FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
            sums AS (
              SELECT c, CAST(sum(y) AS BIGINT) AS sy,
                     CAST(count(*) AS BIGINT) AS nc
              FROM base GROUP BY c),
            tot AS (
              SELECT CAST(sum(y) AS BIGINT) AS st,
                     CAST(count(*) AS BIGINT) AS nt
              FROM base),
            scored AS (
              SELECT b.line_uid, b.y,
                     CAST(CASE WHEN s.nc > 1
                               THEN CAST(s.sy - b.y AS HUGEINT) * 1000000
                                    // (s.nc - 1)
                               ELSE CAST(t.st - b.y AS HUGEINT) * 1000000
                                    // (t.nt - 1) END AS BIGINT)
                         AS enc_fp
              FROM base b JOIN sums s ON s.c = b.c, tot t),
            ranked AS (
              SELECT y,
                     CAST(row_number() OVER (ORDER BY enc_fp DESC,
                                             line_uid) AS BIGINT) AS r,
                     CAST(count(*) OVER () AS BIGINT) AS tt
              FROM scored),
            bucketed AS (
              SELECT y,
                     CASE WHEN r <= (tt % 10) * ((tt // 10) + 1)
                          THEN (r - 1) // ((tt // 10) + 1) + 1
                          ELSE (tt % 10)
                               + (r - 1 - (tt % 10) * ((tt // 10) + 1))
                                 // (tt // 10) + 1 END AS bucket
              FROM ranked),
            per AS (
              SELECT CAST(bucket AS BIGINT) AS bucket,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS pos
              FROM bucketed GROUP BY bucket)
            SELECT bucket, n, pos,
                   CAST(CAST(pos AS HUGEINT) * 1000000 // n AS BIGINT)
                       AS rate_fp,
                   CAST(CAST(sum(pos) OVER (ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS HUGEINT)
                        * 1000000 * sum(n) OVER ()
                        // (CAST(sum(n) OVER (ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS HUGEINT)
                            * sum(pos) OVER ()) AS BIGINT)
                       AS cum_lift_fp
            FROM per
        """,
        "pps_sample_docs": """
            WITH base AS (
              SELECT doc_id, CAST(n_chars AS BIGINT) AS w
              FROM documents WHERE n_chars > 0),
            cum AS (
              SELECT doc_id, w,
                     sum(w) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS c,
                     sum(w) OVER () AS tot
              FROM base),
            sel AS (
              SELECT doc_id, w,
                     CAST((c + (tot // 50) - (tot // 50) // 2 - 1)
                          // (tot // 50)
                          - (c - w + (tot // 50) - (tot // 50) // 2 - 1)
                          // (tot // 50) AS BIGINT) AS m
              FROM cum)
            SELECT doc_id, w AS n_chars, m AS multiplicity
            FROM sel WHERE m > 0
        """,
        "weighted_price_quantiles": """
            WITH base AS (
              SELECT CAST(cast(l_extendedprice as decimal(18,2)) * 100
                          AS BIGINT) AS v,
                     CAST(l_orderkey * 100 + l_linenumber AS BIGINT)
                         AS line_id,
                     CAST(l_quantity AS BIGINT) AS w
              FROM lineitem WHERE l_quantity > 0),
            cum AS (
              SELECT v,
                     sum(w) OVER (ORDER BY v, line_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS c,
                     sum(w) OVER () AS tot
              FROM base),
            qs AS (SELECT unnest([250000, 500000, 750000, 900000])
                       AS q_ppm),
            hit AS (
              SELECT q.q_ppm, c.v
              FROM cum c, qs q
              WHERE c.c >= (CAST(q.q_ppm AS HUGEINT) * c.tot + 999999)
                           // 1000000)
            SELECT CAST(q_ppm AS INT) AS q_ppm,
                   CAST(min(v) AS BIGINT) AS value
            FROM hit GROUP BY q_ppm
        """,
        "blocking_quality_orders": """
            WITH o AS (
              SELECT o_orderkey, o_custkey,
                     CAST(date_diff('day', DATE '1970-01-01',
                                    CAST(o_orderdate AS DATE))
                          AS BIGINT) AS dn
              FROM orders),
            ranked AS (
              SELECT o_orderkey,
                     row_number() OVER (ORDER BY dn, o_orderkey) AS r
              FROM o),
            cand AS (
              SELECT DISTINCT least(a.o_orderkey, b.o_orderkey) AS pa,
                              greatest(a.o_orderkey, b.o_orderkey) AS pb
              FROM ranked a JOIN ranked b
                ON b.r > a.r AND b.r <= a.r + 3),
            truth AS (
              SELECT DISTINCT least(a.o_orderkey, b.o_orderkey) AS pa,
                              greatest(a.o_orderkey, b.o_orderkey) AS pb
              FROM o a JOIN o b
                ON a.o_custkey = b.o_custkey AND a.dn = b.dn
                   AND a.o_orderkey < b.o_orderkey),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
            cc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates
                   FROM cand),
            tt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
            ca AS (
              SELECT CAST(count(*) AS BIGINT) AS n_caught
              FROM truth t
              WHERE EXISTS (SELECT 1 FROM cand c
                            WHERE c.pa = t.pa AND c.pb = t.pb))
            SELECT nn.n AS n_records,
                   CAST(nn.n * (nn.n - 1) // 2 AS BIGINT) AS n_possible,
                   cc.n_candidates, tt.n_true, ca.n_caught,
                   CAST(1000000 - CAST(cc.n_candidates AS HUGEINT)
                        * 1000000 // (nn.n * (nn.n - 1) // 2)
                        AS BIGINT) AS reduction_ratio_fp,
                   CAST(CASE WHEN tt.n_true > 0
                             THEN CAST(ca.n_caught AS HUGEINT) * 1000000
                                  // tt.n_true END AS BIGINT)
                       AS pair_completeness_fp
            FROM nn, cc, tt, ca
        """,
        "rake_keywords_corpus": """
            WITH docs_w AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g')), ' ') AS w
              FROM documents),
            tok AS (
              SELECT doc_id, s['pos'] AS pos, s['word'] AS word
              FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(w) + 1),
                         b -> {'pos': b, 'word': w[b]})) AS s
                FROM docs_w)
              WHERE s['word'] <> ''),
            marked AS (
              SELECT doc_id, pos, word,
                     CASE WHEN word IN ('a','the','and','of','to',
                                        'in','is','on','for')
                          THEN 1 ELSE 0 END AS is_stop
              FROM tok),
            runs AS (
              SELECT doc_id, pos, word,
                     sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS pid
              FROM marked
              QUALIFY is_stop = 0),
            phrases AS (
              SELECT doc_id, pid,
                     string_agg(word, ' ' ORDER BY pos) AS phrase,
                     CAST(count(*) AS BIGINT) AS n_words
              FROM runs GROUP BY doc_id, pid
              HAVING count(*) <= 4),
            occw AS (
              SELECT phrase, n_words, unnest(string_split(phrase, ' '))
                         AS word
              FROM phrases),
            ws AS (
              SELECT word,
                     CAST(CAST(sum(n_words) AS HUGEINT) * 1000000
                          // count(*) AS BIGINT) AS wscore
              FROM occw GROUP BY word),
            ps AS (
              SELECT o.phrase, o.n_words,
                     CAST(sum(w.wscore) AS BIGINT) AS tot
              FROM occw o JOIN ws w ON w.word = o.word
              GROUP BY o.phrase, o.n_words),
            oc AS (
              SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
              FROM phrases GROUP BY phrase)
            SELECT p.phrase, p.n_words, oc.n_occurrences,
                   CAST(p.tot // oc.n_occurrences AS BIGINT) AS score_fp
            FROM ps p JOIN oc ON oc.phrase = p.phrase
            ORDER BY score_fp DESC, p.phrase
            LIMIT 20
        """,
        "isotonic_return_by_discount": """
            WITH binned AS (
              SELECT CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                          AS BIGINT) AS disc_bp,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN l_returnflag = 'R'
                                   THEN 1 ELSE 0 END) AS BIGINT) AS pos
              FROM lineitem GROUP BY 1),
            b AS (
              SELECT disc_bp, n, pos,
                     CAST(row_number() OVER (ORDER BY disc_bp)
                          AS BIGINT) AS ix
              FROM binned),
            pref AS (
              SELECT ix, n, pos,
                     sum(n) OVER (ORDER BY ix
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cn,
                     sum(pos) OVER (ORDER BY ix
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cp
              FROM b),
            pairs AS (
              SELECT l.ix AS i, h.ix AS j,
                     CAST(CAST(h.cp - (l.cp - l.pos) AS HUGEINT)
                          * 1000000
                          // (h.cn - (l.cn - l.n)) AS BIGINT) AS m
              FROM pref l JOIN pref h ON l.ix <= h.ix),
            triples AS (
              SELECT i, j, m, unnest(range(i, j + 1)) AS k FROM pairs),
            inner_min AS (
              SELECT i, k, min(m) AS im FROM triples GROUP BY i, k),
            iso AS (
              SELECT k AS ix, CAST(max(im) AS BIGINT) AS iso_fp
              FROM inner_min GROUP BY k)
            SELECT b.disc_bp, b.n, b.pos,
                   CAST(CAST(b.pos AS HUGEINT) * 1000000 // b.n
                        AS BIGINT) AS rate_fp,
                   iso.iso_fp
            FROM b JOIN iso ON iso.ix = b.ix
        """,
        "pettitt_event_changepoints": """
            WITH daily AS (
              SELECT event_type,
                     CAST(date_diff('day', DATE '1970-01-01',
                                    CAST(ts AS DATE)) AS BIGINT) AS day_n,
                     CAST(count(*) AS BIGINT) AS n_ev
              FROM events GROUP BY 1, 2),
            ranked AS (
              SELECT event_type, day_n,
                     CAST(2 * coalesce(count(*) OVER (
                              PARTITION BY event_type ORDER BY n_ev
                              RANGE BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0)
                          + count(*) OVER (PARTITION BY event_type, n_ev)
                          + 1 AS BIGINT) AS dr
              FROM daily),
            with_u AS (
              SELECT event_type, day_n,
                     sum(dr) OVER (PARTITION BY event_type ORDER BY day_n
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW)
                       - row_number() OVER (PARTITION BY event_type
                                            ORDER BY day_n)
                         * (count(*) OVER (PARTITION BY event_type) + 1)
                         AS u,
                     CAST(count(*) OVER (PARTITION BY event_type)
                          AS BIGINT) AS n
              FROM ranked),
            picked AS (
              SELECT event_type, n, u, day_n,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY abs(u) DESC, day_n)
                         AS rn
              FROM with_u)
            SELECT event_type, n, CAST(abs(u) AS BIGINT) AS k_stat,
                   day_n AS t_at_k, CAST(u AS BIGINT) AS u_at_k
            FROM picked WHERE rn = 1
        """,
        "target_encode_brand_returns": """
            WITH base AS (
              SELECT concat_ws('|', l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, CAST(l.l_quantity AS BIGINT), CAST(cast(l.l_extendedprice as decimal(18,2)) * 100 AS BIGINT), CAST(CAST(l.l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT), CAST(CAST(l.l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT), l.l_returnflag, l.l_linestatus, date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))) AS line_uid,
                     p.p_brand AS c,
                     CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END
                         AS y
              FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
            sums AS (
              SELECT c, CAST(sum(y) AS BIGINT) AS sy,
                     CAST(count(*) AS BIGINT) AS nc
              FROM base GROUP BY c),
            tot AS (
              SELECT CAST(sum(y) AS BIGINT) AS st,
                     CAST(count(*) AS BIGINT) AS nt
              FROM base)
            SELECT b.line_uid, b.c AS category, CAST(b.y AS BIGINT) AS y,
                   CAST(CASE WHEN s.nc > 1
                             THEN CAST(s.sy - b.y AS HUGEINT) * 1000000
                                  // (s.nc - 1)
                             ELSE CAST(t.st - b.y AS HUGEINT) * 1000000
                                  // (t.nt - 1) END AS BIGINT) AS enc_fp
            FROM base b JOIN sums s ON s.c = b.c, tot t
        """,
        "embedding_ann_bq": """
            WITH emb AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            sig AS (
              SELECT vec_id, v,
                     CAST(list_sum(list_transform(range(0, 32), b ->
                       CASE WHEN v[b + 1] > 0
                            THEN (1::BIGINT << b) ELSE 0::BIGINT END))
                       AS BIGINT) AS w0,
                     CAST(list_sum(list_transform(range(0, 32), b ->
                       CASE WHEN v[b + 33] > 0
                            THEN (1::BIGINT << b) ELSE 0::BIGINT END))
                       AS BIGINT) AS w1
              FROM emb),
            qsig AS (SELECT w0 AS q0, w1 AS q1 FROM sig WHERE vec_id = 0),
            pool AS (
              SELECT s.vec_id, s.v,
                     bit_count(xor(s.w0, q.q0))
                       + bit_count(xor(s.w1, q.q1)) AS ham
              FROM sig s, qsig q
              ORDER BY ham, s.vec_id
              LIMIT 100),
            q AS (SELECT v FROM emb WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(v, (SELECT v FROM q)), 6)
                       AS cosine
            FROM pool
            ORDER BY cosine DESC, vec_id ASC
            LIMIT 20
        """,
        "ipw_return_effect": """
            WITH base AS (
              SELECT p.p_brand AS s,
                     CASE WHEN CAST(l_discount AS DECIMAL(18,4)) >= 0.05
                          THEN 1 ELSE 0 END AS t,
                     CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
              FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
            cells AS (
              SELECT s, CAST(count(*) AS BIGINT) AS n_s,
                     CAST(sum(t) AS BIGINT) AS nt,
                     CAST(sum(t * y) AS BIGINT) AS yt,
                     CAST(sum((1 - t) * y) AS BIGINT) AS yc
              FROM base GROUP BY s),
            c2 AS (SELECT *, n_s - nt AS nc FROM cells),
            fold AS (
              SELECT CAST(sum(CASE WHEN nt > 0 AND nc > 0
                                   THEN n_s END) AS BIGINT) AS n_used,
                     CAST(sum(CASE WHEN nt > 0 AND nc > 0
                                   THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_strata_used,
                     CAST(sum(CASE WHEN nt > 0 AND nc > 0
                                   THEN 0 ELSE 1 END) AS BIGINT)
                         AS n_strata_dropped,
                     sum(CASE WHEN nt > 0 AND nc > 0
                              THEN CAST(yt AS HUGEINT) * n_s * 1000000
                                   // nt END) AS w1,
                     sum(CASE WHEN nt > 0 AND nc > 0
                              THEN CAST(yc AS HUGEINT) * n_s * 1000000
                                   // nc END) AS w0
              FROM c2)
            SELECT n_used, n_strata_used, n_strata_dropped,
                   CAST(w1 // n_used AS BIGINT) AS mu1_fp,
                   CAST(w0 // n_used AS BIGINT) AS mu0_fp,
                   CAST(w1 // n_used - w0 // n_used AS BIGINT) AS ate_fp
            FROM fold
        """,
        "revenue_drawdown_nation": """
            WITH monthly AS (
              SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
                     CAST(year(o_orderdate) * 100 + month(o_orderdate)
                          AS BIGINT) AS yyyymm,
                     CAST(sum(CAST(cast(o_totalprice as decimal(18,2))
                                   * 100 AS BIGINT)) AS BIGINT) AS rev_fp
              FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
              GROUP BY 1, 2),
            dd AS (
              SELECT nation, yyyymm, rev_fp,
                     max(rev_fp) OVER (
                       PARTITION BY nation ORDER BY yyyymm
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS peak_value
              FROM monthly),
            ranked AS (
              SELECT nation, yyyymm, rev_fp, peak_value,
                     CAST(peak_value - rev_fp AS BIGINT) AS drawdown,
                     row_number() OVER (
                       PARTITION BY nation
                       ORDER BY peak_value - rev_fp DESC, yyyymm) AS rn
              FROM dd)
            SELECT nation, yyyymm, rev_fp, peak_value, drawdown
            FROM ranked WHERE rn = 1
        """,
        "engagement_curve_monthly": """
            WITH pu AS (
              SELECT user_id,
                     CAST(year(ts) * 100 + month(ts) AS BIGINT) AS m,
                     CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                         AS active_days
              FROM events GROUP BY user_id, 2)
            SELECT m AS month, active_days,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM pu GROUP BY 1, 2
        """,
        "feature_hash_collisions": f"""
            WITH tf AS (
              SELECT tok, feat
              FROM read_parquet(
                '{_STAGE}/feature_hash_tokfeat_d64.parquet/*.parquet')),
            pb AS (
              SELECT feat, CAST(count(DISTINCT tok) AS BIGINT) AS k
              FROM tf GROUP BY feat),
            hist AS (
              SELECT k AS tokens_in_bucket,
                     CAST(count(*) AS BIGINT) AS n_buckets,
                     CAST(sum(k) AS BIGINT) AS n_tokens
              FROM pb GROUP BY k),
            occ AS (SELECT CAST(count(*) AS BIGINT) AS o FROM pb)
            SELECT * FROM hist
            UNION ALL
            SELECT CAST(0 AS BIGINT), CAST(64 - o AS BIGINT),
                   CAST(0 AS BIGINT)
            FROM occ
        """,
        "event_lateness_histogram": """
            WITH base AS (
              SELECT event_id, epoch_us(ts) AS ts_us,
                     epoch_us(ts) + (event_id % 601) * 1000000 AS arr_us
              FROM events),
            late AS (
              SELECT greatest(
                       0,
                       coalesce(
                         max(ts_us) OVER (
                           ORDER BY arr_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) - ts_us,
                         0)) AS late_us
              FROM base),
            bucketed AS (
              SELECT least(12, late_us // 60000000) AS bucket, late_us
              FROM late)
            SELECT CAST(bucket AS BIGINT) AS bucket,
                   CAST(bucket * 60000000 AS BIGINT) AS lateness_lo_us,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(max(late_us) AS BIGINT) AS max_lateness_us
            FROM bucketed GROUP BY bucket
        """,
        "quantile_normalized_doclen": """
            WITH ranked AS (
              SELECT doc_id, source, CAST(n_chars AS BIGINT) AS len_v,
                     CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars, doc_id) AS BIGINT) AS r,
                     CAST(count(*) OVER (PARTITION BY source)
                          AS BIGINT) AS ng
              FROM documents),
            pooled AS (
              SELECT CAST(n_chars AS BIGINT) AS pv,
                     CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                          AS BIGINT) AS gr
              FROM documents),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            idxed AS (
              SELECT doc_id, source, len_v,
                     least(n, greatest(
                       1,
                       CAST((CAST(2 * r - 1 AS HUGEINT) * n + 2 * ng - 1)
                            // (2 * ng) AS BIGINT))) AS idx
              FROM ranked, tot)
            SELECT i.doc_id, i.source, i.len_v, p.pv AS qn_value
            FROM idxed i JOIN pooled p ON p.gr = i.idx
        """,
        "ra_links_parts": f"""
            WITH canon AS (
              SELECT DISTINCT least(item_a, item_b) AS a,
                              greatest(item_a, item_b) AS b
              FROM read_parquet(
                '{_STAGE}/copurchase_edges.parquet/*.parquet')
              WHERE item_a <> item_b),
            adj AS (
              SELECT a AS z, b AS n FROM canon
              UNION ALL
              SELECT b AS z, a AS n FROM canon),
            deg AS (
              SELECT z, CAST(count(*) AS BIGINT) AS deg
              FROM adj GROUP BY z),
            wed AS (
              SELECT l.n AS x, r.n AS y,
                     CAST(1000000 // d.deg AS BIGINT) AS w
              FROM adj l
              JOIN adj r ON r.z = l.z AND l.n < r.n
              JOIN deg d ON d.z = l.z),
            sc AS (
              SELECT x, y, CAST(count(*) AS BIGINT) AS cn,
                     CAST(sum(w) AS BIGINT) AS ra_fp
              FROM wed GROUP BY x, y),
            cand AS (
              SELECT * FROM sc
              WHERE NOT EXISTS (SELECT 1 FROM canon c
                                WHERE c.a = sc.x AND c.b = sc.y))
            SELECT CAST(x AS BIGINT) AS item_x,
                   CAST(y AS BIGINT) AS item_y, cn, ra_fp
            FROM cand
            ORDER BY ra_fp DESC, item_x, item_y
            LIMIT 20
        """,
        "clustering_coeff_parts": f"""
            WITH canon AS (
              SELECT DISTINCT least(item_a, item_b) AS a,
                              greatest(item_a, item_b) AS b
              FROM read_parquet(
                '{_STAGE}/copurchase_edges.parquet/*.parquet')
              WHERE item_a <> item_b),
            deg AS (
              SELECT node, CAST(count(*) AS BIGINT) AS deg
              FROM (SELECT a AS node FROM canon
                    UNION ALL SELECT b FROM canon)
              GROUP BY node),
            ori AS (
              SELECT CASE WHEN da.deg < db.deg
                               OR (da.deg = db.deg AND a < b)
                          THEN a ELSE b END AS u,
                     CASE WHEN da.deg < db.deg
                               OR (da.deg = db.deg AND a < b)
                          THEN b ELSE a END AS v
              FROM canon
              JOIN deg da ON da.node = a
              JOIN deg db ON db.node = b),
            wed AS (
              SELECT e1.u, e1.v AS x, e2.v AS y
              FROM ori e1 JOIN ori e2 ON e2.u = e1.u AND e1.v < e2.v),
            tri AS (
              SELECT node, CAST(count(*) AS BIGINT) AS n_tri
              FROM (
                SELECT u AS node FROM wed
                WHERE EXISTS (SELECT 1 FROM canon c
                              WHERE c.a = least(wed.x, wed.y)
                                AND c.b = greatest(wed.x, wed.y))
                UNION ALL
                SELECT x FROM wed
                WHERE EXISTS (SELECT 1 FROM canon c
                              WHERE c.a = least(wed.x, wed.y)
                                AND c.b = greatest(wed.x, wed.y))
                UNION ALL
                SELECT y FROM wed
                WHERE EXISTS (SELECT 1 FROM canon c
                              WHERE c.a = least(wed.x, wed.y)
                                AND c.b = greatest(wed.x, wed.y)))
              GROUP BY node)
            SELECT CAST(d.node AS BIGINT) AS node, d.deg,
                   CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
                   CAST(2 * 1000000 * coalesce(t.n_tri, 0)
                        // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_fp
            FROM deg d LEFT JOIN tri t ON t.node = d.node
            WHERE d.deg >= 2
        """,
        "mannwhitney_price_priority": """
            WITH base AS (
              SELECT CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END AS g,
                     CAST(cast(o_totalprice as decimal(18,2)) * 100
                          AS BIGINT) AS v
              FROM orders
              WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
            pv AS (
              SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum(g) AS BIGINT) AS n1v
              FROM base GROUP BY v),
            cum AS (
              SELECT v, cnt, n1v,
                     sum(cnt) OVER (ORDER BY v) AS cumc
              FROM pv),
            fold AS (
              SELECT CAST(sum(n1v) AS BIGINT) AS n1,
                     CAST(sum(cnt - n1v) AS BIGINT) AS n2,
                     sum(CAST(n1v AS HUGEINT)
                         * (2 * (cumc - cnt) + cnt + 1)) AS r2,
                     CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
                          AS HUGEINT) AS tie_cubes
              FROM cum)
            SELECT n1, n2,
                   CAST(r2 - CAST(n1 AS HUGEINT) * (n1 + 1)
                        AS BIGINT) AS u2,
                   CAST(tie_cubes AS BIGINT) AS tie_cubes,
                   CAST((r2 - CAST(n1 AS HUGEINT) * (n1 + 1)
                         - CAST(n1 AS HUGEINT) * n2) * 1000000
                        // (CAST(n1 AS HUGEINT) * n2) AS BIGINT)
                       AS cliffs_delta_fp,
                   round((CAST(r2 - CAST(n1 AS HUGEINT) * (n1 + 1)
                               AS DOUBLE)
                          - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                         / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                                / 3.0
                                * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                                   - CAST(tie_cubes AS DOUBLE)
                                     / (CAST(n1 + n2 AS DOUBLE)
                                        * (CAST(n1 + n2 AS DOUBLE)
                                           - 1.0)))),
                         6) AS z_fp
            FROM fold
        """,
        "ks_doclen_sources": """
            WITH base AS (
              SELECT CASE WHEN length(source) <= 4 THEN 1 ELSE 0 END AS g,
                     CAST(n_chars AS BIGINT) AS v
              FROM documents),
            pv AS (
              SELECT v, CAST(sum(g) AS BIGINT) AS c1,
                     CAST(sum(1 - g) AS BIGINT) AS c2
              FROM base GROUP BY v),
            cum AS (
              SELECT sum(c1) OVER (ORDER BY v) AS cum1,
                     sum(c2) OVER (ORDER BY v) AS cum2
              FROM pv),
            tot AS (
              SELECT CAST(max(cum1) AS BIGINT) AS n1,
                     CAST(max(cum2) AS BIGINT) AS n2
              FROM cum)
            SELECT n1, n2,
                   CAST(max(abs(CAST(cum1 AS HUGEINT) * n2
                                - CAST(cum2 AS HUGEINT) * n1))
                        AS BIGINT) AS d_num,
                   CAST(max(abs(CAST(cum1 AS HUGEINT) * n2
                                - CAST(cum2 AS HUGEINT) * n1))
                        * 1000000
                        // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS d_fp
            FROM cum, tot GROUP BY n1, n2
        """,
        "bh_fdr_nations": """
            WITH base AS (
              SELECT CAST(c.c_nationkey AS BIGINT) AS g,
                     CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END
                         AS fulfilled
              FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
            cells AS (
              SELECT g, CAST(sum(fulfilled) AS BIGINT) AS pos,
                     CAST(count(*) AS BIGINT) AS row_n
              FROM base GROUP BY g),
            tot AS (
              SELECT sum(pos) AS col_pos, sum(row_n) AS grand FROM cells),
            chi AS (
              SELECT g,
                     CAST((CAST(pos AS HUGEINT) * grand
                           - CAST(row_n AS HUGEINT) * col_pos)
                          * (CAST(pos AS HUGEINT) * grand
                             - CAST(row_n AS HUGEINT) * col_pos)
                          * 1000000
                          // (CAST(row_n AS HUGEINT) * col_pos * grand)
                          + (CAST(row_n - pos AS HUGEINT) * grand
                             - CAST(row_n AS HUGEINT)
                               * (grand - col_pos))
                            * (CAST(row_n - pos AS HUGEINT) * grand
                               - CAST(row_n AS HUGEINT)
                                 * (grand - col_pos))
                            * 1000000
                          // (CAST(row_n AS HUGEINT) * (grand - col_pos)
                              * grand)
                          AS BIGINT) AS chi2_fp
              FROM cells, tot),
            withp AS (
              SELECT g AS nation,
                     least(CAST(1000000 AS BIGINT),
                           CAST(CAST(1000000 AS HUGEINT) * 1000000
                                // greatest(chi2_fp, 1) AS BIGINT))
                         AS p_fp
              FROM chi),
            ranked AS (
              SELECT nation, p_fp,
                     CAST(row_number() OVER (ORDER BY p_fp, nation)
                          AS BIGINT) AS p_rank,
                     CAST(count(*) OVER () AS BIGINT) AS m
              FROM withp),
            frontier AS (
              SELECT coalesce(max(CASE WHEN CAST(p_fp AS HUGEINT) * m
                                            <= 50000 * p_rank
                                       THEN p_rank END), 0) AS fr
              FROM ranked)
            SELECT nation, p_fp, p_rank,
                   CAST(CASE WHEN p_rank <= fr THEN 1 ELSE 0 END
                        AS INT) AS rejected
            FROM ranked, frontier
        """,
        "bootstrap_doclen_ci": f"""
            WITH w AS (
              SELECT doc_id, rep, CAST(w AS BIGINT) AS w
              FROM read_parquet(
                '{_STAGE}/bootstrap_doclen_w64.parquet/*.parquet')),
            reps AS (
              SELECT rep,
                     CAST(CAST(1000000 AS HUGEINT)
                          * sum(CAST(w.w AS HUGEINT) * d.n_chars)
                          // sum(CAST(w.w AS HUGEINT)) AS BIGINT)
                         AS mean_fp
              FROM w JOIN documents d USING (doc_id)
              GROUP BY rep),
            ranked AS (
              SELECT mean_fp,
                     row_number() OVER (ORDER BY mean_fp, rep) AS r
              FROM reps),
            ci AS (
              SELECT CAST(count(*) AS BIGINT) AS n_reps,
                     CAST(max(CASE WHEN r = 2 THEN mean_fp END)
                          AS BIGINT) AS ci_lo_fp,
                     CAST(max(CASE WHEN r = 63 THEN mean_fp END)
                          AS BIGINT) AS ci_hi_fp
              FROM ranked),
            full_m AS (
              SELECT CAST(CAST(1000000 AS HUGEINT)
                          * sum(CAST(n_chars AS HUGEINT))
                          // count(*) AS BIGINT) AS mean_fp
              FROM documents)
            SELECT n_reps, full_m.mean_fp AS mean_fp, ci_lo_fp, ci_hi_fp
            FROM ci, full_m
        """,
        "hll_union_types": f"""
            WITH regs AS (
              SELECT event_type,
                     CAST(w % 256 AS INT) AS bucket,
                     CAST(MAX(CASE WHEN w // 256 = 0 THEN 41
                              ELSE 41 - length(bin(w // 256)) END) AS INT)
                         AS register
              FROM read_parquet('{_STAGE}/hll_user_hashes.parquet/*.parquet')
              GROUP BY event_type, w % 256),
            merged AS (SELECT bucket, max(register) AS M
                       FROM regs GROUP BY bucket),
            s AS (SELECT count(*) AS n_present,
                         CAST(sum(CAST(1 AS HUGEINT) << (41 - M))
                              AS HUGEINT) AS s_present
                  FROM merged),
            est AS (
              SELECT CAST(256 - n_present AS BIGINT) AS n_zero_buckets,
                     CAST(CAST(718272 AS HUGEINT) * 256 * 256
                          * (CAST(1 AS HUGEINT) << 41)
                          // (s_present
                              + CAST(256 - n_present AS HUGEINT)
                                * (CAST(1 AS HUGEINT) << 41))
                          // 1000000 AS BIGINT) AS est_distinct
              FROM s),
            ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                            AS exact_distinct FROM events)
            SELECT e.n_zero_buckets, e.est_distinct, x.exact_distinct,
                   CAST(CAST((e.est_distinct - x.exact_distinct)
                        AS HUGEINT) * 1000000 // x.exact_distinct
                        AS BIGINT) AS err_ppm
            FROM est e, ex x
        """,
        "join_view_refresh": """
            WITH j AS (
              SELECT o.o_orderkey, c.c_nationkey,
                     CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS val
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
            SELECT CAST(c_nationkey AS BIGINT) AS nation,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(val) AS BIGINT) AS rev_fp
            FROM j GROUP BY c_nationkey
        """,
        "cusum_event_drift": """
            WITH daily AS (
              SELECT event_type AS g,
                     date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                       AS t,
                     count(*) AS x
              FROM events GROUP BY 1, 2),
            st AS (SELECT g, sum(x) // count(*) AS target
                   FROM daily GROUP BY g),
            st2 AS (SELECT g, target, target * 1 // 8 AS k FROM st),
            stepped AS (
              SELECT d.g, d.t, s.k,
                     sum(d.x - s.target - s.k)
                       OVER (PARTITION BY d.g ORDER BY d.t
                             ROWS UNBOUNDED PRECEDING) AS p
              FROM daily d JOIN st2 s ON s.g = d.g),
            m AS (
              SELECT g, t, p, k,
                     least(min(p) OVER (PARTITION BY g ORDER BY t
                             ROWS UNBOUNDED PRECEDING), 0) AS minp
              FROM stepped)
            SELECT g AS event_type, CAST(t AS BIGINT) AS t,
                   CAST(p - minp AS BIGINT) AS s,
                   CAST(CASE WHEN p - minp > k * 4 THEN 1 ELSE 0 END
                        AS INT) AS alarm
            FROM m
        """,
        "corr_matrix_lineitem": """
            WITH base AS (
              SELECT CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS HUGEINT) AS qty_fp,
                     CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS HUGEINT) AS price_fp,
                     CAST(CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                        AS BIGINT) AS HUGEINT) AS disc_fp,
                     CAST(CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000
                        AS BIGINT) AS HUGEINT) AS tax_fp
              FROM lineitem),
            mom AS (
              SELECT CAST(count(*) AS HUGEINT) AS n,
                     sum(qty_fp) AS s_qty_fp,
                     sum(qty_fp * qty_fp) AS ss_qty_fp,
                     sum(price_fp) AS s_price_fp,
                     sum(price_fp * price_fp) AS ss_price_fp,
                     sum(disc_fp) AS s_disc_fp,
                     sum(disc_fp * disc_fp) AS ss_disc_fp,
                     sum(tax_fp) AS s_tax_fp,
                     sum(tax_fp * tax_fp) AS ss_tax_fp,
                     sum(qty_fp * price_fp) AS sp_qty_fp_price_fp,
                     sum(qty_fp * disc_fp) AS sp_qty_fp_disc_fp,
                     sum(qty_fp * tax_fp) AS sp_qty_fp_tax_fp,
                     sum(price_fp * disc_fp) AS sp_price_fp_disc_fp,
                     sum(price_fp * tax_fp) AS sp_price_fp_tax_fp,
                     sum(disc_fp * tax_fp) AS sp_disc_fp_tax_fp
              FROM base)
            SELECT 'qty_fp' AS col_a, 'price_fp' AS col_b,
                   round(CAST(n * sp_qty_fp_price_fp - s_qty_fp * s_price_fp AS DOUBLE) / sqrt(CAST(n * ss_qty_fp - s_qty_fp * s_qty_fp AS DOUBLE) * CAST(n * ss_price_fp - s_price_fp * s_price_fp AS DOUBLE)), 6)
                     AS pearson_r FROM mom
            UNION ALL
            SELECT 'qty_fp' AS col_a, 'disc_fp' AS col_b,
                   round(CAST(n * sp_qty_fp_disc_fp - s_qty_fp * s_disc_fp AS DOUBLE) / sqrt(CAST(n * ss_qty_fp - s_qty_fp * s_qty_fp AS DOUBLE) * CAST(n * ss_disc_fp - s_disc_fp * s_disc_fp AS DOUBLE)), 6)
                     AS pearson_r FROM mom
            UNION ALL
            SELECT 'qty_fp' AS col_a, 'tax_fp' AS col_b,
                   round(CAST(n * sp_qty_fp_tax_fp - s_qty_fp * s_tax_fp AS DOUBLE) / sqrt(CAST(n * ss_qty_fp - s_qty_fp * s_qty_fp AS DOUBLE) * CAST(n * ss_tax_fp - s_tax_fp * s_tax_fp AS DOUBLE)), 6)
                     AS pearson_r FROM mom
            UNION ALL
            SELECT 'price_fp' AS col_a, 'disc_fp' AS col_b,
                   round(CAST(n * sp_price_fp_disc_fp - s_price_fp * s_disc_fp AS DOUBLE) / sqrt(CAST(n * ss_price_fp - s_price_fp * s_price_fp AS DOUBLE) * CAST(n * ss_disc_fp - s_disc_fp * s_disc_fp AS DOUBLE)), 6)
                     AS pearson_r FROM mom
            UNION ALL
            SELECT 'price_fp' AS col_a, 'tax_fp' AS col_b,
                   round(CAST(n * sp_price_fp_tax_fp - s_price_fp * s_tax_fp AS DOUBLE) / sqrt(CAST(n * ss_price_fp - s_price_fp * s_price_fp AS DOUBLE) * CAST(n * ss_tax_fp - s_tax_fp * s_tax_fp AS DOUBLE)), 6)
                     AS pearson_r FROM mom
            UNION ALL
            SELECT 'disc_fp' AS col_a, 'tax_fp' AS col_b,
                   round(CAST(n * sp_disc_fp_tax_fp - s_disc_fp * s_tax_fp AS DOUBLE) / sqrt(CAST(n * ss_disc_fp - s_disc_fp * s_disc_fp AS DOUBLE) * CAST(n * ss_tax_fp - s_tax_fp * s_tax_fp AS DOUBLE)), 6)
                     AS pearson_r FROM mom
        """,
        "neyman_allocation_sources": """
            WITH per AS (
              SELECT source AS h,
                     CAST(count(*) AS HUGEINT) AS n_h,
                     CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sx,
                     CAST(sum(CAST(n_chars AS HUGEINT)
                              * CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sxx
              FROM documents GROUP BY source),
            wts AS (
              SELECT h, CAST(n_h AS BIGINT) AS n_pop,
                     CAST(n_h AS BIGINT)
                     * CAST(floor(sqrt(CAST((n_h * sxx - sx * sx)
                                            // (n_h * n_h) AS DOUBLE)))
                            AS BIGINT) AS w_h
              FROM per),
            tot AS (SELECT CAST(sum(w_h) AS HUGEINT) AS w_tot FROM wts),
            quota AS (
              SELECT h, n_pop, w_h,
                     CAST(CAST(w_h AS HUGEINT) * 10000 // w_tot AS BIGINT)
                       AS base_n,
                     CAST((CAST(w_h AS HUGEINT) * 10000) % w_tot AS BIGINT)
                       AS rem
              FROM wts, tot),
            extra AS (SELECT 10000 - sum(base_n) AS e FROM quota),
            rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, h ASC)
                            AS r FROM quota)
            SELECT h AS source, n_pop, CAST(w_h AS BIGINT) AS w_h,
                   CAST(base_n + CASE WHEN r <= (SELECT e FROM extra)
                                      THEN 1 ELSE 0 END AS BIGINT)
                     AS n_alloc
            FROM rk
        """,
        "ppr_copurchase_seeds": f"""
            WITH e0 AS (SELECT item_a AS a, item_b AS b
                        FROM read_parquet(
                          '{_STAGE}/copurchase_edges.parquet/*.parquet')),
            canon AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
                      FROM e0 WHERE a <> b),
            ed AS (SELECT a AS u, b AS v FROM canon
                   UNION ALL SELECT b, a FROM canon),
            nodes AS (SELECT DISTINCT u AS node FROM ed),
            seeds AS (SELECT node FROM nodes ORDER BY node ASC LIMIT 2),
            deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS dg
                    FROM ed GROUP BY u),
            r0 AS (SELECT node,
                          CASE WHEN node IN (SELECT node FROM seeds)
                               THEN 500000000000 ELSE 0 END AS r
                   FROM nodes),
            c1 AS (SELECT e.v AS node, sum(r0.r // d.dg) AS s
                   FROM ed e JOIN r0 ON r0.node = e.u
                        JOIN deg d ON d.node = e.u
                   GROUP BY e.v),
            r1 AS (SELECT nd.node,
                          CASE WHEN nd.node IN (SELECT node FROM seeds)
                               THEN 75000000000 ELSE 0 END
                          + 850000 * coalesce(c1.s, 0) // 1000000 AS r
                   FROM nodes nd LEFT JOIN c1 ON c1.node = nd.node),
            c2 AS (SELECT e.v AS node, sum(r1.r // d.dg) AS s
                   FROM ed e JOIN r1 ON r1.node = e.u
                        JOIN deg d ON d.node = e.u
                   GROUP BY e.v),
            r2 AS (SELECT nd.node,
                          CASE WHEN nd.node IN (SELECT node FROM seeds)
                               THEN 75000000000 ELSE 0 END
                          + 850000 * coalesce(c2.s, 0) // 1000000 AS r
                   FROM nodes nd LEFT JOIN c2 ON c2.node = nd.node),
            c3 AS (SELECT e.v AS node, sum(r2.r // d.dg) AS s
                   FROM ed e JOIN r2 ON r2.node = e.u
                        JOIN deg d ON d.node = e.u
                   GROUP BY e.v),
            r3 AS (SELECT nd.node,
                          CASE WHEN nd.node IN (SELECT node FROM seeds)
                               THEN 75000000000 ELSE 0 END
                          + 850000 * coalesce(c3.s, 0) // 1000000 AS r
                   FROM nodes nd LEFT JOIN c3 ON c3.node = nd.node)
            SELECT node AS part, CAST(r AS BIGINT) AS rank_ppt
            FROM r3 ORDER BY r DESC, node ASC LIMIT 30
        """,
        "t_closeness_segments": """
            WITH base AS (
              SELECT c.c_mktsegment, o.o_orderpriority AS s
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
            cells AS (SELECT c_mktsegment, s, count(*) AS n_gs
                      FROM base GROUP BY c_mktsegment, s),
            grp AS (SELECT c_mktsegment, CAST(sum(n_gs) AS HUGEINT) AS n_g
                    FROM cells GROUP BY c_mktsegment),
            sv AS (SELECT DISTINCT s FROM cells),
            sg AS (SELECT s, CAST(sum(n_gs) AS HUGEINT) AS n_s
                   FROM cells GROUP BY s),
            tot AS (SELECT CAST(sum(n_gs) AS HUGEINT) AS n,
                           count(DISTINCT s) AS m FROM cells),
            grid AS (
              SELECT g.c_mktsegment, sv.s, g.n_g, t.n, t.m,
                     CAST(coalesce(c.n_gs, 0) AS HUGEINT) * t.n
                       - sg.n_s * g.n_g AS d
              FROM grp g CROSS JOIN sv
              LEFT JOIN cells c ON c.c_mktsegment = g.c_mktsegment
                                AND c.s = sv.s
              JOIN sg ON sg.s = sv.s, tot t),
            stepped AS (
              SELECT c_mktsegment, n_g, n, m,
                     sum(d) OVER (PARTITION BY c_mktsegment
                                  ORDER BY s ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_d
              FROM grid)
            SELECT c_mktsegment,
                   CAST(any_value(n_g) AS BIGINT) AS n_group,
                   CAST(sum(abs(cum_d)) * 1000000
                        // (CAST(any_value(m) - 1 AS HUGEINT)
                            * any_value(n_g) * any_value(n)) AS BIGINT)
                     AS emd_ppm
            FROM stepped GROUP BY c_mktsegment
        """,
        "minmax_clustering_depth": """
            WITH env AS (
              SELECT l_orderkey // 1500 AS id,
                     min(date_diff('day', DATE '1970-01-01',
                                   CAST(l_shipdate AS DATE))) AS s,
                     max(date_diff('day', DATE '1970-01-01',
                                   CAST(l_shipdate AS DATE))) + 1 AS e
              FROM lineitem GROUP BY 1),
            v AS (SELECT * FROM env WHERE e > s),
            ep AS (
              SELECT s AS t, 1 AS delta, id FROM v
              UNION ALL SELECT e, -1, id FROM v),
            c AS (
              SELECT t, delta, id,
                     sum(delta) OVER (ORDER BY t, delta, id
                       ROWS UNBOUNDED PRECEDING) AS run
              FROM ep),
            pk AS (SELECT max(run) AS p FROM c),
            f AS (SELECT min(t) AS ft FROM c, pk WHERE c.run = pk.p)
            SELECT CAST((SELECT count(*) FROM env) AS BIGINT)
                       AS n_intervals,
                   CAST((SELECT count(*) FROM env)
                        - (SELECT count(*) FROM v) AS BIGINT)
                       AS n_dropped,
                   CAST((SELECT p FROM pk) AS BIGINT)
                       AS peak_concurrency,
                   CAST((SELECT ft FROM f) AS BIGINT) AS first_peak_t
        """,
        "recsys_hitrate_at3": """
            WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
                                        l_partkey AS item FROM lineitem),
            tr AS (SELECT * FROM bi WHERE basket % 5 <> 0),
            te AS (SELECT * FROM bi WHERE basket % 5 = 0),
            freq AS (SELECT item, count(*) AS item_support
                     FROM tr GROUP BY item HAVING count(*) >= 2),
            pr AS (
              SELECT a.item AS item_a, b.item AS item_b,
                     count(*) AS pair_support
              FROM tr a JOIN tr b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY a.item, b.item HAVING count(*) >= 3),
            e AS (
              SELECT pr.item_a, pr.item_b, pr.pair_support,
                     fa.item_support AS support_a,
                     fb.item_support AS support_b
              FROM pr JOIN freq fa ON fa.item = pr.item_a
                      JOIN freq fb ON fb.item = pr.item_b),
            nb AS (SELECT count(DISTINCT basket) AS n FROM tr),
            ru AS (
              SELECT item_a AS antecedent, item_b AS consequent,
                     pair_support, support_a AS sup_ante,
                     support_b AS sup_cons
              FROM e
              UNION ALL
              SELECT item_b, item_a, pair_support, support_b, support_a
              FROM e),
            sc AS (
              SELECT antecedent, consequent,
                     CAST(pair_support * nb.n * 1000000
                          // (sup_ante * sup_cons) AS BIGINT) AS lift_ppm
              FROM ru, nb),
            recs AS (
              SELECT antecedent, consequent FROM (
                SELECT *, row_number() OVER (PARTITION BY antecedent
                  ORDER BY lift_ppm DESC, consequent ASC) AS rank
                FROM sc) WHERE rank <= 3),
            sizes AS (SELECT basket, count(*) AS sz FROM te GROUP BY basket),
            elig AS (SELECT basket FROM sizes WHERE sz >= 2),
            preds AS (
              SELECT te.basket AS b, r.consequent AS i2
              FROM te JOIN recs r ON te.item = r.antecedent),
            hits AS (
              SELECT DISTINCT p.b FROM preds p
              JOIN te ON te.basket = p.b AND te.item = p.i2
              WHERE p.b IN (SELECT basket FROM elig))
            SELECT CAST((SELECT count(*) FROM elig) AS BIGINT)
                     AS n_test_baskets,
                   CAST(count(*) AS BIGINT) AS n_hits,
                   CAST(count(*) * 1000
                        // greatest((SELECT count(*) FROM elig), 1)
                        AS BIGINT) AS hitrate_pm
            FROM hits
        """,
        "next_event_accuracy": """
            WITH trn AS (
              SELECT lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS src,
                     event_type AS dst
              FROM events WHERE user_id % 5 <> 0),
            tc AS (SELECT src, dst, count(*) AS c FROM trn
                   WHERE src IS NOT NULL GROUP BY src, dst),
            model AS (
              SELECT src, dst AS pred FROM (
                SELECT src, dst,
                       row_number() OVER (PARTITION BY src
                         ORDER BY c DESC, dst ASC) AS rn
                FROM tc) WHERE rn = 1),
            tst AS (
              SELECT lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS src,
                     event_type AS dst
              FROM events WHERE user_id % 5 = 0),
            tt AS (
              SELECT t.dst, m.pred FROM tst t
              LEFT JOIN model m ON m.src = t.src
              WHERE t.src IS NOT NULL),
            agg AS (
              SELECT count(*) AS n_test,
                     sum(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END)
                       AS n_covered,
                     sum(CASE WHEN pred = dst THEN 1 ELSE 0 END)
                       AS n_correct
              FROM tt)
            SELECT CAST(n_test AS BIGINT) AS n_test,
                   CAST(n_covered AS BIGINT) AS n_covered,
                   CAST(n_correct AS BIGINT) AS n_correct,
                   CAST(n_covered * 1000 // n_test AS BIGINT)
                     AS coverage_pm,
                   CAST(CASE WHEN n_covered > 0
                        THEN n_correct * 1000 // n_covered END AS BIGINT)
                     AS accuracy_pm
            FROM agg
        """,
        "did_revenue_estimate": """
            WITH base AS (
              SELECT CASE WHEN c.c_nationkey < 12 THEN 1 ELSE 0 END AS t,
                     CASE WHEN CAST(o.o_orderdate AS DATE)
                               >= DATE '1995-01-01' THEN 1 ELSE 0 END AS p,
                     CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                          AS HUGEINT) AS v
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
            cells AS (
              SELECT t, p, count(*) AS n,
                     CAST(sum(v) * 1000000 // count(*) AS BIGINT) AS m
              FROM base GROUP BY t, p)
            SELECT
              CAST(sum(CASE WHEN t=0 AND p=0 THEN n END) AS BIGINT) AS n00,
              CAST(sum(CASE WHEN t=0 AND p=1 THEN n END) AS BIGINT) AS n01,
              CAST(sum(CASE WHEN t=1 AND p=0 THEN n END) AS BIGINT) AS n10,
              CAST(sum(CASE WHEN t=1 AND p=1 THEN n END) AS BIGINT) AS n11,
              CAST(sum(CASE WHEN t=0 AND p=0 THEN m END) AS BIGINT) AS m00,
              CAST(sum(CASE WHEN t=0 AND p=1 THEN m END) AS BIGINT) AS m01,
              CAST(sum(CASE WHEN t=1 AND p=0 THEN m END) AS BIGINT) AS m10,
              CAST(sum(CASE WHEN t=1 AND p=1 THEN m END) AS BIGINT) AS m11,
              CAST((sum(CASE WHEN t=1 AND p=1 THEN m END)
                    - sum(CASE WHEN t=1 AND p=0 THEN m END))
                   - (sum(CASE WHEN t=0 AND p=1 THEN m END)
                      - sum(CASE WHEN t=0 AND p=0 THEN m END))
                   AS BIGINT) AS did_ppm
            FROM cells
        """,
        "mi_price_priority": """
            WITH o0 AS (
              SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS v,
                     o_orderpriority AS prio
              FROM orders),
            mm AS (SELECT min(v) AS lo, max(v) AS hi FROM o0),
            binned AS (
              SELECT least(9, (v - lo) * 10 // (hi - lo + 1)) AS a,
                     prio AS b
              FROM o0, mm),
            cells AS (SELECT a, b, count(*) AS n_ab FROM binned GROUP BY a, b),
            ma AS (SELECT a, sum(n_ab) AS n_a FROM cells GROUP BY a),
            mb AS (SELECT b, sum(n_ab) AS n_b FROM cells GROUP BY b),
            tot AS (SELECT sum(n_ab) AS n FROM cells),
            terms AS (
              SELECT CAST(round(
                       (CAST(c.n_ab AS DOUBLE) / t.n)
                       * ln((CAST(c.n_ab AS DOUBLE) * t.n)
                            / (CAST(ma.n_a AS DOUBLE) * mb.n_b))
                       * 1000000.0) AS BIGINT) AS term_micro
              FROM cells c JOIN ma USING (a) JOIN mb USING (b), tot t)
            SELECT CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(sum(term_micro) AS BIGINT) AS mi_micro_nats
            FROM terms
        """,
        "conformal_price_interval": """
            WITH base AS (
              SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
                     CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS HUGEINT) AS x,
                     CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS HUGEINT) AS y
              FROM lineitem),
            mom AS (
              SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
                     sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
              FROM base),
            mm AS (
              SELECT n, sx, sy,
                     n * sxy - sx * sy AS num,
                     n * sxx - sx * sx AS den
              FROM mom),
            r AS (
              SELECT rid,
                     abs(den * n * y - (den * sy - num * sx + n * num * x))
                       AS rs
              FROM base, mm),
            kk AS (SELECT CAST(n AS BIGINT) AS n_rows,
                          CAST(((900 * (n + 1)) + 999) // 1000 AS BIGINT) AS k,
                          den * n AS unit
                   FROM mm),
            rk AS (SELECT rs, row_number() OVER (ORDER BY rs ASC, rid ASC)
                             AS rnk
                   FROM r),
            q AS (SELECT rk.rs AS qrs, kk.n_rows, kk.k, kk.unit
                  FROM rk JOIN kk ON rk.rnk = kk.k)
            SELECT q.n_rows, q.k,
                   CAST(q.qrs // q.unit AS BIGINT) AS qhat_fp,
                   CAST(CAST((SELECT count(*) FROM r WHERE r.rs <= q.qrs)
                        AS HUGEINT) * 1000 // q.n_rows AS BIGINT)
                     AS coverage_pm
            FROM q
        """,
        "wilson_conversion_ci": """
            WITH pu AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
              FROM events GROUP BY user_id),
            agg AS (
              SELECT CAST(user_id % 2 AS BIGINT) AS arm,
                     count(*) AS n, sum(converted) AS k
              FROM pu GROUP BY 1)
            SELECT arm, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
                   round(((k / n + (1.96 * 1.96) / (2.0 * n))
                          / (1.0 + (1.96 * 1.96) / n))
                         - (1.96 * sqrt((k / n) * (1.0 - k / n) / n
                            + (1.96 * 1.96) / (4.0 * n * n))
                            / (1.0 + (1.96 * 1.96) / n)), 6) AS ci_lo,
                   round(((k / n + (1.96 * 1.96) / (2.0 * n))
                          / (1.0 + (1.96 * 1.96) / n))
                         + (1.96 * sqrt((k / n) * (1.0 - k / n) / n
                            + (1.96 * 1.96) / (4.0 * n * n))
                            / (1.0 + (1.96 * 1.96) / n)), 6) AS ci_hi
            FROM agg
        """,
        "embedding_mahalanobis": """
            WITH fp AS (
              SELECT e.vec_id AS vid, t.d,
                     CAST(round((e.embedding::DOUBLE[])[t.d] * 1000000)
                          AS BIGINT) AS x
              FROM embeddings e, range(1, 65) t(d)),
            stats AS (
              SELECT d,
                     CAST(sum(CAST(x AS HUGEINT))
                          // count(*) AS BIGINT) AS mu,
                     greatest(CAST((count(*) * sum(CAST(x AS HUGEINT)
                                                   * CAST(x AS HUGEINT))
                                    - sum(CAST(x AS HUGEINT))
                                      * sum(CAST(x AS HUGEINT)))
                                   // (CAST(count(*) AS HUGEINT)
                                       * count(*)) AS BIGINT),
                              1) AS var_fp
              FROM fp GROUP BY d),
            z AS (
              SELECT fp.vid,
                     CAST(CAST(fp.x - s.mu AS HUGEINT) * (fp.x - s.mu)
                          // s.var_fp AS BIGINT) AS z2
              FROM fp JOIN stats s ON s.d = fp.d)
            SELECT CAST(vid AS BIGINT) AS vec_id,
                   CAST(sum(z2) AS BIGINT) AS maha_score
            FROM z GROUP BY vid
            ORDER BY maha_score DESC, vec_id ASC LIMIT 20
        """,
        "orphan_integrity_audit": """
            SELECT 'lineitem->orders' AS relationship,
                   CAST((SELECT count(*) FROM lineitem) AS BIGINT)
                     AS n_child_rows,
                   CAST((SELECT count(*) FROM lineitem
                         WHERE l_orderkey IS NULL) AS BIGINT) AS n_null_fk,
                   CAST((SELECT count(*) FROM lineitem
                         WHERE l_orderkey IS NOT NULL
                           AND l_orderkey NOT IN
                               (SELECT o_orderkey FROM orders)) AS BIGINT)
                     AS n_orphans
            UNION ALL
            SELECT 'orders->customer',
                   (SELECT count(*) FROM orders),
                   (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
                   (SELECT count(*) FROM orders
                    WHERE o_custkey IS NOT NULL
                      AND o_custkey NOT IN (SELECT c_custkey FROM customer))
            UNION ALL
            SELECT 'lineitem->part',
                   (SELECT count(*) FROM lineitem),
                   (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL),
                   (SELECT count(*) FROM lineitem
                    WHERE l_partkey IS NOT NULL
                      AND l_partkey NOT IN (SELECT p_partkey FROM part))
            UNION ALL
            SELECT 'customer->nation',
                   (SELECT count(*) FROM customer),
                   (SELECT count(*) FROM customer WHERE c_nationkey IS NULL),
                   (SELECT count(*) FROM customer
                    WHERE c_nationkey IS NOT NULL
                      AND c_nationkey NOT IN
                          (SELECT n_nationkey FROM nation))
        """,
        "markov_removal_attribution": """
            WITH             ev AS (SELECT user_id AS u, event_type AS c, ts,
                          event_id AS oid FROM events),
            fc AS (
              SELECT u, ts AS fts, oid AS foid FROM (
                SELECT u, ts, oid,
                       row_number() OVER (PARTITION BY u
                                          ORDER BY ts, oid) AS rn
                FROM ev WHERE c = 'purchase') WHERE rn = 1),
            pre AS (
              SELECT e.u, e.c, e.ts, e.oid,
                     (fc.u IS NOT NULL) AS conv
              FROM ev e LEFT JOIN fc ON fc.u = e.u
              WHERE (fc.u IS NULL OR (e.ts, e.oid) < (fc.fts, fc.foid))
                AND e.c <> 'purchase'),
            seq AS (
              SELECT u, c, conv,
                     lag(c) OVER (PARTITION BY u ORDER BY ts, oid) AS prev,
                     row_number() OVER (PARTITION BY u ORDER BY ts, oid) AS rn,
                     count(*) OVER (PARTITION BY u) AS n
              FROM pre),
            inner0 AS (SELECT coalesce(prev, 'start') AS src, c AS dst
                       FROM seq),
            ends AS (SELECT c AS src,
                            CASE WHEN conv THEN 'conv' ELSE 'drop' END AS dst
                     FROM seq WHERE rn = n),
            bare AS (SELECT 'start' AS src, 'conv' AS dst FROM fc
                     WHERE u NOT IN (SELECT DISTINCT u FROM pre)),
            tr_full AS (
              SELECT src, dst, CAST(count(*) AS HUGEINT) AS cnt FROM (
                SELECT * FROM inner0
                UNION ALL SELECT * FROM ends
                UNION ALL SELECT * FROM bare) GROUP BY src, dst),            states_full AS (
              SELECT DISTINCT state FROM (
                SELECT src AS state FROM tr_full
                UNION ALL SELECT dst FROM tr_full)),
            out_full AS (
              SELECT src, sum(cnt) AS outc FROM tr_full GROUP BY src),
            p0_full AS (
              SELECT state,
                     CAST(CASE WHEN state = 'conv' THEN 1000000 ELSE 0 END
                          AS HUGEINT) AS p
              FROM states_full),            p1_full AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_full t JOIN p0_full p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_full
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_full s),            p2_full AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_full t JOIN p1_full p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_full
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_full s),            p3_full AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_full t JOIN p2_full p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_full
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_full s),            p4_full AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_full t JOIN p3_full p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_full
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_full s),            p5_full AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_full t JOIN p4_full p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_full
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_full s),            p6_full AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_full t JOIN p5_full p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_full
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_full s),            tr_click AS (
              SELECT src,
                     CASE WHEN dst = 'click' THEN 'drop' ELSE dst END AS dst,
                     CAST(sum(cnt) AS HUGEINT) AS cnt
              FROM tr_full WHERE src <> 'click' GROUP BY 1, 2),            states_click AS (
              SELECT DISTINCT state FROM (
                SELECT src AS state FROM tr_click
                UNION ALL SELECT dst FROM tr_click)),
            out_click AS (
              SELECT src, sum(cnt) AS outc FROM tr_click GROUP BY src),
            p0_click AS (
              SELECT state,
                     CAST(CASE WHEN state = 'conv' THEN 1000000 ELSE 0 END
                          AS HUGEINT) AS p
              FROM states_click),            p1_click AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_click t JOIN p0_click p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_click
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_click s),            p2_click AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_click t JOIN p1_click p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_click
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_click s),            p3_click AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_click t JOIN p2_click p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_click
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_click s),            p4_click AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_click t JOIN p3_click p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_click
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_click s),            p5_click AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_click t JOIN p4_click p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_click
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_click s),            p6_click AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_click t JOIN p5_click p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_click
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_click s),            tr_error AS (
              SELECT src,
                     CASE WHEN dst = 'error' THEN 'drop' ELSE dst END AS dst,
                     CAST(sum(cnt) AS HUGEINT) AS cnt
              FROM tr_full WHERE src <> 'error' GROUP BY 1, 2),            states_error AS (
              SELECT DISTINCT state FROM (
                SELECT src AS state FROM tr_error
                UNION ALL SELECT dst FROM tr_error)),
            out_error AS (
              SELECT src, sum(cnt) AS outc FROM tr_error GROUP BY src),
            p0_error AS (
              SELECT state,
                     CAST(CASE WHEN state = 'conv' THEN 1000000 ELSE 0 END
                          AS HUGEINT) AS p
              FROM states_error),            p1_error AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_error t JOIN p0_error p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_error
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_error s),            p2_error AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_error t JOIN p1_error p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_error
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_error s),            p3_error AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_error t JOIN p2_error p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_error
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_error s),            p4_error AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_error t JOIN p3_error p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_error
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_error s),            p5_error AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_error t JOIN p4_error p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_error
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_error s),            p6_error AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_error t JOIN p5_error p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_error
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_error s),            tr_signup AS (
              SELECT src,
                     CASE WHEN dst = 'signup' THEN 'drop' ELSE dst END AS dst,
                     CAST(sum(cnt) AS HUGEINT) AS cnt
              FROM tr_full WHERE src <> 'signup' GROUP BY 1, 2),            states_signup AS (
              SELECT DISTINCT state FROM (
                SELECT src AS state FROM tr_signup
                UNION ALL SELECT dst FROM tr_signup)),
            out_signup AS (
              SELECT src, sum(cnt) AS outc FROM tr_signup GROUP BY src),
            p0_signup AS (
              SELECT state,
                     CAST(CASE WHEN state = 'conv' THEN 1000000 ELSE 0 END
                          AS HUGEINT) AS p
              FROM states_signup),            p1_signup AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_signup t JOIN p0_signup p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_signup
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_signup s),            p2_signup AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_signup t JOIN p1_signup p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_signup
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_signup s),            p3_signup AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_signup t JOIN p2_signup p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_signup
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_signup s),            p4_signup AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_signup t JOIN p3_signup p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_signup
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_signup s),            p5_signup AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_signup t JOIN p4_signup p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_signup
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_signup s),            p6_signup AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_signup t JOIN p5_signup p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_signup
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_signup s),            tr_view AS (
              SELECT src,
                     CASE WHEN dst = 'view' THEN 'drop' ELSE dst END AS dst,
                     CAST(sum(cnt) AS HUGEINT) AS cnt
              FROM tr_full WHERE src <> 'view' GROUP BY 1, 2),            states_view AS (
              SELECT DISTINCT state FROM (
                SELECT src AS state FROM tr_view
                UNION ALL SELECT dst FROM tr_view)),
            out_view AS (
              SELECT src, sum(cnt) AS outc FROM tr_view GROUP BY src),
            p0_view AS (
              SELECT state,
                     CAST(CASE WHEN state = 'conv' THEN 1000000 ELSE 0 END
                          AS HUGEINT) AS p
              FROM states_view),            p1_view AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_view t JOIN p0_view p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_view
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_view s),            p2_view AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_view t JOIN p1_view p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_view
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_view s),            p3_view AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_view t JOIN p2_view p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_view
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_view s),            p4_view AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_view t JOIN p3_view p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_view
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_view s),            p5_view AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_view t JOIN p4_view p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_view
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_view s),            p6_view AS (
              SELECT s.state,
                     CAST(CASE WHEN s.state = 'conv' THEN 1000000
                               WHEN s.state = 'drop' THEN 0
                               ELSE coalesce(
                                 (SELECT sum(t.cnt * p.p)
                                  FROM tr_view t JOIN p5_view p
                                    ON p.state = t.dst
                                  WHERE t.src = s.state), 0)
                                // coalesce(
                                 (SELECT outc FROM out_view
                                  WHERE src = s.state), 1)
                          END AS HUGEINT) AS p
              FROM states_view s),
            res AS (
              SELECT 'click' AS channel, (SELECT p FROM p6_click WHERE state = 'start') AS reach
            UNION ALL SELECT 'error' AS channel, (SELECT p FROM p6_error WHERE state = 'start') AS reach
            UNION ALL SELECT 'signup' AS channel, (SELECT p FROM p6_signup WHERE state = 'start') AS reach
            UNION ALL SELECT 'view' AS channel, (SELECT p FROM p6_view WHERE state = 'start') AS reach),
            eff AS (
              SELECT channel,
                     greatest(CAST(0 AS HUGEINT),
                       (SELECT p FROM p6_full WHERE state = 'start') - reach)
                       AS e
              FROM res),
            tot AS (SELECT sum(e) AS t FROM eff)
            SELECT channel,
                   CAST((SELECT p FROM p6_full WHERE state = 'start')
                        AS BIGINT) AS base_reach_ppm,
                   CAST(e AS BIGINT) AS removal_effect_ppm,
                   CAST(CASE WHEN t > 0 THEN e * 1000000 // t ELSE 0 END
                        AS BIGINT) AS credit_ppm
            FROM eff, tot
        """,
        "seasonal_mase_events": """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     count(*) AS n
              FROM events GROUP BY event_type, CAST(ts AS DATE)),
            lagged AS (
              SELECT event_type, n,
                     lag(n, 7) OVER (PARTITION BY event_type
                                     ORDER BY day ASC) AS fs,
                     lag(n, 1) OVER (PARTITION BY event_type
                                     ORDER BY day ASC) AS f1
              FROM daily),
            ok AS (SELECT * FROM lagged
                   WHERE fs IS NOT NULL AND f1 IS NOT NULL)
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(abs(n - fs)) AS BIGINT) AS sae_seasonal,
                   CAST(sum(abs(n - f1)) AS BIGINT) AS sae_naive,
                   CAST(CASE WHEN sum(abs(n - f1)) > 0
                        THEN CAST(sum(abs(n - fs)) AS HUGEINT) * 1000000
                             // sum(abs(n - f1))
                        END AS BIGINT) AS mase_ppm
            FROM ok GROUP BY event_type
        """,
        "gini_price_stump": """
            WITH b0 AS (
              SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS v,
                     CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                       AS y
              FROM orders),
            mm AS (SELECT min(v) AS lo, max(v) AS hi FROM b0),
            binned AS (
              SELECT least(63, (v - lo) * 64 // (hi - lo + 1)) AS bin, y
              FROM b0, mm),
            pb AS (SELECT bin, count(*) AS n_b, sum(y) AS pos_b
                   FROM binned GROUP BY bin),
            tot AS (SELECT CAST(sum(n_b) AS HUGEINT) AS n,
                           CAST(sum(pos_b) AS HUGEINT) AS pos FROM pb),
            cum AS (
              SELECT bin,
                     CAST(sum(n_b) OVER (ORDER BY bin ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS HUGEINT) AS n_l,
                     CAST(sum(pos_b) OVER (ORDER BY bin ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS HUGEINT) AS pos_l
              FROM pb),
            sc AS (
              SELECT bin, n_l, pos_l, n, pos,
                     (n_l * (1000000 - (pos_l * pos_l
                        + (n_l - pos_l) * (n_l - pos_l)) * 1000000
                        // (n_l * n_l))
                      + (n - n_l) * (1000000 - ((pos - pos_l) * (pos - pos_l)
                        + ((n - n_l) - (pos - pos_l))
                          * ((n - n_l) - (pos - pos_l))) * 1000000
                        // ((n - n_l) * (n - n_l)))) // n AS wg
              FROM cum, tot WHERE n_l < n)
            SELECT CAST(bin AS BIGINT) AS split_bin,
                   CAST(n_l AS BIGINT) AS n_left,
                   CAST(pos_l AS BIGINT) AS pos_left,
                   CAST(n - n_l AS BIGINT) AS n_right,
                   CAST(pos - pos_l AS BIGINT) AS pos_right,
                   CAST(wg AS BIGINT) AS weighted_gini_ppm
            FROM sc ORDER BY wg ASC, bin ASC LIMIT 5
        """,
        "loo_brand_influence": """
            WITH base AS (
              SELECT p.p_brand AS g,
                     CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100
                          AS HUGEINT) AS x,
                     CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                          AS HUGEINT) AS y
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
            per_g AS (
              SELECT g, CAST(count(*) AS HUGEINT) AS n_g,
                     sum(x) AS sx_g, sum(y) AS sy_g,
                     sum(x * y) AS sxy_g, sum(x * x) AS sxx_g
              FROM base GROUP BY g),
            gmom AS (
              SELECT sum(n_g) AS n, sum(sx_g) AS sx, sum(sy_g) AS sy,
                     sum(sxy_g) AS sxy, sum(sxx_g) AS sxx
              FROM per_g)
            SELECT g AS p_brand,
                   CAST(n_g AS BIGINT) AS n_rows,
                   CAST((n * sxy - sx * sy) * 1000000
                        // (n * sxx - sx * sx) AS BIGINT) AS slope_global_ppm,
                   CAST(((n - n_g) * (sxy - sxy_g)
                         - (sx - sx_g) * (sy - sy_g)) * 1000000
                        // ((n - n_g) * (sxx - sxx_g)
                            - (sx - sx_g) * (sx - sx_g))
                        AS BIGINT) AS slope_without_ppm,
                   CAST(CAST(((n - n_g) * (sxy - sxy_g)
                         - (sx - sx_g) * (sy - sy_g)) * 1000000
                        // ((n - n_g) * (sxx - sxx_g)
                            - (sx - sx_g) * (sx - sx_g)) AS BIGINT)
                        - CAST((n * sxy - sx * sy) * 1000000
                          // (n * sxx - sx * sx) AS BIGINT)
                        AS BIGINT) AS influence_ppm
            FROM per_g, gmom
        """,
        "shapley_channel_credits": """
            WITH pu AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'click'  THEN 1 ELSE 0 END)
                   + max(CASE WHEN event_type = 'error'  THEN 2 ELSE 0 END)
                   + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
                   + max(CASE WHEN event_type = 'view'   THEN 8 ELSE 0 END) AS mask,
                     max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
              FROM events GROUP BY user_id),
            pm AS (SELECT mask, count(*) AS n_users, sum(conv) AS n_conv
                   FROM pu GROUP BY mask),
            v AS (
              SELECT t.mask,
                     CASE WHEN t.mask = 0 OR pm.n_users IS NULL THEN 0
                          ELSE CAST(pm.n_conv AS HUGEINT) * 1000000 // pm.n_users
                     END AS v_ppm
              FROM range(16) t(mask) LEFT JOIN pm ON pm.mask = t.mask),
            ch(channel, bit) AS (
              VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)),
            pairs AS (
              SELECT ch.channel, s.mask AS s_mask, s.v_ppm AS v_s,
                     (s.mask | ch.bit) AS si_mask,
                     CASE bit_count(s.mask)
                          WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
                          ELSE 6 END AS w
              FROM ch, v s WHERE (s.mask & ch.bit) = 0),
            sc AS (
              SELECT p.channel,
                     CAST(sum(p.w * (vi.v_ppm - p.v_s)) AS BIGINT) AS phi_scaled
              FROM pairs p JOIN v vi ON vi.mask = p.si_mask
              GROUP BY p.channel)
            SELECT channel, phi_scaled,
                   CAST(CAST(phi_scaled AS HUGEINT) // 24 AS BIGINT) AS phi_ppm
            FROM sc
        """,
        "lpa_copurchase_communities": """
            WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
                                        l_partkey AS item FROM lineitem),
            pr AS (
              SELECT a.item AS item_a, b.item AS item_b
              FROM bi a JOIN bi b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY a.item, b.item HAVING count(*) >= 3),
            e AS (SELECT item_a AS a, item_b AS b FROM pr
                  UNION ALL SELECT item_b, item_a FROM pr),
            l0 AS (SELECT node, node AS lab FROM
                   (SELECT DISTINCT a AS node FROM e) t),
            v1 AS (
              SELECT e.a AS node, l.lab, count(*) AS c
              FROM e JOIN l0 l ON l.node = e.b GROUP BY e.a, l.lab),
            l1 AS (
              SELECT node, lab FROM (
                SELECT node, lab,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, lab ASC) AS rn
                FROM v1) WHERE rn = 1),
            v2 AS (
              SELECT e.a AS node, l.lab, count(*) AS c
              FROM e JOIN l1 l ON l.node = e.b GROUP BY e.a, l.lab),
            l2 AS (
              SELECT node, lab FROM (
                SELECT node, lab,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, lab ASC) AS rn
                FROM v2) WHERE rn = 1),
            v3 AS (
              SELECT e.a AS node, l.lab, count(*) AS c
              FROM e JOIN l2 l ON l.node = e.b GROUP BY e.a, l.lab),
            l3 AS (
              SELECT node, lab FROM (
                SELECT node, lab,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, lab ASC) AS rn
                FROM v3) WHERE rn = 1)
            SELECT lab AS community,
                   CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(min(node) AS BIGINT) AS min_node,
                   CAST(max(node) AS BIGINT) AS max_node
            FROM l3 GROUP BY lab
        """,
        "customer_survival_km": """
            WITH per AS (
              SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS f,
                     max(CAST(o_orderdate AS DATE)) AS l
              FROM orders GROUP BY o_custkey),
            g AS (SELECT max(l) AS endd FROM per),
            du AS (
              SELECT date_diff('day', f, l) AS t,
                     CASE WHEN date_diff('day', l, (SELECT endd FROM g)) > 365
                          THEN 1 ELSE 0 END AS e
              FROM per),
            pt AS (SELECT t, count(*) AS n_total, sum(e) AS d
                   FROM du GROUP BY t),
            r AS (
              SELECT t, d,
                     (SELECT sum(n_total) FROM pt)
                     - coalesce(sum(n_total) OVER (ORDER BY t ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS n_risk
              FROM pt),
            ev AS (SELECT * FROM r WHERE d > 0),
            s AS (
              SELECT t, d, n_risk,
                     max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                       OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS dead,
                     sum(CASE WHEN d < n_risk THEN ln(1.0 - d / n_risk)
                              ELSE 0.0 END)
                       OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS lsum
              FROM ev)
            SELECT CAST(t AS BIGINT) AS t,
                   CAST(d AS BIGINT) AS n_events,
                   CAST(n_risk AS BIGINT) AS n_risk,
                   CASE WHEN dead = 1 THEN 0.0
                        ELSE round(exp(lsum), 6) END AS survival
            FROM s
        """,
        "deletion_cascade_audit": """
            WITH subs AS (SELECT c_custkey FROM customer
                          WHERE c_custkey % 97 = 3)
            SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_rows
            FROM customer WHERE c_custkey IN (SELECT c_custkey FROM subs)
            UNION ALL
            SELECT 'orders', CAST(count(*) AS BIGINT)
            FROM orders WHERE o_custkey IN (SELECT c_custkey FROM subs)
            UNION ALL
            SELECT 'lineitem', CAST(count(*) AS BIGINT)
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_custkey IN (SELECT c_custkey FROM subs)
        """,
        "bm25_ranking": """
            WITH t AS (
              SELECT doc_id AS doc,
                     unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
              FROM documents),
            tt AS (SELECT doc, term FROM t WHERE term <> ''),
            dl AS (SELECT doc, count(*) AS dl FROM tt GROUP BY doc),
            s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                         CAST(sum(dl) AS DOUBLE) AS total_len FROM dl),
            tf AS (SELECT doc, term, count(*) AS tf FROM tt
                   WHERE term IN ('join', 'vector', 'spark', 'window')
                   GROUP BY doc, term),
            dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            p AS (
              SELECT tf.doc,
                     CAST(round(
                       ln(1 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
                       * (tf.tf * (1.2 + 1.0)
                          / (tf.tf + 1.2 * ((1.0 - 0.75)
                             + 0.75 * dl.dl * s.n_docs / s.total_len)))
                       * 1000000.0) AS BIGINT) AS pm
              FROM tf JOIN dfr USING (term) JOIN dl USING (doc), s)
            SELECT doc AS doc_id, CAST(sum(pm) AS BIGINT) AS bm25_micro
            FROM p GROUP BY doc
            ORDER BY bm25_micro DESC, doc_id ASC LIMIT 20
        """,
        "woe_iv_price_deciles": """
            WITH b AS (
              SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
                     ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS bin
              FROM orders),
            pb AS (SELECT bin, count(*) AS n, sum(y) AS n_bad,
                          count(*) - sum(y) AS n_good
                   FROM b GROUP BY bin),
            t AS (SELECT CAST(sum(n_good) AS DOUBLE) AS tg,
                         CAST(sum(n_bad) AS DOUBLE) AS tb FROM pb)
            SELECT CAST(bin AS BIGINT) AS bin,
                   CAST(n AS BIGINT) AS n,
                   CAST(n_good AS BIGINT) AS n_good,
                   CAST(n_bad AS BIGINT) AS n_bad,
                   round(ln((n_good / tg) / (n_bad / tb)), 6) AS woe,
                   round((n_good / tg - n_bad / tb)
                         * ln((n_good / tg) / (n_bad / tb)), 6) AS iv_part
            FROM pb, t
        """,
        "cuped_adjusted_spend": """
            WITH per AS (
              SELECT o_custkey,
                     CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1996-01-01'
                              THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                              ELSE 0 END) AS HUGEINT) AS x,
                     CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
                              THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                              ELSE 0 END) AS HUGEINT) AS y,
                     o_custkey % 2 AS arm
              FROM orders GROUP BY o_custkey),
            g AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
                         sum(x * y) AS sxy, sum(x * x) AS sxx FROM per),
            gg AS (SELECT n, sx, sy,
                          n * sxy - sx * sy AS num,
                          n * sxx - sx * sx AS den FROM g),
            a AS (SELECT arm, CAST(count(*) AS HUGEINT) AS n_arm,
                         sum(x) AS sx_arm, sum(y) AS sy_arm
                  FROM per GROUP BY arm)
            SELECT CAST(arm AS BIGINT) AS arm,
                   CAST(n_arm AS BIGINT) AS n_units,
                   CAST(sx_arm * 1000000 // n_arm AS BIGINT) AS mean_pre_ppm,
                   CAST(sy_arm * 1000000 // n_arm AS BIGINT) AS mean_post_ppm,
                   CAST(num * 1000000 // den AS BIGINT) AS theta_ppm,
                   CAST((sy_arm * 1000000 // n_arm)
                        - ((num * 1000000 // den)
                           * ((sx_arm * 1000000 // n_arm) - (sx * 1000000 // n))
                           // 1000000) AS BIGINT) AS adjusted_post_ppm
            FROM a, gg
        """,
        "nb_source_classify": """
            WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
            sc AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
            ttok AS (
              SELECT doc_id AS doc, source AS cls,
                     unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
              FROM train),
            tt AS (SELECT doc, cls, tok FROM ttok WHERE tok <> ''),
            ct AS (SELECT cls, tok, count(*) AS c FROM tt GROUP BY cls, tok),
            cls_tot AS (SELECT cls, sum(c) AS tot FROM ct GROUP BY cls),
            vn AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM ct),
            ntr AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM train),
            priors AS (
              SELECT source AS cls,
                     CAST(round(ln(count(*) / (SELECT n FROM ntr)) * 1000000.0) AS BIGINT) AS prior_micro
              FROM train GROUP BY source),
            weights AS (
              SELECT ct.cls, ct.tok,
                     CAST(round(ln((ct.c + 1.0) / (cls_tot.tot + (SELECT v FROM vn))) * 1000000.0) AS BIGINT) AS lw_micro
              FROM ct JOIN cls_tot USING (cls)),
            floors AS (
              SELECT cls,
                     CAST(round(ln(1.0 / (tot + (SELECT v FROM vn))) * 1000000.0) AS BIGINT) AS floor_micro
              FROM cls_tot),
            stok0 AS (
              SELECT doc_id AS doc,
                     unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
              FROM sc),
            stok AS (SELECT doc, tok FROM stok0 WHERE tok <> ''),
            scored AS (
              SELECT s.doc, f.cls,
                     CAST(sum(coalesce(w.lw_micro, f.floor_micro)) AS BIGINT) AS ll_micro
              FROM stok s CROSS JOIN floors f
              LEFT JOIN weights w ON w.cls = f.cls AND w.tok = s.tok
              GROUP BY s.doc, f.cls),
            alldc AS (SELECT d.doc_id AS doc, p.cls, p.prior_micro
                      FROM sc d CROSS JOIN priors p),
            full0 AS (
              SELECT a.doc, a.cls,
                     CAST(coalesce(s.ll_micro, 0) + a.prior_micro AS BIGINT) AS score_micro
              FROM alldc a LEFT JOIN scored s ON s.doc = a.doc AND s.cls = a.cls),
            rk AS (SELECT doc, cls, score_micro,
                          row_number() OVER (PARTITION BY doc
                                             ORDER BY score_micro DESC, cls ASC) AS rn
                   FROM full0)
            SELECT doc AS doc_id, cls AS pred_source, score_micro
            FROM rk WHERE rn = 1
        """,
        "embedding_dim_recall": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 16 = 0),
            p AS (
              SELECT q.qid, e.vec_id AS cid,
                     round(list_cosine_similarity(e.v, q.qv), 6) AS cf,
                     round(list_cosine_similarity(e.v[1:32], q.qv[1:32]), 6) AS ch
              FROM e, q WHERE e.vec_id <> q.qid),
            r AS (
              SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid ORDER BY cf DESC, cid ASC) AS rf,
                     row_number() OVER (PARTITION BY qid ORDER BY ch DESC, cid ASC) AS rh
              FROM p),
            o AS (
              SELECT f.qid, count(*) AS n
              FROM (SELECT qid, cid FROM r WHERE rf <= 10) f
              JOIN (SELECT qid, cid FROM r WHERE rh <= 10) h USING (qid, cid)
              GROUP BY f.qid)
            SELECT CAST(q.qid AS BIGINT) AS vec_id,
                   CAST(coalesce(o.n, 0) AS BIGINT) AS n_overlap,
                   CAST(coalesce(o.n, 0) * 1000 // 10 AS BIGINT) AS recall_pm
            FROM q LEFT JOIN o ON q.qid = o.qid
        """,
        "kcenter_coreset": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            c0 AS (
                  SELECT e.vec_id, e.v,
                         CAST(round(list_distance(e.v, CAST([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[])) * 1000000.0) AS BIGINT) AS d
                  FROM e
                  ORDER BY d DESC, e.vec_id ASC LIMIT 1),
            c1 AS (
                  SELECT e.vec_id, e.v,
                         CAST(round(list_distance(e.v, (SELECT v FROM c0)) * 1000000.0) AS BIGINT) AS d
                  FROM e
                  WHERE e.vec_id NOT IN (SELECT vec_id FROM c0)
                  ORDER BY d DESC, e.vec_id ASC LIMIT 1),
            c2 AS (
                  SELECT e.vec_id, e.v,
                         CAST(round(least(list_distance(e.v, (SELECT v FROM c0)), list_distance(e.v, (SELECT v FROM c1))) * 1000000.0) AS BIGINT) AS d
                  FROM e
                  WHERE e.vec_id NOT IN (SELECT vec_id FROM c0 UNION ALL SELECT vec_id FROM c1)
                  ORDER BY d DESC, e.vec_id ASC LIMIT 1),
            c3 AS (
                  SELECT e.vec_id, e.v,
                         CAST(round(least(list_distance(e.v, (SELECT v FROM c0)), list_distance(e.v, (SELECT v FROM c1)), list_distance(e.v, (SELECT v FROM c2))) * 1000000.0) AS BIGINT) AS d
                  FROM e
                  WHERE e.vec_id NOT IN (SELECT vec_id FROM c0 UNION ALL SELECT vec_id FROM c1 UNION ALL SELECT vec_id FROM c2)
                  ORDER BY d DESC, e.vec_id ASC LIMIT 1),
            c4 AS (
                  SELECT e.vec_id, e.v,
                         CAST(round(least(list_distance(e.v, (SELECT v FROM c0)), list_distance(e.v, (SELECT v FROM c1)), list_distance(e.v, (SELECT v FROM c2)), list_distance(e.v, (SELECT v FROM c3))) * 1000000.0) AS BIGINT) AS d
                  FROM e
                  WHERE e.vec_id NOT IN (SELECT vec_id FROM c0 UNION ALL SELECT vec_id FROM c1 UNION ALL SELECT vec_id FROM c2 UNION ALL SELECT vec_id FROM c3)
                  ORDER BY d DESC, e.vec_id ASC LIMIT 1),
            c5 AS (
                  SELECT e.vec_id, e.v,
                         CAST(round(least(list_distance(e.v, (SELECT v FROM c0)), list_distance(e.v, (SELECT v FROM c1)), list_distance(e.v, (SELECT v FROM c2)), list_distance(e.v, (SELECT v FROM c3)), list_distance(e.v, (SELECT v FROM c4))) * 1000000.0) AS BIGINT) AS d
                  FROM e
                  WHERE e.vec_id NOT IN (SELECT vec_id FROM c0 UNION ALL SELECT vec_id FROM c1 UNION ALL SELECT vec_id FROM c2 UNION ALL SELECT vec_id FROM c3 UNION ALL SELECT vec_id FROM c4)
                  ORDER BY d DESC, e.vec_id ASC LIMIT 1),
            c6 AS (
                  SELECT e.vec_id, e.v,
                         CAST(round(least(list_distance(e.v, (SELECT v FROM c0)), list_distance(e.v, (SELECT v FROM c1)), list_distance(e.v, (SELECT v FROM c2)), list_distance(e.v, (SELECT v FROM c3)), list_distance(e.v, (SELECT v FROM c4)), list_distance(e.v, (SELECT v FROM c5))) * 1000000.0) AS BIGINT) AS d
                  FROM e
                  WHERE e.vec_id NOT IN (SELECT vec_id FROM c0 UNION ALL SELECT vec_id FROM c1 UNION ALL SELECT vec_id FROM c2 UNION ALL SELECT vec_id FROM c3 UNION ALL SELECT vec_id FROM c4 UNION ALL SELECT vec_id FROM c5)
                  ORDER BY d DESC, e.vec_id ASC LIMIT 1),
            c7 AS (
                  SELECT e.vec_id, e.v,
                         CAST(round(least(list_distance(e.v, (SELECT v FROM c0)), list_distance(e.v, (SELECT v FROM c1)), list_distance(e.v, (SELECT v FROM c2)), list_distance(e.v, (SELECT v FROM c3)), list_distance(e.v, (SELECT v FROM c4)), list_distance(e.v, (SELECT v FROM c5)), list_distance(e.v, (SELECT v FROM c6))) * 1000000.0) AS BIGINT) AS d
                  FROM e
                  WHERE e.vec_id NOT IN (SELECT vec_id FROM c0 UNION ALL SELECT vec_id FROM c1 UNION ALL SELECT vec_id FROM c2 UNION ALL SELECT vec_id FROM c3 UNION ALL SELECT vec_id FROM c4 UNION ALL SELECT vec_id FROM c5 UNION ALL SELECT vec_id FROM c6)
                  ORDER BY d DESC, e.vec_id ASC LIMIT 1)
            SELECT CAST(0 AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
                   d AS dist_micro FROM c0
            UNION ALL
            SELECT CAST(1 AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
                   d AS dist_micro FROM c1
            UNION ALL
            SELECT CAST(2 AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
                   d AS dist_micro FROM c2
            UNION ALL
            SELECT CAST(3 AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
                   d AS dist_micro FROM c3
            UNION ALL
            SELECT CAST(4 AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
                   d AS dist_micro FROM c4
            UNION ALL
            SELECT CAST(5 AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
                   d AS dist_micro FROM c5
            UNION ALL
            SELECT CAST(6 AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
                   d AS dist_micro FROM c6
            UNION ALL
            SELECT CAST(7 AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
                   d AS dist_micro FROM c7
        """,
        "doc_sorted_neighborhood": """
            WITH k AS (
              SELECT doc_id,
                     substr(trim(regexp_replace(lower(text), '\\s+', ' ',
                       'g')), 1, 64) AS key
              FROM documents),
            r AS (
              SELECT doc_id, key,
                     row_number() OVER (ORDER BY key, doc_id) AS rn
              FROM k),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
                     CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
              FROM r a JOIN r b
                ON b.rn > a.rn AND b.rn <= a.rn + 4)
            SELECT id_a, id_b, rank_gap, dist FROM p WHERE dist <= 20
        """,
        "part_record_linkage": """
            WITH s AS (
              SELECT p_partkey AS k, p_name AS n, p_type AS t,
                     p_size AS z, p_brand AS b
              FROM part),
            pr AS (
              SELECT x.k AS k_a, y.k AS k_b,
                     (levenshtein(x.n, y.n) <= 3) AS r0,
                     (x.t = y.t) AS r1,
                     (abs(x.z - y.z) <= 1) AS r2
              FROM s x JOIN s y ON x.b = y.b AND x.k < y.k)
            SELECT k_a, k_b,
                   CAST((CASE WHEN r0 THEN 18 ELSE -10 END)
                      + (CASE WHEN r1 THEN 12 ELSE -8 END)
                      + (CASE WHEN r2 THEN 6 ELSE -4 END) AS BIGINT)
                       AS link_score,
                   CAST((CASE WHEN r0 THEN 1 ELSE 0 END)
                      + (CASE WHEN r1 THEN 2 ELSE 0 END)
                      + (CASE WHEN r2 THEN 4 ELSE 0 END) AS BIGINT)
                       AS agree_mask
            FROM pr
            WHERE (CASE WHEN r0 THEN 18 ELSE -10 END)
                + (CASE WHEN r1 THEN 12 ELSE -8 END)
                + (CASE WHEN r2 THEN 6 ELSE -4 END) >= 20
        """,
        "fk_discovery": """
            WITH cand(child_ref, parent_ref) AS (VALUES
              ('orders.o_custkey', 'customer.c_custkey'),
              ('lineitem.l_orderkey', 'orders.o_orderkey'),
              ('lineitem.l_partkey', 'part.p_partkey'),
              ('lineitem.l_suppkey', 'supplier.s_suppkey'),
              ('customer.c_nationkey', 'nation.n_nationkey'),
              ('supplier.s_nationkey', 'nation.n_nationkey'),
              ('nation.n_regionkey', 'region.r_regionkey'),
              ('events.user_id', 'customer.c_custkey'),
              ('customer.c_custkey', 'orders.o_custkey'),
              ('part.p_size', 'nation.n_nationkey')),
            vals AS (
              SELECT 'orders.o_custkey' AS ref,
                     CAST(o_custkey AS VARCHAR) AS v FROM orders
              UNION ALL SELECT 'lineitem.l_orderkey',
                     CAST(l_orderkey AS VARCHAR) FROM lineitem
              UNION ALL SELECT 'lineitem.l_partkey',
                     CAST(l_partkey AS VARCHAR) FROM lineitem
              UNION ALL SELECT 'lineitem.l_suppkey',
                     CAST(l_suppkey AS VARCHAR) FROM lineitem
              UNION ALL SELECT 'customer.c_nationkey',
                     CAST(c_nationkey AS VARCHAR) FROM customer
              UNION ALL SELECT 'supplier.s_nationkey',
                     CAST(s_nationkey AS VARCHAR) FROM supplier
              UNION ALL SELECT 'nation.n_regionkey',
                     CAST(n_regionkey AS VARCHAR) FROM nation
              UNION ALL SELECT 'events.user_id',
                     CAST(user_id AS VARCHAR) FROM events
              UNION ALL SELECT 'customer.c_custkey',
                     CAST(c_custkey AS VARCHAR) FROM customer
              UNION ALL SELECT 'part.p_size',
                     CAST(p_size AS VARCHAR) FROM part
              UNION ALL SELECT 'orders.o_custkey#p',
                     CAST(o_custkey AS VARCHAR) FROM orders
              UNION ALL SELECT 'customer.c_custkey#p',
                     CAST(c_custkey AS VARCHAR) FROM customer
              UNION ALL SELECT 'orders.o_orderkey#p',
                     CAST(o_orderkey AS VARCHAR) FROM orders
              UNION ALL SELECT 'part.p_partkey#p',
                     CAST(p_partkey AS VARCHAR) FROM part
              UNION ALL SELECT 'supplier.s_suppkey#p',
                     CAST(s_suppkey AS VARCHAR) FROM supplier
              UNION ALL SELECT 'nation.n_nationkey#p',
                     CAST(n_nationkey AS VARCHAR) FROM nation
              UNION ALL SELECT 'region.r_regionkey#p',
                     CAST(r_regionkey AS VARCHAR) FROM region),
            dvals AS (
              SELECT DISTINCT ref, v FROM vals WHERE v IS NOT NULL),
            checked AS (
              SELECT c.child_ref, c.parent_ref,
                     CAST(count(*) AS BIGINT) AS n_child_distinct,
                     CAST(sum(CASE WHEN p.v IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_violations
              FROM cand c
              JOIN dvals ch ON ch.ref = c.child_ref
              LEFT JOIN dvals p
                ON p.ref = c.parent_ref || '#p' AND p.v = ch.v
              GROUP BY 1, 2)
            SELECT child_ref, parent_ref, n_child_distinct, n_violations,
                   CAST((n_child_distinct - n_violations) * 1000000
                        // n_child_distinct AS BIGINT) AS containment_ppm
            FROM checked
        """,
        "revenue_recognition_monthly": """
            WITH iv AS (
              SELECT o.o_orderkey AS id,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o.o_orderdate AS DATE)) AS s,
                     max(date_diff('day', DATE '1970-01-01',
                               CAST(l.l_shipdate AS DATE))) AS e,
                     CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS a
              FROM orders o JOIN lineitem l
                ON l.l_orderkey = o.o_orderkey
              GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice),
            v AS (SELECT * FROM iv WHERE e >= s),
            daily AS (
              SELECT id, d AS day_n,
                     CASE WHEN d = e THEN a // (e - s + 1) + a % (e - s + 1)
                          ELSE a // (e - s + 1) END AS daily_fp
              FROM v, unnest(generate_series(v.s, v.e)) AS t(d))
            SELECT CAST(year(DATE '1970-01-01' + CAST(day_n AS INT)) * 100
                        + month(DATE '1970-01-01' + CAST(day_n AS INT))
                        AS BIGINT) AS month_key,
                   CAST(sum(daily_fp) AS BIGINT) AS recognized_fp,
                   CAST(count(*) AS BIGINT) AS n_order_days
            FROM daily GROUP BY 1
        """,
        "order_concurrency_peak": """
            WITH iv AS (
              SELECT o.o_orderkey AS id,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o.o_orderdate AS DATE)) AS s,
                     max(date_diff('day', DATE '1970-01-01',
                               CAST(l.l_shipdate AS DATE))) + 1 AS e
              FROM orders o JOIN lineitem l
                ON l.l_orderkey = o.o_orderkey
              GROUP BY o.o_orderkey, o.o_orderdate),
            v AS (SELECT * FROM iv WHERE e > s),
            ep AS (
              SELECT s AS t, 1 AS delta, id FROM v
              UNION ALL SELECT e, -1, id FROM v),
            c AS (
              SELECT t, delta, id,
                     sum(delta) OVER (ORDER BY t, delta, id
                       ROWS UNBOUNDED PRECEDING) AS run
              FROM ep),
            pk AS (SELECT max(run) AS p FROM c),
            f AS (SELECT min(t) AS ft FROM c, pk WHERE c.run = pk.p)
            SELECT CAST((SELECT count(*) FROM iv) AS BIGINT)
                       AS n_intervals,
                   CAST((SELECT count(*) FROM iv)
                        - (SELECT count(*) FROM v) AS BIGINT)
                       AS n_dropped,
                   CAST((SELECT p FROM pk) AS BIGINT)
                       AS peak_concurrency,
                   CAST((SELECT ft FROM f) AS BIGINT) AS first_peak_t
        """,
        "rolling_active_users": """
            WITH act AS (
              SELECT DISTINCT user_id AS u,
                     date_diff('day', DATE '1970-01-01',
                               CAST(ts AS DATE)) AS d
              FROM events),
            dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau
                    FROM act GROUP BY d),
            contrib AS (
              SELECT DISTINCT u, d + k AS wd
              FROM act, (SELECT unnest(generate_series(0, 6)) AS k)),
            wau AS (SELECT wd, CAST(count(*) AS BIGINT) AS wau
                    FROM contrib GROUP BY wd)
            SELECT CAST(dau.d AS BIGINT) AS day_n, dau.dau, wau.wau,
                   CAST(dau.dau * 1000000 // wau.wau AS BIGINT)
                       AS stickiness_ppm
            FROM dau JOIN wau ON wau.wd = dau.d
        """,
        "funnel_clean_conversions": """
            WITH a AS (
              SELECT user_id AS u, min(ts) AS ta
              FROM events WHERE event_type = 'click' GROUP BY user_id),
            b AS (
              SELECT e.user_id AS u, min(e.ts) AS tb
              FROM events e JOIN a ON a.u = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts >= a.ta
              GROUP BY e.user_id),
            x AS (
              SELECT b.u FROM b JOIN a USING (u)
              WHERE EXISTS (
                SELECT 1 FROM events e
                WHERE e.user_id = b.u AND e.event_type = 'error'
                  AND e.ts > a.ta AND e.ts < b.tb))
            SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_step_a,
                   CAST((SELECT count(*) FROM b) AS BIGINT)
                       AS n_converted,
                   CAST((SELECT count(*) FROM b)
                        - (SELECT count(*) FROM x) AS BIGINT) AS n_clean,
                   CAST(((SELECT count(*) FROM b)
                         - (SELECT count(*) FROM x)) * 1000000
                        // (SELECT count(*) FROM a) AS BIGINT)
                       AS clean_rate_ppm
        """,
        "u_shaped_credits": """
            WITH c AS (
              SELECT user_id AS k, event_id AS conversion_id, ts AS c_ts
              FROM events WHERE event_type = 'purchase'),
            t AS (
              SELECT user_id AS k, event_id AS touch_id, ts AS t_ts
              FROM events WHERE event_type IN ('click', 'view')),
            j AS (
              SELECT c.k, c.conversion_id, t.touch_id, t.t_ts
              FROM c JOIN t ON t.k = c.k
               AND t.t_ts <= c.c_ts
               AND t.t_ts >= c.c_ts - INTERVAL 7 DAY),
            r AS (
              SELECT k, conversion_id, touch_id,
                     count(*) OVER (PARTITION BY conversion_id) AS n,
                     row_number() OVER (
                       PARTITION BY conversion_id
                       ORDER BY t_ts DESC, touch_id DESC) AS rn
              FROM j)
            SELECT k AS user_id, conversion_id, touch_id,
                   CAST(n AS BIGINT) AS n_touches,
                   CAST(CASE
                     WHEN n = 1 THEN 1000000
                     WHEN n = 2 THEN 500000
                     WHEN rn = 1 THEN 400000 + (200000 % (n - 2))
                     WHEN rn = n THEN 400000
                     ELSE 200000 // (n - 2) END AS BIGINT) AS credit_ppm
            FROM r
        """,
        "part_skyline": """
            WITH pts AS (
              SELECT CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS price_fp,
                     CAST(p_size AS BIGINT) AS p_size,
                     CAST(count(*) AS BIGINT) AS n_points
              FROM part GROUP BY 1, 2)
            SELECT p.price_fp, p.p_size, p.n_points
            FROM pts p
            WHERE NOT EXISTS (
              SELECT 1 FROM pts q
              WHERE q.price_fp <= p.price_fp AND q.p_size >= p.p_size
                AND (q.price_fp < p.price_fp OR q.p_size > p.p_size))
        """,
        "copurchase_blast_radius": f"""
            WITH e0 AS (SELECT item_a AS a, item_b AS b
                        FROM read_parquet(
                          '{_STAGE}/copurchase_edges.parquet/*.parquet')),
            canon AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
                      FROM e0 WHERE a <> b),
            ed AS (SELECT a AS u, b AS v FROM canon
                   UNION ALL SELECT b, a FROM canon),
            nodes AS (SELECT DISTINCT u AS node FROM ed),
            v0 AS (SELECT node FROM nodes WHERE node <= 500),
            f1 AS (SELECT DISTINCT e.v AS node FROM ed e
                   JOIN v0 ON v0.node = e.u
                   WHERE e.v NOT IN (SELECT node FROM v0)),
            vis1 AS (SELECT node FROM v0 UNION ALL SELECT node FROM f1),
            f2 AS (SELECT DISTINCT e.v AS node FROM ed e
                   JOIN f1 ON f1.node = e.u
                   WHERE e.v NOT IN (SELECT node FROM vis1)),
            vis2 AS (SELECT node FROM vis1 UNION ALL SELECT node FROM f2),
            f3 AS (SELECT DISTINCT e.v AS node FROM ed e
                   JOIN f2 ON f2.node = e.u
                   WHERE e.v NOT IN (SELECT node FROM vis2))
            SELECT node, CAST(0 AS BIGINT) AS dist FROM v0
            UNION ALL SELECT node, 1 FROM f1
            UNION ALL SELECT node, 2 FROM f2
            UNION ALL SELECT node, 3 FROM f3
        """,
        "related_items_parts": f"""
            WITH e AS (SELECT item_a, item_b, pair_support,
                              support_a, support_b
                       FROM read_parquet(
                         '{_STAGE}/copurchase_edges.parquet/*.parquet')),
            nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
            ru AS (
              SELECT item_a AS antecedent, item_b AS consequent,
                     pair_support, support_a AS sup_ante,
                     support_b AS sup_cons
              FROM e
              UNION ALL
              SELECT item_b, item_a, pair_support, support_b, support_a
              FROM e),
            sc AS (
              SELECT antecedent, consequent, pair_support,
                     CAST(pair_support * 1000000 // sup_ante AS BIGINT)
                         AS confidence_ppm,
                     CAST(pair_support * nb.n * 1000000
                          // (sup_ante * sup_cons) AS BIGINT) AS lift_ppm
              FROM ru, nb)
            SELECT antecedent, consequent, pair_support, confidence_ppm,
                   lift_ppm, CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (PARTITION BY antecedent
                ORDER BY lift_ppm DESC, consequent ASC) AS rank
              FROM sc)
            WHERE rank <= 3
        """,
        "incremental_name_linkage": """
            WITH nd AS (
              SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_new
              FROM part WHERE p_partkey >= 1900 GROUP BY p_name),
            cd AS (
              SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_corpus
              FROM part WHERE p_partkey < 1900 GROUP BY p_name),
            n2 AS (SELECT name AS name_new, n_new,
                          string_split(name, ' ')[-1] AS blk
                   FROM nd),
            c2 AS (SELECT name AS name_corpus, n_corpus,
                          string_split(name, ' ')[-1] AS blk
                   FROM cd),
            j AS (
              SELECT name_new, name_corpus, n_new, n_corpus
              FROM n2 JOIN c2 USING (blk)
              WHERE abs(length(name_new) - length(name_corpus)) <= 2)
            SELECT name_new, name_corpus,
                   CAST(levenshtein(name_new, name_corpus) AS BIGINT)
                       AS dist,
                   n_new, n_corpus
            FROM j WHERE levenshtein(name_new, name_corpus) <= 2
        """,
        "price_qty_slope_brand": """
            WITH base AS (
              SELECT p.p_brand,
                     CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS x,
                     CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS y
              FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
            m AS (
              SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) // count(*) AS BIGINT) AS mx,
                     CAST(sum(y) // count(*) AS BIGINT) AS my
              FROM base GROUP BY p_brand),
            c AS (
              SELECT b.p_brand, m.n,
                     (b.x - m.mx) AS cx, (b.y - m.my) AS cy
              FROM base b JOIN m USING (p_brand)),
            s AS (
              SELECT p_brand, max(n) AS n,
                     CAST(sum(cx * cy) AS BIGINT) AS sxy,
                     CAST(sum(cx * cx) AS BIGINT) AS sxx
              FROM c GROUP BY p_brand)
            SELECT p_brand, n, sxy, sxx,
                   CAST(CASE WHEN sxx = 0 THEN NULL
                        ELSE sxy * 1000000 // sxx END AS BIGINT)
                       AS slope_ppm
            FROM s
        """,
        "weak_labels_docs": f"""
            WITH kw(label, t) AS (VALUES {", ".join(
                f"('{label}', '{kw}')"
                for label in sorted(_WEAK_RULES)
                for kw in sorted(set(_WEAK_RULES[label]))
            )}),
            toks AS (
              SELECT DISTINCT doc_id AS doc,
                     unnest(string_split(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g')), ' ')) AS t
              FROM documents),
            toks2 AS (SELECT doc, t FROM toks WHERE t <> ''),
            votes AS (
              SELECT doc, label, CAST(count(*) AS BIGINT) AS n
              FROM toks2 JOIN kw USING (t) GROUP BY doc, label),
            top AS (
              SELECT doc, label, n,
                     count(*) OVER (PARTITION BY doc) AS nl,
                     row_number() OVER (PARTITION BY doc
                       ORDER BY n DESC, label ASC) AS rn
              FROM votes)
            SELECT d.doc_id, coalesce(t.label, '__abstain') AS label,
                   CAST(coalesce(t.n, 0) AS BIGINT) AS n_hits,
                   CAST(coalesce(t.nl, 0) AS BIGINT) AS n_labels_hit
            FROM documents d
            LEFT JOIN (SELECT * FROM top WHERE rn = 1) t
              ON t.doc = d.doc_id
        """,
        "part_mutual_best_match": """
            WITH s AS (
              SELECT p_partkey AS k, p_name AS n, p_type AS t,
                     p_size AS z, p_brand AS b
              FROM part),
            pr AS (
              SELECT x.k AS k_a, y.k AS k_b,
                     (CASE WHEN levenshtein(x.n, y.n) <= 3
                           THEN 18 ELSE -10 END)
                   + (CASE WHEN x.t = y.t THEN 12 ELSE -8 END)
                   + (CASE WHEN abs(x.z - y.z) <= 1 THEN 6 ELSE -4 END)
                       AS score
              FROM s x JOIN s y ON x.b = y.b AND x.k < y.k),
            scored AS (SELECT k_a, k_b, score FROM pr WHERE score >= 20),
            dirr AS (
              SELECT k_a AS x, k_b AS y, score AS sc FROM scored
              UNION ALL SELECT k_b, k_a, score FROM scored),
            best AS (
              SELECT x, y, sc FROM (
                SELECT x, y, sc, row_number() OVER (
                  PARTITION BY x ORDER BY sc DESC, y ASC) AS rn
                FROM dirr) WHERE rn = 1)
            SELECT b.x AS k_a, b.y AS k_b, CAST(b.sc AS BIGINT)
                       AS link_score
            FROM best b JOIN best b2 ON b2.x = b.y AND b2.y = b.x
            WHERE b.x < b.y
        """,
        "event_run_lengths": """
            WITH o AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN lag(event_type) OVER w IS NULL
                            OR lag(event_type) OVER w <> event_type
                          THEN 1 ELSE 0 END AS nw
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            r AS (
              SELECT user_id, event_type,
                     sum(nw) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                       AS run
              FROM o),
            runs AS (
              SELECT user_id, run, event_type,
                     CAST(count(*) AS BIGINT) AS run_len
              FROM r GROUP BY user_id, run, event_type)
            SELECT event_type, run_len,
                   CAST(count(*) AS BIGINT) AS n_runs
            FROM runs GROUP BY event_type, run_len
        """,
        "compression_quality_sources": f"""
            WITH s AS (SELECT doc, n_raw, n_comp FROM read_parquet(
                           '{_STAGE}/compress_stats.parquet/*.parquet')),
            j AS (
              SELECT d.source, s.n_raw, s.n_comp,
                     CASE WHEN s.n_raw = 0 THEN NULL
                          ELSE s.n_comp * 1000000 // s.n_raw END AS r
              FROM s JOIN documents d ON d.doc_id = s.doc)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_raw) AS BIGINT) AS raw_bytes,
                   CAST(sum(n_comp) AS BIGINT) AS comp_bytes,
                   CAST(CASE WHEN sum(n_raw) = 0 THEN NULL
                        ELSE sum(n_comp) * 1000000 // sum(n_raw) END
                        AS BIGINT) AS mean_ratio_ppm,
                   CAST(sum(CASE WHEN r < 400000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_repetitive
            FROM j GROUP BY source
        """,
        "embedding_pca_projection": f"""
            WITH vv AS (
              SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                         x -> CAST(sign(x) * floor(abs(x) * 1000000 + 0.5)
                              AS BIGINT)) AS v
              FROM embeddings),
            ex AS (
              SELECT vec_id, ti.i AS d, vv.v[ti.i + 1] AS x
              FROM vv, UNNEST(range(len(vv.v))) AS ti(i)),
            mn AS (SELECT d, mean_fp FROM read_parquet(
                       '{_STAGE}/pca_mean.parquet/*.parquet')),
            cp AS (SELECT pc, d, comp_fp FROM read_parquet(
                       '{_STAGE}/pca_components.parquet/*.parquet')),
            cen AS (
              SELECT e.vec_id, e.d, e.x - m.mean_fp AS c
              FROM ex e JOIN mn m ON m.d = e.d)
            SELECT c.vec_id, CAST(p.pc AS BIGINT) AS pc,
                   CAST(sum(c.c * p.comp_fp) AS BIGINT) AS proj_fp2
            FROM cen c JOIN cp p ON p.d = c.d
            GROUP BY c.vec_id, p.pc
        """,
        "vocab_growth_docs": """
            WITH r AS (
              SELECT doc_id, text,
                     row_number() OVER (ORDER BY doc_id) AS rn
              FROM documents),
            n AS (SELECT count(*) AS c FROM documents),
            tok AS (
              SELECT rn,
                     unnest(string_split(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g')), ' ')) AS t
              FROM r),
            tok2 AS (SELECT rn, t FROM tok WHERE t <> ''),
            firsts AS (SELECT t, min(rn) AS m FROM tok2 GROUP BY t),
            dcounts AS (SELECT rn, count(*) AS tc FROM tok2 GROUP BY rn),
            cuts AS (
              SELECT pct, (SELECT c FROM n) * pct // 100 AS cr
              FROM (SELECT unnest([25, 50, 75, 100]) AS pct)),
            vocab AS (
              SELECT c.pct, c.cr,
                     CAST(sum(CASE WHEN f.m <= c.cr THEN 1 ELSE 0 END)
                          AS BIGINT) AS vocab_size
              FROM cuts c, firsts f GROUP BY c.pct, c.cr),
            occ AS (
              SELECT c.pct,
                     CAST(coalesce(sum(CASE WHEN d.rn <= c.cr
                                       THEN d.tc END), 0) AS BIGINT)
                         AS n_occurrences
              FROM cuts c, dcounts d GROUP BY c.pct)
            SELECT CAST(v.pct AS BIGINT) AS pct,
                   CAST(v.cr AS BIGINT) AS cutoff_docs,
                   o.n_occurrences, v.vocab_size
            FROM vocab v JOIN occ o ON o.pct = v.pct
        """,
        "zipf_token_ranks": """
            WITH tok AS (
              SELECT unnest(string_split(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g')), ' ')) AS t
              FROM documents),
            counts AS (
              SELECT t, CAST(count(*) AS BIGINT) AS freq
              FROM tok WHERE t <> '' GROUP BY t
              ORDER BY freq DESC, t ASC LIMIT 50),
            ranked AS (
              SELECT t, freq,
                     row_number() OVER (ORDER BY freq DESC, t ASC)
                         AS rank
              FROM counts)
            SELECT CAST(rank AS BIGINT) AS rank, t AS token, freq,
                   CAST(rank * freq AS BIGINT) AS rank_freq
            FROM ranked
        """,
        "candidate_keys_orders": _ck_oracle(
            "orders",
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority"],
        ),
        "pagerank_copurchase": f"""
            WITH e0 AS (SELECT item_a AS a, item_b AS b
                        FROM read_parquet(
                          '{_STAGE}/copurchase_edges.parquet/*.parquet')),
            canon AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
                      FROM e0 WHERE a <> b),
            ed AS (SELECT a AS u, b AS v FROM canon
                   UNION ALL SELECT b, a FROM canon),
            nodes AS (SELECT DISTINCT u AS node FROM ed),
            nn AS (SELECT count(*) AS n FROM nodes),
            params AS (SELECT (1000000000000 // n) AS init,
                              (1000000000000 // n) * 150000 // 1000000
                                  AS base
                       FROM nn),
            deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS dg
                    FROM ed GROUP BY u),
            r0 AS (SELECT node, (SELECT init FROM params) AS r FROM nodes),
            c1 AS (SELECT e.v AS node, sum(r0.r // d.dg) AS s
                   FROM ed e JOIN r0 ON r0.node = e.u
                        JOIN deg d ON d.node = e.u
                   GROUP BY e.v),
            r1 AS (SELECT nd.node,
                          (SELECT base FROM params)
                          + 850000 * coalesce(c1.s, 0) // 1000000 AS r
                   FROM nodes nd LEFT JOIN c1 ON c1.node = nd.node),
            c2 AS (SELECT e.v AS node, sum(r1.r // d.dg) AS s
                   FROM ed e JOIN r1 ON r1.node = e.u
                        JOIN deg d ON d.node = e.u
                   GROUP BY e.v),
            r2 AS (SELECT nd.node,
                          (SELECT base FROM params)
                          + 850000 * coalesce(c2.s, 0) // 1000000 AS r
                   FROM nodes nd LEFT JOIN c2 ON c2.node = nd.node),
            c3 AS (SELECT e.v AS node, sum(r2.r // d.dg) AS s
                   FROM ed e JOIN r2 ON r2.node = e.u
                        JOIN deg d ON d.node = e.u
                   GROUP BY e.v),
            r3 AS (SELECT nd.node,
                          (SELECT base FROM params)
                          + 850000 * coalesce(c3.s, 0) // 1000000 AS r
                   FROM nodes nd LEFT JOIN c3 ON c3.node = nd.node)
            SELECT node AS part, CAST(r AS BIGINT) AS rank_ppt
            FROM r3 ORDER BY r DESC, node ASC LIMIT 30
        """,
        "classifier_auc": f"""
            WITH f AS (SELECT doc, feat, tf
                       FROM read_parquet('{_STAGE}/clf_features.parquet/*.parquet')),
            w AS (SELECT feat, w_fp
                  FROM read_parquet('{_STAGE}/clf_weights.parquet/*.parquet')),
            scores AS (
              SELECT f.doc,
                     CAST(SUM(f.tf * w.w_fp)
                          + (SELECT w_fp FROM w WHERE feat = -1) AS BIGINT)
                         AS logit_fp
              FROM f JOIN w ON w.feat = f.feat AND w.feat <> -1
              GROUP BY f.doc),
            lab AS (
              SELECT s.logit_fp,
                     CASE WHEN d.source IN ('src0','src1','src2','src3','src4')
                          THEN 1 ELSE 0 END AS y
              FROM scores s JOIN documents d ON d.doc_id = s.doc),
            g AS (SELECT logit_fp AS s, count(*) AS c, sum(y) AS cp
                  FROM lab GROUP BY logit_fp),
            o AS (SELECT c, cp,
                         coalesce(sum(c) OVER (ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS bef
                  FROM g),
            t AS (SELECT sum(cp * (2 * bef + c + 1)) AS r2,
                         sum(cp) AS np, sum(c) AS nt
                  FROM o)
            SELECT CAST(np AS BIGINT) AS n_pos,
                   CAST(nt - np AS BIGINT) AS n_neg,
                   CAST((r2 - np * (np + 1)) * 1000000
                        // (2 * np * (nt - np)) AS BIGINT) AS auc_ppm
            FROM t
        """,
        "join_size_lineitem_partkey": """
            WITH fa AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
                        FROM lineitem GROUP BY 1),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS nr FROM lineitem),
            sh AS (SELECT k, c * c AS prod FROM fa),
            top AS (SELECT CAST(k AS VARCHAR) AS top_key,
                           CAST(prod AS BIGINT) AS max_key_rows
                    FROM sh ORDER BY prod DESC, k ASC LIMIT 1),
            s AS (SELECT CAST(count(*) AS BIGINT) AS n_shared_keys,
                         CAST(sum(prod) AS BIGINT) AS join_rows
                  FROM sh),
            ka AS (SELECT CAST(count(*) AS BIGINT) AS nk FROM fa)
            SELECT tot.nr AS n_left_rows, tot.nr AS n_right_rows,
                   ka.nk AS n_left_keys, ka.nk AS n_right_keys,
                   s.n_shared_keys, s.join_rows, top.max_key_rows,
                   top.top_key,
                   CAST(top.max_key_rows * 1000000 // s.join_rows
                        AS BIGINT) AS skew_ppm
            FROM tot, ka, s, top
        """,
        "ann_ranking_quality": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id = 0),
            exact AS (
              SELECT vec_id FROM embeddings
              ORDER BY round(list_cosine_similarity(
                            embedding::DOUBLE[], (SELECT v FROM q)), 6) DESC,
                       vec_id ASC
              LIMIT 20),
            wt(r, dw) AS (VALUES {_NDCG_VALUES}),
            lsh AS (SELECT vec_id, rank
                    FROM read_parquet('{_STAGE}/ann_lsh_rank.parquet/*.parquet')),
            ivf AS (SELECT vec_id, rank
                    FROM read_parquet('{_STAGE}/ann_ivf_rank.parquet/*.parquet')),
            ivfpq AS (SELECT vec_id, rank
                    FROM read_parquet('{_STAGE}/ann_ivfpq_rank.parquet/*.parquet')),
            m_lsh AS (
              SELECT CAST(count(*) AS BIGINT) AS n_hits,
                     CAST(coalesce(min(lsh.rank), 0) AS BIGINT)
                         AS first_hit_rank,
                     CAST(coalesce(sum(dw), 0) AS BIGINT) AS dcg
              FROM lsh JOIN exact USING (vec_id)
              JOIN wt ON wt.r = lsh.rank),
            m_ivf AS (
              SELECT CAST(count(*) AS BIGINT) AS n_hits,
                     CAST(coalesce(min(ivf.rank), 0) AS BIGINT)
                         AS first_hit_rank,
                     CAST(coalesce(sum(dw), 0) AS BIGINT) AS dcg
              FROM ivf JOIN exact USING (vec_id)
              JOIN wt ON wt.r = ivf.rank),
            m_ivfpq AS (
              SELECT CAST(count(*) AS BIGINT) AS n_hits,
                     CAST(coalesce(min(ivfpq.rank), 0) AS BIGINT)
                         AS first_hit_rank,
                     CAST(coalesce(sum(dw), 0) AS BIGINT) AS dcg
              FROM ivfpq JOIN exact USING (vec_id)
              JOIN wt ON wt.r = ivfpq.rank)
            SELECT 'lsh' AS algo, 20 AS k, n_hits, first_hit_rank, dcg,
                   CAST(CASE WHEN first_hit_rank = 0 THEN 0
                        ELSE 1000000 // first_hit_rank END AS BIGINT)
                       AS rr_scaled,
                   CAST(dcg * 1000000 // {_NDCG_IDCG} AS BIGINT)
                       AS ndcg_scaled
            FROM m_lsh
            UNION ALL
            SELECT 'ivf', 20, n_hits, first_hit_rank, dcg,
                   CAST(CASE WHEN first_hit_rank = 0 THEN 0
                        ELSE 1000000 // first_hit_rank END AS BIGINT),
                   CAST(dcg * 1000000 // {_NDCG_IDCG} AS BIGINT)
            FROM m_ivf
            UNION ALL
            SELECT 'ivfpq', 20, n_hits, first_hit_rank, dcg,
                   CAST(CASE WHEN first_hit_rank = 0 THEN 0
                        ELSE 1000000 // first_hit_rank END AS BIGINT),
                   CAST(dcg * 1000000 // {_NDCG_IDCG} AS BIGINT)
            FROM m_ivfpq
        """,
        "part_golden_records": """
            WITH RECURSIVE
            s AS (
              SELECT p_partkey AS k, p_name AS n, p_type AS t,
                     p_size AS z, p_brand AS b
              FROM part),
            pr AS (
              SELECT x.k AS k_a, y.k AS k_b
              FROM s x JOIN s y ON x.b = y.b AND x.k < y.k
              WHERE (CASE WHEN levenshtein(x.n, y.n) <= 3
                          THEN 18 ELSE -10 END)
                  + (CASE WHEN x.t = y.t THEN 12 ELSE -8 END)
                  + (CASE WHEN abs(x.z - y.z) <= 1 THEN 6 ELSE -4 END)
                    >= 20),
            edges AS (SELECT k_a AS src, k_b AS dst FROM pr
                      UNION SELECT k_b, k_a FROM pr),
            walk AS (
              SELECT src AS start, src AS reach FROM edges
              UNION
              SELECT wk.start, e.dst FROM walk wk
              JOIN edges e ON wk.reach = e.src),
            cc AS (SELECT start AS k, min(reach) AS cluster
                   FROM walk GROUP BY start),
            members AS (
              SELECT coalesce(cc.cluster, s.k) AS cluster,
                     s.n, s.t, s.z, s.b
              FROM s LEFT JOIN cc ON cc.k = s.k),
            m_n AS (SELECT cluster, n FROM (
                SELECT cluster, n, row_number() OVER (
                  PARTITION BY cluster
                  ORDER BY count(*) DESC, n ASC) AS rn
                FROM members GROUP BY cluster, n) WHERE rn = 1),
            m_t AS (SELECT cluster, t FROM (
                SELECT cluster, t, row_number() OVER (
                  PARTITION BY cluster
                  ORDER BY count(*) DESC, t ASC) AS rn
                FROM members GROUP BY cluster, t) WHERE rn = 1),
            m_z AS (SELECT cluster, z FROM (
                SELECT cluster, z, row_number() OVER (
                  PARTITION BY cluster
                  ORDER BY count(*) DESC, z ASC) AS rn
                FROM members GROUP BY cluster, z) WHERE rn = 1),
            m_b AS (SELECT cluster, b FROM (
                SELECT cluster, b, row_number() OVER (
                  PARTITION BY cluster
                  ORDER BY count(*) DESC, b ASC) AS rn
                FROM members GROUP BY cluster, b) WHERE rn = 1),
            agg AS (SELECT cluster,
                           CAST(count(*) AS BIGINT) AS n_members
                    FROM members GROUP BY cluster)
            SELECT a.cluster, a.n_members, m_n.n AS p_name,
                   m_t.t AS p_type, CAST(m_z.z AS BIGINT) AS p_size,
                   m_b.b AS p_brand
            FROM agg a
            JOIN m_n USING (cluster) JOIN m_t USING (cluster)
            JOIN m_z USING (cluster) JOIN m_b USING (cluster)
            WHERE a.n_members >= 2
        """,
        "negative_samples_parts": """
            WITH pos AS (
              SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
              FROM orders o JOIN lineitem l
                ON l.l_orderkey = o.o_orderkey),
            users AS (SELECT DISTINCT u FROM pos),
            items AS (
              SELECT p_partkey,
                     row_number() OVER (ORDER BY p_partkey) - 1 AS idx
              FROM (SELECT DISTINCT p_partkey FROM part)),
            n AS (SELECT count(*) AS c FROM
                  (SELECT DISTINCT p_partkey FROM part)),
            cand AS (
              SELECT u, j,
                     CAST('0x' || substr(md5('neg' || CAST(u AS VARCHAR)
                       || '-' || CAST(j AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT c FROM n) AS idx
              FROM users,
                   (SELECT unnest(generate_series(1, 20)) AS j)),
            hits AS (
              SELECT c.u, c.j, i.p_partkey AS item
              FROM cand c JOIN items i USING (idx)),
            neg AS (
              SELECT u, item, min(j) AS draw
              FROM hits h
              WHERE NOT EXISTS (SELECT 1 FROM pos p
                                WHERE p.u = h.u AND p.i = h.item)
              GROUP BY u, item),
            ranked AS (
              SELECT u, item, draw,
                     row_number() OVER (PARTITION BY u ORDER BY draw)
                       AS rank
              FROM neg)
            SELECT u AS custkey, item AS partkey,
                   CAST(draw AS BIGINT) AS draw,
                   CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "token_cooccurrence_lift": """
            WITH bi AS (
              SELECT DISTINCT doc_id AS basket,
                     unnest(string_split(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g')), ' ')) AS item
              FROM documents),
            bi2 AS (SELECT basket, item FROM bi WHERE item <> ''),
            freq AS (
              SELECT item, CAST(count(*) AS BIGINT) AS item_support
              FROM bi2 GROUP BY item HAVING count(*) >= 150),
            pr0 AS (
              SELECT a.item AS item_a, b.item AS item_b,
                     CAST(count(*) AS BIGINT) AS pair_support
              FROM bi2 a JOIN bi2 b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY 1, 2 HAVING count(*) >= 150),
            pr AS (
              SELECT pr0.*, fa.item_support AS support_a,
                     fb.item_support AS support_b
              FROM pr0 JOIN freq fa ON fa.item = pr0.item_a
                       JOIN freq fb ON fb.item = pr0.item_b),
            nb AS (SELECT count(*) AS n FROM documents),
            rules AS (
              SELECT item_a AS antecedent, item_b AS consequent,
                     pair_support, support_a AS sup_ante,
                     support_b AS sup_cons
              FROM pr
              UNION ALL
              SELECT item_b, item_a, pair_support, support_b, support_a
              FROM pr)
            SELECT antecedent, consequent, pair_support,
                   CAST(pair_support * 1000000 // sup_ante AS BIGINT)
                       AS confidence_ppm,
                   CAST(pair_support * nb.n * 1000000
                        // (sup_ante * sup_cons) AS BIGINT) AS lift_ppm
            FROM rules, nb
            ORDER BY lift_ppm DESC, antecedent ASC, consequent ASC
            LIMIT 30
        """,
        "consistent_sharding_moves": """
            WITH ring8(pos, s) AS (VALUES
                (36985398, 'shard1'),
                (74989428, 'shard3'),
                (98904480, 'shard5'),
                (142038277, 'shard5'),
                (169615665, 'shard4'),
                (171396759, 'shard3'),
                (200423159, 'shard7'),
                (200442958, 'shard5'),
                (202891990, 'shard2'),
                (224169958, 'shard6'),
                (279975649, 'shard4'),
                (312548057, 'shard2'),
                (323681999, 'shard2'),
                (324630770, 'shard0'),
                (375887500, 'shard0'),
                (381448411, 'shard2'),
                (452145087, 'shard3'),
                (467958479, 'shard1'),
                (490672023, 'shard5'),
                (495024020, 'shard0'),
                (533144962, 'shard2'),
                (568161519, 'shard7'),
                (574140708, 'shard6'),
                (581216400, 'shard0'),
                (621417274, 'shard1'),
                (673714300, 'shard4'),
                (709361099, 'shard2'),
                (721935616, 'shard4'),
                (740559551, 'shard3'),
                (747269891, 'shard3'),
                (774317672, 'shard2'),
                (791854282, 'shard1'),
                (848349443, 'shard4'),
                (852083142, 'shard7'),
                (874840957, 'shard4'),
                (891747790, 'shard0'),
                (966442062, 'shard0'),
                (973893631, 'shard1'),
                (974920588, 'shard1'),
                (1021855182, 'shard6'),
                (1040023413, 'shard5'),
                (1044264052, 'shard6'),
                (1102317896, 'shard7'),
                (1114906457, 'shard5'),
                (1117315757, 'shard3'),
                (1142904292, 'shard4'),
                (1151336132, 'shard1'),
                (1152101088, 'shard6'),
                (1175286581, 'shard5'),
                (1220634494, 'shard6'),
                (1225403295, 'shard5'),
                (1511812036, 'shard2'),
                (1523675370, 'shard1'),
                (1569758039, 'shard7'),
                (1577065832, 'shard1'),
                (1651237678, 'shard1'),
                (1653113247, 'shard0'),
                (1686533033, 'shard0'),
                (1713508732, 'shard1'),
                (1722766686, 'shard3'),
                (1740450445, 'shard7'),
                (1758167118, 'shard5'),
                (1829223657, 'shard3'),
                (1840747828, 'shard7'),
                (1919197141, 'shard7'),
                (1993678469, 'shard4'),
                (1993797461, 'shard4'),
                (2020946679, 'shard6'),
                (2069447601, 'shard5'),
                (2090732373, 'shard3'),
                (2109476479, 'shard7'),
                (2124596481, 'shard2'),
                (2223067596, 'shard3'),
                (2266704082, 'shard0'),
                (2271946164, 'shard7'),
                (2348661140, 'shard1'),
                (2349626881, 'shard7'),
                (2350007809, 'shard4'),
                (2364084678, 'shard3'),
                (2375724303, 'shard2'),
                (2394229283, 'shard7'),
                (2442612027, 'shard2'),
                (2449324786, 'shard6'),
                (2480781242, 'shard5'),
                (2524113721, 'shard0'),
                (2607700867, 'shard3'),
                (2735823338, 'shard3'),
                (2742420698, 'shard1'),
                (2819863262, 'shard5'),
                (2820361430, 'shard7'),
                (2860969490, 'shard2'),
                (2887092710, 'shard6'),
                (2913289486, 'shard1'),
                (3066761362, 'shard5'),
                (3138555560, 'shard3'),
                (3141660237, 'shard2'),
                (3175634820, 'shard6'),
                (3196531551, 'shard7'),
                (3214805597, 'shard2'),
                (3229524930, 'shard4'),
                (3246540509, 'shard4'),
                (3255967778, 'shard0'),
                (3298082616, 'shard6'),
                (3372723173, 'shard4'),
                (3473413701, 'shard5'),
                (3479566406, 'shard4'),
                (3552292136, 'shard7'),
                (3584924186, 'shard6'),
                (3657873378, 'shard1'),
                (3740374711, 'shard4'),
                (3746867791, 'shard0'),
                (3816785111, 'shard5'),
                (3835299773, 'shard0'),
                (3864214834, 'shard6'),
                (3910180632, 'shard6'),
                (3960125766, 'shard0'),
                (3961086641, 'shard0'),
                (4053791382, 'shard5'),
                (4055142906, 'shard6'),
                (4059976825, 'shard4'),
                (4068782268, 'shard2'),
                (4125160360, 'shard1'),
                (4165611574, 'shard7'),
                (4189918438, 'shard3'),
                (4204172610, 'shard0'),
                (4216256599, 'shard6'),
                (4242455607, 'shard2'),
                (4272782724, 'shard3')),
            ring9(pos, s) AS (VALUES
                (36985398, 'shard1'),
                (74989428, 'shard3'),
                (98904480, 'shard5'),
                (142038277, 'shard5'),
                (158492823, 'shard8'),
                (169615665, 'shard4'),
                (171396759, 'shard3'),
                (200423159, 'shard7'),
                (200442958, 'shard5'),
                (202891990, 'shard2'),
                (224169958, 'shard6'),
                (279975649, 'shard4'),
                (312548057, 'shard2'),
                (323681999, 'shard2'),
                (324630770, 'shard0'),
                (375887500, 'shard0'),
                (381448411, 'shard2'),
                (452145087, 'shard3'),
                (467958479, 'shard1'),
                (490672023, 'shard5'),
                (495024020, 'shard0'),
                (533144962, 'shard2'),
                (568161519, 'shard7'),
                (574140708, 'shard6'),
                (581216400, 'shard0'),
                (621417274, 'shard1'),
                (668025920, 'shard8'),
                (673714300, 'shard4'),
                (709361099, 'shard2'),
                (721935616, 'shard4'),
                (740559551, 'shard3'),
                (747269891, 'shard3'),
                (774317672, 'shard2'),
                (791854282, 'shard1'),
                (848349443, 'shard4'),
                (852083142, 'shard7'),
                (874840957, 'shard4'),
                (891747790, 'shard0'),
                (966442062, 'shard0'),
                (973893631, 'shard1'),
                (974920588, 'shard1'),
                (1021855182, 'shard6'),
                (1040023413, 'shard5'),
                (1044264052, 'shard6'),
                (1102317896, 'shard7'),
                (1114906457, 'shard5'),
                (1117315757, 'shard3'),
                (1127777399, 'shard8'),
                (1142904292, 'shard4'),
                (1151336132, 'shard1'),
                (1152101088, 'shard6'),
                (1175286581, 'shard5'),
                (1220634494, 'shard6'),
                (1225403295, 'shard5'),
                (1280738378, 'shard8'),
                (1511812036, 'shard2'),
                (1516026311, 'shard8'),
                (1523675370, 'shard1'),
                (1569758039, 'shard7'),
                (1577065832, 'shard1'),
                (1640214663, 'shard8'),
                (1651237678, 'shard1'),
                (1653113247, 'shard0'),
                (1686533033, 'shard0'),
                (1702752827, 'shard8'),
                (1713508732, 'shard1'),
                (1722766686, 'shard3'),
                (1740450445, 'shard7'),
                (1758167118, 'shard5'),
                (1829223657, 'shard3'),
                (1840747828, 'shard7'),
                (1919197141, 'shard7'),
                (1993678469, 'shard4'),
                (1993797461, 'shard4'),
                (2020946679, 'shard6'),
                (2069447601, 'shard5'),
                (2090732373, 'shard3'),
                (2109476479, 'shard7'),
                (2124596481, 'shard2'),
                (2223067596, 'shard3'),
                (2266704082, 'shard0'),
                (2271946164, 'shard7'),
                (2348661140, 'shard1'),
                (2349626881, 'shard7'),
                (2350007809, 'shard4'),
                (2364084678, 'shard3'),
                (2375724303, 'shard2'),
                (2394229283, 'shard7'),
                (2442612027, 'shard2'),
                (2449324786, 'shard6'),
                (2480781242, 'shard5'),
                (2524113721, 'shard0'),
                (2607700867, 'shard3'),
                (2735823338, 'shard3'),
                (2742420698, 'shard1'),
                (2819863262, 'shard5'),
                (2820361430, 'shard7'),
                (2860969490, 'shard2'),
                (2867383218, 'shard8'),
                (2887092710, 'shard6'),
                (2913289486, 'shard1'),
                (3066761362, 'shard5'),
                (3138555560, 'shard3'),
                (3141660237, 'shard2'),
                (3175634820, 'shard6'),
                (3196531551, 'shard7'),
                (3214805597, 'shard2'),
                (3229524930, 'shard4'),
                (3246540509, 'shard4'),
                (3255967778, 'shard0'),
                (3298082616, 'shard6'),
                (3347044360, 'shard8'),
                (3372723173, 'shard4'),
                (3432697000, 'shard8'),
                (3473413701, 'shard5'),
                (3479566406, 'shard4'),
                (3552292136, 'shard7'),
                (3584924186, 'shard6'),
                (3657873378, 'shard1'),
                (3740374711, 'shard4'),
                (3746867791, 'shard0'),
                (3760183417, 'shard8'),
                (3816785111, 'shard5'),
                (3835299773, 'shard0'),
                (3864214834, 'shard6'),
                (3910180632, 'shard6'),
                (3958173759, 'shard8'),
                (3960125766, 'shard0'),
                (3961086641, 'shard0'),
                (4010200808, 'shard8'),
                (4030219097, 'shard8'),
                (4053791382, 'shard5'),
                (4055142906, 'shard6'),
                (4059976825, 'shard4'),
                (4068782268, 'shard2'),
                (4125160360, 'shard1'),
                (4154756587, 'shard8'),
                (4165611574, 'shard7'),
                (4189918438, 'shard3'),
                (4204172610, 'shard0'),
                (4216256599, 'shard6'),
                (4242455607, 'shard2'),
                (4272782724, 'shard3'),
                (4292695077, 'shard8')),
            k AS (
              SELECT c_custkey,
                     CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                         1, 8) AS BIGINT) AS h
              FROM customer),
            a AS (
              SELECT c_custkey,
                     coalesce(min_by(s, pos) FILTER (WHERE pos >= h),
                              'shard1') AS shard
              FROM k CROSS JOIN ring8 GROUP BY c_custkey, h),
            b AS (
              SELECT c_custkey,
                     coalesce(min_by(s, pos) FILTER (WHERE pos >= h),
                              'shard1') AS shard_after
              FROM k CROSS JOIN ring9 GROUP BY c_custkey, h)
            SELECT a.shard, b.shard_after,
                   CAST(count(*) AS BIGINT) AS n_keys
            FROM a JOIN b ON b.c_custkey = a.c_custkey
            GROUP BY a.shard, b.shard_after
        """,
        "arrival_burstiness_events": """
            WITH g AS (
              SELECT event_type AS k,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY event_type
                       ORDER BY ts ASC, event_id ASC) AS g
              FROM events),
            gg AS (SELECT k, g FROM g WHERE g IS NOT NULL)
            SELECT k AS event_type,
                   CAST(count(*) AS BIGINT) AS n_gaps,
                   CAST(sum(CAST(g AS HUGEINT)) // count(*) AS BIGINT)
                       AS mean_gap_us,
                   CAST((count(*) * sum(CAST(g AS HUGEINT) * g)
                         - sum(CAST(g AS HUGEINT))
                           * sum(CAST(g AS HUGEINT))) * 1000000
                        // nullif(sum(CAST(g AS HUGEINT))
                                  * sum(CAST(g AS HUGEINT)), 0)
                        AS BIGINT) AS cv2_ppm
            FROM gg GROUP BY k
        """,
        "media_wav_roundtrip_stats": """
            WITH s AS (
              SELECT doc_id, n_chars, i,
                     (n_chars * i) % 65536 - 32768 AS v
              FROM documents, UNNEST(range(1, 257)) AS t(i))
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_samples,
                   CAST(sum(v) AS BIGINT) AS sum_s,
                   CAST(sum(v * i) AS BIGINT) AS possum_s
            FROM s GROUP BY doc_id
        """,
        "label_margins": """
            WITH comp AS (
              SELECT label AS clabel, i - 1 AS dim,
                     CAST(sum(CAST(round((embedding::DOUBLE[])[i] * 1000000)
                                   AS BIGINT)) AS BIGINT) AS s
              FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
              GROUP BY label, i),
            q AS (
              SELECT clabel, sum(CAST(s AS HUGEINT) * s) AS qq
              FROM comp GROUP BY clabel),
            vex AS (
              SELECT vec_id, label AS own, i - 1 AS dim,
                     CAST(round((embedding::DOUBLE[])[i] * 1000000)
                          AS BIGINT) AS v_fp
              FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
            pp AS (
              SELECT vec_id, own, comp.clabel,
                     sum(CAST(v_fp AS HUGEINT) * s) AS dot,
                     sum(CAST(v_fp AS HUGEINT) * v_fp) AS vv
              FROM vex JOIN comp ON comp.dim = vex.dim
              GROUP BY vec_id, own, comp.clabel),
            sc AS (
              SELECT vec_id, own, pp.clabel,
                     round(CAST(dot AS DOUBLE)
                           / (sqrt(CAST(vv AS DOUBLE))
                              * sqrt(CAST(qq AS DOUBLE))), 6) AS cos
              FROM pp JOIN q ON q.clabel = pp.clabel),
            o AS (SELECT vec_id, own, cos AS cos_own FROM sc
                  WHERE clabel = own),
            b AS (SELECT vec_id, max(cos) AS cos_best_other FROM sc
                  WHERE clabel <> own GROUP BY vec_id)
            SELECT o.vec_id, o.own AS label, o.cos_own, b.cos_best_other,
                   round(o.cos_own - b.cos_best_other, 6) AS margin
            FROM o JOIN b ON b.vec_id = o.vec_id
        """,
        "event_autocorrelation": """
            WITH daily AS (
              SELECT event_type AS k, CAST(ts AS DATE) AS day,
                     CAST(count(*) AS BIGINT) AS n_ev
              FROM events GROUP BY 1, 2),
            st AS (
              SELECT k, CAST(sum(n_ev) AS BIGINT) AS s,
                     CAST(count(*) AS BIGINT) AS n
              FROM daily GROUP BY k),
            ld AS (
              SELECT daily.k, day, n_ev,
                     lead(n_ev, 1) OVER w AS l1,
                     lead(day, 1) OVER w AS d1,
                     lead(n_ev, 7) OVER w AS l7,
                     lead(day, 7) OVER w AS d7,
                     st.s, st.n
              FROM daily JOIN st ON st.k = daily.k
              WINDOW w AS (PARTITION BY daily.k ORDER BY day ASC)),
            c AS (
              SELECT k, s, n,
                     CAST(n AS HUGEINT) * n_ev - s AS c0,
                     CASE WHEN date_diff('day', day, d1) = 1
                          THEN CAST(n AS HUGEINT) * l1 - s END AS ck1,
                     CASE WHEN date_diff('day', day, d7) = 7
                          THEN CAST(n AS HUGEINT) * l7 - s END AS ck7
              FROM ld)
            SELECT k AS event_type,
                   CAST(max(n) AS BIGINT) AS n_days,
                   CAST(sum(CASE WHEN ck1 IS NOT NULL THEN c0 * ck1 END)
                        * 1000000 // nullif(sum(c0 * c0), 0) AS BIGINT)
                       AS acf1_ppm,
                   CAST(sum(CASE WHEN ck7 IS NOT NULL THEN c0 * ck7 END)
                        * 1000000 // nullif(sum(c0 * c0), 0) AS BIGINT)
                       AS acf7_ppm
            FROM c GROUP BY k
        """,
        "growth_accounting_orders": """
            WITH acts AS (
              SELECT DISTINCT o_custkey AS u,
                     CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                          AS INT) AS m
              FROM orders),
            lg AS (
              SELECT u, m,
                     lag(m) OVER (PARTITION BY u ORDER BY m ASC) AS prev_m,
                     lead(m) OVER (PARTITION BY u ORDER BY m ASC) AS next_m
              FROM acts),
            cl AS (
              SELECT m,
                     CASE WHEN prev_m IS NULL THEN 'new'
                          WHEN prev_m = m - 1 THEN 'retained'
                          ELSE 'resurrected' END AS cls,
                     CASE WHEN m = (SELECT max(m) FROM acts)
                            THEN 'censored'
                          WHEN next_m IS NULL OR next_m > m + 1
                            THEN 'churned'
                          ELSE 'continued' END AS af
              FROM lg)
            SELECT m AS month_idx,
                   CAST(count(*) AS BIGINT) AS n_active,
                   CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_new,
                   CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_retained,
                   CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_resurrected,
                   CAST(sum(CASE WHEN af = 'churned' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_churned_after,
                   CAST(sum(CASE WHEN af = 'censored' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_censored
            FROM cl GROUP BY m
        """,
        "revenue_gini": """
            WITH mem AS (
              SELECT o_orderpriority AS g, o_custkey AS mem,
                     CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                   AS BIGINT)) AS BIGINT) AS x
              FROM orders GROUP BY g, mem),
            r AS (
              SELECT g, x,
                     row_number() OVER (
                       PARTITION BY g ORDER BY x ASC, mem ASC) AS i
              FROM mem)
            SELECT g AS o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_members,
                   CAST(sum(x) AS BIGINT) AS total_fp,
                   CAST((2 * sum(CAST(i AS HUGEINT) * x)
                         - (count(*) + 1) * CAST(sum(x) AS HUGEINT))
                        * 1000000
                        // (CAST(count(*) AS HUGEINT) * sum(x)) AS BIGINT)
                       AS gini_ppm
            FROM r GROUP BY g
        """,
        "seasonal_residuals_events": """
            WITH daily AS (
              SELECT event_type AS k, CAST(ts AS DATE) AS day,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST((date_diff('day', DATE '1970-01-01',
                            CAST(ts AS DATE)) + 4) % 7 AS INT) AS dow
              FROM events GROUP BY 1, 2, 4),
            base AS (
              SELECT k, dow, CAST(sum(n) AS BIGINT) AS dow_total,
                     CAST(count(*) AS BIGINT) AS dow_days
              FROM daily GROUP BY k, dow)
            SELECT daily.k AS event_type, CAST(daily.day AS VARCHAR) AS day,
                   daily.dow, daily.n,
                   CAST((daily.n * base.dow_days - base.dow_total) * 1000000
                        // base.dow_total AS BIGINT) AS resid_ppm
            FROM daily JOIN base
              ON base.k = daily.k AND base.dow = daily.dow
        """,
        "session_entry_exit_matrix": """
            WITH flagged AS (
              SELECT user_id, event_id, ts, event_type,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                               > 30 * 60 * 1000000
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC)),
            sessions AS (
              SELECT user_id, event_id, ts, event_type,
                     sum(brk) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
              FROM flagged),
            ranked AS (
              SELECT user_id, session_id, event_type,
                     row_number() OVER (
                       PARTITION BY user_id, session_id
                       ORDER BY ts ASC, event_id ASC) AS ra,
                     row_number() OVER (
                       PARTITION BY user_id, session_id
                       ORDER BY ts DESC, event_id DESC) AS rd,
                     count(*) OVER (
                       PARTITION BY user_id, session_id) AS ns
              FROM sessions),
            per_sess AS (
              SELECT user_id, session_id,
                     max(CASE WHEN ra = 1 THEN event_type END) AS entry,
                     max(CASE WHEN rd = 1 THEN event_type END) AS exit,
                     max(ns) AS n
              FROM ranked GROUP BY user_id, session_id)
            SELECT entry, "exit",
                   CAST(count(*) AS BIGINT) AS n_sessions,
                   CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_bounces
            FROM per_sess GROUP BY entry, "exit"
        """,
        "ngram_novelty_docs": """
            WITH t AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+',
                                  ' ', 'g')), ' ') AS w
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(w) - 1, 2)),
                       i -> array_to_string(list_slice(w, i, i + 2), ' ')))
                         AS gd
              FROM t),
            pg AS (
              SELECT gd, CAST(count(*) AS BIGINT) AS doc_count
              FROM g GROUP BY gd)
            SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN pg.doc_count = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_unique,
                   CAST(sum(CASE WHEN pg.doc_count = 1 THEN 1 ELSE 0 END)
                        * 1000000 // count(*) AS BIGINT) AS novelty_ppm
            FROM g JOIN pg ON pg.gd = g.gd
            GROUP BY g.doc_id
        """,
        "frequent_triples_parts": """
            WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
                                        l_partkey AS item FROM lineitem)
            SELECT a.item AS item_a, b.item AS item_b, c.item AS item_c,
                   CAST(count(*) AS BIGINT) AS triple_support
            FROM bi a
            JOIN bi b ON b.basket = a.basket AND a.item < b.item
            JOIN bi c ON c.basket = a.basket AND b.item < c.item
            GROUP BY 1, 2, 3 HAVING count(*) >= 2
        """,
        "table_fingerprint_customer": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST('0x' || substr(md5(concat_ws('|',
                       CAST(c_custkey AS VARCHAR), c_name)), 1, 8)
                       AS BIGINT)) AS BIGINT) AS checksum,
                   min(CAST(c_custkey AS VARCHAR)) AS min_c_custkey,
                   max(CAST(c_custkey AS VARCHAR)) AS max_c_custkey,
                   min(c_name) AS min_c_name,
                   max(c_name) AS max_c_name
            FROM customer
        """,
        "conversion_chi2": """
            WITH cells AS (
              SELECT o_orderpriority AS g,
                     CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1
                                   ELSE 0 END) AS BIGINT) AS pos,
                     CAST(count(*) AS BIGINT) AS row_n
              FROM orders GROUP BY g),
            tot AS (
              SELECT sum(pos) AS col_pos, sum(row_n) AS grand FROM cells),
            s AS (
              SELECT g, pos, row_n,
                     CAST(pos AS HUGEINT) * grand
                       - CAST(row_n AS HUGEINT) * col_pos AS tp,
                     CAST(row_n - pos AS HUGEINT) * grand
                       - CAST(row_n AS HUGEINT) * (grand - col_pos) AS tn,
                     CAST(row_n AS HUGEINT) * col_pos * grand AS dp,
                     CAST(row_n AS HUGEINT) * (grand - col_pos) * grand
                         AS dn
              FROM cells, tot)
            SELECT g, pos, row_n,
                   CAST(tp * tp * 1000000 // dp
                        + tn * tn * 1000000 // dn AS BIGINT)
                       AS chi2_contrib_fp
            FROM s
        """,
        "abc_parts": """
            WITH items AS (
              SELECT l_partkey AS item,
                     CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                   * 100 AS BIGINT)) AS BIGINT) AS rev_fp
              FROM lineitem GROUP BY item),
            c AS (
              SELECT *,
                     sum(rev_fp) OVER (
                       ORDER BY rev_fp DESC, item ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum_fp,
                     sum(rev_fp) OVER () AS tot
              FROM items),
            cl AS (
              SELECT CASE
                       WHEN CAST(cum_fp - rev_fp AS HUGEINT) * 1000000
                            // tot < 800000
                         THEN 'A'
                       WHEN CAST(cum_fp - rev_fp AS HUGEINT) * 1000000
                            // tot < 950000
                         THEN 'B'
                       ELSE 'C' END AS abc_class,
                     rev_fp, tot
              FROM c)
            SELECT abc_class, CAST(count(*) AS BIGINT) AS n_items,
                   CAST(sum(rev_fp) AS BIGINT) AS revenue_fp,
                   CAST(CAST(sum(rev_fp) AS HUGEINT) * 1000000
                        // max(tot) AS BIGINT)
                       AS revenue_share_ppm
            FROM cl GROUP BY abc_class
        """,
        "trimmed_mean_prices": """
            WITH r AS (
              SELECT o_orderpriority AS g,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS v_fp,
                     row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                     * 100 AS BIGINT) ASC,
                                o_orderkey ASC) AS rnk,
                     count(*) OVER (PARTITION BY o_orderpriority) AS n
              FROM orders),
            k AS (
              SELECT * FROM r
              WHERE rnk > n * 50 // 1000 AND rnk <= n - n * 50 // 1000)
            SELECT g AS o_orderpriority,
                   CAST(max(n) AS BIGINT) AS n_total,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(v_fp) // count(*) AS BIGINT) AS trimmed_mean_fp
            FROM k GROUP BY g
        """,
        "association_rules_parts": """
            WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
                                        l_partkey AS item FROM lineitem),
            freq AS (SELECT item, CAST(count(*) AS BIGINT) AS item_support
                     FROM bi GROUP BY item HAVING count(*) >= 2),
            pr0 AS (
              SELECT a.item AS item_a, b.item AS item_b,
                     CAST(count(*) AS BIGINT) AS pair_support
              FROM bi a JOIN bi b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY a.item, b.item HAVING count(*) >= 3),
            pr AS (
              SELECT pr0.item_a, pr0.item_b, pr0.pair_support,
                     fa.item_support AS support_a,
                     fb.item_support AS support_b
              FROM pr0 JOIN freq fa ON fa.item = pr0.item_a
                       JOIN freq fb ON fb.item = pr0.item_b),
            nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
            rules AS (
              SELECT item_a AS antecedent, item_b AS consequent,
                     pair_support, support_a AS sup_ante,
                     support_b AS sup_cons
              FROM pr
              UNION ALL
              SELECT item_b, item_a, pair_support, support_b, support_a
              FROM pr)
            SELECT antecedent, consequent, pair_support,
                   CAST(pair_support * 1000000 // sup_ante AS BIGINT)
                       AS confidence_ppm,
                   CAST(pair_support * nb.n * 1000000
                        // (sup_ante * sup_cons) AS BIGINT) AS lift_ppm
            FROM rules, nb
            ORDER BY lift_ppm DESC, antecedent ASC, consequent ASC
            LIMIT 30
        """,
        "copurchase_degree_dist": """
            WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
                                        l_partkey AS item FROM lineitem),
            freq AS (SELECT item, CAST(count(*) AS BIGINT) AS item_support
                     FROM bi GROUP BY item HAVING count(*) >= 2),
            pr0 AS (
              SELECT a.item AS item_a, b.item AS item_b,
                     CAST(count(*) AS BIGINT) AS pair_support
              FROM bi a JOIN bi b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY a.item, b.item HAVING count(*) >= 3),
            pr AS (
              SELECT pr0.item_a, pr0.item_b, pr0.pair_support,
                     fa.item_support AS support_a,
                     fb.item_support AS support_b
              FROM pr0 JOIN freq fa ON fa.item = pr0.item_a
                       JOIN freq fb ON fb.item = pr0.item_b),
            deg AS (
              SELECT nd, CAST(count(*) AS BIGINT) AS degree
              FROM (SELECT item_a AS nd FROM pr
                    UNION ALL SELECT item_b FROM pr)
              GROUP BY nd)
            SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
            FROM deg GROUP BY degree
        """,
        "dedup_keep_best_parts": """
            WITH d AS (
              SELECT p_partkey, p_retailprice,
                     md5(trim(regexp_replace(lower(p_name), '\\s+', ' ',
                                             'g'))) AS dg
              FROM part),
            r AS (
              SELECT p_partkey, p_retailprice, dg,
                     row_number() OVER (
                       PARTITION BY dg
                       ORDER BY p_retailprice DESC, p_partkey ASC) AS rn,
                     count(*) OVER (PARTITION BY dg) AS dc
              FROM d)
            SELECT p_partkey, CAST(dc AS BIGINT) AS dup_count,
                   p_retailprice AS best_score
            FROM r WHERE rn = 1
        """,
        "token_drift_sources": """
            WITH toks AS (
              SELECT CASE WHEN source IN ('src0','src1','src2','src3','src4')
                          THEN 1 ELSE 0 END AS a,
                     unnest(string_split(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g')), ' ')) AS t
              FROM documents),
            pt AS (
              SELECT t, CAST(sum(a) AS BIGINT) AS n_a,
                     CAST(sum(1 - a) AS BIGINT) AS n_b
              FROM toks WHERE t <> '' GROUP BY t),
            tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM pt)
            SELECT t AS token, n_a, n_b,
                   CAST(abs(n_a * 1000000 // ta - n_b * 1000000 // tb)
                        AS BIGINT) AS contrib_ppm
            FROM pt, tot
            ORDER BY contrib_ppm DESC, token ASC
            LIMIT 20
        """,
        "time_decay_credits": """
            WITH c AS (
              SELECT user_id AS k, event_id AS conversion_id, ts AS c_ts
              FROM events WHERE event_type = 'purchase'),
            t AS (
              SELECT user_id AS k, event_id AS touch_id, ts AS t_ts
              FROM events WHERE event_type IN ('click', 'view')),
            j AS (
              SELECT c.k, c.conversion_id, t.touch_id, t.t_ts,
                     1000000 // (CAST(1 AS BIGINT) << CAST(least(
                       date_diff('day', CAST(t.t_ts AS DATE),
                                 CAST(c.c_ts AS DATE)) // 2, 62) AS INT))
                         AS w
              FROM c JOIN t ON t.k = c.k
               AND t.t_ts <= c.c_ts
               AND t.t_ts >= c.c_ts - INTERVAL 7 DAY),
            r AS (
              SELECT k, conversion_id, touch_id, w,
                     sum(w) OVER (PARTITION BY conversion_id) AS sum_w,
                     row_number() OVER (
                       PARTITION BY conversion_id
                       ORDER BY t_ts DESC, touch_id DESC) AS rn
              FROM j),
            b AS (
              SELECT *, w * 1000000 // sum_w AS base,
                     sum(w * 1000000 // sum_w) OVER (
                       PARTITION BY conversion_id) AS base_sum
              FROM r)
            SELECT k AS user_id, conversion_id, touch_id,
                   CAST(w AS BIGINT) AS weight_ppm,
                   CAST(CASE WHEN rn = 1
                             THEN base + (1000000 - base_sum)
                             ELSE base END AS BIGINT) AS credit_ppm
            FROM b
        """,
        "label_outliers": """
            WITH comp AS (
              SELECT label, i - 1 AS dim,
                     CAST(sum(CAST(round((embedding::DOUBLE[])[i] * 1000000)
                                   AS BIGINT)) AS BIGINT) AS s
              FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
              GROUP BY label, i),
            q AS (
              SELECT label, sum(CAST(s AS HUGEINT) * s) AS qq
              FROM comp GROUP BY label),
            vex AS (
              SELECT vec_id, label, i - 1 AS dim,
                     CAST(round((embedding::DOUBLE[])[i] * 1000000)
                          AS BIGINT) AS v_fp
              FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
            pv AS (
              SELECT vec_id, vex.label,
                     sum(CAST(v_fp AS HUGEINT) * s) AS dot,
                     sum(CAST(v_fp AS HUGEINT) * v_fp) AS vv
              FROM vex JOIN comp
                ON comp.label = vex.label AND comp.dim = vex.dim
              GROUP BY vec_id, vex.label)
            SELECT vec_id, pv.label,
                   round(CAST(dot AS DOUBLE)
                         / (sqrt(CAST(vv AS DOUBLE))
                            * sqrt(CAST(qq AS DOUBLE))), 6) AS cos_centroid
            FROM pv JOIN q ON q.label = pv.label
        """,
        "status_history_scd2": """
            WITH o AS (
              SELECT o_custkey AS k, o_orderdate AS ts, o_orderkey AS tb,
                     o_orderstatus AS attr,
                     lag(o_orderstatus) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
              FROM orders),
            ch AS (
              SELECT k, ts, tb, attr FROM o
              WHERE rn = 1 OR attr IS DISTINCT FROM prev)
            SELECT k AS o_custkey, attr AS o_orderstatus,
                   epoch_us(ts) AS valid_from_us,
                   epoch_us(lead(ts) OVER (
                     PARTITION BY k ORDER BY ts ASC, tb ASC))
                       AS valid_to_us
            FROM ch
        """,
        "mom_revenue_growth": """
            WITH m AS (
              SELECT o_orderpriority AS g,
                     CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
                     CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                   AS BIGINT)) AS BIGINT) AS revenue_fp
              FROM orders GROUP BY g, mo),
            l AS (
              SELECT *, lag(revenue_fp) OVER (
                PARTITION BY g ORDER BY mo ASC) AS prev_fp
              FROM m)
            SELECT g AS o_orderpriority, CAST(mo AS VARCHAR) AS month,
                   revenue_fp, CAST(prev_fp AS BIGINT) AS prev_fp,
                   CAST((revenue_fp - prev_fp) * 1000000
                        // nullif(prev_fp, 0) AS BIGINT) AS growth_ppm
            FROM l
        """,
        "supplier_concentration": """
            WITH mem AS (
              SELECT l_partkey AS g, l_suppkey AS mem,
                     CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                   * 100 AS BIGINT)) AS BIGINT) AS mv_fp
              FROM lineitem GROUP BY g, mem),
            sh AS (
              SELECT g, mv_fp * 10000 // sum(mv_fp) OVER (PARTITION BY g)
                         AS share_bps
              FROM mem)
            SELECT g AS l_partkey,
                   CAST(count(*) AS BIGINT) AS n_members,
                   CAST(sum(share_bps * share_bps) AS BIGINT) AS hhi,
                   CAST(max(share_bps) AS BIGINT) AS top_share_bps
            FROM sh GROUP BY g
        """,
        "stratified_quota_docs": """
            WITH r AS (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                doc_id ASC) AS rk
              FROM documents)
            SELECT source, doc_id, n_chars FROM r WHERE rk <= 10
        """,
        "activity_streaks_users": """
            WITH days AS (
              SELECT DISTINCT user_id AS k, CAST(ts AS DATE) AS d
              FROM events),
            isl AS (
              SELECT k, d,
                     d - CAST(row_number() OVER (
                       PARTITION BY k ORDER BY d ASC) AS INTEGER) AS island
              FROM days),
            pi AS (
              SELECT k, island, CAST(count(*) AS BIGINT) AS len,
                     max(d) AS last_d
              FROM isl GROUP BY k, island)
            SELECT k AS user_id,
                   CAST(sum(len) AS BIGINT) AS n_active_days,
                   CAST(count(*) AS BIGINT) AS n_streaks,
                   CAST(max(len) AS BIGINT) AS longest_streak,
                   CAST(max_by(len, last_d) AS BIGINT) AS current_streak,
                   CAST(max(last_d) AS VARCHAR) AS last_active_day
            FROM pi GROUP BY k
        """,
        "next_error_after_purchase": """
            WITH p AS (
              SELECT user_id, event_id AS purchase_id, ts AS p_ts
              FROM events WHERE event_type = 'purchase'),
            e AS (
              SELECT user_id, event_id AS error_id, ts AS e_ts
              FROM events WHERE event_type = 'error'),
            j AS (
              SELECT p.user_id, p.purchase_id, p.p_ts, e.error_id, e.e_ts,
                     row_number() OVER (
                       PARTITION BY p.purchase_id
                       ORDER BY e.e_ts ASC, e.error_id ASC) AS rn
              FROM p LEFT JOIN e
                ON e.user_id = p.user_id AND e.e_ts >= p.p_ts)
            SELECT user_id, purchase_id,
                   epoch_us(p_ts) AS p_ts_us,
                   error_id,
                   epoch_us(e_ts) AS e_ts_us
            FROM j WHERE rn = 1
        """,
        "readability_docs": """
            WITH c AS (
              SELECT doc_id AS doc,
                     CAST(length(regexp_extract_all(lower(text), '[a-z]+'))
                          AS BIGINT) AS n_words,
                     CAST(greatest(1, length(regexp_extract_all(
                          lower(text), '[.!?]+'))) AS BIGINT) AS n_sentences,
                     CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
                          AS BIGINT) AS n_vowel_groups
              FROM documents)
            SELECT doc, n_words, n_sentences, n_vowel_groups,
                   CAST(206835 - (1015 * n_words) // n_sentences
                        - (84600 * n_vowel_groups) // n_words AS BIGINT)
                       AS flesch_milli
            FROM c WHERE n_words > 0
        """,
        "weekday_seasonality_events": """
            WITH b AS (
              SELECT event_type AS k,
                     CAST((date_diff('day', DATE '1970-01-01',
                            CAST(ts AS DATE)) + 4) % 7 AS INT) AS dow
              FROM events),
            c AS (
              SELECT k, dow, CAST(count(*) AS BIGINT) AS n
              FROM b GROUP BY k, dow),
            t AS (
              SELECT *, sum(n) OVER (PARTITION BY k) AS tot FROM c)
            SELECT k AS event_type, dow, n,
                   CAST(n * 1000000 // tot AS BIGINT) AS share_ppm,
                   CAST(n * 1000000 // tot - 142857 AS BIGINT) AS dev_ppm
            FROM t
        """,
        "ann_rank_fusion": """
            WITH q AS (SELECT embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id = 0),
            e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cos AS (
              SELECT vec_id,
                     row_number() OVER (
                       ORDER BY round(list_cosine_similarity(e.v, q.v), 6)
                                DESC, vec_id ASC) AS rank
              FROM e, q
              ORDER BY round(list_cosine_similarity(e.v, q.v), 6) DESC,
                       vec_id ASC
              LIMIT 20),
            dot AS (
              SELECT vec_id,
                     row_number() OVER (
                       ORDER BY round(list_dot_product(e.v, q.v), 6)
                                DESC, vec_id ASC) AS rank
              FROM e, q
              ORDER BY round(list_dot_product(e.v, q.v), 6) DESC,
                       vec_id ASC
              LIMIT 20),
            u AS (SELECT * FROM cos UNION ALL SELECT * FROM dot)
            SELECT vec_id,
                   CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS fused_ppm,
                   CAST(count(*) AS INT) AS n_lists,
                   CAST(min(rank) AS BIGINT) AS best_rank
            FROM u GROUP BY vec_id
            ORDER BY fused_ppm DESC, vec_id ASC
            LIMIT 10
        """,
        "price_histogram": """
            WITH v AS (
              SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS v_fp
              FROM orders WHERE o_totalprice IS NOT NULL),
            b AS (
              SELECT greatest(0, least(23,
                       (v_fp - 0) * 24 // 60000000)) AS bucket
              FROM v)
            SELECT CAST(bucket AS INT) AS bucket,
                   CAST(0 + bucket * 60000000 / 24 AS BIGINT) AS bucket_lo_fp,
                   CAST(count(*) AS BIGINT) AS n
            FROM b GROUP BY bucket
        """,
        "event_changepoints": """
            WITH daily AS (
              SELECT event_type AS k, CAST(ts AS DATE) AS day,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY event_type, CAST(ts AS DATE)),
            runs AS (
              SELECT k, day, n,
                     sum(n) OVER (PARTITION BY k ORDER BY day ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS pre_sum,
                     count(*) OVER (PARTITION BY k ORDER BY day ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS pre_n,
                     sum(n) OVER (PARTITION BY k) AS tot_sum,
                     count(*) OVER (PARTITION BY k) AS tot_n
              FROM daily),
            scored AS (
              SELECT k, day, pre_sum, pre_n,
                     tot_sum - pre_sum AS post_sum,
                     tot_n - pre_n AS post_n,
                     abs(pre_sum * (tot_n - pre_n)
                         - (tot_sum - pre_sum) * pre_n) * 1000000
                       // (pre_n * (tot_n - pre_n)) AS score_ppm
              FROM runs
              WHERE pre_n >= 3 AND tot_n - pre_n >= 3),
            best AS (
              SELECT *, row_number() OVER (
                PARTITION BY k ORDER BY score_ppm DESC, day ASC) AS rn
              FROM scored)
            SELECT k AS event_type, CAST(day AS VARCHAR) AS split_day,
                   CAST(pre_n AS BIGINT) AS n_pre_days,
                   CAST(post_n AS BIGINT) AS n_post_days,
                   CAST(pre_sum AS BIGINT) AS pre_sum,
                   CAST(post_sum AS BIGINT) AS post_sum,
                   CAST(score_ppm AS BIGINT) AS score_ppm
            FROM best WHERE rn = 1
        """,
        "churn_hazard_purchases": """
            WITH pu AS (
              SELECT user_id,
                     date_diff('day', CAST(min(ts) AS DATE),
                               CAST(max(ts) AS DATE)) // 3 AS tenure
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id),
            life AS (
              SELECT tenure, CAST(count(*) AS BIGINT) AS n_churned
              FROM pu GROUP BY tenure)
            SELECT CAST(tenure AS INT) AS tenure,
                   CAST(sum(n_churned) OVER (
                     ORDER BY tenure ASC ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk,
                   n_churned,
                   CAST(n_churned * 1000000 // sum(n_churned) OVER (
                     ORDER BY tenure ASC ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS BIGINT) AS hazard_ppm
            FROM life
        """,
        "cohort_ltv_curve": """
            WITH base AS (
              SELECT o_custkey AS u, CAST(o_orderdate AS DATE) AS d,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS v_fp
              FROM orders),
            ch AS (
              SELECT *, min(CAST(date_trunc('month', d) AS DATE))
                          OVER (PARTITION BY u) AS cm
              FROM base),
            aged AS (
              SELECT u, cm,
                     (year(d) - year(cm)) * 12 + (month(d) - month(cm))
                         AS age,
                     v_fp
              FROM ch),
            cell AS (
              SELECT cm, age, CAST(sum(v_fp) AS BIGINT) AS revenue_fp,
                     CAST(count(DISTINCT u) AS BIGINT) AS active_users
              FROM aged GROUP BY cm, age)
            SELECT CAST(cm AS VARCHAR) AS cohort_month,
                   CAST(age AS INT) AS age_months,
                   revenue_fp, active_users,
                   CAST(sum(revenue_fp) OVER (
                     PARTITION BY cm ORDER BY age ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_revenue_fp
            FROM cell
        """,
        "linear_attribution_credits": """
            WITH c AS (
              SELECT user_id AS k, event_id AS conversion_id, ts AS c_ts
              FROM events WHERE event_type = 'purchase'),
            t AS (
              SELECT user_id AS k, event_id AS touch_id, ts AS t_ts
              FROM events WHERE event_type IN ('click', 'view')),
            j AS (
              SELECT c.k, c.conversion_id, t.touch_id, t.t_ts
              FROM c JOIN t ON t.k = c.k
               AND t.t_ts <= c.c_ts
               AND t.t_ts >= c.c_ts - INTERVAL 7 DAY),
            r AS (
              SELECT k, conversion_id, touch_id,
                     count(*) OVER (PARTITION BY conversion_id) AS n,
                     row_number() OVER (
                       PARTITION BY conversion_id
                       ORDER BY t_ts DESC, touch_id DESC) AS rn
              FROM j)
            SELECT k AS user_id, conversion_id, touch_id,
                   CAST(n AS BIGINT) AS n_touches,
                   CAST(CASE WHEN rn = 1
                             THEN 1000000 // n + 1000000 % n
                             ELSE 1000000 // n END AS BIGINT) AS credit_ppm
            FROM r
        """,
        "curriculum_phases_docs": """
            WITH base AS (
              SELECT source, doc_id, n_chars,
                     CAST(n_chars AS BIGINT) AS w
              FROM documents),
            run AS (
              SELECT source, doc_id, n_chars, w,
                     sum(w) OVER (
                       PARTITION BY source
                       ORDER BY n_chars ASC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum,
                     sum(w) OVER (PARTITION BY source) AS tot
              FROM base)
            SELECT source, doc_id, n_chars, w AS weight,
                   CAST((cum - w) * 4 // nullif(tot, 0) AS INT) AS phase
            FROM run
        """,
        # round-7 session-3 additions: privacy / basket / benford /
        # quantile / kfold / entropy family
        "k_anonymity_customers": """
            SELECT c_nationkey, c_mktsegment,
                   CAST(count(*) AS BIGINT) AS class_size,
                   CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS INT)
                       AS at_risk
            FROM customer GROUP BY c_nationkey, c_mktsegment
        """,
        "l_diversity_orders": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(count(*) AS BIGINT) AS class_size,
                   CAST(count(DISTINCT o_custkey) AS BIGINT)
                       AS sensitive_diversity,
                   CAST(CASE WHEN count(DISTINCT o_custkey) < 3
                             THEN 1 ELSE 0 END AS INT) AS leaks
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        """,
        "copurchase_pairs": """
            WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
                                        l_partkey AS item FROM lineitem),
            freq AS (SELECT item, CAST(count(*) AS BIGINT) AS item_support
                     FROM bi GROUP BY item HAVING count(*) >= 2),
            pr AS (
              SELECT a.item AS item_a, b.item AS item_b,
                     CAST(count(*) AS BIGINT) AS pair_support
              FROM bi a JOIN bi b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY a.item, b.item HAVING count(*) >= 3)
            SELECT pr.item_a, pr.item_b, pr.pair_support,
                   fa.item_support AS support_a,
                   fb.item_support AS support_b
            FROM pr JOIN freq fa ON fa.item = pr.item_a
                    JOIN freq fb ON fb.item = pr.item_b
        """,
        "copurchase_triangles": """
            WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
                                        l_partkey AS item FROM lineitem),
            pr AS (
              SELECT a.item AS item_a, b.item AS item_b
              FROM bi a JOIN bi b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY a.item, b.item HAVING count(*) >= 3),
            nodes AS (SELECT item_a AS nd FROM pr
                      UNION SELECT item_b FROM pr),
            tri AS (
              SELECT count(*) AS t
              FROM pr e1 JOIN pr e2 ON e2.item_a = e1.item_b
                   JOIN pr e3 ON e3.item_a = e1.item_a
                            AND e3.item_b = e2.item_b)
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
                   (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_edges,
                   CAST(t AS BIGINT) AS n_triangles
            FROM tri
        """,
        "benford_totalprice": """
            WITH d AS (
              SELECT substr(regexp_replace(
                       CAST(CAST(abs(o_totalprice) AS DECIMAL(18,2))
                            AS VARCHAR), '[^1-9]', '', 'g'), 1, 1) AS dg
              FROM orders),
            c AS (SELECT dg, CAST(count(*) AS BIGINT) AS n
                  FROM d WHERE dg <> '' GROUP BY dg),
            t AS (SELECT sum(n) AS tot FROM c),
            e(digit, expected_ppm) AS (VALUES
              (1, 301030), (2, 176091), (3, 124939), (4, 96910),
              (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
            SELECT CAST(c.dg AS INT) AS digit, c.n,
                   CAST((c.n * 1000000) // t.tot AS BIGINT) AS observed_ppm,
                   CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
                   CAST((c.n * 1000000) // t.tot - e.expected_ppm AS BIGINT)
                       AS dev_ppm
            FROM c, t, e WHERE e.digit = CAST(c.dg AS INT)
        """,
        "price_quantiles_disc": """
            WITH r AS (
              SELECT o_orderpriority AS grp, o_totalprice AS val,
                     row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice ASC, o_orderkey ASC) AS rnk,
                     count(*) OVER (PARTITION BY o_orderpriority) AS n
              FROM orders),
            q(q_pm) AS (VALUES (250), (500), (750), (900), (990))
            SELECT r.grp AS o_orderpriority, CAST(q.q_pm AS INT) AS q_pm,
                   r.val AS q_value, CAST(r.n AS BIGINT) AS n
            FROM r JOIN q ON r.rnk = (q.q_pm * r.n + 999) // 1000
        """,
        "group_kfold_orders": """
            WITH f AS (
              SELECT CAST((CAST('0x' || substr(
                         md5(CAST(o_custkey AS VARCHAR)), 1, 4) AS BIGINT)
                       * 5) // 65536 AS INT) AS fold,
                     o_custkey, o_totalprice
              FROM orders)
            SELECT fold, CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
                   CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS revenue_fp
            FROM f GROUP BY fold
        """,
        "char_entropy_quality": """
            WITH base AS (
              SELECT source, lower(text) AS s, length(lower(text)) AS n
              FROM documents),
            c AS (
              SELECT source, n,
                     n - length(replace(s, 'a', '')) AS c0,
                     n - length(replace(s, 'b', '')) AS c1,
                     n - length(replace(s, 'c', '')) AS c2,
                     n - length(replace(s, 'd', '')) AS c3,
                     n - length(replace(s, 'e', '')) AS c4,
                     n - length(replace(s, 'f', '')) AS c5,
                     n - length(replace(s, 'g', '')) AS c6,
                     n - length(replace(s, 'h', '')) AS c7,
                     n - length(replace(s, 'i', '')) AS c8,
                     n - length(replace(s, 'j', '')) AS c9,
                     n - length(replace(s, 'k', '')) AS c10,
                     n - length(replace(s, 'l', '')) AS c11,
                     n - length(replace(s, 'm', '')) AS c12,
                     n - length(replace(s, 'n', '')) AS c13,
                     n - length(replace(s, 'o', '')) AS c14,
                     n - length(replace(s, 'p', '')) AS c15,
                     n - length(replace(s, 'q', '')) AS c16,
                     n - length(replace(s, 'r', '')) AS c17,
                     n - length(replace(s, 's', '')) AS c18,
                     n - length(replace(s, 't', '')) AS c19,
                     n - length(replace(s, 'u', '')) AS c20,
                     n - length(replace(s, 'v', '')) AS c21,
                     n - length(replace(s, 'w', '')) AS c22,
                     n - length(replace(s, 'x', '')) AS c23,
                     n - length(replace(s, 'y', '')) AS c24,
                     n - length(replace(s, 'z', '')) AS c25,
                     n - length(replace(s, '0', '')) AS c26,
                     n - length(replace(s, '1', '')) AS c27,
                     n - length(replace(s, '2', '')) AS c28,
                     n - length(replace(s, '3', '')) AS c29,
                     n - length(replace(s, '4', '')) AS c30,
                     n - length(replace(s, '5', '')) AS c31,
                     n - length(replace(s, '6', '')) AS c32,
                     n - length(replace(s, '7', '')) AS c33,
                     n - length(replace(s, '8', '')) AS c34,
                     n - length(replace(s, '9', '')) AS c35,
                     n - length(replace(s, ' ', '')) AS c36
              FROM base),
            c2 AS (
              SELECT *, n - (c0 + c1 + c2 + c3 + c4 + c5 + c6 + c7 + c8 + c9 + c10 + c11 + c12 + c13 + c14 + c15 + c16 + c17 + c18 + c19 + c20 + c21 + c22 + c23 + c24 + c25 + c26 + c27 + c28 + c29 + c30 + c31 + c32 + c33 + c34 + c35 + c36) AS oth FROM c),
            e AS (
              SELECT source, n,
                     (CASE WHEN c0 > 0 THEN c0 * length(bin(n // c0)) ELSE 0 END)
                     + (CASE WHEN c1 > 0 THEN c1 * length(bin(n // c1)) ELSE 0 END)
                     + (CASE WHEN c2 > 0 THEN c2 * length(bin(n // c2)) ELSE 0 END)
                     + (CASE WHEN c3 > 0 THEN c3 * length(bin(n // c3)) ELSE 0 END)
                     + (CASE WHEN c4 > 0 THEN c4 * length(bin(n // c4)) ELSE 0 END)
                     + (CASE WHEN c5 > 0 THEN c5 * length(bin(n // c5)) ELSE 0 END)
                     + (CASE WHEN c6 > 0 THEN c6 * length(bin(n // c6)) ELSE 0 END)
                     + (CASE WHEN c7 > 0 THEN c7 * length(bin(n // c7)) ELSE 0 END)
                     + (CASE WHEN c8 > 0 THEN c8 * length(bin(n // c8)) ELSE 0 END)
                     + (CASE WHEN c9 > 0 THEN c9 * length(bin(n // c9)) ELSE 0 END)
                     + (CASE WHEN c10 > 0 THEN c10 * length(bin(n // c10)) ELSE 0 END)
                     + (CASE WHEN c11 > 0 THEN c11 * length(bin(n // c11)) ELSE 0 END)
                     + (CASE WHEN c12 > 0 THEN c12 * length(bin(n // c12)) ELSE 0 END)
                     + (CASE WHEN c13 > 0 THEN c13 * length(bin(n // c13)) ELSE 0 END)
                     + (CASE WHEN c14 > 0 THEN c14 * length(bin(n // c14)) ELSE 0 END)
                     + (CASE WHEN c15 > 0 THEN c15 * length(bin(n // c15)) ELSE 0 END)
                     + (CASE WHEN c16 > 0 THEN c16 * length(bin(n // c16)) ELSE 0 END)
                     + (CASE WHEN c17 > 0 THEN c17 * length(bin(n // c17)) ELSE 0 END)
                     + (CASE WHEN c18 > 0 THEN c18 * length(bin(n // c18)) ELSE 0 END)
                     + (CASE WHEN c19 > 0 THEN c19 * length(bin(n // c19)) ELSE 0 END)
                     + (CASE WHEN c20 > 0 THEN c20 * length(bin(n // c20)) ELSE 0 END)
                     + (CASE WHEN c21 > 0 THEN c21 * length(bin(n // c21)) ELSE 0 END)
                     + (CASE WHEN c22 > 0 THEN c22 * length(bin(n // c22)) ELSE 0 END)
                     + (CASE WHEN c23 > 0 THEN c23 * length(bin(n // c23)) ELSE 0 END)
                     + (CASE WHEN c24 > 0 THEN c24 * length(bin(n // c24)) ELSE 0 END)
                     + (CASE WHEN c25 > 0 THEN c25 * length(bin(n // c25)) ELSE 0 END)
                     + (CASE WHEN c26 > 0 THEN c26 * length(bin(n // c26)) ELSE 0 END)
                     + (CASE WHEN c27 > 0 THEN c27 * length(bin(n // c27)) ELSE 0 END)
                     + (CASE WHEN c28 > 0 THEN c28 * length(bin(n // c28)) ELSE 0 END)
                     + (CASE WHEN c29 > 0 THEN c29 * length(bin(n // c29)) ELSE 0 END)
                     + (CASE WHEN c30 > 0 THEN c30 * length(bin(n // c30)) ELSE 0 END)
                     + (CASE WHEN c31 > 0 THEN c31 * length(bin(n // c31)) ELSE 0 END)
                     + (CASE WHEN c32 > 0 THEN c32 * length(bin(n // c32)) ELSE 0 END)
                     + (CASE WHEN c33 > 0 THEN c33 * length(bin(n // c33)) ELSE 0 END)
                     + (CASE WHEN c34 > 0 THEN c34 * length(bin(n // c34)) ELSE 0 END)
                     + (CASE WHEN c35 > 0 THEN c35 * length(bin(n // c35)) ELSE 0 END)
                     + (CASE WHEN c36 > 0 THEN c36 * length(bin(n // c36)) ELSE 0 END)
                     + (CASE WHEN oth > 0 THEN oth * length(bin(n // oth)) ELSE 0 END) AS ent,
                     (CASE WHEN c0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c1 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c2 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c3 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c4 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c5 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c6 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c7 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c8 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c9 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c10 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c11 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c12 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c13 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c14 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c15 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c16 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c17 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c18 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c19 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c20 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c21 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c22 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c23 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c24 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c25 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c26 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c27 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c28 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c29 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c30 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c31 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c32 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c33 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c34 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c35 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c36 > 0 THEN 1 ELSE 0 END) AS distinct_symbols,
                     greatest(c0, c1, c2, c3, c4, c5, c6, c7, c8, c9, c10, c11, c12, c13, c14, c15, c16, c17, c18, c19, c20, c21, c22, c23, c24, c25, c26, c27, c28, c29, c30, c31, c32, c33, c34, c35, c36, oth) AS top
              FROM c2)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(ent) AS BIGINT) AS sum_ent_bits_x_n,
                   CAST(sum(n) AS BIGINT) AS sum_chars,
                   CAST(min(distinct_symbols) AS INT) AS min_distinct,
                   CAST(max(top) AS BIGINT) AS max_top_count
            FROM e WHERE n > 0 GROUP BY source
        """,
        "ann_hard_negatives": """
            WITH e AS (
              SELECT vec_id, label, embedding::DOUBLE[] AS v
              FROM embeddings),
            q AS (SELECT * FROM e WHERE vec_id % 40 = 0),
            s AS (
              SELECT q.vec_id AS qid, q.label AS qlabel,
                     e.vec_id, e.label,
                     round(list_cosine_similarity(e.v, q.v), 6) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, q.v), 6)
                                DESC, e.vec_id ASC) AS rn
              FROM q JOIN e ON e.label <> q.label)
            SELECT qid, qlabel, vec_id, label, cosine FROM s WHERE rn <= 5
        """,
        "backfill_plan": """
            WITH t AS (
              SELECT epoch_us(ts) AS ts_us, event_id,
                     ntile(8) OVER (ORDER BY ts, event_id) AS bucket
              FROM events)
            SELECT CAST(bucket AS INT) AS bucket,
                   CAST(min(ts_us) AS BIGINT) AS start_us,
                   CAST(max(ts_us) AS BIGINT) AS end_us,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM t GROUP BY bucket
        """,
        "robust_outliers": """
            WITH v AS (
              SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v
              FROM events),
            m AS (
              SELECT user_id,
                     CAST(round(2 * median(v)) AS BIGINT) AS med2
              FROM v GROUP BY user_id),
            d AS (
              SELECT v.user_id, v.v, m.med2,
                     abs(2 * v.v - m.med2) AS dev2
              FROM v JOIN m USING (user_id)),
            md AS (
              SELECT user_id,
                     CAST(round(2 * median(dev2)) AS BIGINT) AS mad4
              FROM d GROUP BY user_id)
            SELECT d.user_id,
                   CAST(count(*) AS BIGINT) AS n,
                   d.med2, md.mad4,
                   CAST(count(*) FILTER (WHERE 2 * d.dev2 > 3 * md.mad4)
                        AS BIGINT) AS n_outliers
            FROM d JOIN md USING (user_id)
            GROUP BY d.user_id, d.med2, md.mad4
        """,
        "label_centroid_similarity": """
            WITH comp AS (
              SELECT label, i - 1 AS dim,
                     CAST(sum(CAST(round((embedding::DOUBLE[])[i] * 1000000)
                                   AS BIGINT)) AS BIGINT) AS s
              FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
              GROUP BY label, i),
            q AS (
              SELECT label, sum(CAST(s AS HUGEINT) * s) AS qq
              FROM comp GROUP BY label),
            d AS (
              SELECT a.label AS label_a, b.label AS label_b,
                     sum(CAST(a.s AS HUGEINT) * b.s) AS dot
              FROM comp a JOIN comp b
                ON a.dim = b.dim AND a.label < b.label
              GROUP BY a.label, b.label)
            SELECT d.label_a, d.label_b,
                   round(CAST(d.dot AS DOUBLE)
                         / (sqrt(CAST(qa.qq AS DOUBLE))
                            * sqrt(CAST(qb.qq AS DOUBLE))), 6) AS cosine
            FROM d
            JOIN q qa ON qa.label = d.label_a
            JOIN q qb ON qb.label = d.label_b
        """,
        "overlapping_order_windows": """
            WITH base AS (
              SELECT o_custkey AS custkey, o_orderkey AS uid,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) AS lo,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) + 14 AS hi
              FROM orders)
            SELECT a.custkey, a.uid AS uid_a, b.uid AS uid_b,
                   CAST(least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1
                        AS BIGINT) AS overlap_days
            FROM base a JOIN base b
              ON a.custkey = b.custkey AND a.uid < b.uid
             AND a.lo <= b.hi AND b.lo <= a.hi
        """,
        "chunk_documents": """
            WITH t AS (
              SELECT doc_id AS doc,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                                      'g')), ' ') AS w
              FROM documents),
            c AS (
              SELECT doc, w, len(w) AS n_tokens,
                     unnest(range(0,
                       1 + (greatest(len(w) - 16, 0) + 7) // 8)) AS i
              FROM t)
            SELECT doc,
                   CAST(i AS INT) AS chunk_idx,
                   CAST(n_tokens AS INT) AS n_tokens,
                   CAST(least(16, n_tokens - i * 8) AS INT) AS chunk_len,
                   array_to_string(w[(i * 8 + 1):(i * 8 + 16)], ' ')
                       AS chunk_text
            FROM c
        """,
        "rfm_segments": """
            WITH base AS (
              SELECT o_custkey AS cust,
                     max(o_orderdate) AS last_d,
                     count(*) AS freq,
                     CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                   AS BIGINT)) AS BIGINT) AS mon_fp
              FROM orders GROUP BY o_custkey),
            ref AS (SELECT max(o_orderdate) AS ref_d FROM orders),
            t AS (
              SELECT cust, freq, mon_fp,
                     CAST(ntile(5) OVER (
                       ORDER BY date_diff('day', last_d, ref_d) ASC,
                                cust ASC) AS INT) AS r,
                     CAST(ntile(5) OVER (
                       ORDER BY freq DESC, cust ASC) AS INT) AS f,
                     CAST(ntile(5) OVER (
                       ORDER BY mon_fp DESC, cust ASC) AS INT) AS m
              FROM base, ref)
            SELECT r, f, m,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   CAST(sum(mon_fp) AS BIGINT) AS segment_monetary_fp
            FROM t GROUP BY r, f, m
        """,
        "dup_size_histogram": """
            WITH g AS (
              SELECT count(*) AS dup_count
              FROM (SELECT md5(trim(regexp_replace(lower(p_name), '\\s+', ' ',
                                                   'g'))) AS d
                    FROM part)
              GROUP BY d)
            SELECT CAST(dup_count AS BIGINT) AS dup_count,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(dup_count * count(*) AS BIGINT) AS n_docs
            FROM g GROUP BY dup_count
        """,
        "event_pattern_match": """
            WITH s AS (
              SELECT user_id,
                     string_agg(substr(event_type, 1, 1), ''
                                ORDER BY ts, event_id) AS seq
              FROM events GROUP BY user_id)
            SELECT user_id,
                   CAST(length(seq) AS INT) AS seq_len,
                   CAST(length(regexp_extract_all(seq, 's[vc]*p')) AS INT)
                       AS n_matches
            FROM s
            WHERE length(regexp_extract_all(seq, 's[vc]*p')) > 0
        """,
        "event_path_counts": """
            WITH p AS (
              SELECT user_id,
                     array_to_string(
                       string_split(
                         string_agg(event_type, '>' ORDER BY ts, event_id),
                         '>')[1:5],
                       '>') AS path
              FROM events GROUP BY user_id)
            SELECT path, CAST(count(*) AS BIGINT) AS n_users
            FROM p GROUP BY path
        """,
        "time_weighted_value": """
            WITH seg AS (
              SELECT user_id,
                     CAST(round(value * 100) AS BIGINT) AS v,
                     lead(CAST(round(value * 100) AS BIGINT))
                         OVER w AS vn,
                     (lead(epoch_us(ts)) OVER w - epoch_us(ts)) // 1000
                         AS dms
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id,
                   CAST(sum((v + vn) * dms) AS BIGINT) AS area2_fp,
                   CAST(sum(dms) AS BIGINT) AS dur_ms,
                   round(CAST(sum((v + vn) * dms) AS DOUBLE)
                         / (CAST(sum(dms) AS DOUBLE) * 200.0), 6)
                       AS tw_mean
            FROM seg WHERE vn IS NOT NULL
            GROUP BY user_id HAVING sum(dms) > 0
        """,
        "entity_name_clusters": """
            WITH RECURSIVE dic AS (
              SELECT DISTINCT p_name AS name FROM part),
            pairs AS (
              SELECT a.name AS s, b.name AS d
              FROM dic a JOIN dic b
                ON string_split(a.name, ' ')[-1] = string_split(b.name, ' ')[-1]
               AND a.name < b.name
               AND abs(length(a.name) - length(b.name)) <= 2
               AND levenshtein(a.name, b.name) <= 2),
            edges AS (
              SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
            reach(node, lab) AS (
              SELECT name, name FROM dic
              UNION
              SELECT r.node, e.d FROM reach r JOIN edges e ON r.lab = e.s)
            SELECT node AS name, min(lab) AS cluster
            FROM reach GROUP BY node
        """,
        "ngram_span_coverage": f"""
            WITH {_POS_GRAMS_CTE.strip()}
            SELECT t.doc AS doc_id,
                   CAST(len(t.w0) AS INT) AS n_tokens,
                   CAST(coalesce(c.dup_tokens, 0) AS INT) AS dup_tokens,
                   CAST((10000 * coalesce(c.dup_tokens, 0)) // len(t.w0)
                        AS BIGINT) AS dup_coverage_bp
            FROM t LEFT JOIN c USING (doc)
        """,
        "strip_duplicated_spans": f"""
            WITH {_POS_GRAMS_CTE.strip()},
            dropped AS (
              SELECT doc, list_sort(list(p)) AS ps FROM cov GROUP BY doc)
            SELECT t.doc AS doc_id,
                   coalesce(array_to_string(
                     list_transform(
                       list_filter(range(1, len(t.w0) + 1),
                                   i -> d.doc IS NULL
                                        OR NOT list_contains(d.ps, i)),
                       i -> t.w0[i]),
                     ' '), '') AS clean_text,
                   CAST(len(t.w0) AS INT) AS n_tokens,
                   CAST(len(t.w0) - coalesce(len(d.ps), 0) AS INT)
                       AS kept_tokens
            FROM t LEFT JOIN dropped d USING (doc)
        """,
        "strip_contaminated_spans": """
            WITH t AS (
              SELECT doc_id AS doc, source,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                  ' ') AS w0
              FROM documents),
            g AS (
              SELECT doc, source, len(w0) AS n_tokens, i AS pos,
                     array_to_string(list_slice(w0, i, i + 4), ' ') AS gd
              FROM t, unnest(range(1, greatest(len(w0) - 4, 1) + 1)) AS r(i)),
            ev AS (SELECT DISTINCT gd FROM g WHERE source = 'src19'),
            cov AS (
              SELECT DISTINCT doc, p
              FROM (SELECT g.doc,
                           unnest(range(g.pos, least(g.pos + 4, g.n_tokens) + 1)) AS p
                    FROM g JOIN ev USING (gd)
                    WHERE g.source <> 'src19')),
            dropped AS (
              SELECT doc, list_sort(list(p)) AS ps FROM cov GROUP BY doc)
            SELECT t.doc AS doc_id,
                   coalesce(array_to_string(
                     list_transform(
                       list_filter(range(1, len(t.w0) + 1),
                                   i -> d.doc IS NULL
                                        OR NOT list_contains(d.ps, i)),
                       i -> t.w0[i]),
                     ' '), '') AS clean_text,
                   CAST(len(t.w0) AS INT) AS n_tokens,
                   CAST(len(t.w0) - coalesce(len(d.ps), 0) AS INT)
                       AS kept_tokens
            FROM t LEFT JOIN dropped d USING (doc)
            WHERE t.source <> 'src19'
        """,
        "embedding_moments": """
            WITH v AS (
              SELECT list_transform(embedding::DOUBLE[],
                         x -> CAST(round(x * 1000000) AS BIGINT)) AS v
              FROM embeddings),
            px AS (
              SELECT ti.i AS i, tj.j AS j,
                     v.v[ti.i + 1] AS xi, v.v[tj.j + 1] AS xj
              FROM v,
                   UNNEST(range(len(v.v))) AS ti(i),
                   UNNEST(range(len(v.v))) AS tj(j)
              WHERE tj.j >= ti.i)
            SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(xi) AS BIGINT) AS sum_i,
                   CAST(sum(xj) AS BIGINT) AS sum_j,
                   CAST(sum(xi * xj) AS BIGINT) AS sum_ij
            FROM px GROUP BY i, j
        """,
        "mixture_plan_temperature": """
            WITH ps AS (
              SELECT source,
                     CAST(sum(len(string_split(
                         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                         ' '))) AS BIGINT) AS tokens
              FROM documents GROUP BY source),
            pw AS (
              SELECT source, tokens,
                     CAST(floor(sqrt(tokens)) AS BIGINT) AS weight
              FROM ps),
            tw AS (SELECT CAST(sum(weight) AS BIGINT) AS W FROM pw),
            caps AS (
              SELECT pw.source, pw.tokens, pw.weight, tw.W,
                     (pw.tokens * tw.W) // pw.weight AS cap
              FROM pw, tw),
            tm AS (SELECT min(cap) AS T FROM caps)
            SELECT source, tokens, weight,
                   CAST((tm.T * weight) // W AS BIGINT) AS take_tokens,
                   CAST(((tm.T * weight) // W) * 10000 // tokens AS BIGINT)
                       AS rate_bp
            FROM caps, tm
        """,
        "mixture_plan": """
            WITH ps AS (
              SELECT source,
                     CAST(sum(len(string_split(
                         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                         ' '))) AS BIGINT) AS tokens,
                     CAST((CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT)
                           % 4) + 1 AS BIGINT) AS weight
              FROM documents GROUP BY source),
            tw AS (SELECT CAST(sum(weight) AS BIGINT) AS W FROM ps),
            caps AS (
              SELECT ps.source, ps.tokens, ps.weight, tw.W,
                     (ps.tokens * tw.W) // ps.weight AS cap
              FROM ps, tw),
            tm AS (SELECT min(cap) AS T FROM caps)
            SELECT source, tokens, weight,
                   CAST((tm.T * weight) // W AS BIGINT) AS take_tokens,
                   CAST(((tm.T * weight) // W) * 10000 // tokens AS BIGINT)
                       AS rate_bp
            FROM caps, tm
        """,
        "semantic_dedup": f"""
            WITH s AS (
              SELECT vec_id, cluster, embedding::DOUBLE[] AS v
              FROM read_parquet('{_STAGE}/semdedup_assign.parquet/*.parquet')),
            d AS (
              SELECT DISTINCT a.vec_id
              FROM s a JOIN s b
                ON a.cluster = b.cluster AND b.vec_id < a.vec_id
              WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45)
            SELECT s.vec_id, CAST(s.cluster AS INT) AS cluster,
                   (d.vec_id IS NULL) AS kept
            FROM s LEFT JOIN d ON s.vec_id = d.vec_id
        """,
        # learned quality filter: integer logits re-derived from the
        # staged hashed features x staged fixed-point weight table
        "quality_classifier_scores": f"""
            WITH f AS (SELECT doc, feat, tf
                       FROM read_parquet('{_STAGE}/clf_features.parquet/*.parquet')),
            w AS (SELECT feat, w_fp
                  FROM read_parquet('{_STAGE}/clf_weights.parquet/*.parquet'))
            SELECT f.doc AS doc_id,
                   CAST(SUM(f.tf * w.w_fp)
                        + (SELECT w_fp FROM w WHERE feat = -1) AS BIGINT)
                       AS logit_fp
            FROM f JOIN w ON w.feat = f.feat AND w.feat <> -1
            GROUP BY f.doc
        """,
        "classifier_calibration": f"""
            WITH f AS (SELECT doc, feat, tf
                       FROM read_parquet('{_STAGE}/clf_features.parquet/*.parquet')),
            w AS (SELECT feat, w_fp
                  FROM read_parquet('{_STAGE}/clf_weights.parquet/*.parquet')),
            scores AS (
              SELECT f.doc,
                     CAST(SUM(f.tf * w.w_fp)
                          + (SELECT w_fp FROM w WHERE feat = -1) AS BIGINT)
                         AS logit_fp
              FROM f JOIN w ON w.feat = f.feat AND w.feat <> -1
              GROUP BY f.doc),
            lab AS (
              SELECT s.doc, s.logit_fp,
                     CASE WHEN d.source IN ('src0','src1','src2','src3','src4')
                          THEN 1 ELSE 0 END AS y
              FROM scores s JOIN documents d ON d.doc_id = s.doc)
            SELECT CAST((logit_fp - ((logit_fp % 500000 + 500000) % 500000))
                        // 500000 AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST((CAST(sum(y) AS BIGINT) * 10000) // count(*) AS BIGINT)
                       AS pos_rate_bp
            FROM lab
            GROUP BY (logit_fp - ((logit_fp % 500000 + 500000) % 500000))
                     // 500000
        """,
        "dsir_doc_scores": """
            WITH tok0 AS (
              SELECT doc_id AS doc, (source = 'src0') AS is_tgt,
                     unnest(string_split(
                         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                         ' ')) AS tok
              FROM documents),
            tok AS (SELECT * FROM tok0 WHERE tok <> ''),
            st AS (
              SELECT tok, count(*) AS c_raw,
                     sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS c_tgt
              FROM tok GROUP BY tok)
            SELECT tok.doc AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(length(bin(st.c_tgt + 1))
                            - length(bin(st.c_raw + 1))) AS BIGINT)
                       AS dsir_score
            FROM tok JOIN st USING (tok)
            GROUP BY tok.doc
        """,
        "sync_incremental_semijoin": f"""
            SELECT event_id AS eventId,
                   epoch_us(ts) AS ts_us,
                   user_id AS visitorId,
                   event_type AS eventType,
                   value AS value
            FROM events
            WHERE ts > TIMESTAMP '{_BOOKMARK}'
              AND user_id IN (SELECT DISTINCT user_id FROM events WHERE user_id % 3 = 0)
        """,
        "full_table_projection": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
        """,
        "ordered_limit_topk": """
            SELECT o_orderkey, epoch_us(o_orderdate) AS odate_us,
                   o_totalprice, o_orderpriority
            FROM orders
            ORDER BY o_orderdate DESC, o_orderkey DESC
            LIMIT 100
        """,
        "volume_count": "SELECT count(*) AS record_count FROM events",
        "bookmark_max": "SELECT max(epoch_us(ts)) AS bookmark_us FROM events",
        "uuid_validation": """
            WITH u AS (
              SELECT c_custkey,
                     concat_ws('-', substr(md5(c_name),1,8), substr(md5(c_name),9,4),
                               substr(md5(c_name),13,4), substr(md5(c_name),17,4),
                               substr(md5(c_name),21,12)) AS uuid
              FROM customer)
            SELECT c_custkey, uuid FROM u
            WHERE length(uuid) = 36
              AND regexp_matches(uuid, '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$')
        """,
        "payload_reshape": """
            SELECT c_custkey AS id,
                   concat('{"name":"', c_name, '","segment":"', c_mktsegment, '"}')
                       AS values_json
            FROM customer
        """,
        # Money columns surface as fixed-point BIGINT (_fp2 = value*100,
        # _fp4 = value*10000): a DECIMAL/HUGEINT aggregate turns into
        # float64 on a pandas fetch from DuckDB but stays Decimal/int from
        # Spark, so only integer-typed outputs hash identically on every
        # fetch path. Scaling happens per row BEFORE the sum (stays inside
        # DECIMAL range), and integer sums get an explicit BIGINT cast
        # (DuckDB SUM(BIGINT) is HUGEINT).
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(cast(l_quantity as decimal(18,2)) * 100 AS BIGINT))
                        AS BIGINT) AS sum_qty_fp2,
                   CAST(sum(CAST(cast(l_extendedprice as decimal(18,2)) * 100 AS BIGINT))
                        AS BIGINT) AS sum_base_price_fp2,
                   CAST(sum(CAST(cast(cast(l_extendedprice as decimal(18,2))
                        * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                        as decimal(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS sum_disc_price_fp4,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "grouped_stream_stats": """
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(CAST(cast(value as decimal(18,2)) * 100 AS BIGINT))
                        AS BIGINT) AS sum_value_fp2,
                   max(epoch_us(ts)) AS last_seen_us,
                   min(epoch_us(ts)) AS first_seen_us
            FROM events GROUP BY event_type
        """,
        "pairwise_deltas": """
            SELECT user_id, event_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ) AS delta_us
            FROM events
        """,
        "latest_event_per_user": """
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "rollup_pricing": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   CAST(sum(CAST(cast(l_extendedprice as decimal(18,2)) * 100 AS BIGINT))
                        AS BIGINT) AS sum_value_fp2
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "cube_order_stats": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   CAST(sum(CAST(cast(o_totalprice as decimal(18,2)) * 100 AS BIGINT))
                        AS BIGINT) AS sum_value_fp2
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "distinct_users": "SELECT count(DISTINCT user_id) AS n_distinct FROM events",
        # HLL sketches differ across engines, so the hashed value is the
        # tolerance VERDICT: Spark computes |approx-exact| <= 5%*exact
        # against its own sketch; the oracle pins exact_count and asserts
        # the verdict TRUE. A broken sketch (or a >2.5σ miss) fails the
        # value hash.
        "approx_distinct_users": """
            SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_count,
                   TRUE AS within_5pct
            FROM events
        """,
        "setops_user_segments": """
            WITH purchase AS (SELECT DISTINCT user_id FROM events WHERE event_type='purchase'),
                 signup   AS (SELECT DISTINCT user_id FROM events WHERE event_type='signup'),
                 err      AS (SELECT DISTINCT user_id FROM events WHERE event_type='error'),
                 both_ AS (SELECT user_id FROM purchase INTERSECT SELECT user_id FROM signup)
            SELECT user_id, 'clean' AS segment FROM both_
            WHERE user_id NOT IN (SELECT user_id FROM err)
            UNION ALL
            SELECT user_id, 'flagged' AS segment FROM both_
            WHERE user_id IN (SELECT user_id FROM err)
        """,
        "q3_shipping_priority": """
            SELECT o_orderkey, epoch_us(o_orderdate) AS odate_us, o_orderpriority,
                   CAST(sum(CAST(cast(cast(l_extendedprice as decimal(18,2))
                        * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                        as decimal(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS revenue_fp4
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate  > TIMESTAMP '1996-01-01 00:00:00'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue_fp4 DESC, o_orderkey ASC
            LIMIT 10
        """,
        "q5_local_supplier_volume": """
            SELECT n_name,
                   CAST(sum(CAST(cast(cast(l_extendedprice as decimal(18,2))
                        * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                        as decimal(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS revenue_fp4
            FROM customer
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
            ORDER BY revenue_fp4 DESC, n_name ASC
        """,
        # Correlated-subquery family: the SQL text is intentionally the
        # SAME correlated form Spark runs — each engine decorrelates
        # independently, so the check covers the rewrite, not just the
        # arithmetic. Threshold math is division-free decimal (exact).
        "q17_small_quantity_revenue": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
                   CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS revenue_fp2
            FROM lineitem l
            WHERE CAST(l.l_quantity AS DECIMAL(18,6)) * 5 *
                    (SELECT COUNT(*) FROM lineitem l2
                     WHERE l2.l_partkey = l.l_partkey)
                < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,6)))
                   FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)
        """,
        "q4_priority_exists": """
            SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
            GROUP BY o.o_orderpriority
        """,
        "q2_min_acctbal_supplier": """
            SELECT n.n_name, s.s_name, s.s_suppkey,
                   CAST(ROUND(s.s_acctbal * 100) AS BIGINT) AS acctbal_fp2
            FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE s.s_acctbal = (SELECT MIN(s2.s_acctbal) FROM supplier s2
                                 WHERE s2.s_nationkey = s.s_nationkey)
        """,
        # Range joins: the oracle is the naive theta join — the banded
        # bin-cover join must produce the identical relation.
        "range_join_price_bands": """
            SELECT b.band, CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(cast(o_totalprice as decimal(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS total_fp2
            FROM orders o
            JOIN (VALUES ('budget', 0.0, 50000.0),
                         ('mid', 50000.0, 150000.0),
                         ('high', 150000.0, 300000.0),
                         ('premium', 300000.0, 600000.0)) b(band, lo, hi)
              ON o.o_totalprice >= b.lo AND o.o_totalprice <= b.hi
            GROUP BY b.band
        """,
        "range_join_event_windows": """
            SELECT p.event_id AS purchase_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   min(epoch_us(e.ts)) AS first_us,
                   max(epoch_us(e.ts)) AS last_us
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            JOIN events e
              ON e.user_id = p.user_id
             AND e.ts >= p.ts - INTERVAL 12 HOUR
             AND e.ts <= p.ts + INTERVAL 12 HOUR
            GROUP BY p.event_id
        """,
        "failed_record_routing": """
            SELECT event_id, user_id, event_type
            FROM events WHERE event_id % 97 = 0
        """,
        "flatten_nested_props": """
            SELECT event_id, json_extract(props, '$.k')::INT AS props__k
            FROM events
        """,
        "asof_join_latest_order": """
            -- explicit ranked form rather than native ASOF JOIN: ties on
            -- o_orderdate must resolve deterministically (max o_orderkey)
            WITH ranked AS (
              SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
                     o.o_orderkey, o.o_totalprice,
                     row_number() OVER (
                         PARTITION BY e.event_id
                         ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
              FROM events e
              LEFT JOIN orders o
                ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
            SELECT event_id, user_id, ts_us, o_orderkey, o_totalprice
            FROM ranked WHERE rn = 1
        """,
        "session_stats": """
            WITH flagged AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                               > 30 * 60 * 1000000
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
            sessions AS (
              SELECT user_id, event_id, ts, value,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS session_id
              FROM flagged)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   count(*) AS n_events,
                   epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
                   CAST(sum(CAST(cast(value as decimal(18,2)) * 100 AS BIGINT))
                        AS BIGINT) AS sum_value_fp2
            FROM sessions GROUP BY user_id, session_id
        """,
        "salted_grouped_stats": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(cast(value as decimal(18,2)) * 100 AS BIGINT))
                        AS BIGINT) AS sum_value_fp2,
                   max(epoch_us(ts)) AS last_seen_us
            FROM events GROUP BY event_type
        """,
        "percentile_order_value": """
            SELECT o_orderstatus,
                   round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                   round(quantile_cont(o_totalprice, 0.99), 4) AS p99
            FROM orders GROUP BY o_orderstatus
        """,
        "hourly_event_buckets": """
            SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
                   count(*) AS n,
                   CAST(sum(CAST(cast(value as decimal(18,2)) * 100 AS BIGINT))
                        AS BIGINT) AS sum_value_fp2
            FROM events GROUP BY 1, 2
        """,
        "rank_orders": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, rnk
            FROM (SELECT *, rank() OVER (
                      PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk
                  FROM orders)
            WHERE rnk <= 3
        """,
        "running_user_spend": """
            SELECT user_id, event_id,
                   CAST(sum(CAST(cast(value as decimal(18,2)) * 100 AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS running_value_fp2
            FROM events
        """,
        "exact_dedup_docs": """
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM (SELECT doc_id,
                         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS d
                  FROM documents)
            GROUP BY d
        """,
        # ANN top-k oracles: each Spark query STAGES its (deterministic)
        # candidate-id set, then returns an exact cosine re-rank over the
        # staged ids — so the twin re-ranks the SAME staged set in SQL and
        # rows+schema+values all hash-match. Candidate QUALITY (recall) is
        # additionally checked by embedding_ann_recall below.
        "embedding_ann_lsh": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id = 0),
            cand AS (SELECT vec_id
                     FROM read_parquet('{_STAGE}/ann_lsh_cands.parquet/*.parquet'))
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                         e.embedding::DOUBLE[], (SELECT v FROM q)), 6) AS cosine
            FROM embeddings e JOIN cand USING (vec_id)
            ORDER BY cosine DESC, e.vec_id ASC
            LIMIT 20
        """,
        "embedding_ann_ivf": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id = 0),
            cand AS (SELECT vec_id
                     FROM read_parquet('{_STAGE}/ann_ivf_cands.parquet/*.parquet'))
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                         e.embedding::DOUBLE[], (SELECT v FROM q)), 6) AS cosine
            FROM embeddings e JOIN cand USING (vec_id)
            ORDER BY cosine DESC, e.vec_id ASC
            LIMIT 20
        """,
        "embedding_ann_ivf_persisted": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id = 0),
            probes AS (SELECT cluster
                       FROM read_parquet('{_STAGE}/ivf_probes.parquet/*.parquet')),
            cand AS (SELECT vec_id
                     FROM read_parquet('{_STAGE}/ivf_index.parquet/*/*.parquet',
                                       hive_partitioning = true)
                     WHERE __cluster IN (SELECT cluster FROM probes))
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                         e.embedding::DOUBLE[], (SELECT v FROM q)), 6) AS cosine
            FROM embeddings e JOIN cand USING (vec_id)
            ORDER BY cosine DESC, e.vec_id ASC
            LIMIT 20
        """,
        "embedding_ann_ivf_appended": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id = 0),
            probes AS (SELECT cluster
                       FROM read_parquet('{_STAGE}/ivf_appended_probes.parquet/*.parquet')),
            cand AS (SELECT vec_id
                     FROM read_parquet('{_STAGE}/ivf_index_appended.parquet/*/*.parquet',
                                       hive_partitioning = true)
                     WHERE __cluster IN (SELECT cluster FROM probes))
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                         e.embedding::DOUBLE[], (SELECT v FROM q)), 6) AS cosine
            FROM embeddings e JOIN cand USING (vec_id)
            ORDER BY cosine DESC, e.vec_id ASC
            LIMIT 20
        """,
        # PQ/ADC: pure integer arithmetic over the staged codes + LUT —
        # generate_subscripts/unnest zip positionally in DuckDB, giving
        # the same (sub, code) pairs Spark's posexplode produces
        "embedding_ann_opq": f"""
            WITH expl AS (
              SELECT vec_id,
                     generate_subscripts(codes, 1) - 1 AS sub,
                     unnest(codes) AS code
              FROM read_parquet('{_STAGE}/opq_codes.parquet/*.parquet')
            )
            SELECT e.vec_id,
                   CAST(SUM(l.score_fp) AS BIGINT) AS adc_score
            FROM expl e
            JOIN read_parquet('{_STAGE}/opq_lut.parquet/*.parquet') l
              USING (sub, code)
            GROUP BY e.vec_id
            ORDER BY adc_score DESC, e.vec_id ASC
            LIMIT 20
        """,
        "embedding_ann_pq": f"""
            WITH expl AS (
              SELECT vec_id,
                     generate_subscripts(codes, 1) - 1 AS sub,
                     unnest(codes) AS code
              FROM read_parquet('{_STAGE}/pq_codes.parquet/*.parquet')
            )
            SELECT e.vec_id,
                   CAST(SUM(l.score_fp) AS BIGINT) AS adc_score
            FROM expl e
            JOIN read_parquet('{_STAGE}/pq_lut.parquet/*.parquet') l
              USING (sub, code)
            GROUP BY e.vec_id
            ORDER BY adc_score DESC, e.vec_id ASC
            LIMIT 20
        """,
        # full IVF-PQ (residual encoding): the oracle re-derives probe
        # pruning, the integer residual-ADC ranking (per-list offset +
        # LUT sum), and the exact re-rank — all three serving stages
        "embedding_ann_ivfpq": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id = 0),
            probes AS (SELECT cluster
                       FROM read_parquet('{_STAGE}/pq_ivf_probes.parquet/*.parquet')),
            codes AS (SELECT vec_id, codes, __cluster
                      FROM read_parquet('{_STAGE}/pq_ivf_codes.parquet/*/*.parquet',
                                        hive_partitioning = true)
                      WHERE __cluster IN (SELECT cluster FROM probes)),
            expl AS (SELECT vec_id, __cluster,
                            generate_subscripts(codes, 1) - 1 AS sub,
                            unnest(codes) AS code
                     FROM codes),
            adc AS (SELECT e.vec_id, SUM(l.score_fp) + MAX(o.offset_fp) AS s
                    FROM expl e
                    JOIN read_parquet('{_STAGE}/pq_ivf_lut.parquet/*.parquet') l
                      USING (sub, code)
                    JOIN read_parquet('{_STAGE}/pq_ivf_offsets.parquet/*.parquet') o
                      ON o.cluster = e.__cluster
                    GROUP BY e.vec_id
                    ORDER BY s DESC, e.vec_id ASC
                    LIMIT 100)
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                         e.embedding::DOUBLE[], (SELECT v FROM q)), 6) AS cosine
            FROM embeddings e JOIN adc USING (vec_id)
            ORDER BY cosine DESC, e.vec_id ASC
            LIMIT 20
        """,
        # sampling family: md5 emits identical lowercase hex in both
        # engines, so hash-membership sampling is value-checkable verbatim
        "minhash_neardup": f"""
            WITH {_MINHASH_VERIFIED_CTE.strip()}
            SELECT id_a, id_b, jaccard FROM verified
        """,
        # same staged signatures + banding, verify floor at 0.5 (the
        # CTE's literal 0.8 swapped — signatures are threshold-free)
        "neardup_threshold_sensitivity": f"""
            WITH {_MINHASH_VERIFIED_CTE.strip().replace("0.8", "0.5")},
            bins AS (
              SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n_pairs
              FROM verified GROUP BY floor(jaccard * 20))
            SELECT bin, n_pairs,
                   CAST(SUM(n_pairs) OVER (ORDER BY bin DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS n_pairs_ge
            FROM bins
        """,
        "cross_source_dup_matrix": f"""
            WITH {_MINHASH_VERIFIED_CTE.strip()},
            lab AS (
              SELECT least(da.source, db.source) AS src_a,
                     greatest(da.source, db.source) AS src_b
              FROM verified v
              JOIN documents da ON da.doc_id = v.id_a
              JOIN documents db ON db.doc_id = v.id_b)
            SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
            FROM lab GROUP BY src_a, src_b
        """,
        "simhash_neardup": f"""
            WITH sigs AS (SELECT doc, sig
                          FROM read_parquet('{_STAGE}/simhash_sigs.parquet/*.parquet')),
            cand AS (
              SELECT a.doc AS id_a, b.doc AS id_b,
                     bit_count(xor(a.sig, b.sig)) AS hamming
              FROM sigs a JOIN sigs b ON a.doc < b.doc
              -- arithmetic-vs-logical shift is irrelevant under the
              -- low-16-bit mask, so this equals Spark's
              -- shiftrightunsigned chunking
              WHERE ((a.sig >>  0) & 65535) = ((b.sig >>  0) & 65535)
                 OR ((a.sig >> 16) & 65535) = ((b.sig >> 16) & 65535)
                 OR ((a.sig >> 32) & 65535) = ((b.sig >> 32) & 65535)
                 OR ((a.sig >> 48) & 65535) = ((b.sig >> 48) & 65535))
            SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
        """,
        "embedding_ann_recall": f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id = 0),
            exact AS (
              SELECT vec_id FROM embeddings
              ORDER BY round(list_cosine_similarity(
                            embedding::DOUBLE[], (SELECT v FROM q)), 6) DESC,
                       vec_id ASC
              LIMIT 20),
            lsh AS (SELECT vec_id
                    FROM read_parquet('{_STAGE}/ann_lsh_topk.parquet/*.parquet')),
            ivf AS (SELECT vec_id
                    FROM read_parquet('{_STAGE}/ann_ivf_topk.parquet/*.parquet'))
            SELECT 'lsh' AS algo, 20 AS k,
                   CAST(count(*) AS BIGINT) AS n_hits
            FROM lsh JOIN exact USING (vec_id)
            UNION ALL
            SELECT 'ivf', 20, CAST(count(*) AS BIGINT)
            FROM ivf JOIN exact USING (vec_id)
            UNION ALL
            SELECT 'ivfpq', 20, CAST(count(*) AS BIGINT)
            FROM read_parquet('{_STAGE}/ann_ivfpq_topk.parquet/*.parquet')
            JOIN exact USING (vec_id)
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE
            {_MINHASH_VERIFIED_CTE.strip()},
            edges AS (SELECT id_a AS src, id_b AS dst FROM verified
                      UNION SELECT id_b, id_a FROM verified),
            walk AS (
              SELECT src AS start, src AS reach FROM edges
              UNION
              SELECT wk.start, e.dst FROM walk wk JOIN edges e ON wk.reach = e.src)
            SELECT start AS doc_id, min(reach) AS cluster_id
            FROM walk GROUP BY start
        """,
        # same ground truth, second algorithm: the star-contraction CC
        # must land on the identical component labeling
        "dedup_clusters_star": f"""
            WITH RECURSIVE
            {_MINHASH_VERIFIED_CTE.strip()},
            edges AS (SELECT id_a AS src, id_b AS dst FROM verified
                      UNION SELECT id_b, id_a FROM verified),
            walk AS (
              SELECT src AS start, src AS reach FROM edges
              UNION
              SELECT wk.start, e.dst FROM walk wk JOIN edges e ON wk.reach = e.src)
            SELECT start AS doc_id, min(reach) AS cluster_id
            FROM walk GROUP BY start
        """,
        "label_centroids": """
            SELECT label, i - 1 AS dim,
                   round(avg((embedding::DOUBLE[])[i]), 6) AS c
            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
            GROUP BY label, i
        """,
        "event_funnel": """
            WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
                        WHERE event_type = 'signup' GROUP BY user_id),
            s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                   JOIN s0 ON e.user_id = s0.user_id AND e.ts >= s0.t
                   WHERE e.event_type = 'view' GROUP BY e.user_id),
            s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                   JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
                   WHERE e.event_type = 'click' GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                   JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
                   WHERE e.event_type = 'purchase' GROUP BY e.user_id)
            SELECT 0 AS step_idx, 'signup' AS step, count(*) AS n_users FROM s0
            UNION ALL SELECT 1, 'view', count(*) FROM s1
            UNION ALL SELECT 2, 'click', count(*) FROM s2
            UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        """,
        "rollup_refresh_orders": """
            WITH v2 AS (
              SELECT CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1
                          ELSE o_custkey END AS o_custkey,
                     CASE WHEN o_orderkey % 7 = 0 THEN val + 100
                          ELSE val END AS val
              FROM (SELECT o_orderkey, o_custkey,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                AS BIGINT) AS val
                    FROM orders)
              WHERE o_orderkey % 10 <> 0)
            SELECT o_custkey,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(val) AS BIGINT) AS sum_value,
                   MIN(val) AS min_value,
                   MAX(val) AS max_value
            FROM v2 GROUP BY o_custkey
        """,
        "event_funnel_any_chain": """
            WITH q0 AS (SELECT user_id, ts FROM events
                        WHERE event_type = 'signup'),
            q1 AS (SELECT e.user_id, e.ts FROM events e
                   WHERE e.event_type = 'view' AND EXISTS (
                     SELECT 1 FROM q0 WHERE q0.user_id = e.user_id
                       AND q0.ts <= e.ts
                       AND e.ts <= q0.ts + INTERVAL 21600 SECOND)),
            q2 AS (SELECT e.user_id, e.ts FROM events e
                   WHERE e.event_type = 'click' AND EXISTS (
                     SELECT 1 FROM q1 WHERE q1.user_id = e.user_id
                       AND q1.ts <= e.ts
                       AND e.ts <= q1.ts + INTERVAL 21600 SECOND)),
            q3 AS (SELECT e.user_id, e.ts FROM events e
                   WHERE e.event_type = 'purchase' AND EXISTS (
                     SELECT 1 FROM q2 WHERE q2.user_id = e.user_id
                       AND q2.ts <= e.ts
                       AND e.ts <= q2.ts + INTERVAL 21600 SECOND))
            SELECT 0 AS step_idx, 'signup' AS step,
                   count(DISTINCT user_id) AS n_users FROM q0
            UNION ALL SELECT 1, 'view', count(DISTINCT user_id) FROM q1
            UNION ALL SELECT 2, 'click', count(DISTINCT user_id) FROM q2
            UNION ALL SELECT 3, 'purchase', count(DISTINCT user_id) FROM q3
        """,
        "key_skew_events": """
            WITH c AS (
              SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
              FROM events GROUP BY user_id),
            t AS (SELECT sum(n) AS tot FROM c)
            SELECT key, n, CAST((n * 10000) // tot AS BIGINT) AS share_bp
            FROM c, t
            ORDER BY n DESC, key ASC
            LIMIT 20
        """,
        "purchase_attribution": """
            WITH p AS (SELECT event_id AS purchase_id, user_id, ts,
                              epoch_us(ts) AS purchase_us
                       FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id, ts, event_id AS click_id,
                         epoch_us(ts) AS click_us
                  FROM events WHERE event_type = 'click')
            SELECT purchase_id, user_id, click_id, gap_us FROM (
              SELECT p.purchase_id, p.user_id, c.click_id,
                     p.purchase_us - c.click_us AS gap_us,
                     row_number() OVER (
                       PARTITION BY p.purchase_id
                       ORDER BY c.ts DESC, c.click_id DESC) AS rn
              FROM p LEFT JOIN c
                ON p.user_id = c.user_id AND c.ts <= p.ts)
            WHERE rn = 1
        """,
        "event_transition_matrix": """
            WITH t AS (
              SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                         AS from_type,
                     event_type AS to_type
              FROM events)
            SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
            FROM t WHERE from_type IS NOT NULL
            GROUP BY from_type, to_type
        """,
        "conversion_latency_histogram": """
            WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
                        WHERE event_type = 'signup' GROUP BY user_id),
            conv AS (
              SELECT e.user_id,
                     min(epoch_us(e.ts) - epoch_us(s0.t0)) AS gap_us
              FROM events e JOIN s0 ON e.user_id = s0.user_id
                                   AND e.ts >= s0.t0
              WHERE e.event_type = 'purchase'
              GROUP BY e.user_id)
            SELECT CAST(gap_us // 3600000000 AS BIGINT) AS hours_bin,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM conv GROUP BY gap_us // 3600000000
        """,
        "event_funnel_windowed": """
            WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
                        WHERE event_type = 'signup' GROUP BY user_id),
            s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                   JOIN s0 ON e.user_id = s0.user_id AND e.ts >= s0.t
                          AND e.ts <= s0.t + INTERVAL 21600 SECOND
                   WHERE e.event_type = 'view' GROUP BY e.user_id),
            s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                   JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
                          AND e.ts <= s1.t + INTERVAL 21600 SECOND
                   WHERE e.event_type = 'click' GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                   JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
                          AND e.ts <= s2.t + INTERVAL 21600 SECOND
                   WHERE e.event_type = 'purchase' GROUP BY e.user_id)
            SELECT 0 AS step_idx, 'signup' AS step, count(*) AS n_users FROM s0
            UNION ALL SELECT 1, 'view', count(*) FROM s1
            UNION ALL SELECT 2, 'click', count(*) FROM s2
            UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        """,
        "repetition_stats": """
            WITH w AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                  ' ') AS w
              FROM documents),
            g AS (
              SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS g
              FROM w, UNNEST(range(1, greatest(len(w) - 1, 1) + 1)) AS t(i)),
            c AS (SELECT doc_id, g, count(*) AS n FROM g GROUP BY doc_id, g),
            top AS (SELECT doc_id,
                           round(max(n)::DOUBLE / sum(n), 6) AS top_bigram_frac
                    FROM c GROUP BY doc_id),
            dup AS (SELECT doc_id,
                           round(1.0 - len(list_distinct(w))::DOUBLE / len(w), 6)
                               AS dup_word_frac
                    FROM w)
            SELECT dup.doc_id AS doc_id, dup_word_frac, top_bigram_frac
            FROM dup JOIN top USING (doc_id)
        """,
        "user_path_similarity": """
            WITH seq AS (
              SELECT user_id AS k,
                     string_agg(substr(event_type, 1, 1), ''
                                ORDER BY ts, event_id) AS seq
              FROM events GROUP BY user_id),
            g AS (
              SELECT DISTINCT k, substr(seq, i, 4) AS g
              FROM seq,
                   UNNEST(range(1, greatest(length(seq) - 3, 1) + 1)) t(i)),
            sizes AS (SELECT k, count(*) AS sz FROM g GROUP BY k),
            seeds AS (SELECT k AS seed, sz AS seed_sz FROM sizes
                      ORDER BY k LIMIT 3),
            inter AS (
              SELECT s.seed, g2.k, count(*) AS n_shared
              FROM g g1
              JOIN seeds s ON g1.k = s.seed
              JOIN g g2 ON g2.g = g1.g AND g2.k <> s.seed
              GROUP BY s.seed, g2.k),
            scored AS (
              SELECT seed, k,
                     CAST(n_shared AS BIGINT) AS n_shared,
                     CAST((n_shared * 1000000)
                          // (seed_sz + sz - n_shared) AS BIGINT)
                         AS score_ppm
              FROM inter JOIN seeds USING (seed) JOIN sizes USING (k))
            SELECT seed, k AS user_id, CAST(rank AS INT) AS rank,
                   n_shared, score_ppm
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY seed
                      ORDER BY score_ppm DESC, k) AS rank
                  FROM scored)
            WHERE rank <= 10
            ORDER BY seed, rank
        """,
        "batch_padding_report": """
            WITH lens AS (
              SELECT doc_id AS id,
                     CAST(len(string_split(trim(regexp_replace(lower(text),
                         '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS len
              FROM documents),
            ranked AS (
              SELECT 'arrival' AS strategy,
                     (row_number() OVER (ORDER BY id) - 1) // 32 AS batch,
                     len
              FROM lens
              UNION ALL
              SELECT 'length_sorted',
                     (row_number() OVER (ORDER BY len DESC, id) - 1) // 32,
                     len
              FROM lens),
            per_batch AS (
              SELECT strategy, batch, count(*) AS n, max(len) AS mx,
                     sum(len) AS s
              FROM ranked GROUP BY strategy, batch),
            agg AS (
              SELECT strategy,
                     count(*) AS n_batches,
                     CAST(sum(s) AS BIGINT) AS real_tokens,
                     CAST(sum(n * mx) AS BIGINT) AS padded_slots
              FROM per_batch GROUP BY strategy)
            SELECT strategy, n_batches, real_tokens, padded_slots,
                   CAST((padded_slots - real_tokens) * 1000000
                        // padded_slots AS BIGINT) AS waste_ppm
            FROM agg ORDER BY strategy
        """,
        "token_waterfill_sources": """
            WITH caps AS (
              SELECT source,
                     CAST(sum(len(string_split(trim(regexp_replace(lower(text),
                         '\\s+', ' ', 'g')), ' '))) AS BIGINT) AS cap
              FROM documents GROUP BY source),
            tot AS (
              SELECT count(*) AS nsrc,
                     CAST(sum(cap) * 500000 // 1000000 AS BIGINT) AS budget
              FROM caps),
            r AS (
              SELECT source, cap,
                     row_number() OVER (ORDER BY cap, source) AS rk,
                     CAST(coalesce(sum(cap) OVER (ORDER BY cap, source
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS below
              FROM caps),
            s AS (SELECT r.*, t.nsrc - r.rk + 1 AS nabove, t.budget
                  FROM r, tot t),
            lvl AS (
              SELECT CAST((budget - below) // nabove AS BIGINT) AS level
              FROM s WHERE below + cap * nabove >= budget
              ORDER BY rk LIMIT 1)
            SELECT source, cap,
                   CAST(least(cap, coalesce(level, cap)) AS BIGINT)
                       AS allocated,
                   CAST(least(cap, coalesce(level, cap)) * 1000000 // cap
                        AS BIGINT) AS take_rate_ppm
            FROM s, lvl
            ORDER BY source
        """,
        "audio_fingerprint_neardup": """
            WITH s AS (
              SELECT d.doc_id, t.j,
                     CASE WHEN t.j = (d.doc_id % 8) * 16 + 3 THEN 32000
                          ELSE (((64 + ((d.doc_id // 8) * 209 + 11) % 124)
                                 * (t.j + 1)
                                 + ((d.doc_id // 8) * 59 + 29) % 2003)
                                % 2003) - 1001 END AS v
              FROM documents d, range(1024) t(j)),
            e AS (
              SELECT doc_id, j // 16 AS w, sum(abs(v)) AS energy
              FROM s GROUP BY doc_id, j // 16),
            bits AS (
              SELECT a.doc_id,
                     bit_or(CASE WHEN a.energy > b.energy
                            THEN 1::BIGINT << CAST(a.w AS INT)
                            ELSE 0::BIGINT END) AS h
              FROM e a JOIN e b
                ON a.doc_id = b.doc_id AND b.w = a.w + 1
              WHERE a.w <= 62
              GROUP BY a.doc_id),
            bands AS (
              SELECT doc_id, h, t.b, (h >> (16 * t.b)) & 65535 AS bv
              FROM bits, range(4) t(b)),
            cand AS (
              SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                              x.h AS ha, y.h AS hb
              FROM bands x JOIN bands y
                ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
            FROM cand
            WHERE bit_count(xor(ha, hb)) <= 6
            ORDER BY doc_a, doc_b
        """,
        "image_dhash_neardup": """
            WITH px AS (
              SELECT d.doc_id, t.i,
                     (((64 + ((d.doc_id // 8) * 73 + 37) % 124) * (t.i + 1)
                       + ((d.doc_id // 8) * 131 + 17) % 251) % 251
                      + CASE WHEN t.i = d.doc_id % 8 THEN 100 ELSE 0 END)
                     % 251 AS v
              FROM documents d, range(256) t(i)),
            bits AS (
              SELECT a.doc_id,
                     bit_or(CASE WHEN a.v > b.v
                            THEN 1::BIGINT << ((a.i // 16) * 9 + (a.i % 16))
                            ELSE 0::BIGINT END) AS h
              FROM px a JOIN px b
                ON a.doc_id = b.doc_id AND b.i = a.i + 1
              WHERE a.i % 16 <= 8 AND a.i // 16 <= 6
              GROUP BY a.doc_id),
            bands AS (
              SELECT doc_id, h, t.b, (h >> (16 * t.b)) & 65535 AS bv
              FROM bits, range(4) t(b)),
            cand AS (
              SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                              x.h AS ha, y.h AS hb
              FROM bands x JOIN bands y
                ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
            FROM cand
            WHERE bit_count(xor(ha, hb)) <= 6
            ORDER BY doc_a, doc_b
        """,
        "ccnet_perplexity_buckets": f"""
            WITH wds AS (
              SELECT doc_id AS doc,
                     unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                         ' ')) AS word
              FROM documents),
            m AS (SELECT word, token, k
                  FROM read_parquet('{_STAGE}/unigram_word_tokens.parquet/*.parquet')),
            p AS (SELECT piece AS token, cost_fp
                  FROM read_parquet('{_STAGE}/unigram_pieces.parquet/*.parquet')),
            per_word AS (
              SELECT m.word,
                     CAST(sum(m.k) AS BIGINT) AS toks,
                     CAST(sum(m.k * p.cost_fp) AS BIGINT) AS cost
              FROM m JOIN p USING (token)
              GROUP BY m.word),
            scores AS (
              SELECT doc AS doc_id,
                     CAST(sum(cost) // sum(toks) AS BIGINT) AS xent_fp
              FROM wds JOIN per_word USING (word)
              WHERE word <> ''
              GROUP BY doc),
            bk AS (
              SELECT doc_id,
                     CASE ntile(3) OVER (ORDER BY xent_fp, doc_id)
                          WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                          ELSE 'tail' END AS bucket
              FROM scores)
            SELECT d.source, bk.bucket, count(*) AS n_docs
            FROM bk JOIN documents d USING (doc_id)
            GROUP BY d.source, bk.bucket
            ORDER BY d.source, bk.bucket
        """,
        "c4_line_filters_docs": """
            WITH t AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+',
                         ' ', 'g')), ' ') AS w
              FROM documents),
            ml AS (
              SELECT doc_id,
                list_transform(range(0, (len(w) - 1) // 6 + 1),
                  i ->
                    (CASE WHEN (doc_id * 31 + i) % 7 = 0
                          THEN 'javascript ' ELSE '' END)
                    || array_to_string(list_slice(w, i * 6 + 1, i * 6 + 6), ' ')
                    || (CASE WHEN (doc_id * 31 + i) % 4 <> 0
                             THEN '.' ELSE '' END)
                    || (CASE WHEN doc_id % 29 = 0 AND i = 0
                             THEN ' lorem ipsum.' ELSE '' END)
                ) AS lines
              FROM t),
            f AS (
              SELECT doc_id,
                     len(lines) AS n_lines_in,
                     list_filter(lines, l ->
                         regexp_matches(l, '[.!?"]\\s*$')
                         AND len(string_split(trim(l), ' ')) >= 5
                         AND NOT contains(lower(l), 'javascript')) AS kept,
                     (contains(lower(array_to_string(lines, chr(10))),
                               'lorem ipsum')
                      OR contains(array_to_string(lines, chr(10)), '{'))
                         AS poisoned
              FROM ml)
            SELECT doc_id,
                   array_to_string(kept, chr(10)) AS text,
                   CAST(n_lines_in AS BIGINT) AS n_lines_in,
                   CAST(len(kept) AS BIGINT) AS n_lines_kept
            FROM f
            WHERE NOT poisoned AND len(kept) >= 3
            ORDER BY doc_id
        """,
        "corpus_line_dedup_docs": """
            WITH l AS (
              SELECT doc_id, i AS pos,
                     CASE WHEN (doc_id + i) % 6 = 0 THEN ''
                          ELSE 'line '
                               || CAST((doc_id * 7 + i * 13) % 40 AS VARCHAR)
                               || ' alpha beta.' END AS line
              FROM documents,
                   UNNEST(range(0, CAST(doc_id % 5 AS INT) + 1)) AS t(i)),
            w AS (
              SELECT *, row_number() OVER (PARTITION BY line
                            ORDER BY doc_id, pos) AS rn
              FROM l)
            SELECT doc_id,
                   string_agg(line, chr(10) ORDER BY pos) AS text,
                   count(*) AS n_lines_kept
            FROM w WHERE trim(line) = '' OR rn = 1
            GROUP BY doc_id ORDER BY doc_id
        """,
        "url_normalize_docs": """
            WITH
            u AS (
              SELECT doc_id, source, n_chars,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                          AS BIGINT) AS h,
                     doc_id % 7 AS k
              FROM documents),
            raw AS (
              SELECT doc_id, source, n_chars,
                (CASE WHEN h % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://'
                || (CASE WHEN h % 11 = 0 THEN 'u:pw@' ELSE '' END)
                || (CASE WHEN h % 3 = 0 THEN 'WWW.' ELSE 'www.' END)
                || source
                || (CASE WHEN source IN ('src0','src1','src2','src3')
                         THEN '.badsite.net' ELSE '.example.com' END)
                || (CASE WHEN h % 13 = 0 THEN ':bad'
                         WHEN h % 4 = 0 THEN ':443' ELSE '' END)
                || '/page/' || CAST(k AS VARCHAR)
                || (CASE WHEN h % 5 = 0 THEN '/' ELSE '' END)
                || (CASE WHEN h % 2 = 0
                         THEN '?utm_source=feed&item=' || CAST(k AS VARCHAR)
                              || '&fbclid=x'
                         ELSE '?item=' || CAST(k AS VARCHAR) END)
                || (CASE WHEN h % 7 = 0 THEN '#sec?x=1' ELSE '' END) AS url
              FROM u),
            n1 AS (
              SELECT *,
                lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
                regexp_extract(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1),
                    '([^@]*)$', 1) AS hostport,
                regexp_replace(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1),
                    '/+$', '') AS path0,
                regexp_extract(regexp_extract(url, '^([^#]*)', 1),
                    '\?(.*)$', 1) AS qraw
              FROM raw),
            n2 AS (
              SELECT *,
                lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
                regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                ((contains(hostport, ':') AND NOT regexp_matches(
                    hostport, '^[^:]*:[0-9]+$'))
                 OR (regexp_extract(hostport, ':([0-9]+)$', 1) <> ''
                     AND COALESCE(TRY_CAST(regexp_extract(hostport,
                         ':([0-9]+)$', 1) AS INTEGER), 1073741824) > 65535)
                ) AS bad_port,
                (regexp_matches(regexp_extract(url,
                     '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1),
                     '[\[\]]')
                 OR regexp_matches(url, '[\t\r\n]')) AS bad_host,
                CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                array_to_string(list_filter(string_split(qraw, '&'),
                    p -> p <> '' AND NOT regexp_matches(p,
                        '^(utm_[A-Za-z]+|gclid|fbclid|ref)(=|$)')), '&') AS qj
              FROM n1),
            n3 AS (
              SELECT *,
                CASE WHEN scheme = '' OR host = '' OR bad_port OR bad_host THEN NULL
                     ELSE scheme || '://' || host
                          || (CASE WHEN port = ''
                                    OR (scheme = 'http' AND port = '80')
                                    OR (scheme = 'https' AND port = '443')
                                   THEN '' ELSE ':' || port END)
                          || path
                          || (CASE WHEN qj = '' THEN '' ELSE '?' || qj END)
                END AS url_norm
              FROM n2),
            n4 AS (
              SELECT *,
                regexp_extract(
                    regexp_extract(url_norm,
                        '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1),
                    '([^.:]+\.[^.:]+)(:[0-9]+)?$', 1) AS domain
              FROM n3)
            SELECT doc_id, url_norm, domain
            FROM n4 ORDER BY doc_id
        """,
        "url_blocklist_sources": """
            WITH
            u AS (
              SELECT doc_id, source, n_chars,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                          AS BIGINT) AS h,
                     doc_id % 7 AS k
              FROM documents),
            raw AS (
              SELECT doc_id, source, n_chars,
                (CASE WHEN h % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://'
                || (CASE WHEN h % 11 = 0 THEN 'u:pw@' ELSE '' END)
                || (CASE WHEN h % 3 = 0 THEN 'WWW.' ELSE 'www.' END)
                || source
                || (CASE WHEN source IN ('src0','src1','src2','src3')
                         THEN '.badsite.net' ELSE '.example.com' END)
                || (CASE WHEN h % 13 = 0 THEN ':bad'
                         WHEN h % 4 = 0 THEN ':443' ELSE '' END)
                || '/page/' || CAST(k AS VARCHAR)
                || (CASE WHEN h % 5 = 0 THEN '/' ELSE '' END)
                || (CASE WHEN h % 2 = 0
                         THEN '?utm_source=feed&item=' || CAST(k AS VARCHAR)
                              || '&fbclid=x'
                         ELSE '?item=' || CAST(k AS VARCHAR) END)
                || (CASE WHEN h % 7 = 0 THEN '#sec?x=1' ELSE '' END) AS url
              FROM u),
            n1 AS (
              SELECT *,
                lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
                regexp_extract(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1),
                    '([^@]*)$', 1) AS hostport,
                regexp_replace(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1),
                    '/+$', '') AS path0,
                regexp_extract(regexp_extract(url, '^([^#]*)', 1),
                    '\?(.*)$', 1) AS qraw
              FROM raw),
            n2 AS (
              SELECT *,
                lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
                regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                ((contains(hostport, ':') AND NOT regexp_matches(
                    hostport, '^[^:]*:[0-9]+$'))
                 OR (regexp_extract(hostport, ':([0-9]+)$', 1) <> ''
                     AND COALESCE(TRY_CAST(regexp_extract(hostport,
                         ':([0-9]+)$', 1) AS INTEGER), 1073741824) > 65535)
                ) AS bad_port,
                (regexp_matches(regexp_extract(url,
                     '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1),
                     '[\[\]]')
                 OR regexp_matches(url, '[\t\r\n]')) AS bad_host,
                CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                array_to_string(list_filter(string_split(qraw, '&'),
                    p -> p <> '' AND NOT regexp_matches(p,
                        '^(utm_[A-Za-z]+|gclid|fbclid|ref)(=|$)')), '&') AS qj
              FROM n1),
            n3 AS (
              SELECT *,
                CASE WHEN scheme = '' OR host = '' OR bad_port OR bad_host THEN NULL
                     ELSE scheme || '://' || host
                          || (CASE WHEN port = ''
                                    OR (scheme = 'http' AND port = '80')
                                    OR (scheme = 'https' AND port = '443')
                                   THEN '' ELSE ':' || port END)
                          || path
                          || (CASE WHEN qj = '' THEN '' ELSE '?' || qj END)
                END AS url_norm
              FROM n2),
            n4 AS (
              SELECT *,
                regexp_extract(
                    regexp_extract(url_norm,
                        '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1),
                    '([^.:]+\.[^.:]+)(:[0-9]+)?$', 1) AS domain
              FROM n3)
            SELECT source, count(*) AS n_kept
            FROM n4
            WHERE domain IS NULL OR domain <> 'badsite.net'
            GROUP BY source ORDER BY source
        """,
        "url_keyed_dedup": """
            WITH
            u AS (
              SELECT doc_id, source, n_chars,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                          AS BIGINT) AS h,
                     doc_id % 7 AS k
              FROM documents),
            raw AS (
              SELECT doc_id, source, n_chars,
                (CASE WHEN h % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://'
                || (CASE WHEN h % 11 = 0 THEN 'u:pw@' ELSE '' END)
                || (CASE WHEN h % 3 = 0 THEN 'WWW.' ELSE 'www.' END)
                || source
                || (CASE WHEN source IN ('src0','src1','src2','src3')
                         THEN '.badsite.net' ELSE '.example.com' END)
                || (CASE WHEN h % 13 = 0 THEN ':bad'
                         WHEN h % 4 = 0 THEN ':443' ELSE '' END)
                || '/page/' || CAST(k AS VARCHAR)
                || (CASE WHEN h % 5 = 0 THEN '/' ELSE '' END)
                || (CASE WHEN h % 2 = 0
                         THEN '?utm_source=feed&item=' || CAST(k AS VARCHAR)
                              || '&fbclid=x'
                         ELSE '?item=' || CAST(k AS VARCHAR) END)
                || (CASE WHEN h % 7 = 0 THEN '#sec?x=1' ELSE '' END) AS url
              FROM u),
            n1 AS (
              SELECT *,
                lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
                regexp_extract(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1),
                    '([^@]*)$', 1) AS hostport,
                regexp_replace(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1),
                    '/+$', '') AS path0,
                regexp_extract(regexp_extract(url, '^([^#]*)', 1),
                    '\?(.*)$', 1) AS qraw
              FROM raw),
            n2 AS (
              SELECT *,
                lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
                regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                ((contains(hostport, ':') AND NOT regexp_matches(
                    hostport, '^[^:]*:[0-9]+$'))
                 OR (regexp_extract(hostport, ':([0-9]+)$', 1) <> ''
                     AND COALESCE(TRY_CAST(regexp_extract(hostport,
                         ':([0-9]+)$', 1) AS INTEGER), 1073741824) > 65535)
                ) AS bad_port,
                (regexp_matches(regexp_extract(url,
                     '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1),
                     '[\[\]]')
                 OR regexp_matches(url, '[\t\r\n]')) AS bad_host,
                CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                array_to_string(list_filter(string_split(qraw, '&'),
                    p -> p <> '' AND NOT regexp_matches(p,
                        '^(utm_[A-Za-z]+|gclid|fbclid|ref)(=|$)')), '&') AS qj
              FROM n1),
            n3 AS (
              SELECT *,
                CASE WHEN scheme = '' OR host = '' OR bad_port OR bad_host THEN NULL
                     ELSE scheme || '://' || host
                          || (CASE WHEN port = ''
                                    OR (scheme = 'http' AND port = '80')
                                    OR (scheme = 'https' AND port = '443')
                                   THEN '' ELSE ':' || port END)
                          || path
                          || (CASE WHEN qj = '' THEN '' ELSE '?' || qj END)
                END AS url_norm
              FROM n2),
            n4 AS (
              SELECT *,
                regexp_extract(
                    regexp_extract(url_norm,
                        '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1),
                    '([^.:]+\.[^.:]+)(:[0-9]+)?$', 1) AS domain
              FROM n3)
            , ranked AS (
              SELECT doc_id, url_norm, n_chars,
                     row_number() OVER (
                         PARTITION BY coalesce(url_norm,
                             '__id__' || CAST(doc_id AS VARCHAR))
                         ORDER BY n_chars DESC, doc_id ASC) AS rn
              FROM n4)
            SELECT doc_id, url_norm, CAST(n_chars AS BIGINT) AS n_chars
            FROM ranked WHERE rn = 1 ORDER BY doc_id
        """,
        "langid_chargram_confusion": f"""
            WITH base AS (
              SELECT doc_id, lang,
                     trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
              FROM documents),
            corpus AS (
              SELECT doc_id, lang,
                CASE lang
                  WHEN 'zh' THEN array_to_string(list_transform(
                    string_split(norm, ' '),
                    x -> substr('{_CJK160}',
                        CAST(('0x' || substr(md5(x), 1, 4)) AS BIGINT) % 160 + 1,
                        1)), '')
                  WHEN 'es' THEN array_to_string(list_transform(
                    string_split(norm, ' '), x -> x || 'acion'), ' ')
                  WHEN 'de' THEN array_to_string(list_transform(
                    string_split(norm, ' '), x -> x || 'ung'), ' ')
                  WHEN 'fr' THEN array_to_string(list_transform(
                    string_split(norm, ' '), x -> x || 'eur'), ' ')
                  ELSE norm END AS mtext
              FROM base),
            s AS (SELECT doc_id, lang,
                         '_' || replace(mtext, ' ', '_') || '_' AS s
                  FROM corpus),
            dg AS (
              SELECT doc_id, lang, substr(s, i, 3) AS gram
              FROM s, UNNEST(range(1, greatest(length(s) - 2, 1) + 1)) AS t(i)),
            dc AS (SELECT doc_id, lang, gram, count(*) AS cnt
                   FROM dg GROUP BY doc_id, lang, gram),
            dr AS (SELECT doc_id, lang, gram,
                          row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, gram) AS drk
                   FROM dc QUALIFY drk <= 20),
            prof AS (SELECT lang AS plang, gram, rk FROM read_parquet(
                '{_STAGE}/charngram_profiles.parquet/*.parquet')),
            langs AS (SELECT DISTINCT plang FROM prof),
            sc AS (
              SELECT d.doc_id, d.lang AS true_lang, l.plang,
                     sum(coalesce(abs(d.drk - p.rk), 200)) AS dist,
                     count(p.rk) AS n_hits
              FROM dr d CROSS JOIN langs l
              LEFT JOIN prof p ON p.plang = l.plang AND p.gram = d.gram
              GROUP BY d.doc_id, d.lang, l.plang),
            b AS (SELECT doc_id, true_lang, plang AS pred0,
                         row_number() OVER (PARTITION BY doc_id
                             ORDER BY dist, plang) AS rn,
                         max(n_hits) OVER (PARTITION BY doc_id) AS mh
                  FROM sc QUALIFY rn = 1)
            SELECT true_lang,
                   CASE WHEN mh > 0 THEN pred0 ELSE 'und' END AS pred_lang,
                   count(*) AS n_docs
            FROM b GROUP BY true_lang, pred_lang
            ORDER BY true_lang, pred_lang
        """,
        "langid_confusion": """
            WITH t AS (
              SELECT lang AS true_lang,
                     list_distinct(string_split(trim(regexp_replace(lower(text),
                         '\\s+', ' ', 'g')), ' ')) AS dw
              FROM documents),
            h AS (
              SELECT true_lang,
                     len(list_intersect(dw, ['der','die','das','und','ist',
                         'von','mit','ein','zu','auf'])) AS h_de,
                     len(list_intersect(dw, ['the','and','of','to','a','in',
                         'is','it','for','on'])) AS h_en,
                     len(list_intersect(dw, ['el','la','de','que','y','en',
                         'un','es','por','con'])) AS h_es,
                     len(list_intersect(dw, ['le','la','de','et','est','un',
                         'une','dans','pour','que'])) AS h_fr
              FROM t),
            p AS (
              SELECT true_lang,
                     CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                          WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                          WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                          WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                          ELSE 'fr' END AS pred_lang
              FROM h)
            SELECT true_lang, pred_lang, count(*) AS n_docs
            FROM p GROUP BY true_lang, pred_lang
            ORDER BY true_lang, pred_lang
        """,
        "bloom_semijoin_lineitem": """
            SELECT l_returnflag,
                   count(*) AS n_items,
                   CAST(sum(CAST(cast(l_quantity AS decimal(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS sum_qty_fp2
            FROM lineitem
            WHERE l_orderkey IN (
                SELECT o_orderkey FROM orders WHERE o_totalprice > 250000)
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "dp_nation_histogram": """
            WITH c AS (
              SELECT c_nationkey, count(*) AS n
              FROM customer GROUP BY c_nationkey),
            g AS (
              SELECT c_nationkey, n,
                     52 - length(bin(('0x' || substr(
                         md5('dp1|a|' || CAST(c_nationkey AS VARCHAR)),
                         1, 13))::UBIGINT)) AS g1,
                     52 - length(bin(('0x' || substr(
                         md5('dp1|b|' || CAST(c_nationkey AS VARCHAR)),
                         1, 13))::UBIGINT)) AS g2
              FROM c)
            SELECT c_nationkey,
                   CAST(greatest(n + g1 - g2, 0) AS BIGINT) AS dp_count
            FROM g
        """,
        "gopher_repetition_docs": """
            WITH t AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                  ' ') AS w,
                     length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                         AS tot
              FROM documents),
            g AS (
              SELECT doc_id, tot, n,
                     array_to_string(list_slice(w, i, i + n - 1), ' ') AS g
              FROM t,
                   (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS ns(n),
                   UNNEST(range(1, greatest(len(w) - (n - 1), 1) + 1)) AS u(i)),
            c AS (
              SELECT doc_id, n, g, count(*) AS cnt, max(tot) AS tot
              FROM g GROUP BY doc_id, n, g),
            p AS (
              SELECT doc_id, n,
                     max({'c': cnt, 'l': length(g)}) AS top,
                     sum(CASE WHEN cnt >= 2 THEN cnt * length(g) ELSE 0 END)
                         AS dup_chars,
                     max(tot) AS tot
              FROM c GROUP BY doc_id, n),
            q AS (
              SELECT doc_id, n,
                     (1000000 * top.c * top.l) // greatest(tot, 1) AS top_ppm,
                     (1000000 * dup_chars) // greatest(tot, 1) AS dup_ppm
              FROM p),
            piv AS (
              SELECT doc_id,
                     CAST(max(CASE WHEN n = 2 THEN top_ppm END) AS BIGINT) AS top2_char_ppm,
                     CAST(max(CASE WHEN n = 3 THEN top_ppm END) AS BIGINT) AS top3_char_ppm,
                     CAST(max(CASE WHEN n = 4 THEN top_ppm END) AS BIGINT) AS top4_char_ppm,
                     CAST(max(CASE WHEN n = 5 THEN dup_ppm END) AS BIGINT) AS dup5_char_ppm,
                     CAST(max(CASE WHEN n = 6 THEN dup_ppm END) AS BIGINT) AS dup6_char_ppm,
                     CAST(max(CASE WHEN n = 7 THEN dup_ppm END) AS BIGINT) AS dup7_char_ppm,
                     CAST(max(CASE WHEN n = 8 THEN dup_ppm END) AS BIGINT) AS dup8_char_ppm,
                     CAST(max(CASE WHEN n = 9 THEN dup_ppm END) AS BIGINT) AS dup9_char_ppm,
                     CAST(max(CASE WHEN n = 10 THEN dup_ppm END) AS BIGINT) AS dup10_char_ppm
              FROM q GROUP BY doc_id)
            SELECT *,
                   CAST(top2_char_ppm < 200000 AND top3_char_ppm < 180000
                        AND top4_char_ppm < 160000 AND dup5_char_ppm < 150000
                        AND dup6_char_ppm < 140000 AND dup7_char_ppm < 130000
                        AND dup8_char_ppm < 120000 AND dup9_char_ppm < 110000
                        AND dup10_char_ppm < 100000 AS INT)
                       AS passes_repetition
            FROM piv
        """,
        "gopher_quality_rules_docs": """
            WITH t AS (
              SELECT doc_id, text,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                  ' ') AS w
              FROM documents),
            d AS (
              SELECT doc_id,
                     CAST(len(w) AS BIGINT) AS n_words,
                     (100 * list_sum(list_transform(w, x -> length(x))))
                         // greatest(len(w), 1) AS mean_word_chars_x100,
                     CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT)
                         AS n_symbols,
                     CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                          AS BIGINT) AS n_alpha_words,
                     CAST(len(list_intersect(list_distinct(w),
                          ['the','be','to','of','and','that','have','with']))
                          AS BIGINT) AS stopword_hits
              FROM t),
            e AS (
              SELECT doc_id, n_words,
                     CAST(mean_word_chars_x100 AS BIGINT) AS mean_word_chars_x100,
                     stopword_hits,
                     CAST((1000000 * n_symbols) // greatest(n_words, 1) AS BIGINT)
                         AS symbol_word_ppm,
                     CAST((1000000 * n_alpha_words) // greatest(n_words, 1) AS BIGINT)
                         AS alpha_word_ppm
              FROM d)
            SELECT doc_id, n_words, mean_word_chars_x100, symbol_word_ppm,
                   alpha_word_ppm, stopword_hits,
                   CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS r_word_count,
                   CAST(mean_word_chars_x100 >= 300
                        AND mean_word_chars_x100 <= 1000 AS INT) AS r_mean_word_len,
                   CAST(symbol_word_ppm <= 100000 AS INT) AS r_symbol_ratio,
                   CAST(alpha_word_ppm >= 800000 AS INT) AS r_alpha_words,
                   CAST(stopword_hits >= 2 AS INT) AS r_stopwords,
                   CAST(n_words >= 50 AND n_words <= 100000
                        AND mean_word_chars_x100 >= 300
                        AND mean_word_chars_x100 <= 1000
                        AND symbol_word_ppm <= 100000
                        AND alpha_word_ppm >= 800000
                        AND stopword_hits >= 2 AS INT) AS keep
            FROM e
        """,
        "quality_funnel": """
            WITH corpus AS (SELECT * FROM documents WHERE source != 'src19'),
            s1 AS (SELECT * FROM corpus WHERE n_chars >= 150),
            s2 AS (SELECT * FROM s1 WHERE lang IN ('en', 'es')),
            s3 AS (SELECT * FROM s2
                   QUALIFY doc_id = min(doc_id) OVER (
                       PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))),
            evg AS (
              SELECT DISTINCT array_to_string(list_slice(w, i, i + 2), ' ') AS sh
              FROM (SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                        ' ') AS w
                    FROM documents WHERE source = 'src19'),
                   UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)),
            s3g AS (
              SELECT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS sh
              FROM (SELECT doc_id,
                           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                        ' ') AS w
                    FROM s3),
                   UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)),
            bad AS (SELECT DISTINCT doc_id FROM s3g JOIN evg USING (sh)),
            s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM bad))
            SELECT 0 AS stage_idx, 'input' AS stage, count(*) AS n_docs FROM corpus
            UNION ALL SELECT 1, 'min_length', count(*) FROM s1
            UNION ALL SELECT 2, 'lang', count(*) FROM s2
            UNION ALL SELECT 3, 'exact_dedup', count(*) FROM s3
            UNION ALL SELECT 4, 'decontaminated', count(*) FROM s4
        """,
        "benchmark_contamination": """
            WITH w AS (
              SELECT doc_id, source,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                  ' ') AS w
              FROM documents),
            g AS (
              SELECT doc_id, source,
                     array_to_string(list_slice(w, i, i + 2), ' ') AS sh
              FROM w, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i))
            SELECT c.doc_id AS doc_id, count(DISTINCT c.sh) AS n_hits
            FROM (SELECT doc_id, sh FROM g WHERE source != 'src19') c
            JOIN (SELECT DISTINCT sh FROM g WHERE source = 'src19') e USING (sh)
            GROUP BY c.doc_id
        """,
        "sampled_docs": """
            SELECT doc_id, source, lang FROM documents
            WHERE substr(md5('s1' || cast(doc_id AS varchar)), 1, 4) < '1999'
        """,
        "train_eval_split_counts": """
            SELECT CASE WHEN substr(md5('split' || cast(doc_id AS varchar)), 1, 4)
                             < '0ccc'
                        THEN 'eval' ELSE 'train' END AS split,
                   count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
            FROM documents GROUP BY 1
        """,
        "source_mix_sample": """
            SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
            FROM documents
            WHERE substr(md5('mix' || cast(doc_id AS varchar)), 1, 4) <
                  CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '8000'
                              WHEN 'src2' THEN '4000' ELSE '1999' END
            GROUP BY source
        """,
        "token_budget_head": """
            SELECT doc_id, lang, n_chars, cum_tokens FROM (
              SELECT doc_id, lang, n_chars,
                     CAST(sum(n_chars) OVER (
                         PARTITION BY lang
                         ORDER BY n_chars DESC, doc_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS cum_tokens
              FROM documents)
            WHERE cum_tokens <= 10000
        """,
        "pack_sequences": """
            SELECT doc_id, source, n_chars,
                   CAST((cum - n_chars) // 8192 AS BIGINT) AS seq_id,
                   CAST((cum - n_chars) % 8192 AS BIGINT) AS seq_offset
            FROM (
              SELECT doc_id, source, n_chars,
                     CAST(sum(n_chars) OVER (
                         PARTITION BY source
                         ORDER BY substr(md5('pack-v1' || CAST(doc_id AS VARCHAR)), 1, 4) ASC,
                                  doc_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS cum
              FROM documents)
        """,
        "shuffled_head": """
            SELECT doc_id, source,
                   CAST(row_number() OVER (
                       ORDER BY substr(md5('shuffle-v1' || CAST(doc_id AS VARCHAR)), 1, 4) ASC,
                                doc_id ASC) AS INTEGER) AS shuffle_rank
            FROM documents
            ORDER BY substr(md5('shuffle-v1' || CAST(doc_id AS VARCHAR)), 1, 4) ASC,
                     doc_id ASC
            LIMIT 50
        """,
        "token_rarity": """
            WITH t AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(lower(text),
                                '\\s+', ' ', 'g')), ' ')) AS tok
              FROM documents),
            t2 AS (SELECT * FROM t WHERE tok <> ''),
            v AS (SELECT tok, CAST(count(*) AS BIGINT) AS tok_count
                  FROM t2 GROUP BY tok)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(tok_count) AS BIGINT) AS sum_tok_count,
                   min(tok_count) AS min_tok_count,
                   max(tok_count) AS max_tok_count
            FROM t2 JOIN v USING (tok)
            GROUP BY doc_id
        """,
        "hourly_gapfill_locf": """
            WITH b AS (
              SELECT event_type AS k,
                     time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(cast(value as decimal(18,2)) * 100 AS BIGINT))
                          AS BIGINT) AS sum_value_fp2
              FROM events GROUP BY 1, 2),
            span AS (SELECT min(bucket_start) AS lo, max(bucket_start) AS hi FROM b),
            spine AS (
              SELECT k, unnest(generate_series((SELECT lo FROM span),
                                               (SELECT hi FROM span),
                                               INTERVAL 1 HOUR)) AS bucket_start
              FROM (SELECT DISTINCT k FROM b)),
            j AS (
              SELECT s.k, s.bucket_start, coalesce(b.n, 0) AS n, b.sum_value_fp2
              FROM spine s LEFT JOIN b ON s.k = b.k
                   AND s.bucket_start = b.bucket_start)
            SELECT k AS event_type, epoch_us(bucket_start) AS bucket_us, n,
                   last_value(sum_value_fp2 IGNORE NULLS) OVER (
                       PARTITION BY k ORDER BY bucket_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sum_value_fp2
            FROM j
        """,
        "approx_percentile_check": """
            SELECT o_orderstatus,
                   round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
                   TRUE AS within_1pct
            FROM orders GROUP BY o_orderstatus
        """,
        "pivot_event_matrix": """
            SELECT user_id,
                   CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
                   CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view,
                   CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup,
                   CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
                   CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error
            FROM events GROUP BY user_id
        """,
        "unpivot_order_facts": """
            SELECT o_orderkey, 'totalprice' AS metric,
                   CAST(cast(o_totalprice as decimal(18,2)) * 100 AS BIGINT) AS value_fp2
            FROM orders
            UNION ALL
            SELECT o_orderkey, 'order_year',
                   CAST(cast(year(o_orderdate) as decimal(18,2)) * 100 AS BIGINT)
            FROM orders
        """,
        "cdc_merge_customers": """
            WITH changes AS (
              SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                     'UPDATED' AS c_mktsegment, 'U' AS op, 1 AS seq
              FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
              UNION ALL
              SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                     'UPDATED-2', 'U', 2
              FROM customer WHERE c_custkey % 21 = 0 AND c_custkey % 13 <> 0
              UNION ALL
              SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                     c_mktsegment, 'D', 1
              FROM customer WHERE c_custkey % 13 = 0
              UNION ALL
              SELECT c_custkey + 1000000, c_name || '-new', c_nationkey,
                     c_acctbal, c_mktsegment, 'I', 1
              FROM customer WHERE c_custkey % 11 = 0),
            last AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY c_custkey ORDER BY seq DESC, op DESC) AS rn
                FROM changes) WHERE rn = 1)
            SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
                   c.c_mktsegment
            FROM customer c LEFT JOIN last l ON c.c_custkey = l.c_custkey
            WHERE l.c_custkey IS NULL
            UNION ALL
            SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM last WHERE op <> 'D'
        """,
        "scd2_user_state": """
            SELECT user_id, event_type,
                   epoch_us(ts) AS valid_from_us,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ) AS valid_to_us
            FROM events
        """,
        "word_jaccard_pairs": """
            WITH w AS (
              SELECT doc_id, source,
                     list_distinct(list_transform(string_split(
                         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                         x -> hash(x))) AS w
              FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(cast(len(list_intersect(a.w, b.w)) as double)
                         / cast(len(list_distinct(list_concat(a.w, b.w))) as double),
                         6) AS jaccard
            FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
                 AND len(a.w) * 2 >= len(b.w) AND len(b.w) * 2 >= len(a.w)
            WHERE round(cast(len(list_intersect(a.w, b.w)) as double)
                        / cast(len(list_distinct(list_concat(a.w, b.w))) as double),
                        6) >= 0.5
        """,
        "version_diff_customers": """
            WITH base AS (
              SELECT c_custkey, c_name,
                     CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                         AS c_acctbal_fp
              FROM customer)
            SELECT 'DELETE' AS op, c_custkey,
                   CAST(NULL AS VARCHAR) AS c_name,
                   CAST(NULL AS BIGINT) AS c_acctbal_fp
            FROM base WHERE c_custkey % 10 = 0
            UNION ALL
            SELECT 'UPDATE', c_custkey, c_name, c_acctbal_fp + 100
            FROM base WHERE c_custkey % 10 <> 0 AND c_custkey % 7 = 0
            UNION ALL
            SELECT 'INSERT', c_custkey + 1000000, 'new_customer',
                   CAST(0 AS BIGINT)
            FROM base WHERE c_custkey % 13 = 0
        """,
        "word_containment_pairs": """
            WITH w AS (
              SELECT doc_id, source,
                     list_distinct(list_transform(string_split(
                         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                         x -> hash(x))) AS w
              FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(cast(len(list_intersect(a.w, b.w)) as double)
                         / least(len(a.w), len(b.w)), 6) AS containment
            FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
            WHERE round(cast(len(list_intersect(a.w, b.w)) as double)
                        / least(len(a.w), len(b.w)), 6) >= 0.8
        """,
        "embedding_neardup": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
        """,
        "embedding_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], (SELECT v FROM q)), 6)
                       AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id ASC
            LIMIT 20
        """,
        # LM-family quality scores: tokenization/bigram twins of
        # operators/lm.py; bit-length (length(bin(c))) mirrors Spark's
        # length(conv(c,10,2)) exactly, // mirrors div
        "bloom_corpus_membership": """
            WITH t AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                  ' ') AS w
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(range(1, greatest(len(w) - 6, 2)),
                            i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS gd
              FROM t),
            c AS (SELECT DISTINCT gd FROM g WHERE doc_id % 7 <> 0),
            hits AS (
              SELECT doc_id, count(DISTINCT gd) AS sg
              FROM g WHERE doc_id % 7 = 0 AND gd IN (SELECT gd FROM c)
              GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.sg, 0) AS BIGINT) AS shared_grams,
                   CAST(h.doc_id IS NOT NULL AS INT) AS is_hit
            FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 0) d
            LEFT JOIN hits h USING (doc_id)
        """,
        "retention_cohorts": """
            WITH acts AS (
              SELECT DISTINCT user_id AS u,
                     CAST(date_trunc('week', ts) AS DATE) AS wk
              FROM events),
            coh AS (SELECT u, min(wk) AS cohort_wk FROM acts GROUP BY u)
            SELECT CAST(cohort_wk AS VARCHAR) AS cohort_week,
                   CAST(datediff('day', cohort_wk, wk) // 7 AS INT) AS week_offset,
                   count(*) AS n_users
            FROM acts JOIN coh USING (u)
            GROUP BY 1, 2
        """,
        "windowed_anomalies": """
            SELECT event_id, user_id, v AS v_cents,
                   CAST(cnt >= 10
                        AND (v*cnt - s)*(v*cnt - s) > 4*(cnt*ss - s*s)
                        AS INT) AS is_anomaly
            FROM (
              SELECT event_id, user_id,
                     CAST(floor(value * 100) AS BIGINT) AS v,
                     count(*) OVER w AS cnt,
                     sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS s,
                     sum(CAST(floor(value * 100) AS BIGINT)
                         * CAST(floor(value * 100) AS BIGINT)) OVER w AS ss
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        """,
        "distinctive_terms": """
            WITH toks AS (
              SELECT source AS grp,
                     unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                         ' ')) AS tok
              FROM documents),
            cells AS (SELECT grp, tok, count(*) AS a FROM toks GROUP BY grp, tok),
            rt AS (SELECT grp, sum(a) AS rowtot FROM cells GROUP BY grp),
            ct AS (SELECT tok, sum(a) AS coltot FROM cells GROUP BY tok),
            nt AS (SELECT sum(a) AS n_total FROM cells)
            SELECT grp AS source, tok AS term,
                   CAST(keyness AS BIGINT) AS keyness,
                   CAST(rank AS INT) AS rank
            FROM (
              SELECT c.grp, c.tok,
                     c.a * nt.n_total - rt.rowtot * ct.coltot AS keyness,
                     row_number() OVER (
                       PARTITION BY c.grp
                       ORDER BY (c.a * nt.n_total - rt.rowtot * ct.coltot) DESC,
                                c.tok ASC) AS rank
              FROM cells c
              JOIN rt USING (grp) JOIN ct USING (tok) CROSS JOIN nt)
            WHERE rank <= 5
        """,
        "column_profile_orders": """
            SELECT 'o_custkey' AS "column", count(*) AS n_rows,
                   CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   count(DISTINCT o_custkey) AS n_distinct FROM orders
            UNION ALL
            SELECT 'o_orderstatus', count(*),
                   CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   count(DISTINCT o_orderstatus) FROM orders
            UNION ALL
            SELECT 'o_orderpriority', count(*),
                   CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   count(DISTINCT o_orderpriority) FROM orders
            UNION ALL
            SELECT 'o_totalprice', count(*),
                   CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   count(DISTINCT o_totalprice) FROM orders
        """,
        # real-tokenizer token histogram: corpus words re-split in SQL,
        # joined to the STAGED (word, token, k) segmentation mapping
        "incremental_substr_matches": f"""
            WITH n AS (
              SELECT doc AS doc_new, pos AS pos_new, g
              FROM read_parquet(
                '{_STAGE}/substr_seeds_new_k4.parquet/*.parquet')),
            craw AS (
              SELECT doc AS doc_corpus, pos AS pos_corpus, g
              FROM read_parquet(
                '{_STAGE}/substr_seeds_corpus_k4.parquet/*.parquet')),
            occ_ok AS (
              SELECT g FROM craw GROUP BY g HAVING count(*) <= 16),
            c AS (SELECT craw.* FROM craw JOIN occ_ok USING (g)),
            pairs AS (
              SELECT doc_new, doc_corpus, pos_new, pos_corpus,
                     pos_corpus - pos_new AS shift
              FROM n JOIN c USING (g)),
            runs AS (
              SELECT doc_new, doc_corpus, shift, pos_new,
                     pos_new - row_number() OVER (
                       PARTITION BY doc_new, doc_corpus, shift
                       ORDER BY pos_new) AS isl
              FROM pairs),
            matches AS (
              SELECT doc_new, doc_corpus,
                     CAST(count(*) - 1 + 4 AS BIGINT) AS len_tokens
              FROM runs GROUP BY doc_new, doc_corpus, shift, isl
              HAVING count(*) - 1 + 4 >= 8)
            SELECT doc_new AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_matches,
                   CAST(max(len_tokens) AS BIGINT) AS max_len_tokens,
                   CAST(count(DISTINCT doc_corpus) AS BIGINT)
                       AS n_corpus_docs
            FROM matches GROUP BY doc_new
        """,
        "strip_exact_duplicates": f"""
            WITH seeds AS (
              SELECT doc, pos, g FROM read_parquet(
                '{_STAGE}/substr_seeds_k4.parquet/*.parquet')),
            occ_ok AS (
              SELECT g FROM seeds GROUP BY g
              HAVING count(*) >= 2 AND count(*) <= 16),
            s AS (SELECT seeds.* FROM seeds JOIN occ_ok USING (g)),
            pairs AS (
              SELECT a.doc AS doc_a, b.doc AS doc_b,
                     a.pos AS pos_a, b.pos AS pos_b,
                     b.pos - a.pos AS shift
              FROM s a JOIN s b ON a.g = b.g
               AND (a.doc < b.doc
                    OR (a.doc = b.doc AND a.pos < b.pos))),
            runs AS (
              SELECT doc_a, doc_b, shift, pos_a, pos_b,
                     pos_a - row_number() OVER (
                       PARTITION BY doc_a, doc_b, shift
                       ORDER BY pos_a) AS isl
              FROM pairs),
            matches AS (
              SELECT doc_b, min(pos_b) AS pos_b,
                     CAST(count(*) - 1 + 4 AS BIGINT) AS len_tokens
              FROM runs GROUP BY doc_a, doc_b, shift, isl
              HAVING count(*) - 1 + 4 >= 8),
            cov AS (
              SELECT DISTINCT doc_b AS doc,
                     unnest(range(pos_b, pos_b + len_tokens)) AS p
              FROM matches),
            dropped AS (
              SELECT doc, list_sort(list(p)) AS ps FROM cov GROUP BY doc),
            t AS (
              SELECT doc_id AS doc,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                  ' ') AS w0
              FROM documents)
            SELECT t.doc AS doc_id,
                   coalesce(array_to_string(
                     list_transform(
                       list_filter(range(1, len(t.w0) + 1),
                                   i -> d.doc IS NULL
                                        OR NOT list_contains(d.ps, i)),
                       i -> t.w0[i]),
                     ' '), '') AS clean_text,
                   CAST(len(t.w0) AS INT) AS n_tokens,
                   CAST(len(t.w0) - coalesce(len(d.ps), 0) AS INT)
                       AS kept_tokens
            FROM t LEFT JOIN dropped d USING (doc)
        """,
        "watermark_sizing_events": """
            WITH base AS (
              SELECT event_id, epoch_us(ts) AS ts_us,
                     epoch_us(ts) + (event_id % 601) * 1000000 AS arr_us
              FROM events),
            late AS (
              SELECT greatest(
                       0,
                       coalesce(
                         max(ts_us) OVER (
                           ORDER BY arr_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) - ts_us,
                         0)) AS late_us
              FROM base),
            hist AS (
              SELECT least(12, late_us // 60000000) AS bucket,
                     count(*) AS n_events,
                     max(late_us) AS max_lateness_us
              FROM late GROUP BY 1),
            walked AS (
              SELECT bucket,
                     sum(n_events) OVER (ORDER BY bucket) AS cum,
                     max(max_lateness_us) OVER (ORDER BY bucket)
                         AS run_max,
                     sum(n_events) OVER () AS total
              FROM hist),
            first_ok AS (
              SELECT * FROM walked
              WHERE cum >= (total * 990000 + 999999) // 1000000
              ORDER BY bucket LIMIT 1)
            SELECT CAST(total AS BIGINT) AS total_events,
                   CAST(990000 AS BIGINT) AS admit_ppm,
                   CAST((run_max + 999999) // 1000000 AS BIGINT)
                       AS delay_seconds
            FROM first_ok
        """,
        "tokenizer_compression_compare": f"""
            WITH wds AS (
              SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                         ' ')) AS word
              FROM documents),
            cw AS (SELECT word FROM wds WHERE word <> ''),
            bpe_pw AS (
              SELECT word, CAST(sum(k) AS BIGINT) AS toks
              FROM read_parquet('{_STAGE}/bpe_word_tokens.parquet/*.parquet')
              GROUP BY word),
            uni_pw AS (
              SELECT word, CAST(sum(k) AS BIGINT) AS toks
              FROM read_parquet('{_STAGE}/unigram_word_tokens.parquet/*.parquet')
              GROUP BY word),
            wp_pw AS (
              SELECT word, CAST(sum(k) AS BIGINT) AS toks
              FROM read_parquet('{_STAGE}/wordpiece_word_tokens.parquet/*.parquet')
              GROUP BY word),
            b AS (
              SELECT 'bpe' AS tokenizer,
                     CAST(count(*) AS BIGINT) AS n_words,
                     CAST(sum(toks) AS BIGINT) AS n_tokens
              FROM cw JOIN bpe_pw USING (word)),
            u AS (
              SELECT 'unigram' AS tokenizer,
                     CAST(count(*) AS BIGINT) AS n_words,
                     CAST(sum(toks) AS BIGINT) AS n_tokens
              FROM cw JOIN uni_pw USING (word)),
            w AS (
              SELECT 'wordpiece' AS tokenizer,
                     CAST(count(*) AS BIGINT) AS n_words,
                     CAST(sum(toks) AS BIGINT) AS n_tokens
              FROM cw JOIN wp_pw USING (word))
            SELECT tokenizer, n_words, n_tokens,
                   CAST(n_tokens * 100000000 // n_words AS BIGINT)
                       AS tokens_per_100_words_fp
            FROM (SELECT * FROM b UNION ALL SELECT * FROM u
                  UNION ALL SELECT * FROM w)
        """,
        "tokenizer_fertility_by_source": f"""
            WITH wds AS (
              SELECT source,
                     unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                         ' ')) AS word
              FROM documents),
            pw AS (
              SELECT word, CAST(sum(k) AS BIGINT) AS toks
              FROM read_parquet('{_STAGE}/unigram_word_tokens.parquet/*.parquet')
              GROUP BY word)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(toks) AS BIGINT) AS n_tokens,
                   CAST(sum(toks) * 1000000 // count(*) AS BIGINT)
                       AS fertility_fp
            FROM wds JOIN pw USING (word)
            WHERE word <> ''
            GROUP BY source
        """,
        "unigram_doc_scores": f"""
            WITH wds AS (
              SELECT doc_id AS doc,
                     unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                         ' ')) AS word
              FROM documents),
            m AS (SELECT word, token, k
                  FROM read_parquet('{_STAGE}/unigram_word_tokens.parquet/*.parquet')),
            p AS (SELECT piece AS token, cost_fp
                  FROM read_parquet('{_STAGE}/unigram_pieces.parquet/*.parquet')),
            per_word AS (
              SELECT m.word,
                     CAST(sum(m.k) AS BIGINT) AS toks,
                     CAST(sum(m.k * p.cost_fp) AS BIGINT) AS cost
              FROM m JOIN p USING (token)
              GROUP BY m.word)
            SELECT doc AS doc_id,
                   CAST(sum(toks) AS BIGINT) AS n_tokens,
                   CAST(sum(cost) // sum(toks) AS BIGINT) AS xent_fp
            FROM wds JOIN per_word USING (word)
            WHERE word <> ''
            GROUP BY doc
        """,
        "unigram_token_counts": f"""
            WITH wds AS (
              SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                         ' ')) AS word
              FROM documents),
            m AS (SELECT word, token, k
                  FROM read_parquet('{_STAGE}/unigram_word_tokens.parquet/*.parquet'))
            SELECT m.token, CAST(SUM(m.k) AS BIGINT) AS n
            FROM wds JOIN m USING (word)
            WHERE wds.word <> ''
            GROUP BY m.token
            ORDER BY n DESC, m.token ASC
            LIMIT 50
        """,
        "bpe_token_counts": f"""
            WITH wds AS (
              SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                         ' ')) AS word
              FROM documents),
            m AS (SELECT word, token, k
                  FROM read_parquet('{_STAGE}/bpe_word_tokens.parquet/*.parquet'))
            SELECT m.token, CAST(SUM(m.k) AS BIGINT) AS n
            FROM wds JOIN m USING (word)
            WHERE wds.word <> ''
            GROUP BY m.token
            ORDER BY n DESC, m.token ASC
            LIMIT 50
        """,
        "wordpiece_token_counts": f"""
            WITH wds AS (
              SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                         ' ')) AS word
              FROM documents),
            m AS (SELECT word, token, k
                  FROM read_parquet('{_STAGE}/wordpiece_word_tokens.parquet/*.parquet'))
            SELECT m.token, CAST(SUM(m.k) AS BIGINT) AS n
            FROM wds JOIN m USING (word)
            WHERE wds.word <> ''
            GROUP BY m.token
            ORDER BY n DESC, m.token ASC
            LIMIT 50
        """,
        "bpe_merge_pairs": """
            WITH wds AS (
              SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                         ' ')) AS wd
              FROM documents),
            p AS (
              SELECT unnest(list_transform(range(1, greatest(length(wd), 2)),
                                           i -> substr(wd, i, 2))) AS pair
              FROM wds),
            c AS (SELECT pair, count(*) AS n FROM p
                  WHERE length(pair) = 2 GROUP BY pair)
            SELECT pair, n, CAST(rank AS INT) AS rank
            FROM (SELECT pair, n,
                         row_number() OVER (ORDER BY n DESC, pair ASC) AS rank
                  FROM c)
            WHERE rank <= 20
        """,
        "source_overlap_matrix": """
            WITH t AS (
              SELECT source,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                  ' ') AS w
              FROM documents),
            g AS (
              SELECT DISTINCT source,
                     unnest(list_transform(range(1, greatest(len(w) - 6, 2)),
                            i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS gd
              FROM t)
            SELECT a.source AS source_a, b.source AS source_b,
                   count(DISTINCT a.gd) AS shared_grams
            FROM g a JOIN g b ON a.gd = b.gd AND a.source < b.source
            GROUP BY 1, 2
        """,
        "embedding_neardup_bucketed": f"""
            WITH asg AS (
              SELECT id, tbl, bucket
              FROM read_parquet('{_STAGE}/embedding_buckets.parquet/*.parquet')),
            e AS (SELECT m.vec_id, asg.tbl, asg.bucket, m.embedding::DOUBLE[] AS v
                  FROM embeddings m JOIN asg ON m.vec_id = asg.id)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM e a JOIN e b ON a.tbl = b.tbl AND a.bucket = b.bucket
                             AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
        """,
        "name_editdist_pairs": """
            WITH d AS (SELECT p_name AS name, count(*) AS n
                       FROM part GROUP BY p_name),
            p AS (SELECT name, n, string_split(name, ' ')[-1] AS blk FROM d)
            SELECT a.name AS name_a, b.name AS name_b,
                   CAST(levenshtein(a.name, b.name) AS INT) AS dist,
                   CAST(a.n AS BIGINT) AS n_a,
                   CAST(b.n AS BIGINT) AS n_b
            FROM p a JOIN p b ON a.blk = b.blk AND a.name < b.name
            WHERE abs(len(a.name) - len(b.name)) <= 2
              AND levenshtein(a.name, b.name) <= 2
        """,
        "pii_rate_by_source": """
            WITH m AS (
              SELECT source,
                     len(regexp_extract_all(text,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                         AS ne,
                     len(regexp_extract_all(text,
                         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                         AS ni,
                     len(regexp_extract_all(text,
                         '\\+?\\d{1,3}[-. ]?\\(?\\d{3}\\)?[-. ]?\\d{3}[-. ]?\\d{4}'))
                         AS np
              FROM documents)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS docs_with_pii,
                   CAST(sum(ne) AS BIGINT) AS n_email,
                   CAST(sum(ni) AS BIGINT) AS n_ipv4,
                   CAST(sum(np) AS BIGINT) AS n_phone
            FROM m GROUP BY source
        """,
        "doc_length_histogram": """
            WITH t AS (
              SELECT source,
                     len(string_split(trim(regexp_replace(lower(text),
                         '\\s+', ' ', 'g')), ' ')) AS n
              FROM documents)
            SELECT source,
                   CAST(length(bin(n)) AS INT) AS len_bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n) AS BIGINT) AS total_tokens
            FROM t GROUP BY 1, 2
        """,
        "bucketed_neardup_recall": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            ex AS (
              SELECT a.vec_id AS ia, b.vec_id AS ib
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45),
            s4 AS (SELECT id, tbl, bucket
                   FROM read_parquet('{_STAGE}/bucket_recall_t4.parquet/*.parquet')),
            s1 AS (SELECT id, tbl, bucket FROM s4 WHERE tbl = 0),
            p1 AS (
              SELECT DISTINCT x.id AS ia, y.id AS ib
              FROM s1 x
              JOIN s1 y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.id < y.id
              JOIN e a ON a.vec_id = x.id
              JOIN e b ON b.vec_id = y.id
              WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45),
            p4 AS (
              SELECT DISTINCT x.id AS ia, y.id AS ib
              FROM s4 x
              JOIN s4 y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.id < y.id
              JOIN e a ON a.vec_id = x.id
              JOIN e b ON b.vec_id = y.id
              WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45)
            SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
                   CAST((SELECT count(*) FROM p1) AS BIGINT) AS n_single,
                   CAST((SELECT count(*) FROM p4) AS BIGINT) AS n_multi,
                   CAST((10000 * (SELECT count(*) FROM p1))
                        // (SELECT count(*) FROM ex) AS BIGINT)
                       AS recall_single_bp,
                   CAST((10000 * (SELECT count(*) FROM p4))
                        // (SELECT count(*) FROM ex) AS BIGINT)
                       AS recall_multi_bp
        """,
        "cluster_split": f"""
            WITH RECURSIVE
            {_MINHASH_VERIFIED_CTE.strip()},
            edges AS (SELECT id_a AS src, id_b AS dst FROM verified
                      UNION SELECT id_b, id_a FROM verified),
            walk AS (
              SELECT src AS start, src AS reach FROM edges
              UNION
              SELECT wk.start, e.dst FROM walk wk JOIN edges e ON wk.reach = e.src),
            comp AS (SELECT start AS doc_id, min(reach) AS cluster_id
                     FROM walk GROUP BY start)
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                   CASE WHEN substring(md5('docsplit' ||
                          CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 4)
                        < '1999' THEN 'eval' ELSE 'train' END AS split
            FROM documents d LEFT JOIN comp c USING (doc_id)
        """,
        "ewm_user_spend": """
            SELECT event_id, user_id,
                   CAST(len(l) AS INT) AS frame_n,
                   CAST(list_reduce(list_reverse(l),
                                    (acc, x) -> acc * 2 + x) AS BIGINT) AS ewm_num
            FROM (
              SELECT event_id, user_id,
                     list(CAST(floor(value * 100) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS l
              FROM events)
        """,
        "topic_clusters": f"""
            WITH assign AS (
              SELECT vec_id, cluster
              FROM read_parquet('{_STAGE}/topic_assign.parquet/*.parquet')),
            toks AS (
              SELECT a.cluster AS grp,
                     unnest(string_split(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')),
                                         ' ')) AS tok
              FROM documents d JOIN assign a ON d.doc_id = a.vec_id),
            cells AS (SELECT grp, tok, count(*) AS a FROM toks GROUP BY grp, tok),
            rt AS (SELECT grp, sum(a) AS rowtot FROM cells GROUP BY grp),
            ct AS (SELECT tok, sum(a) AS coltot FROM cells GROUP BY tok),
            nt AS (SELECT sum(a) AS n_total FROM cells)
            SELECT grp AS cluster, tok AS term,
                   CAST(keyness AS BIGINT) AS keyness,
                   CAST(rank AS INT) AS rank
            FROM (
              SELECT c.grp, c.tok,
                     c.a * nt.n_total - rt.rowtot * ct.coltot AS keyness,
                     row_number() OVER (
                       PARTITION BY c.grp
                       ORDER BY (c.a * nt.n_total - rt.rowtot * ct.coltot) DESC,
                                c.tok ASC) AS rank
              FROM cells c
              JOIN rt USING (grp) JOIN ct USING (tok) CROSS JOIN nt)
            WHERE rank <= 3
        """,
        "bigram_surprisal": """
            WITH w AS (
              SELECT doc_id AS doc,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                  ' ') AS w0
              FROM documents),
            bigs AS (
              SELECT doc,
                     unnest(list_transform(range(1, len(w0)),
                                           i -> w0[i] || ' ' || w0[i + 1])) AS big
              FROM w),
            cnt AS (SELECT big, count(*) AS c FROM bigs GROUP BY big)
            SELECT b.doc AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(length(bin(c.c))) AS BIGINT) AS freq_bits,
                   CAST(100 * CAST(sum(length(bin(c.c))) AS BIGINT)
                        // CAST(count(*) AS BIGINT) AS BIGINT)
                       AS mean_freq_bits_x100
            FROM bigs b JOIN cnt c USING (big)
            GROUP BY b.doc
        """,
        "vocab_coverage": """
            WITH toks AS (
              SELECT doc_id AS doc, tok
              FROM (SELECT doc_id,
                           unnest(string_split(trim(regexp_replace(lower(text),
                                  '\\s+', ' ', 'g')), ' ')) AS tok
                    FROM documents)
              WHERE tok <> ''),
            vcnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
            vocab AS (SELECT tok FROM vcnt ORDER BY c DESC, tok ASC LIMIT 500)
            SELECT t.doc AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_in_vocab,
                   CAST(10000 * CAST(sum(CASE WHEN v.tok IS NOT NULL THEN 1
                                         ELSE 0 END) AS BIGINT)
                        // CAST(count(*) AS BIGINT) AS BIGINT) AS coverage_bp
            FROM toks t LEFT JOIN vocab v USING (tok)
            GROUP BY t.doc
        """,
        "source_vocab_profile": """
            WITH toks AS (
              SELECT doc_id AS doc, tok
              FROM (SELECT doc_id,
                           unnest(string_split(trim(regexp_replace(lower(text),
                                  '\\s+', ' ', 'g')), ' ')) AS tok
                    FROM documents)
              WHERE tok <> ''),
            vcnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
            vocab AS (SELECT tok FROM vcnt ORDER BY c DESC, tok ASC LIMIT 500)
            SELECT d.source,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(count(DISTINCT t.tok) AS BIGINT) AS n_distinct_toks,
                   CAST(sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_in_top_v,
                   CAST(10000 * CAST(sum(CASE WHEN v.tok IS NOT NULL THEN 1
                                         ELSE 0 END) AS BIGINT)
                        // CAST(count(*) AS BIGINT) AS BIGINT) AS top_v_bp
            FROM toks t
            JOIN documents d ON d.doc_id = t.doc
            LEFT JOIN vocab v USING (tok)
            GROUP BY d.source
        """,
        "data_quality_report": """
            WITH base AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS v_nn_ok,
                     CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS v_nn_ck,
                     CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                                        AND o_totalprice < 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS v_range,
                     CAST(sum(CASE WHEN o_orderstatus IS NOT NULL AND
                                        o_orderstatus NOT IN ('O','F','P')
                                   THEN 1 ELSE 0 END) AS BIGINT) AS v_accept,
                     CAST(sum(CASE WHEN o_orderpriority IS NOT NULL AND NOT
                                        regexp_matches(o_orderpriority, '^[1-5]-')
                                   THEN 1 ELSE 0 END) AS BIGINT) AS v_match,
                     CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
                         AS v_uniq
              FROM orders),
            orph AS (
              SELECT CAST(count(*) AS BIGINT) AS v_ref FROM orders o
              WHERE o.o_custkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
            SELECT * FROM (
              SELECT 'not_null(o_orderkey)' AS "constraint", v_nn_ok AS n_violations, n AS n_checked FROM base
              UNION ALL SELECT 'not_null(o_custkey)', v_nn_ck, n FROM base
              UNION ALL SELECT 'in_range(o_totalprice)', v_range, n FROM base
              UNION ALL SELECT 'accepted_values(o_orderstatus)', v_accept, n FROM base
              UNION ALL SELECT 'matches(o_orderpriority)', v_match, n FROM base
              UNION ALL SELECT 'unique(o_orderkey)', v_uniq, n FROM base
              UNION ALL SELECT 'references(o_custkey)', v_ref, n FROM base, orph)
            ORDER BY "constraint"
        """,
        "text_analysis": """
            WITH base AS (
              SELECT doc_id, text,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                         AS w
              FROM documents),
            feats AS (
              SELECT doc_id, text, w,
                     len(list_intersect(list_distinct(w),
                         ['der','die','das','und','ist','von','mit','ein','zu','auf'])) AS de,
                     len(list_intersect(list_distinct(w),
                         ['the','and','of','to','a','in','is','it','for','on'])) AS en,
                     len(list_intersect(list_distinct(w),
                         ['el','la','de','que','y','en','un','es','por','con'])) AS es,
                     len(list_intersect(list_distinct(w),
                         ['le','la','de','et','est','un','une','dans','pour','que'])) AS fr,
                     len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                         AS n_subwords,
                     len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
              FROM base)
            SELECT doc_id,
                   len(w) AS n_tokens,
                   n_subwords,
                   CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
                        WHEN de = greatest(de, en, es, fr) THEN 'de'
                        WHEN en = greatest(de, en, es, fr) THEN 'en'
                        WHEN es = greatest(de, en, es, fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred,
                   round(least(cast(len(w) as double) / 100.0, 1.0) * 0.4
                         + greatest(1.0 - (cast(n_punct as double)
                               / greatest(cast(length(text) as double), 1.0)) * 10.0, 0.0) * 0.4
                         + least(cast(en as double) / 10.0, 1.0) * 0.2,
                         6) AS quality,
                   md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
            FROM feats
        """,
        "tfidf_top_terms": """
            WITH tokens AS (
              SELECT doc_id AS doc,
                     unnest(string_split(
                         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                         AS term
              FROM documents),
            tf AS (SELECT doc, term, count(*) AS tf FROM tokens GROUP BY doc, term),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc, tf.term,
                     round(tf.tf * ln((SELECT n_docs FROM n) / dfreq.df), 6) AS tfidf
              FROM tf JOIN dfreq USING (term)),
            ranked AS (
              SELECT doc, term, tfidf,
                     row_number() OVER (PARTITION BY doc
                                        ORDER BY tfidf DESC, term ASC) AS rn
              FROM scored)
            SELECT doc AS doc_id, term, tfidf, rn FROM ranked WHERE rn <= 3
        """,
        "media_decode_stats": """
            SELECT doc_id,
                   octet_length(encode(text)) AS n_bytes,
                   md5(text) AS digest
            FROM documents
        """,
        "media_frame_counts": """
            SELECT doc_id,
                   cast(ceil(ceil(cast(octet_length(encode(text)) as double) / 64.0)
                             / 2.0) as bigint) AS n_frames
            FROM documents
        """,
        "media_png_roundtrip_stats": """
            SELECT d.doc_id,
                   16 AS width,
                   16 AS height,
                   CAST(SUM((d.n_chars * (t.i + 1)) % 251) AS BIGINT) AS sum_px,
                   CAST(SUM(((d.n_chars * (t.i + 1)) % 251) * (t.i + 1)) AS BIGINT)
                       AS possum_px
            FROM documents d, range(256) t(i)
            GROUP BY d.doc_id
        """,
        "q7_nation_trade": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   CAST(sum(CAST(cast(cast(l_extendedprice as decimal(18,2))
                        * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                        as decimal(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS revenue_fp4
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name IN ('NATION_1', 'NATION_2')
              AND n2.n_name IN ('NATION_1', 'NATION_2')
              AND n1.n_name <> n2.n_name
            GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        """,
        "q9_product_profit": """
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   CAST(sum(CAST(cast(
                        cast(cast(l_extendedprice as decimal(18,2))
                             * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                             as decimal(18,4))
                        - cast(cast(p_retailprice as decimal(18,2))
                               * cast(l_quantity as decimal(18,2)) as decimal(18,4))
                        as decimal(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS profit_fp4
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN orders   ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%red%'
            GROUP BY n_name, year(o_orderdate)
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, n_name,
                   CAST(sum(CAST(cast(cast(l_extendedprice as decimal(18,2))
                        * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                        as decimal(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS revenue_fp4,
                   CAST(max(cast(c_acctbal as decimal(18,2))) * 100 AS BIGINT)
                       AS acctbal_fp2
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue_fp4 DESC, c_custkey ASC
            LIMIT 20
        """,
        "q14_promo_share": """
            SELECT CAST(sum(CAST(
                       CASE WHEN p_type = 'PROMO'
                            THEN cast(cast(l_extendedprice as decimal(18,2))
                                 * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                                 as decimal(18,4))
                            ELSE cast(0 as decimal(18,4)) END * 10000
                       AS BIGINT)) AS BIGINT) AS promo_fp4,
                   CAST(sum(CAST(cast(cast(l_extendedprice as decimal(18,2))
                        * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                        as decimal(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS total_fp4
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        """,
        "q18_large_orders": """
            WITH big AS (
              SELECT l_orderkey, sum(cast(l_quantity as decimal(18,2))) AS qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(cast(l_quantity as decimal(18,2))) > cast(130 as decimal(18,2)))
            SELECT c_custkey, c_name, o_orderkey, epoch_us(o_orderdate) AS odate_us,
                   CAST(cast(o_totalprice as decimal(18,2)) * 100 AS BIGINT)
                       AS totalprice_fp2,
                   CAST(qty * 100 AS BIGINT) AS total_qty_fp2
            FROM orders
            JOIN big      ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "q22_dormant_customers": """
            WITH pos AS (
              SELECT CAST(sum(CAST(cast(c_acctbal as decimal(18,2)) * 100 AS BIGINT))
                          AS BIGINT) AS sum_cents,
                     count(*) AS n_pos
              FROM customer WHERE c_acctbal > 0),
            dormant AS (
              SELECT c.* FROM customer c, pos
              WHERE CAST(cast(c_acctbal as decimal(18,2)) * 100 AS BIGINT) * n_pos
                    > sum_cents
                AND NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey
                                  AND o.o_orderdate >= TIMESTAMP '2000-07-01 00:00:00'))
            SELECT c_nationkey AS nationkey, count(*) AS n_cust,
                   CAST(sum(cast(c_acctbal as decimal(18,2))) * 100 AS BIGINT)
                       AS sum_acctbal_fp2
            FROM dormant GROUP BY c_nationkey
        """,
        "heavy_hitter_users": """
            WITH counts AS (
              SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
            t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS users
                  FROM counts)
            SELECT user_id, n FROM counts, t WHERE n * users > total
        """,
        "weighted_sample_docs": """
            SELECT doc_id, source, n_chars FROM documents
            WHERE CAST(('0x' || substr(md5('w1' || cast(doc_id AS varchar)), 1, 4))
                       AS BIGINT) * 4096
                  < least(n_chars, 4096) * 65536
        """,
        "moving_avg_user_spend": """
            SELECT user_id, event_id,
                   CAST(sum(cast(value as decimal(18,2))) OVER w * 100 AS BIGINT)
                       AS frame_sum_fp2,
                   count(*) OVER w AS frame_n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        """,
        "ntile_price_deciles": """
            WITH b AS (
              SELECT o_totalprice,
                     ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
                         AS bucket
              FROM orders)
            SELECT bucket, count(*) AS n,
                   CAST(sum(cast(o_totalprice as decimal(18,2))) * 100 AS BIGINT)
                       AS sum_value_fp2
            FROM b GROUP BY bucket
        """,
        "nation_segments_concat": """
            SELECT c_nationkey,
                   array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',')
                       AS values_csv,
                   count(DISTINCT c_mktsegment) AS n_distinct
            FROM customer GROUP BY c_nationkey
        """,
        "median_mode_order_value": """
            WITH o AS (
              SELECT o_orderpriority,
                     CAST(cast(o_totalprice as decimal(18,2)) * 100 AS BIGINT) AS cents
              FROM orders),
            med AS (
              SELECT o_orderpriority, median(cents) AS median_value
              FROM o GROUP BY o_orderpriority),
            pv AS (
              SELECT o_orderpriority, cents, count(*) AS c
              FROM o GROUP BY o_orderpriority, cents),
            m AS (
              SELECT o_orderpriority, cents AS mode_value, c AS mode_n,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY c DESC, cents ASC) AS rn
              FROM pv)
            SELECT med.o_orderpriority, med.median_value, m.mode_value, m.mode_n
            FROM med JOIN m ON med.o_orderpriority = m.o_orderpriority AND m.rn = 1
        """,
        "q6_forecast_revenue": """
            SELECT CAST(sum(CAST(cast(cast(l_extendedprice as decimal(18,2))
                        * cast(l_discount as decimal(18,2)) as decimal(18,4))
                        * 10000 AS BIGINT)) AS BIGINT) AS revenue_fp4
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
              AND l_discount >= 0.02 AND l_discount <= 0.09
              AND l_quantity < 24
        """,
        "q12_priority_by_returnflag": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_returnflag
        """,
        "q13_order_count_histogram": """
            WITH per_cust AS (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer
              LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
              GROUP BY c_custkey)
            SELECT c_count, count(*) AS custdist
            FROM per_cust GROUP BY c_count
        """,
        "q16_supplier_part_counts": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_type NOT LIKE 'PROMO%'
              AND p_size IN (1, 5, 10, 15, 20, 25)
              AND l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%9')
            GROUP BY p_brand, p_type, p_size
        """,
        "q19_disjunctive_revenue": """
            SELECT CAST(sum(CAST(cast(cast(l_extendedprice as decimal(18,2))
                        * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                        as decimal(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS revenue_fp4,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 1 AND 15)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
                   AND l_quantity BETWEEN 10 AND 30)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
                   AND l_quantity BETWEEN 20 AND 50)
        """,
        # The oracle keeps the ORIGINAL correlated EXISTS / NOT EXISTS form
        # (at (order, supplier) grain) so the decorrelated grouped-flag plan
        # is validated against genuinely independent semantics.
        "q21_sole_late_supplier": """
            WITH cand AS (
              SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
              FROM lineitem l1 JOIN orders ON l1.l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
                AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
                AND EXISTS (SELECT 1 FROM lineitem l2
                            WHERE l2.l_orderkey = l1.l_orderkey
                              AND l2.l_suppkey <> l1.l_suppkey)
                AND NOT EXISTS (
                    SELECT 1
                    FROM lineitem l3 JOIN orders o2 ON l3.l_orderkey = o2.o_orderkey
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o2.o_orderdate + INTERVAL 60 DAY))
            SELECT s_name, count(*) AS numwait
            FROM cand JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_name
            ORDER BY numwait DESC, s_name ASC
            LIMIT 25
        """,
        "debounced_events": """
            WITH lagged AS (
              SELECT user_id, event_type, event_id, ts,
                     lag(ts) OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts ASC, event_id ASC) AS prev
              FROM events)
            SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
            FROM lagged
            WHERE prev IS NULL OR date_diff('second', prev, ts) >= 60
        """,
        "duplicate_shingle_rate": f"""
            WITH {_SHINGLES_CTE.strip()},
            pairs AS (
              SELECT w.doc_id, d.source, unnest(w.sh) AS shingle
              FROM w JOIN documents d USING (doc_id)),
            ps AS (SELECT shingle, count(*) AS docs_with
                   FROM pairs GROUP BY shingle)
            SELECT source,
                   CAST(sum(CASE WHEN docs_with > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS dup_pairs,
                   count(*) AS total_pairs
            FROM pairs JOIN ps USING (shingle)
            GROUP BY source
        """,
        "top_docs_per_source": """
            WITH ranked AS (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id ASC) AS rk
              FROM documents)
            SELECT doc_id, source, n_chars, rk FROM ranked WHERE rk <= 5
        """,
        # Counters and estimates re-derived from the staged per-key hash
        # coordinates — the sketch's only engine-specific piece is the
        # hash family, so the whole estimate is hash-checkable.
        "cms_user_counts": f"""
            WITH mapping AS (
              SELECT user_id, i, bucket
              FROM read_parquet('{_STAGE}/cms_map.parquet/*.parquet')),
            counters AS (
              SELECT i, bucket, count(*) AS cnt
              FROM events e JOIN mapping m ON e.user_id = m.user_id
              GROUP BY i, bucket),
            est AS (
              SELECT m.user_id, min(cnt) AS cms_est
              FROM mapping m
              JOIN counters c ON m.i = c.i AND m.bucket = c.bucket
              GROUP BY m.user_id),
            exact AS (SELECT user_id, count(*) AS exact_n
                      FROM events GROUP BY user_id)
            SELECT e.user_id, exact_n, cms_est
            FROM exact e JOIN est ON e.user_id = est.user_id
        """,
        # HLL register table re-derived from the staged 48-bit hash
        # words: bucket = w mod m, rank = leading zeros of (w div m) + 1
        # via minimal-binary-string length (bin() identical in both
        # engines), register = group max — all integer/string algebra.
        "hll_user_registers": f"""
            SELECT event_type,
                   CAST(w % 256 AS INT) AS bucket,
                   CAST(MAX(CASE WHEN w // 256 = 0 THEN 41
                            ELSE 41 - length(bin(w // 256)) END) AS INT)
                       AS register
            FROM read_parquet('{_STAGE}/hll_user_hashes.parquet/*.parquet')
            GROUP BY event_type, w % 256
        """,
        # KMV estimates re-derived from the SAME staged word relation:
        # per-type k-smallest sketch (QUALIFY rank), union-top-k per
        # pair, integer-division estimators; exact twin from the events
        # key stream.
        "kmv_audience_overlap": f"""
            WITH words AS (
              SELECT event_type, w
              FROM read_parquet('{_STAGE}/hll_user_hashes.parquet/*.parquet')),
            sk AS (
              SELECT event_type, w FROM words
              QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY w) <= 128),
            pairs AS (
              SELECT a.event_type AS type_a, b.event_type AS type_b
              FROM (SELECT DISTINCT event_type FROM sk) a
              JOIN (SELECT DISTINCT event_type FROM sk) b
                ON a.event_type < b.event_type),
            union_words AS (
              SELECT DISTINCT p.type_a, p.type_b, s.w
              FROM pairs p JOIN sk s
                ON s.event_type = p.type_a OR s.event_type = p.type_b),
            flagged AS (
              SELECT u.type_a, u.type_b, u.w,
                     CASE WHEN EXISTS (SELECT 1 FROM sk x
                                       WHERE x.event_type = u.type_a AND x.w = u.w)
                           AND EXISTS (SELECT 1 FROM sk y
                                       WHERE y.event_type = u.type_b AND y.w = u.w)
                          THEN 1 ELSE 0 END AS hit
              FROM union_words u),
            topk AS (
              SELECT * FROM flagged
              QUALIFY row_number() OVER (PARTITION BY type_a, type_b ORDER BY w) <= 128),
            est AS (
              SELECT type_a, type_b,
                     CASE WHEN count(*) < 128 THEN count(*)
                          ELSE (127 * CAST(281474976710656 AS BIGINT)) // max(w)
                     END AS est_union,
                     CAST(SUM(hit) AS BIGINT) AS k_inter
              FROM topk GROUP BY type_a, type_b),
            ue AS (SELECT DISTINCT event_type, user_id FROM events),
            inter AS (
              SELECT x.event_type AS type_a, y.event_type AS type_b,
                     count(*) AS exact_inter
              FROM ue x JOIN ue y ON x.user_id = y.user_id
                AND x.event_type < y.event_type
              GROUP BY x.event_type, y.event_type),
            sizes AS (SELECT event_type, count(*) AS n FROM ue GROUP BY event_type)
            SELECT e.type_a, e.type_b,
                   CAST(e.est_union AS BIGINT) AS est_union,
                   e.k_inter,
                   CAST((e.k_inter * e.est_union) // 128 AS BIGINT) AS est_inter,
                   CAST(sa.n + sb.n - i.exact_inter AS BIGINT) AS exact_union,
                   CAST(i.exact_inter AS BIGINT) AS exact_inter
            FROM est e
            JOIN inter i ON i.type_a = e.type_a AND i.type_b = e.type_b
            JOIN sizes sa ON sa.event_type = e.type_a
            JOIN sizes sb ON sb.event_type = e.type_b
        """,
        # Asymmetric banding between the two staged signature relations
        # (new batch x corpus); same slice-equality banding + exact
        # Jaccard verify argument as the self-join CTE above.
        "incremental_neardup": f"""
            WITH sn AS (SELECT doc, sig
                        FROM read_parquet('{_STAGE}/minhash_sigs_new.parquet/*.parquet')),
            sc AS (SELECT doc, sig
                   FROM read_parquet('{_STAGE}/minhash_sigs_corpus.parquet/*.parquet')),
            cand AS (
              SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
              FROM sn a JOIN sc b
                ON list_slice(a.sig,  1,  6) = list_slice(b.sig,  1,  6)
                OR list_slice(a.sig,  7, 12) = list_slice(b.sig,  7, 12)
                OR list_slice(a.sig, 13, 18) = list_slice(b.sig, 13, 18)
                OR list_slice(a.sig, 19, 24) = list_slice(b.sig, 19, 24)
                OR list_slice(a.sig, 25, 30) = list_slice(b.sig, 25, 30)
                OR list_slice(a.sig, 31, 36) = list_slice(b.sig, 31, 36)
                OR list_slice(a.sig, 37, 42) = list_slice(b.sig, 37, 42)
                OR list_slice(a.sig, 43, 48) = list_slice(b.sig, 43, 48)),
            {_SHINGLES_CTE.strip()},
            j AS (
              SELECT c.id_a, c.id_b,
                     len(list_intersect(wa.sh, wb.sh)) AS inter,
                     len(wa.sh) AS na, len(wb.sh) AS nb
              FROM cand c
              JOIN w wa ON wa.doc_id = c.id_a
              JOIN w wb ON wb.doc_id = c.id_b)
            SELECT id_a, id_b,
                   round(cast(inter as double) / cast(na + nb - inter as double), 6)
                       AS jaccard
            FROM j
            WHERE round(cast(inter as double) / cast(na + nb - inter as double), 6)
                  >= 0.8
        """,
        "q8_market_share": """
            SELECT year(o_orderdate) AS o_year,
                   CAST(sum(CAST(
                       CASE WHEN n2.n_name = 'NATION_1'
                            THEN cast(cast(l_extendedprice as decimal(18,2))
                                 * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                                 as decimal(18,4))
                            ELSE cast(0 as decimal(18,4)) END * 10000
                       AS BIGINT)) AS BIGINT) AS nation_rev_fp4,
                   CAST(sum(CAST(cast(cast(l_extendedprice as decimal(18,2))
                        * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                        as decimal(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS total_rev_fp4
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE p_type = 'STANDARD'
              AND r_name = 'EUROPE'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY year(o_orderdate)
        """,
        "q11_important_parts": """
            WITH per_part AS (
              SELECT l_partkey,
                     CAST(sum(CAST(cast(l_extendedprice as decimal(18,2)) * 100
                                   AS BIGINT)) AS BIGINT) AS value_fp2
              FROM lineitem
              WHERE l_suppkey IN (
                  SELECT s_suppkey FROM supplier JOIN nation
                    ON s_nationkey = n_nationkey
                  WHERE n_name = 'NATION_1')
              GROUP BY l_partkey),
            t AS (SELECT CAST(sum(value_fp2) AS BIGINT) AS total FROM per_part)
            SELECT l_partkey, value_fp2
            FROM per_part, t
            WHERE value_fp2 * 1000 > total
        """,
        "q15_top_supplier": """
            WITH revenue AS (
              SELECT l_suppkey,
                     CAST(sum(CAST(cast(cast(l_extendedprice as decimal(18,2))
                          * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                          as decimal(18,4)) * 10000 AS BIGINT)) AS BIGINT)
                         AS total_rev_fp4
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_rev_fp4
            FROM revenue JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_rev_fp4 = (SELECT max(total_rev_fp4) FROM revenue)
        """,
        "q20_excess_shippers": """
            SELECT s_suppkey, s_name, n_name AS nation
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE '%red%'
                  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
                GROUP BY l_suppkey, l_partkey
                HAVING sum(cast(l_quantity as decimal(18,2)))
                       > cast(50 as decimal(18,2)))
        """,
        "cluster_representatives": f"""
            WITH RECURSIVE
            {_MINHASH_VERIFIED_CTE.strip()},
            edges AS (SELECT id_a AS src, id_b AS dst FROM verified
                      UNION SELECT id_b, id_a FROM verified),
            walk AS (
              SELECT src AS start, src AS reach FROM edges
              UNION
              SELECT wk.start, e.dst FROM walk wk JOIN edges e ON wk.reach = e.src),
            clusters AS (
              SELECT start AS doc_id, min(reach) AS cluster_id
              FROM walk GROUP BY start),
            sized AS (
              SELECT c.cluster_id, c.doc_id, d.n_chars,
                     row_number() OVER (PARTITION BY c.cluster_id
                                        ORDER BY d.n_chars DESC, c.doc_id ASC)
                         AS rk,
                     count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
              FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
            SELECT cluster_id, doc_id AS rep_doc_id,
                   n_chars AS rep_n_chars, n_docs
            FROM sized WHERE rk = 1
        """,
        "grouping_sets_orders": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
                   CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
                   count(*) AS n,
                   CAST(sum(CAST(cast(o_totalprice as decimal(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS total_fp2
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        # The Morton interleave re-derived bit-for-bit in SQL: 64
        # shift/mask OR-terms generated by the same (bit, dimension) ->
        # position rule as operators/layout._interleave.
        "zorder_locality": f"""
            WITH b AS (
              SELECT min(cast(user_id as double)) AS lo_u,
                     max(cast(user_id as double)) AS hi_u,
                     min(cast(epoch_us(ts) as double)) AS lo_t,
                     max(cast(epoch_us(ts) as double)) AS hi_t
              FROM events),
            q AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                     greatest(0, least(CAST(floor(
                         CASE WHEN hi_u > lo_u
                              THEN (cast(user_id as double) - lo_u) / (hi_u - lo_u)
                              ELSE 0 END * 65535) AS BIGINT), 65535)) AS bu,
                     greatest(0, least(CAST(floor(
                         CASE WHEN hi_t > lo_t
                              THEN (cast(epoch_us(ts) as double) - lo_t) / (hi_t - lo_t)
                              ELSE 0 END * 65535) AS BIGINT), 65535)) AS bt
              FROM events, b),
            z AS (
              SELECT user_id, ts_us,
                     ({" | ".join(
                         f"(((bu >> {i}) & 1) << {2 * i})" for i in range(16)
                     )} | {" | ".join(
                         f"(((bt >> {i}) & 1) << {2 * i + 1})" for i in range(16)
                     )}) AS zv
              FROM q)
            SELECT zv >> 26 AS zbucket, count(*) AS n,
                   max(user_id) - min(user_id) AS user_span,
                   CAST(max(ts_us) - min(ts_us) AS BIGINT) AS ts_span
            FROM z GROUP BY zv >> 26
        """,
        # Exact ground truth = all-pairs shingle Jaccard (DuckDB's
        # independent derivation); LSH side from the staged signatures.
        "minhash_recall": f"""
            WITH {_MINHASH_VERIFIED_CTE.strip()},
            exact AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM w a JOIN w b ON a.doc_id < b.doc_id
              WHERE round(cast(len(list_intersect(a.sh, b.sh)) as double)
                          / cast(len(a.sh) + len(b.sh)
                                 - len(list_intersect(a.sh, b.sh)) as double), 6)
                    >= 0.8),
            flags AS (
              SELECT coalesce(e.id_a, v.id_a) AS id_a,
                     coalesce(e.id_b, v.id_b) AS id_b,
                     e.id_a IS NOT NULL AS in_e,
                     v.id_a IS NOT NULL AS in_l
              FROM exact e FULL OUTER JOIN verified v
                ON e.id_a = v.id_a AND e.id_b = v.id_b)
            SELECT CAST(sum(CASE WHEN in_e THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
                   CAST(sum(CASE WHEN in_l THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
                   CAST(sum(CASE WHEN in_e AND in_l THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_common,
                   CAST(sum(CASE WHEN in_e AND NOT in_l THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_missed
            FROM flags
        """,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001; driver checks rows>0 and stable schema."""
    return q_sync_incremental_semijoin(spark, SF_SMOKE)
