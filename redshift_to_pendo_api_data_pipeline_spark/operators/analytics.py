"""Aggregation / window / set-op operators.

The reference's aggregation surface is tiny (SURVEY.md §2.4: COUNT(*),
running-max bookmark, Counter merges, pairwise request-time deltas via
``tee``/``zip`` at target-pendo/src/__init__.py:197-214). Each of those is
re-expressed here as the idiomatic Spark primitive, and the surface is
widened with the standard analytical operators a 100 TB pipeline needs
(rollup/cube, distinct counts, windowed dedup) — all built-ins, all
partial-aggregated map-side before the shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from redshift_to_pendo_api_data_pipeline_spark.functions.transforms import fixed_point
from redshift_to_pendo_api_data_pipeline_spark.staging import stage


def grouped_stats(df: DataFrame, key: str, value: str, ts: str) -> DataFrame:
    """A5: per-stream progress stats (count / sum / min / max), one shuffle,
    map-side combined. Value summed as DECIMAL for exactness, surfaced as
    fixed-point cents (see transforms.fixed_point)."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        fixed_point(F.sum(F.col(value).cast("decimal(18,2)"))).alias("sum_value_fp2"),
        F.max(F.unix_micros(ts)).alias("last_seen_us"),
        F.min(F.unix_micros(ts)).alias("first_seen_us"),
    )


def pairwise_deltas(df: DataFrame, partition_key: str, ts: str, tiebreak: str) -> DataFrame:
    """A5: request-time deltas. The reference zips a list with itself
    shifted by one (__init__.py:197-214); distributed form = lag() window.
    One shuffle on the partition key; within-partition sort only."""
    w = Window.partitionBy(partition_key).orderBy(F.col(ts).asc(), F.col(tiebreak).asc())
    return df.select(
        F.col(partition_key),
        F.col(tiebreak),
        (F.unix_micros(F.col(ts)) - F.lag(F.unix_micros(F.col(ts))).over(w)).alias(
            "delta_us"
        ),
    )


def latest_per_key(df: DataFrame, key: str, order_col: str, tiebreak: str) -> DataFrame:
    """Keep the newest row per key — the versioned-dedup idiom
    (ACTIVATE_VERSION 'only the latest version survives' semantics,
    tap messages.py:152-173, expressed relationally). row_number, not
    dropDuplicates, so 'newest' is explicit and deterministic."""
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc(), F.col(tiebreak).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def rollup_counts(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """Hierarchical totals (rollup): subtotals per prefix of `keys` plus a
    grand total — one pass, no self-union."""
    return df.rollup(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        fixed_point(F.sum(F.col(value).cast("decimal(18,2)"))).alias("sum_value_fp2"),
    )


def cube_counts(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """All grouping-set combinations of `keys`."""
    return df.cube(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        fixed_point(F.sum(F.col(value).cast("decimal(18,2)"))).alias("sum_value_fp2"),
    )


def distinct_count(df: DataFrame, col: str) -> DataFrame:
    """Exact distinct (expandable to approx_count_distinct for the
    HLL-sketch scale path — see approx_distinct_count)."""
    return df.agg(F.count_distinct(F.col(col)).alias("n_distinct"))


def approx_distinct_count(df: DataFrame, col: str, rsd: float = 0.02) -> DataFrame:
    """HLL++ sketch distinct — the 100 TB path: constant memory per
    partition, no exact-distinct shuffle explosion. Not oracle-comparable
    (engine-specific sketch), checked rows-only."""
    return df.agg(F.approx_count_distinct(F.col(col), rsd).alias("n_distinct_approx"))


def heavy_hitters(df: DataFrame, key: str, min_count: int) -> DataFrame:
    """Exact heavy hitters: keys whose frequency meets `min_count`.

    One map-side-combined count shuffle keyed on the (high-cardinality)
    key, then a post-aggregation filter — the exact twin of a
    count-min-sketch pass. At 100 TB the partial aggregation means each
    executor ships one row per distinct key it saw, not per event; the
    HAVING filter runs post-shuffle, so no extra pass. Returns
    (key, n) for qualifying keys."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )


def sliding_frame_stats(
    df: DataFrame, partition_key: str, order_col: str, tiebreak: str,
    value: str, frame_rows: int,
) -> DataFrame:
    """Moving-window aggregate over the trailing `frame_rows` rows per
    key (ROWS BETWEEN frame_rows-1 PRECEDING AND CURRENT ROW): windowed
    sum (exact decimal, surfaced fixed-point) and the actual frame size.

    Partitioned by the entity key so the window parallelizes across keys
    (no global single-reducer window); within a partition Spark sorts
    once and both aggregates share the frame scan."""
    w = (
        Window.partitionBy(partition_key)
        .orderBy(F.col(order_col).asc(), F.col(tiebreak).asc())
        .rowsBetween(-(frame_rows - 1), Window.currentRow)
    )
    return df.select(
        F.col(partition_key),
        F.col(tiebreak),
        fixed_point(F.sum(F.col(value).cast("decimal(18,2)")).over(w)).alias(
            "frame_sum_fp2"
        ),
        F.count(F.lit(1)).over(w).alias("frame_n"),
    )


def global_ranks(df: DataFrame, sort_cols: list, rank_name: str = "__rank",
                 keep_total: bool = False) -> DataFrame:
    """Distributed global ranking over a total order WITHOUT the
    single-reducer global window (`Window.orderBy` with no partitionBy
    serializes the whole input through one task — the round-1 verdict's
    named scale-killer).

    Plan: range-repartition on the sort key with an EXPLICIT partition
    count (user-specified numPartitions pins the Exchange so AQE never
    re-coalesces it — partition ids stay identical for every consumer of
    the reused shuffle), sort within partitions, derive each row's local
    position from ``monotonically_increasing_id``'s low 33 bits (the
    per-partition row counter — no window, no extra shuffle), aggregate
    per-partition row counts (a combiner agg producing <= nparts rows),
    turn those into cumulative start offsets, and broadcast-join the
    offsets back:  ``rank = offset[partition] + local_position + 1``.

    The ranged relation is pinned with a ``localCheckpoint`` before
    fan-out: the counts branch and the output branch both key on
    ``spark_partition_id``, and without the pin each branch can
    materialize the range Exchange independently (exchange reuse is an
    optimization, not a contract). NON-EAGER since r11: the pin's
    value is the single shared RDD (one exchange instance -> one
    boundary sample -> branches always agree), which lazy checkpointing
    provides identically; eager=True only added a synchronous
    materialize job before every consumer, ~one extra scheduling wave
    per query using this helper. Each materialization re-SAMPLES the
    range boundaries, and the sample depends on upstream shuffle-fetch
    order — nondeterministic at runtime — so the two branches can
    disagree about which rows partition p holds, silently corrupting
    every rank after the first boundary (caught round 7 by a
    run-to-run flap in `mann_whitney_u`; the same dual-consumption
    shape lives here and in `global_prefix_max_excl`). The checkpoint
    materializes the sorted relation once — the same order of cost as
    the sort spill it sits next to — and both branches read identical
    blocks. The only partitionBy-less window runs over the offsets
    relation, which is bounded by ``spark.sql.shuffle.partitions``
    (same bounded-combiner pattern as IVF k-means training) — never by
    the data. `sort_cols` must be a total order (include a unique
    tiebreak) so ranks are deterministic regardless of where range
    boundaries fall."""
    spark = df.sparkSession
    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    ranged = (
        df.repartitionByRange(nparts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__local",
            F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)),
        )
    ).localCheckpoint(eager=False)
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__cnt").over(w_all).alias("__total"),
    )
    out = (
        ranged.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_name, F.col("__off") + F.col("__local") + 1)
        .drop("__pid", "__local", "__off")
    )
    return out if keep_total else out.drop("__total")


def ntile_buckets(
    df: DataFrame, order_col: str, tiebreak: str, n: int, value: str,
) -> DataFrame:
    """Equal-frequency bucketing with SQL ``ntile(n)`` semantics (first
    ``total % n`` buckets get the extra row), computed from a
    distributed global rank instead of the single-reducer ntile window:
    with q = total div n, r = total % n, a row of rank i lands in

        bucket = (i-1) div (q+1) + 1                 if i <= r*(q+1)
                 r + (i-1 - r*(q+1)) div q + 1       otherwise

    — pure integer arithmetic, evaluated rowside after the
    `global_ranks` composition (one range shuffle, offsets broadcast
    back), then one partial-aggregated groupBy on the n-value bucket
    key. The (order_col desc, tiebreak asc) order is total, so bucket
    membership is deterministic and cross-engine stable."""
    ranked = global_ranks(
        df.select(F.col(order_col), F.col(tiebreak), F.col(value)),
        [F.col(order_col).desc(), F.col(tiebreak).asc()],
        keep_total=True,
    )
    bucket = F.expr(
        f"CASE WHEN __rank <= (__total % {n}) * ((__total div {n}) + 1) "
        f"THEN (__rank - 1) div ((__total div {n}) + 1) + 1 "
        f"ELSE (__total % {n}) "
        f"  + (__rank - 1 - (__total % {n}) * ((__total div {n}) + 1)) "
        f"    div (__total div {n}) + 1 END"
    )
    return (
        ranked.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fixed_point(F.sum(F.col(value).cast("decimal(18,2)"))).alias(
                "sum_value_fp2"
            ),
        )
    )


def grouped_sorted_concat(df: DataFrame, key: str, value: str) -> DataFrame:
    """Per-key sorted distinct concatenation (LISTAGG/STRING_AGG shape):
    collect_set -> array_sort -> array_join, all JVM built-ins. The
    sort makes the string deterministic regardless of partitioning, so
    the result is value-hash-comparable cross-engine."""
    return df.groupBy(key).agg(
        F.array_join(F.array_sort(F.collect_set(F.col(value))), ",").alias(
            "values_csv"
        ),
        F.count_distinct(F.col(value)).alias("n_distinct"),
    )


def median_and_min_mode(df: DataFrame, key: str, value_int: str) -> DataFrame:
    """Exact per-key median (linear interpolation, SQL-standard) and
    deterministic mode (smallest value among the most frequent — ties
    broken by value so both engines agree).

    Median via percentile over an integer column: interpolated halves
    are exactly representable doubles, so the surface is cross-engine
    hashable. Mode computed relationally (count per value -> max count
    -> min value at max), partial-aggregated both stages; no
    engine-specific mode() builtin whose tiebreak could differ."""
    med = df.groupBy(key).agg(
        F.percentile(F.col(value_int), F.lit(0.5)).alias("median_value")
    )
    per_val = df.groupBy(key, value_int).agg(F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy(key).orderBy(
        F.col("__c").desc(), F.col(value_int).asc()
    )
    mode = (
        per_val.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(key, F.col(value_int).alias("mode_value"), F.col("__c").alias("mode_n"))
    )
    return med.join(mode, key)


def sequential_funnel(
    df: DataFrame, user_col: str, type_col: str, ts_col: str,
    steps: list[str], within_s: int | None = None,
) -> DataFrame:
    """Ordered conversion funnel: a user reaches step i when their first
    qualifying step-i event occurs at-or-after their step-(i-1) reach
    time. Returns (step_idx, step, n_users).

    ``within_s`` (round 7) adds the CONVERSION WINDOW every product
    funnel eventually needs: step i counts only when it happens within
    `within_s` seconds of the step-(i-1) reach — 'purchased within an
    hour of clicking', not 'eventually purchased'. NOTE these are
    first-touch semantics: the reach time is still the FIRST in-window
    step-i event after the first step-(i-1) reach; a user whose only
    conversion path goes through a LATER step-(i-1) occurrence does not
    count (restart-per-occurrence is a different operator).

    One conditional-min aggregation per step, chained by an equi-join on
    the user key: each stage's relation shrinks (funnels only narrow), the
    aggregations partial-combine map-side, and the shuffle key is the
    user id — high-cardinality, skew-free. The single-pass alternative
    (collect each user's full sorted event list) shuffles every event;
    this chain shuffles one row per user per step."""
    reached = None  # (user, t_reach)
    counts = []
    for i, step in enumerate(steps):
        ev = df.where(F.col(type_col) == step)
        if reached is not None:
            ev = ev.join(reached, user_col).where(F.col(ts_col) >= F.col("t_reach"))
            if within_s is not None:
                ev = ev.where(
                    F.col(ts_col)
                    <= F.col("t_reach") + F.expr(f"INTERVAL {within_s} SECONDS")
                )
        reached = (
            ev.groupBy(user_col)
            .agg(F.min(ts_col).alias("t"))
            .select(user_col, F.col("t").alias("t_reach"))
        )
        counts.append(
            reached.agg(
                F.lit(i).alias("step_idx"),
                F.lit(step).alias("step"),
                F.count(F.lit(1)).alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out


def sequential_funnel_single_pass(
    df: DataFrame, user_col: str, type_col: str, ts_col: str,
    steps: list[str], within_s: int | None = None,
) -> DataFrame:
    """Same funnel semantics as sequential_funnel, ONE scan and ONE
    user-key shuffle: the chained form's plan contains stage i-1 inside
    stage i, so S steps re-scan the fact table S times and replicate the
    aggregation subtree quadratically — visible as 20 scans / 34
    exchanges in the 4-step plan, and at 100 TB that is S reads of the
    fact table. Here every step-type event flows once into a per-user
    per-step SORTED timestamp array (collect_list drops the non-matching
    nulls), and the reach chain folds as JVM array algebra:
    t_k = array_min(filter(a_k, x >= t_{k-1})). Per-user state is
    bounded by that user's step events — the documented trade vs the
    chain's one-row-per-user shuffles; pick by fact-scan cost, which
    dominates at scale. Output is row-identical to sequential_funnel
    (pinned by test)."""
    arrays = [
        F.sort_array(
            F.collect_list(F.when(F.col(type_col) == s, F.col(ts_col)))
        ).alias(f"__a{i}")
        for i, s in enumerate(steps)
    ]
    per_user = (
        df.where(F.col(type_col).isin(steps))
        .groupBy(user_col)
        .agg(*arrays)
    )
    # array_min, not element_at(.., 1): a user with a later-step event but
    # no step-0 event has __a0 = [] (collect_list drops the nulls), and
    # element_at on an empty array THROWS under Spark 4's default ANSI
    # mode. array_min of the sorted array is the same first element and
    # returns NULL on empty — the reach chain then correctly stops.
    reach = F.array_min(F.col("__a0")).alias("__t0")
    cols = [reach]
    def _window_pred(prev):
        # single-arg lambdas (pyspark derives higher-order-function arity
        # from the signature, so no default-arg captures)
        if within_s is None:
            return lambda x: x >= prev
        # same first-touch conversion-window semantics as the chained
        # form (within_s seconds of the previous reach)
        bound = F.expr(f"INTERVAL {within_s} SECONDS")
        return lambda x: (x >= prev) & (x <= prev + bound)

    for i in range(1, len(steps)):
        prev = F.col(f"__t{i-1}")
        in_window = _window_pred(prev)
        cols.append(
            F.when(
                prev.isNotNull(),
                F.array_min(F.filter(F.col(f"__a{i}"), in_window)),
            ).alias(f"__t{i}")
        )
    reached = per_user
    for i, c in enumerate(cols):
        reached = reached.withColumn(f"__t{i}", c)
    agg = reached.agg(*[
        F.count(F.col(f"__t{i}")).alias(f"__n{i}") for i in range(len(steps))
    ])
    # one explode, not a union of per-step selects — a union branch each
    # re-executes the aggregate subtree (the exact flaw this rewrite
    # removes from the chained form)
    return agg.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("step_idx"),
                    F.lit(s).alias("step"),
                    F.col(f"__n{i}").alias("n_users"),
                )
                for i, s in enumerate(steps)
            ])
        ).alias("r")
    ).select("r.*")


def sequential_funnel_per_occurrence(
    df: DataFrame, user_col: str, type_col: str, ts_col: str,
    steps: list[str], within_s: int,
) -> DataFrame:
    """ANY-CHAIN windowed funnel (restart-per-occurrence — the other
    standard product-analytics semantics, complementing the first-touch
    `within_s` forms): a user counts at step k when SOME chain of events
    e_0 <= e_1 <= ... <= e_k exists with each e_i within `within_s`
    seconds of e_{i-1}. First-touch anchors the window at the FIRST
    previous reach and can miss chains through later occurrences
    (pinned in test_funnel_conversion_window_semantics); this form
    cannot.

    Existence folds to an as-of test per level: a step-k event
    qualifies iff the LATEST qualifying step-(k-1) event at-or-before
    it is within the window (if any qualifying event is in [t-W, t],
    the latest one is). So level k = one asof_join of step-k events
    against level k-1's qualifying events — S user-key shuffles total,
    NO per-user row explosion (the naive EXISTS join is
    events-per-user² per level; the as-of window form is linear)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import asof_join

    qualified = df.where(F.col(type_col) == steps[0]).select(
        F.col(user_col).alias("__u"), F.col(ts_col).alias("__ts")
    )
    counts = [
        qualified.agg(
            F.lit(0).alias("step_idx"),
            F.lit(steps[0]).alias("step"),
            F.count_distinct("__u").alias("n_users"),
        )
    ]
    for i, step in enumerate(steps[1:], start=1):
        cand = df.where(F.col(type_col) == step).select(
            F.col(user_col).alias("__u"), F.col(ts_col).alias("__ts")
        )
        prev = qualified.select("__u", F.col("__ts").alias("__q_ts"))
        hit = asof_join(cand, prev, "__u", "__ts", "__q_ts", ["__q_ts"])
        qualified = hit.where(
            F.col("__q_ts").isNotNull()
            & (F.col("__ts")
               <= F.col("__q_ts") + F.expr(f"INTERVAL {within_s} SECONDS"))
        ).select("__u", "__ts")
        counts.append(
            qualified.agg(
                F.lit(i).alias("step_idx"),
                F.lit(step).alias("step"),
                F.count_distinct("__u").alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out


def count_min_sketch(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256,
    stage_map_path: str | None = None,
) -> DataFrame:
    """Count-min sketch frequency estimates, composed from built-ins and
    fully value-checkable cross-engine.

    Counters: each row explodes into `depth` (row-of-the-sketch, bucket)
    coordinates — bucket_i = xxhash64(i, key) mod width — and one
    partial-aggregated count per coordinate yields the depth x width
    counter matrix (a few KB regardless of data size; the shuffle carries
    at most depth x width rows per map task thanks to map-side combine).
    Estimate per key = min over the depth counters it hashes into —
    >= the true count always, with the classic (eps=2/width, delta) CMS
    overestimate bound.

    The per-key coordinates are STAGED to `stage_map_path` when given —
    the same lake-staging pattern as MinHash signatures: the hash family
    is the only engine-specific piece, so an independent engine
    re-derives counters AND estimates exactly from (events x mapping),
    making the sketch hash-checkable rather than tolerance-checked.

    Returns (key, exact_n, cms_est): the estimate next to the exact
    count it approximates (both deterministic integers). At 100 TB the
    exact twin is the expensive side (full distinct-key shuffle) and the
    sketch side is one broadcast-sized matrix — production reads just
    the sketch; the exact column here is the built-in accuracy audit.

    Reference analogue: the record-counter metric family
    (tap-redshift/src/sync.py:178-183) generalized to per-key frequency
    under bounded memory."""
    coords = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    F.pmod(
                        F.xxhash64(F.lit(i), F.col(key_col).cast("string")),
                        F.lit(width),
                    ).cast("int").alias("bucket"),
                )
                for i in range(depth)
            ]
        )
    ).alias("c")
    counters = (
        df.select(coords)
        .select("c.i", "c.bucket")
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("exact_n"))
    mapping = exact.select(F.col(key_col), coords).select(
        key_col, "c.i", "c.bucket"
    )
    if stage_map_path is not None:
        mapping = stage(df.sparkSession, stage_map_path, lambda: mapping)
    return (
        mapping.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy(key_col)
        .agg(F.min("cnt").alias("cms_est"))
        .join(exact, key_col)
        .select(key_col, "exact_n", "cms_est")
    )


def hyperloglog_registers(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    m: int = 256,
    stage_hash_path: str | None = None,
) -> DataFrame:
    """HyperLogLog register table (Flajolet et al. 2007) — the
    distinct-count sketch that completes the sketch family (count-min =
    frequency, Bloom = membership, MinHash = similarity, HLL =
    cardinality), composed from built-ins and fully value-checkable
    cross-engine like count_min_sketch.

    Registers: h = xxhash64(key) folded to a non-negative 48-bit word w;
    bucket = w mod m, v = w div m (a (48-log2 m)-bit value), register =
    max over the group's keys of rank(v) = leading zeros of v + 1
    (v = 0 -> the maximum rank). Every step is integer/string algebra
    both engines implement identically (pmod/bin/length), so the staged
    (group, w) relation lets an independent engine re-derive the exact
    register table — the sketch is hash-checkable, not
    tolerance-checked. (`bin` gives the minimal binary string in both
    Spark and DuckDB; rank = vbits+1-length(bin(v)) with the v=0 case
    explicit.)

    Scale story — the entire point of HLL at 100 TB: ONE linear pass,
    register derivation map-side, and the only shuffle carries at most
    |groups| x m partially-maxed rows (map-side combine); the key stream
    never shuffles and no distinct-key relation is ever materialized.
    The exact twin every accuracy audit needs is the expensive side.
    `stage_hash_path` stages the per-distinct-key hash words for the
    oracle bridge only — production skips it.

    Estimate: `hll_estimate` (driver-side arithmetic over the collected
    m-bounded register table) applies the standard bias correction and
    small-range linear counting; accuracy is pinned by test against the
    1.04/sqrt(m) theoretical error."""
    groups = list(group_cols or [])
    vbits = 48 - int(math.log2(m))
    w = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(1 << 48))
    hashed = df.select(*groups, w.alias("w"))
    if stage_hash_path is not None:
        hashed = stage(df.sparkSession, stage_hash_path, hashed.distinct)
    v = F.expr(f"w div {m}")
    rank = F.when(v == F.lit(0), F.lit(vbits + 1)).otherwise(
        F.lit(vbits + 1) - F.length(F.bin(v))
    )
    return (
        hashed.select(
            *groups,
            F.pmod(F.col("w"), F.lit(m)).cast("int").alias("bucket"),
            rank.cast("int").alias("rank"),
        )
        .groupBy(*groups, "bucket")
        .agg(F.max("rank").alias("register"))
    )


def kmv_sketches(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 128,
    stage_hash_path: str | None = None,
) -> DataFrame:
    """K-minimum-values sketch per group (Bar-Yossef et al. 2002): the k
    SMALLEST distinct 48-bit hash words of the group's keys — the
    mergeable distinct-count sketch whose union/intersection composition
    HLL registers don't give you. Returns (group, w) with ≤ k rows per
    group.

    Exactly integer end-to-end: hash words are pmod(xxhash64, 2^48) and
    selection is a rank — no floats anywhere, so sketches (and every
    estimate derived in kmv_pair_overlap) hash-check cross-engine from
    the staged word relation (shareable with hyperloglog_registers —
    same (group, w) shape).

    Scale: the rank-≤-k window compiles to WindowGroupLimit (asserted in
    tests) — each map task forwards at most k rows per group before the
    group shuffle, so the exchange carries O(groups·k·tasks) sketch rows,
    never the key stream."""
    w = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(1 << 48))
    # staged shape (group_col, w) matches hyperloglog_registers' staging,
    # so one staged word relation serves both sketch families
    hashed = df.select(F.col(group_col), w.alias("w")).distinct()
    if stage_hash_path is not None:
        hashed = stage(df.sparkSession, stage_hash_path, lambda: hashed)
    rn = F.row_number().over(Window.partitionBy(group_col).orderBy("w"))
    return (
        hashed.withColumn("__rn", rn)
        .where(F.col("__rn") <= k)
        .select(group_col, "w")
    )


def kmv_pair_overlap(
    sketches: DataFrame, group_col: str, k: int = 128
) -> DataFrame:
    """Pairwise distinct-count set algebra from KMV sketches alone: for
    every group pair (a < b), the union-cardinality estimate and the
    intersection estimate — the audience-overlap question ('how many
    users do these two event types share') answered from two k-row
    sketches instead of a key-stream join.

    Estimators (all INTEGER division, cross-engine exact given the
    sketch rows): take the k smallest of sketch_a ∪ sketch_b with u_k =
    the k-th value; est_union = (k-1)·2^48 div u_k (or the exact union
    sketch size when it holds fewer than k words — then the sketch IS
    the set); K∩ = union-top-k words present in BOTH sketches;
    est_inter = K∩·est_union div k. Work is O(pairs·k): the pair
    relation never touches the raw keys."""
    a = sketches.select(
        F.col(group_col).alias("ga"), F.col("w").alias("w")
    )
    b = sketches.select(
        F.col(group_col).alias("gb"), F.col("w").alias("w")
    )
    # (pair, w, in_both): every sketch word of either side, flagged when
    # both sketches carry it — a full outer join on w within the pair
    # via union + groupBy (no key-stream involved; O(pairs · k) rows)
    # every relation below is sketch-bounded (≤ |groups|·k rows), so the
    # joins hash/broadcast by construction — hinted explicitly because
    # derived-relation size estimates would otherwise leave the static
    # plan on SortMergeJoin
    both = (
        a.join(b.hint("shuffle_hash"), "w")
        .where(F.col("ga") < F.col("gb"))
        .select("ga", "gb", "w", F.lit(1).alias("hit"))
    )
    pairs = F.broadcast(
        a.select(F.col("ga").alias("g1"))
        .distinct()
        .join(b.select(F.col("gb").alias("g2")).distinct(),
              F.col("g1") < F.col("g2"))
    )
    union_rows = (
        pairs.join(a, pairs.g1 == a.ga)
        .select("g1", "g2", "w")
        .unionByName(
            pairs.join(b, pairs.g2 == b.gb).select("g1", "g2", "w"))
        .distinct()
        .join(
            both.select(F.col("ga").alias("g1"), F.col("gb").alias("g2"),
                        "w", "hit").hint("shuffle_hash"),
            ["g1", "g2", "w"], "left",
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("g1", "g2").orderBy("w"))
    topk = union_rows.withColumn("__rn", rn).where(F.col("__rn") <= k)
    M = 1 << 48
    agg = topk.groupBy("g1", "g2").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("w").alias("u_k"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("k_inter"),
    )
    est_union = F.when(
        F.col("n_kept") < k, F.col("n_kept")
    ).otherwise(F.expr(f"({k - 1} * cast({M} as bigint)) div u_k"))
    return agg.select(
        F.col("g1").alias("type_a"),
        F.col("g2").alias("type_b"),
        est_union.cast("long").alias("est_union"),
        F.col("k_inter").cast("long").alias("k_inter"),
        (F.col("k_inter") * est_union).cast("long").alias("__num"),
    ).select(
        "type_a", "type_b", "est_union", "k_inter",
        F.expr(f"__num div {k}").cast("long").alias("est_inter"),
    )


def hll_estimate(registers: list[int], m: int = 256) -> float:
    """Cardinality estimate from one group's register list (absent
    buckets = 0): harmonic-mean raw estimate with the standard
    small-range linear-counting correction. Driver-side on an m-bounded
    list by construction."""
    regs = list(registers) + [0] * (m - len(registers))
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m / sum(2.0 ** -r for r in regs)
    zeros = sum(1 for r in regs if r == 0)
    if raw <= 2.5 * m and zeros:
        return m * math.log(m / zeros)
    return raw


def retention_cohorts(df: DataFrame, user_col: str, ts_col: str) -> DataFrame:
    """Classic cohort-retention matrix: users are grouped by the week of
    their first event (cohort), and each cell counts how many of that
    cohort were active `week_offset` weeks later.

    Scale design: ONE scan, two shuffles — the distinct (user, week)
    activity relation hash-partitions by user, the cohort week is a
    per-user MIN WINDOW over it (no join back to a re-derived aggregate
    — that form re-scans the event stream), and the matrix groupBy
    reuses nothing heavier than the |users x weeks| activity relation.
    The matrix itself is O(weeks²) rows — always tiny. week_offset is
    an exact integer day-diff // 7 on DATE-truncated weeks, so the
    result hash-matches any engine."""
    acts = df.select(
        F.col(user_col).alias("u"),
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("wk"),
    ).distinct()
    cohort_wk = F.min("wk").over(Window.partitionBy("u"))
    return (
        acts.select(
            cohort_wk.alias("cohort_wk"),
            (F.datediff("wk", cohort_wk) / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_wk", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("cohort_wk").cast("string").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
    )


def windowed_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak: str,
    frame: int = 20,
    min_n: int = 10,
    z: int = 2,
) -> DataFrame:
    """Flag events whose value deviates more than z population standard
    deviations from their own trailing window (the last `frame` events of
    the same key, current included).

    All arithmetic is integer (values fixed-pointed to cents with floor,
    exact on doubles in any engine), so the z-test
        (x - mu)^2 > z^2 * sigma^2
    is evaluated in its cross-multiplied BIGINT form
        (x*n - s)^2 > z^2 * (n*ss - s^2)
    — no floating point anywhere, hash-exact across engines.

    Scale design: one shuffle (hash partition by key) + per-key sort for
    the running frame; no global window, no driver state. Sliding sums
    are O(1) per row in Spark's window operator."""
    v = F.floor(F.col(value_col) * 100).cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, tiebreak)
        .rowsBetween(-(frame - 1), 0)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum(v).over(w)
    ss = F.sum(v * v).over(w)
    lhs = (v * n - s) * (v * n - s)
    rhs = F.lit(z * z) * (n * ss - s * s)
    return df.select(
        F.col(tiebreak),
        F.col(key_col),
        v.alias("v_cents"),
        ((n >= min_n) & (lhs > rhs)).cast("int").alias("is_anomaly"),
    )


def ewm_weighted_sum(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak: str,
    value_col: str,
    frame: int = 8,
) -> DataFrame:
    """Exponentially weighted moving sum over the trailing `frame`
    events per key: the newest value carries weight 2^(m-1), halving
    backwards (m = rows in frame). Divide by 2^m - 1 for the EWMA — the
    numerator is kept as the exact BIGINT surface, so the result
    hash-matches any engine (no float smoothing constants anywhere;
    this is the alpha = 1/2 EWMA restricted to a bounded window, which
    is also what keeps the integer magnitudes in 2^63).

    Scale design: one shuffle (hash by key) + per-key sort; the fold is
    a JVM higher-order aggregate over the frame's collect_list — frame
    is a small constant, so per-row cost is O(frame) with no Python and
    no second shuffle."""
    v = F.floor(F.col(value_col) * 100).cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, tiebreak)
        .rowsBetween(-(frame - 1), 0)
    )
    lst = F.collect_list(v).over(w)
    num = F.aggregate(
        F.reverse(lst),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2) + x,
    )
    return df.select(
        F.col(tiebreak),
        F.col(key_col),
        F.size(lst).alias("frame_n"),
        num.alias("ewm_num"),
    )


def sequence_pattern_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak: str,
    type_col: str,
    pattern: str,
    symbol=None,
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: per key, lay the event types out as one
    chronological symbol string and count NON-OVERLAPPING regex matches
    of ``pattern`` — the sequence-pattern primitive (SQL:2016 row
    pattern matching / Flink CEP) that funnel counting can't express:
    funnels ask "did steps happen in order", patterns ask "how many
    times did this *shape* of session occur", with quantifiers and
    alternation for free from the regex engine.

    ``symbol`` maps a type to its one-char symbol (default: first
    character of ``type_col``); matching is leftmost, non-overlapping,
    greedy — identical semantics in Java regex and RE2, so results
    hash-check cross-engine for patterns without backreferences.

    Scale: ONE shuffle (hash by key); the sequence materializes as a
    per-key string whose length is that key's event count — bounded by
    the per-entity activity, not the corpus (the same per-key-bounded
    contract as sequential_funnel's collect_list). Sorting is
    array_sort on (ts, tiebreak, symbol) structs — JVM codegen, no
    Python anywhere."""
    sym = symbol if symbol is not None else F.substring(F.col(type_col), 1, 1)
    seq = (
        df.select(
            F.col(key_col),
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(tiebreak).alias("k"),
                sym.alias("ch"),
            ).alias("s"),
        )
        .groupBy(key_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["ch"]
                ),
                "",
            ).alias("seq")
        )
    )
    return seq.select(
        F.col(key_col),
        F.length("seq").alias("seq_len"),
        F.regexp_count("seq", F.lit(pattern)).alias("n_matches"),
    ).where(F.col("n_matches") > 0)


def event_path_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak: str,
    type_col: str,
    depth: int = 5,
    sep: str = ">",
) -> DataFrame:
    """User-journey paths: each key's first ``depth`` events (by time)
    joined into a path string, counted across keys — the "top paths"
    report every product-analytics surface ships (and the reference's
    event domain implies but cannot compute,
    tap-redshift/src/sync.py:176 replicates rows 1:1).

    Two shuffles, both keyed small: hash by key to assemble the
    per-key prefix (array_sort + slice keeps only ``depth`` structs per
    key), then a map-side-combined count by path string (distinct path
    cardinality <= |type alphabet|^depth, in practice tiny)."""
    paths = (
        df.select(
            F.col(key_col),
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(tiebreak).alias("k"),
                F.col(type_col).alias("e"),
            ).alias("s"),
        )
        .groupBy(key_col)
        .agg(
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_list("s")), 1, depth),
                    lambda s: s["e"],
                ),
                sep,
            ).alias("path")
        )
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def with_ntile(
    df: DataFrame, order_cols: list, n: int, name: str
) -> DataFrame:
    """SQL ``ntile(n)`` bucket assignment over a TOTAL order, via the
    `global_ranks` composition — one range shuffle + broadcast offsets,
    never the single-reducer `Window.orderBy` ntile (the round-1
    verdict's named scale-killer). Same integer bucket formula as
    `ntile_buckets` (first total%n buckets get the extra row), exposed
    as a row-level column so compositions (RFM scoring, decile tags)
    can tile the SAME relation on several orders."""
    ranked = global_ranks(df, order_cols, keep_total=True)
    bucket = F.expr(
        f"CASE WHEN __rank <= (__total % {n}) * ((__total div {n}) + 1) "
        f"THEN (__rank - 1) div ((__total div {n}) + 1) + 1 "
        f"ELSE (__total % {n}) "
        f"  + (__rank - 1 - (__total % {n}) * ((__total div {n}) + 1)) "
        f"    div (__total div {n}) + 1 END"
    )
    return ranked.withColumn(name, bucket.cast("int")).drop(
        "__rank", "__total"
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str,
    date_col: str,
    amount_col: str,
    n: int = 5,
) -> DataFrame:
    """RFM segmentation (the classic CRM scoring grid): per customer,
    Recency (days since last order, measured against the corpus max
    date), Frequency (order count) and Monetary (2-dp fixed-point
    spend) — each assigned an ntile(n) score over a deterministic total
    order (metric, then customer id; tile 1 = best), then aggregated to
    the (r, f, m) segment grid with customer counts and segment spend.

    Scale: the orders relation collapses to customer cardinality in ONE
    map-side-combined groupBy. The reference date is a 1-row broadcast
    scalar (Q11 shape). The final grid is bounded at n^3 rows."""
    base = orders.groupBy(F.col(cust_col).alias("cust")).agg(
        F.max(date_col).alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        fixed_point(
            F.sum(F.col(amount_col).cast("decimal(18,2)"))
        ).alias("monetary_fp"),
    )
    ref = orders.agg(F.max(date_col).alias("__ref"))
    base = (
        base.crossJoin(F.broadcast(ref))
        .withColumn(
            "recency_days", F.datediff("__ref", "__last").cast("int")
        )
        .drop("__last", "__ref")
    )
    scored = with_ntile(
        base, [F.col("recency_days").asc(), F.col("cust").asc()], n, "r"
    )
    scored = with_ntile(
        scored, [F.col("frequency").desc(), F.col("cust").asc()], n, "f"
    )
    scored = with_ntile(
        scored, [F.col("monetary_fp").desc(), F.col("cust").asc()], n, "m"
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_fp").cast("long").alias("segment_monetary_fp"),
    )


def robust_outlier_stats(
    df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Median/MAD outlier report per key — the ROBUST sibling of
    windowed_anomalies' mean/std z-scores: one wild value inflates a
    std enough to mask itself (masking/breakdown), while the median and
    the median-absolute-deviation have a 50% breakdown point.

    Everything surfaces as exact integers: values quantize to cents,
    and both medians carry DOUBLED (×2) so the even-count interpolated
    midpoint (k + 0.5 on integer inputs) stays integral — med2 = 2·med,
    mad4 = 2·median(|2v − med2|) = 4·MAD. The outlier rule
    |v − med| > 1.5·MAD becomes the pure-integer 2·|2v − med2| > 3·mad4.
    Exact per-key medians via percentile(0.5) — per-key cost bounded by
    that key's row count (same per-entity contract as the funnels).

    Three shuffles, all on the key: median, MAD (after a key-join that
    AQE resolves against the collapsed median relation), and the final
    count."""
    v = df.select(
        F.col(key_col).alias("k"),
        F.round(F.col(value_col) * 100).cast("long").alias("v"),
    )
    med = v.groupBy("k").agg(
        F.round(F.expr("2 * percentile(v, 0.5D)")).cast("long").alias("med2")
    )
    dev = v.join(med, "k").select(
        "k", "v", "med2",
        F.abs(F.lit(2) * F.col("v") - F.col("med2")).alias("dev2"),
    )
    mad = dev.groupBy("k").agg(
        F.round(F.expr("2 * percentile(dev2, 0.5D)")).cast("long").alias("mad4")
    )
    return (
        dev.join(mad, "k")
        .groupBy("k", "med2", "mad4")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.lit(2) * F.col("dev2") > F.lit(3) * F.col("mad4"))
                .cast("long")
            ).alias("n_outliers"),
        )
        .select(
            F.col("k").alias(key_col), "n", "med2", "mad4", "n_outliers"
        )
    )


def benford_first_digit(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic anomaly screen for financial/metric columns feeding an
    analytics export (fabricated or unit-mangled numbers drift from
    the log-uniform digit law).

    Shape: one projection + one 9-ary groupBy — a single shuffle whose
    output is at most 9 rows; partial aggregation does all the work
    map-side. First digit extracted lexically from the DECIMAL(18,2)
    string form of abs(value) — decimal-to-string is canonical (never
    scientific notation) and identical across engines, unlike raw
    double formatting; leading zeros and the point are stripped.
    Zero/NULL values (and magnitudes that round to 0.00 at the decimal
    scale) are excluded — Benford is defined on nonzero magnitudes.

    Expected shares are log10(1+1/d) embedded as FIXED-POINT
    parts-per-million literals (computed once here, not at runtime in
    either engine) so the comparison column is integer-exact
    cross-engine. ``dev_ppm`` = observed_ppm - expected_ppm.
    """
    # log10(1+1/d) in ppm, d=1..9: 301030, 176091, 124939, 96910,
    # 79181, 66947, 57992, 51153, 45757 (sums to 1,000,000).
    expected = {
        1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
        6: 66947, 7: 57992, 8: 51153, 9: 45757,
    }
    digits = df.select(
        F.substring(
            F.regexp_replace(
                F.abs(F.col(value_col)).cast("decimal(18,2)").cast("string"),
                "[^1-9]", ""),
            1, 1,
        ).alias("digit")
    ).where(F.col("digit") != "")
    counted = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = counted.agg(F.sum("n").alias("__tot"))
    exp_col = F.create_map(
        *[F.lit(x) for kv in expected.items() for x in kv]
    )[F.col("digit").cast("int")]
    # integer floor-division for the ppm share: `div` on BIGINTs in
    # Spark == `//` in DuckDB; a double divide + cast would TRUNCATE in
    # Spark but ROUND in DuckDB — the classic cross-engine hash trap.
    obs_ppm = F.expr("n * 1000000L div __tot")
    return (
        counted.crossJoin(F.broadcast(total))
        .select(
            F.col("digit").cast("int").alias("digit"),
            "n",
            obs_ppm.cast("long").alias("observed_ppm"),
            exp_col.cast("long").alias("expected_ppm"),
            (obs_ppm - exp_col).cast("long").alias("dev_ppm"),
        )
    )


def group_quantiles_disc(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_col: str,
    quantiles_pm: list[int] | None = None,
) -> DataFrame:
    """EXACT discrete quantiles per group — the element at rank
    ceil(q*n) in (value, tiebreak) order, one output row per (group,
    quantile). Discrete (type-1) semantics rather than interpolated:
    the result is an actual data value, so it is bit-identical
    cross-engine and meaningful for non-averageable domains.

    Shape: one window (partitioned by group — no global sort), ranks
    assigned in a single shuffle keyed on the group; the quantile
    selection is a map-side filter on rank == ceil(q*n), so the
    full ranked relation never re-shuffles. At 100 TB the cost is one
    hash partition + per-group sort — the same price as any grouped
    window; no driver collection, no percentile_approx sketch error.

    ``quantiles_pm`` are per-mille ranks (500 = median); default
    [250, 500, 750, 900, 990].
    """
    qs = quantiles_pm or [250, 500, 750, 900, 990]
    ranked = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("val"),
        F.col(tiebreak_col).alias("tb"),
    ).withColumn("rnk", F.row_number().over(
        Window.partitionBy("grp").orderBy(F.col("val").asc(),
                                          F.col("tb").asc())
    )).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("grp")))
    # one explode over the (tiny, literal) quantile list, then a
    # map-side equality filter on rank == ceil(q*n/1000) — the ranked
    # relation is scanned once, never re-windowed per quantile.
    # ceil via pure integer arithmetic: floor((q*n + 999) / 1000).
    return (
        ranked.withColumn(
            "q_pm", F.explode(F.array(*[F.lit(q) for q in qs]))
        )
        .where(
            F.col("rnk").cast("long")
            == F.expr("(q_pm * n + 999L) div 1000L")
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("q_pm").cast("int").alias("q_pm"),
            F.col("val").alias("q_value"),
            F.col("n").cast("long").alias("n"),
        )
    )


def churn_hazard(
    df: DataFrame, user_col: str, ts_col: str, unit_days: int = 7
) -> DataFrame:
    """Discrete-time hazard table (the Kaplan-Meier life table in its
    integer-exact form): per tenure period t, how many users were still
    observable at t (at risk) and how many were last seen at t
    (churned), with the hazard as a ppm BIGINT floor-division. Tenure =
    (last event - first event) // unit_days per user.

    Shape: one user-key shuffle collapses the event stream to per-user
    (first, last); the life table groups the per-user relation by
    tenure (bounded by observation span / unit); the at-risk column is
    a REVERSE cumulative sum over that bounded table — the window runs
    over ≤ span/unit rows, never the corpus, so the single-partition
    window is a non-issue at any scale. Survival products are left to
    the caller (float fold); the (churned, at_risk) pair is the exact
    sufficient statistic.
    """
    per_user = df.groupBy(F.col(user_col).alias("u")).agg(
        F.min(ts_col).alias("first_ts"), F.max(ts_col).alias("last_ts")
    )
    tenure = per_user.select(
        (F.datediff(F.col("last_ts").cast("date"),
                    F.col("first_ts").cast("date"))
         / unit_days).cast("long").alias("tenure")
    )
    life = tenure.groupBy("tenure").agg(
        F.count(F.lit(1)).cast("long").alias("n_churned")
    )
    w = Window.orderBy(F.col("tenure").asc()).rowsBetween(
        0, Window.unboundedFollowing
    )
    return (
        life.withColumn("n_at_risk", F.sum("n_churned").over(w).cast("long"))
        .select(
            F.col("tenure").cast("int").alias("tenure"),
            "n_at_risk",
            "n_churned",
            F.expr("n_churned * 1000000L div n_at_risk").alias("hazard_ppm"),
        )
    )


def cohort_ltv(
    df: DataFrame, user_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-activity
    month; per (cohort, age-in-months) the period revenue and the
    CUMULATIVE revenue per cohort — the curve a growth team reads
    LTV payback off. All money fixed-point (cents BIGINT).

    Shape: one user-key shuffle (cohort month = per-user min window
    over the user's rows — no re-scan join-back, same discipline as
    retention_cohorts), one (cohort, age) groupBy, and a cumulative
    window over the bounded months² matrix. Age is exact integer month
    arithmetic (year*12+month delta), engine-portable.
    """
    base = df.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).cast("date").alias("d"),
        (F.col(value_col).cast("decimal(18,2)") * 100).cast("long").alias(
            "v_fp"
        ),
    )
    cohort_d = F.min(F.date_trunc("month", F.col("d")).cast("date")).over(
        Window.partitionBy("u")
    )
    aged = base.select(
        F.col("u"),
        cohort_d.alias("cohort_month"),
        (
            (F.year("d") - F.year(cohort_d)) * 12
            + (F.month("d") - F.month(cohort_d))
        ).cast("int").alias("age_months"),
        "v_fp",
    )
    per_cell = aged.groupBy("cohort_month", "age_months").agg(
        F.sum("v_fp").cast("long").alias("revenue_fp"),
        F.countDistinct("u").cast("long").alias("active_users"),
    )
    cum = Window.partitionBy("cohort_month").orderBy(
        F.col("age_months").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    return per_cell.select(
        F.col("cohort_month").cast("string").alias("cohort_month"),
        "age_months",
        "revenue_fp",
        "active_users",
        F.sum("revenue_fp").over(cum).cast("long").alias("cum_revenue_fp"),
    )


def mean_shift_changepoint(
    df: DataFrame, key_col: str, ts_col: str, min_side: int = 2
) -> DataFrame:
    """Single changepoint detection per key over the daily count series
    — the binary-segmentation statistic (CUSUM's window-expressible
    sibling): for every candidate split day t, score the mean shift

        |mean(counts <= t) - mean(counts > t)|
          = |pre_sum·n_post - post_sum·n_pre| / (n_pre·n_post)

    computed entirely in integers (cross-multiplied numerator, ppm
    floor-division at the end) and pick the argmax split per key
    (earliest day wins ties). Splits leaving fewer than ``min_side``
    days on either side are excluded (a 1-day "regime" is noise).

    Shape: the event stream collapses to (key, day, n) in one shuffle
    — from there EVERYTHING runs on the bounded daily series (≤
    observation-span rows per key): prefix sums via per-key ordered
    windows, the argmax via one more per-key window. No joins, no
    Python, no corpus-sized window.
    """
    daily = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(ts_col).cast("date").alias("day"),
        )
        .groupBy("k", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w_run = Window.partitionBy("k").orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("k")
    scored = (
        daily.withColumn("pre_sum", F.sum("n").over(w_run).cast("long"))
        .withColumn("pre_n", F.count(F.lit(1)).over(w_run).cast("long"))
        .withColumn("tot_sum", F.sum("n").over(w_all).cast("long"))
        .withColumn("tot_n", F.count(F.lit(1)).over(w_all).cast("long"))
        .withColumn("post_sum", F.col("tot_sum") - F.col("pre_sum"))
        .withColumn("post_n", F.col("tot_n") - F.col("pre_n"))
        .where(
            (F.col("pre_n") >= min_side) & (F.col("post_n") >= min_side)
        )
        .withColumn(
            "score_ppm",
            # DECIMAL(38,0): pre_sum x post_n is (per-key event mass) x
            # (day count) — the extra x1e6 pushes past BIGINT on hot
            # keys at corpus scale (same class as the abc_analysis
            # overflow the sf1 sweep caught)
            F.expr(
                "CAST(abs(CAST(pre_sum AS DECIMAL(38,0)) * post_n"
                " - CAST(post_sum AS DECIMAL(38,0)) * pre_n) * 1000000"
                " div (pre_n * post_n) AS DECIMAL(38,0))"
            ),
        )
    )
    w_best = Window.partitionBy("k").orderBy(
        F.col("score_ppm").desc(), F.col("day").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w_best))
        .where(F.col("__rn") == 1)
        .select(
            F.col("k").alias(key_col),
            F.col("day").cast("string").alias("split_day"),
            F.col("pre_n").alias("n_pre_days"),
            F.col("post_n").alias("n_post_days"),
            F.col("pre_sum"),
            F.col("post_sum"),
            F.col("score_ppm").cast("long").alias("score_ppm"),
        )
    )


def weekday_seasonality(
    df: DataFrame, key_col: str, ts_col: str
) -> DataFrame:
    """Day-of-week activity profile per key with deviation from the
    uniform share — the seasonality screen behind alerting baselines
    ("is Tuesday low, or is the pipeline broken?"). Day-of-week is
    computed PORTABLY from epoch days ((days_since_1970 + 4) mod 7,
    0=Sunday — 1970-01-01 was a Thursday) instead of engine dayofweek
    functions, whose 0/1-base and week-start conventions differ.

    Shape: one groupBy on (key, dow) — ≤ 7·|keys| output rows, partial
    map-side; shares and deviations in BIGINT ppm floor-division
    against the per-key total (a window over the ≤7-row key group)."""
    base = df.select(
        F.col(key_col).alias("k"),
        ((F.datediff(F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date"))
          + 4) % 7).cast("int").alias("dow"),
    )
    counted = base.groupBy("k", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("k")
    return (
        counted.withColumn("tot", F.sum("n").over(w).cast("long"))
        .select(
            F.col("k").alias(key_col),
            "dow",
            "n",
            F.expr("n * 1000000L div tot").cast("long").alias("share_ppm"),
            (F.expr("n * 1000000L div tot") - F.lit(142857))
            .cast("long").alias("dev_ppm"),
        )
    )


def scd2_from_changelog(
    df: DataFrame, key_col: str, ts_col: str, attr_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change log: per
    key, collapse consecutive rows with the SAME attribute value into
    one validity interval [valid_from, valid_to) — the dimension-table
    build every warehouse ships (dbt snapshots, Delta CDF consumers).
    valid_to is NULL on each key's current interval.

    Shape: one key shuffle; change detection is lag() over the per-key
    order, interval close is lead() over the CHANGE rows only — two
    windows sharing the same partitioning (one exchange), everything
    bounded per key by that key's row count. Timestamps surfaced as
    epoch micros; the attribute comparison is null-safe (<=> — a NULL
    attribute run collapses like any other value).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    changes = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(ts_col).alias("ts"),
            F.col(tiebreak_col).alias("tb"),
            F.col(attr_col).alias("attr"),
        )
        .withColumn(
            "__prev",
            F.lag("attr").over(
                Window.partitionBy("k").orderBy(
                    F.col("ts").asc(), F.col("tb").asc()
                )
            ),
        )
        .withColumn(
            "__first",
            F.row_number().over(
                Window.partitionBy("k").orderBy(
                    F.col("ts").asc(), F.col("tb").asc()
                )
            ) == 1,
        )
        .where(F.col("__first") | ~F.col("attr").eqNullSafe(F.col("__prev")))
    )
    w2 = Window.partitionBy("k").orderBy(F.col("ts").asc(), F.col("tb").asc())
    return changes.select(
        F.col("k").alias(key_col),
        F.col("attr").alias(attr_col),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w2)).alias("valid_to_us"),
    )


def mom_growth(
    df: DataFrame, group_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """Month-over-month growth per group: period fixed-point revenue,
    previous period, and the delta as ppm of the previous period
    (BIGINT floor-div; NULL on each group's first month). One
    (group, month) groupBy + one lag window over the bounded months
    relation."""
    monthly = (
        df.select(
            F.col(group_col).alias("g"),
            F.date_trunc("month", F.col(ts_col)).cast("date").alias("m"),
            (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
            .alias("v_fp"),
        )
        .groupBy("g", "m")
        .agg(F.sum("v_fp").cast("long").alias("revenue_fp"))
    )
    w = Window.partitionBy("g").orderBy(F.col("m").asc())
    return (
        monthly.withColumn(
            "prev_fp", F.lag("revenue_fp").over(w).cast("long")
        )
        .select(
            F.col("g").alias(group_col),
            F.col("m").cast("string").alias("month"),
            "revenue_fp",
            "prev_fp",
            # DECIMAL(38,0): monthly revenue_fp is an unbounded money
            # sum; x1e6 in BIGINT overflows at corpus scale
            F.expr(
                "CAST(CAST(revenue_fp - prev_fp AS DECIMAL(38,0))"
                " * 1000000 div nullif(prev_fp, 0L) AS BIGINT)"
            ).alias("growth_ppm"),
        )
    )


def concentration_hhi(
    df: DataFrame, group_col: str, member_col: str, value_col: str
) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group — the
    supply-risk / market-concentration screen: per (group, member)
    value shares in basis points (sum to ~10000), HHI = sum of squared
    bps shares (10^8 = monopoly; <1500·10^4 ≈ competitive). All BIGINT:
    shares floor-div once, squares summed exactly — cross-engine exact
    where the float share-of-squares never is.

    Shape: two groupBys (member collapse, then group fold) sharing the
    group key; output one row per group. A window computes the group
    total over the member-collapsed relation (bounded by members per
    group), not the raw corpus."""
    member = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(member_col).alias("mem"),
            (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
            .alias("v_fp"),
        )
        .groupBy("g", "mem")
        .agg(F.sum("v_fp").cast("long").alias("mv_fp"))
    )
    shared = member.withColumn(
        "share_bps", F.expr("mv_fp * 10000L div sum(mv_fp) OVER (PARTITION BY g)")
    )
    return (
        shared.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.expr("share_bps * share_bps")).cast("long").alias("hhi"),
            F.max("share_bps").cast("long").alias("top_share_bps"),
        )
        .select(
            F.col("g").alias(group_col), "n_members", "hhi", "top_share_bps"
        )
    )


def _range_pinned(df: DataFrame, sort_cols: list) -> DataFrame:
    """``df`` range-partitioned on ``sort_cols`` and tagged with its
    partition id ``__pid``, under a lazy ``localCheckpoint`` — the
    shared first step of ``global_prefix_sum`` and
    ``global_prefix_max_excl``.

    Correctness pin (NON-EAGER since r11 — see global_ranks): both the
    window branch and the totals branch key on spark_partition_id;
    without the pin each branch can re-materialize the range Exchange
    with independently re-SAMPLED boundaries (sampling reads upstream
    shuffle output whose fetch order is nondeterministic), making the
    two branches disagree about partition membership. The shared
    checkpoint RDD is the pin; eager materialization is not required
    for it."""
    spark = df.sparkSession
    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    return (
        df.repartitionByRange(nparts, *sort_cols)
        .withColumn("__pid", F.spark_partition_id())
    ).localCheckpoint(eager=False)


def global_prefix_sum(
    df: DataFrame, sort_cols: list, value_col: str,
    prefix_name: str = "cum_value", keep_total: bool = False,
) -> DataFrame:
    """Distributed GLOBAL running sum over a total order — the prefix-
    sum sibling of global_ranks, without the single-reducer global
    window: range-repartition on the sort key (explicit partition count
    pins the Exchange), per-partition running sums via a window
    partitioned on the PARTITION ID (each range partition's window runs
    in its own task — parallel across partitions, ordered within), a
    bounded per-partition totals aggregate (≤ nparts rows) turned into
    broadcast start offsets, and prefix = offset[pid] + local running
    sum. Two exchanges total (the range shuffle + the pid-window
    re-cluster); the offsets window is nparts-bounded, never
    data-bounded.

    `sort_cols` must be a total order (unique tiebreak) so the prefix
    is deterministic wherever the range boundaries fall. `value_col`
    must already be an exact (integer/decimal) type — a float running
    sum is partition-order dependent and can never hash cross-engine.
    """
    ranged = _range_pinned(df, sort_cols)
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn(
        "__local_cum", F.sum(F.col(value_col)).over(w_local)
    )
    sums = ranged.groupBy("__pid").agg(
        F.sum(F.col(value_col)).alias("__psum")
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = sums.select(
        "__pid",
        F.coalesce(F.sum("__psum").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__psum").over(w_all).alias("__total"),
    )
    out = (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(prefix_name, F.col("__off") + F.col("__local_cum"))
        .drop("__pid", "__local_cum", "__off")
    )
    return out if keep_total else out.drop("__total")


def abc_analysis(
    df: DataFrame, item_col: str, value_col: str,
    a_ppm: int = 800000, b_ppm: int = 950000,
) -> DataFrame:
    """Pareto / ABC classification: items ranked by revenue descending,
    class A = items inside the first ``a_ppm`` (default 80%) of
    cumulative revenue, B up to ``b_ppm`` (95%), C the tail — the
    inventory-policy classic ("which 20% of parts carry 80% of
    revenue"). Class from the EXCLUSIVE prefix share (an item belongs
    to the class where its revenue STARTS), all integer ppm.

    Shape: the corpus collapses to one row per item first (item-key
    groupBy — catalog-bounded, never event-bounded), then
    global_prefix_sum provides the distributed cumulative — no
    single-reducer window over the catalog. Output: one summary row
    per class (n_items, revenue, revenue share)."""
    items = df.groupBy(F.col(item_col).alias("item")).agg(
        F.sum(
            (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
        ).cast("long").alias("rev_fp")
    )
    cum = global_prefix_sum(
        items,
        [F.col("rev_fp").desc(), F.col("item").asc()],
        "rev_fp",
        prefix_name="cum_fp",
        keep_total=True,
    )
    classed = cum.withColumn(
        "abc_class",
        # DECIMAL(38,0) for the ppm cross-multiply: cum_fp is the
        # CUMULATIVE revenue in cents — ~2e13 at sf1, so *1e6 overflows
        # BIGINT (caught by the full-registry sf1 sweep, r10); DECIMAL
        # div truncates identically, so the class cut is unchanged
        F.when(
            F.expr("CAST(cum_fp - rev_fp AS DECIMAL(38,0)) * 1000000"
                   " div nullif(__total, 0L)") < a_ppm,
            F.lit("A"),
        )
        .when(
            F.expr("CAST(cum_fp - rev_fp AS DECIMAL(38,0)) * 1000000"
                   " div nullif(__total, 0L)") < b_ppm,
            F.lit("B"),
        )
        .otherwise(F.lit("C")),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("rev_fp").cast("long").alias("revenue_fp"),
            F.max("__total").alias("__t"),
        )
        .select(
            "abc_class",
            "n_items",
            "revenue_fp",
            F.expr("CAST(revenue_fp AS DECIMAL(38,0)) * 1000000"
                   " div nullif(__t, 0L)").cast("long").alias(
                "revenue_share_ppm"
            ),
        )
    )


def trimmed_mean(
    df: DataFrame, group_col: str, value_col: str, tiebreak_col: str,
    trim_pm: int = 50,
) -> DataFrame:
    """Exact trimmed mean per group: drop the lowest and highest
    ``trim_pm`` per-mille of rows BY RANK (floor(n·trim/1000) rows per
    side — an explicit count, not a percentile estimate), then the
    fixed-point mean of the survivors (cents BIGINT floor-div). The
    robust location estimate that, unlike the median, keeps averaging
    efficiency — and unlike a float mean, hashes identically on any
    engine.

    One grouped window (rank over (value, tiebreak)) + one groupBy —
    the same single-exchange shape as group_quantiles_disc."""
    if not 0 <= trim_pm < 500:
        raise ValueError(f"trim_pm must be in [0, 500), got {trim_pm}")
    v_fp = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    ranked = (
        df.select(
            F.col(group_col).alias("g"),
            v_fp.alias("v_fp"),
            F.col(tiebreak_col).alias("tb"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("g").orderBy(
                    F.col("v_fp").asc(), F.col("tb").asc()
                )
            ),
        )
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("g"))
        )
    )
    kept = ranked.where(
        (F.col("rnk") > F.expr(f"n * {int(trim_pm)}L div 1000L"))
        & (F.col("rnk") <= F.col("n") - F.expr(f"n * {int(trim_pm)}L div 1000L"))
    )
    return kept.groupBy("g").agg(
        F.max("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.expr("sum(v_fp) div count(1)").cast("long").alias(
            "trimmed_mean_fp"
        ),
    ).select(
        F.col("g").alias(group_col), "n_total", "n_kept", "trimmed_mean_fp"
    )


def growth_accounting(
    df: DataFrame, user_col: str, ts_col: str
) -> DataFrame:
    """Monthly growth accounting — the MAU waterfall every growth team
    reads (new / retained / resurrected, plus how many of the month's
    actives churn away afterward): per active (user, month), the
    user's previous active month classifies them

        new         — no previous active month
        retained    — previous month == this month - 1
        resurrected — previous month <  this month - 1

    and ``n_churned_after`` counts this month's actives whose NEXT
    active month is not the immediate successor (they lapse after this
    month; the last observed month is censored, not churned — it has
    no successor data — and is counted in ``n_censored``).

    Months as exact integers (year*12+month). Shape: distinct
    (user, month) in one shuffle; lag/lead windows keyed on the user;
    final groupBy on the bounded month relation."""
    acts = (
        df.select(
            F.col(user_col).alias("u"),
            (F.year(F.col(ts_col)) * 12 + F.month(F.col(ts_col)) - 1)
            .cast("int").alias("m"),
        )
        .distinct()
    )
    w = Window.partitionBy("u").orderBy(F.col("m").asc())
    lagged = acts.select(
        "u", "m",
        F.lag("m").over(w).alias("prev_m"),
        F.lead("m").over(w).alias("next_m"),
        F.max("m").over(Window.partitionBy("u")).alias("last_m"),
    )
    corpus_last = acts.agg(F.max("m").alias("__corpus_last"))
    classified = lagged.crossJoin(F.broadcast(corpus_last)).select(
        "m",
        F.when(F.col("prev_m").isNull(), "new")
        .when(F.col("prev_m") == F.col("m") - 1, "retained")
        .otherwise("resurrected")
        .alias("cls"),
        # churned-after: no next month or a gap; the corpus' last month
        # is censored (nothing after it can be observed)
        F.when(
            F.col("m") == F.col("__corpus_last"), F.lit("censored")
        )
        .when(
            F.col("next_m").isNull() | (F.col("next_m") > F.col("m") + 1),
            F.lit("churned"),
        )
        .otherwise(F.lit("continued"))
        .alias("after"),
    )
    return (
        classified.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum((F.col("cls") == "new").cast("long")).cast("long")
            .alias("n_new"),
            F.sum((F.col("cls") == "retained").cast("long")).cast("long")
            .alias("n_retained"),
            F.sum((F.col("cls") == "resurrected").cast("long")).cast("long")
            .alias("n_resurrected"),
            F.sum((F.col("after") == "churned").cast("long")).cast("long")
            .alias("n_churned_after"),
            F.sum((F.col("after") == "censored").cast("long")).cast("long")
            .alias("n_censored"),
        )
        .select(
            F.col("m").alias("month_idx"),
            "n_active", "n_new", "n_retained", "n_resurrected",
            "n_churned_after", "n_censored",
        )
    )


def gini_coefficient(
    df: DataFrame, group_col: str, member_col: str, value_col: str
) -> DataFrame:
    """Gini inequality coefficient per group in integer ppm — "how
    concentrated is revenue across customers": with members ranked
    ascending by value (x_1 <= ... <= x_n),

        gini_ppm = (2*sum(i*x_i) - (n+1)*sum(x)) * 1e6
                     div (n * sum(x))

    — the exact discrete Gini, all BIGINT (values fixed-point cents;
    the rank-weighted sum fits DECIMAL(38,0)). Shape: the corpus
    collapses to one row per (group, member) first; ranks and sums are
    per-group windows/aggregations over the member-bounded relation."""
    members = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(member_col).alias("mem"),
            (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
            .alias("v_fp"),
        )
        .groupBy("g", "mem")
        .agg(F.sum("v_fp").cast("long").alias("x"))
    )
    w = Window.partitionBy("g").orderBy(F.col("x").asc(), F.col("mem").asc())
    ranked = members.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("x").cast("decimal(38,0)").alias("sx"),
            F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).alias("six"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_members",
            F.col("sx").cast("long").alias("total_fp"),
            # nullif: an all-zero-value group would be an ANSI
            # div-by-zero crash; NULL Gini is the honest answer
            F.expr(
                "CAST((2 * six - (n_members + 1) * sx) * 1000000"
                " AS DECIMAL(38,0)) div nullif(CAST(n_members * sx"
                " AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0)))"
            ).cast("long").alias("gini_ppm"),
        )
    )


def seasonal_residuals(
    df: DataFrame, key_col: str, ts_col: str
) -> DataFrame:
    """Weekday-adjusted daily anomaly screen: each (key, day)'s count
    against the key's OWN day-of-week baseline — "is this Tuesday low,
    or are Tuesdays always low". Expected count for a day =
    total * share(dow), both integers; the residual is surfaced as
    ppm of expected (cross-multiplied: resid_ppm =
    (n*days_of_that_dow - dow_total) * 1e6 div dow_total, which is
    n/(dow_total/days_of_dow) - 1 in exact arithmetic).

    Shape: the stream collapses to (key, day, n) once; the dow
    baseline is a second aggregation over that bounded daily relation
    joined back on (key, dow) — a ≤ 7·|keys| build side the optimizer
    may broadcast; every number BIGINT."""
    daily = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(ts_col).cast("date").alias("day"),
        )
        .groupBy("k", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "dow",
            ((F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
              + 4) % 7).cast("int"),
        )
    )
    baseline = daily.groupBy("k", "dow").agg(
        F.sum("n").cast("long").alias("dow_total"),
        F.count(F.lit(1)).cast("long").alias("dow_days"),
    )
    return (
        daily.join(baseline, ["k", "dow"])
        .select(
            F.col("k").alias(key_col),
            F.col("day").cast("string").alias("day"),
            "dow",
            "n",
            F.expr(
                "(n * dow_days - dow_total) * 1000000L div dow_total"
            ).cast("long").alias("resid_ppm"),
        )
    )


def daily_autocorrelation(
    df: DataFrame, key_col: str, ts_col: str, lags: list[int] | None = None
) -> DataFrame:
    """Integer-exact lag-k autocorrelation of the daily count series
    per key — the seasonality detector (lag 7 spikes on weekly rhythm,
    lag 1 on momentum). With S = sum(x), n = days, the mean-centered
    products cross-multiply to stay integer:

        num_k = sum_t (n·x_t - S)(n·x_{t+k} - S)     over valid t
        den   = sum_t (n·x_t - S)²                   over all t
        acf_ppm = num_k * 1e6 div den

    (biased/unnormalized-lag estimator — the standard plug-in form;
    DECIMAL(38,0) holds the n²-scaled products exactly). Shape: one
    (key, day) collapse, lead() windows per key over the span-bounded
    daily series, everything else bounded aggregation."""
    lags = lags or [1, 7]
    daily = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(ts_col).cast("date").alias("day"),
        )
        .groupBy("k", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
    )
    stats = daily.groupBy("k").agg(
        F.sum("n_ev").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    w = Window.partitionBy("k").orderBy(F.col("day").asc())
    leads = daily.select(
        "k", "day", "n_ev",
        *[
            F.lead("n_ev", k).over(w).alias(f"__lead_{k}")
            for k in lags
        ],
        *[
            F.lead("day", k).over(w).alias(f"__lead_day_{k}")
            for k in lags
        ],
    )
    joined = leads.join(stats, "k")
    centered = joined.select(
        "k", "day", "s", "n",
        (F.col("n").cast("decimal(38,0)") * F.col("n_ev") - F.col("s"))
        .alias("c0"),
        *[
            F.when(
                # the lead row must be exactly k calendar days later —
                # a gap in the daily series breaks the lag pairing
                F.datediff(F.col(f"__lead_day_{k}"), F.col("day")) == k,
                F.col("n").cast("decimal(38,0)") * F.col(f"__lead_{k}")
                - F.col("s"),
            ).alias(f"ck_{k}")
            for k in lags
        ],
    )
    agg_exprs = [
        F.sum(F.col("c0") * F.col("c0")).alias("den"),
        F.max("n").alias("n_days"),
    ]
    for k in lags:
        agg_exprs.append(
            F.sum(
                F.when(
                    F.col(f"ck_{k}").isNotNull(),
                    F.col("c0") * F.col(f"ck_{k}"),
                )
            ).alias(f"num_{k}")
        )
    folded = centered.groupBy("k").agg(*agg_exprs)
    out_cols = [
        F.col("k").alias(key_col),
        F.col("n_days").cast("long").alias("n_days"),
    ]
    for k in lags:
        out_cols.append(
            F.expr(
                f"CAST(num_{k} * 1000000 AS DECIMAL(38,0))"
                " div CAST(nullif(den, 0) AS DECIMAL(38,0))"
            ).cast("long").alias(f"acf{k}_ppm")
        )
    return folded.select(*out_cols)


def arrival_burstiness(
    df: DataFrame, key_col: str, ts_col: str, tiebreak_col: str
) -> DataFrame:
    """Inter-arrival burstiness per key: mean gap and the squared
    coefficient of variation (CV² — 1e6 ≈ Poisson, above = bursty,
    below = regular/scheduled) in integer ppm. With gaps g_1..g_m,
    S = sum(g), cross-multiplying kills every float:

        cv2_ppm = (m * sum(g²) - S²) * 1e6  div  S²

    (= var/mean² with the population variance; DECIMAL(38,0) holds the
    µs-scaled squares exactly). The traffic-shape screen that tells a
    scheduled batch feed from organic traffic from retry storms.

    Shape: one key shuffle; gaps from lag() over each key's ordered
    events; one bounded aggregation. Keys with < 2 events drop (no
    gaps)."""
    w = Window.partitionBy("k").orderBy(
        F.col("ts").asc(), F.col("tb").asc()
    )
    gaps = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(ts_col).alias("ts"),
            F.col(tiebreak_col).alias("tb"),
        )
        .withColumn(
            "g",
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w),
        )
        .where(F.col("g").isNotNull())
    )
    return (
        gaps.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("g").cast("decimal(38,0)").alias("s"),
            F.sum(F.col("g").cast("decimal(38,0)") * F.col("g"))
            .alias("sq"),
        )
        .select(
            F.col("k").alias(key_col),
            F.col("m").alias("n_gaps"),
            F.expr("CAST(s div m AS BIGINT)").alias("mean_gap_us"),
            F.expr(
                "CAST((m * sq - s * s) * 1000000"
                " div CAST(nullif(s * s, 0) AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("cv2_ppm"),
        )
    )


def grouped_ols_slope(
    df: DataFrame,
    group_cols: list[str],
    x_fp: str,
    y_fp: str,
) -> DataFrame:
    """Per-group least-squares slope in EXACT integer arithmetic — the
    elasticity/trend primitive (price-vs-quantity per brand, spend-vs-
    tenure per segment) that usually arrives as a float regression and
    therefore never hash-checks. Inputs are fixed-point BIGINT columns;
    the slope uses FLOORED-MEAN centering: m_x = Σx div n (exact — sums
    of non-negative fixed-point values; for signed x both engines
    truncate identically), then

        S_xy = Σ (x - m_x)(y - m_y),   S_xx = Σ (x - m_x)²,
        slope_ppm = S_xy · 1e6 div S_xx   (both engines truncate
                    toward zero — identical on negatives)

    Centering is the OVERFLOW move: raw n·Σx² - (Σx)² needs ~38 digits
    at corpus scale, while centered sums are n·variance-sized and stay
    comfortably in BIGINT. The floored mean differs from the rational
    mean by < 1 fixed-point unit — documented, deterministic, and
    identical cross-engine (textbook OLS to within quantization).

    Shape: one groupBy for means, one shuffle_hash join back (same
    group key — the exchange is reused), one groupBy for centered
    products. Degenerate groups (S_xx = 0: constant x) surface NULL
    slope, not a crash."""
    gcols = [F.col(c) for c in group_cols]
    means = df.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.expr(f"sum({x_fp}) div count(1)").cast("long").alias("__mx"),
        F.expr(f"sum({y_fp}) div count(1)").cast("long").alias("__my"),
    )
    joined = df.join(means.hint("shuffle_hash"), group_cols)
    cx = F.col(x_fp) - F.col("__mx")
    cy = F.col(y_fp) - F.col("__my")
    agg = joined.groupBy(*gcols).agg(
        F.max("__n").alias("n"),
        F.sum(cx * cy).cast("long").alias("sxy"),
        F.sum(cx * cx).cast("long").alias("sxx"),
    )
    return agg.select(
        *group_cols, "n", "sxy", "sxx",
        F.when(F.col("sxx") == 0, F.lit(None))
        # DECIMAL(38,0): sxy is a corpus-sized sum of centered cross
        # products; x1e6 in BIGINT overflows at scale
        .otherwise(F.expr("CAST(sxy AS DECIMAL(38,0)) * 1000000 div sxx"))
        .cast("long").alias("slope_ppm"),
    )


def global_prefix_max_excl(
    df: DataFrame, sort_cols: list, value_col: str,
    out_name: str = "prev_max",
) -> DataFrame:
    """Distributed EXCLUSIVE global running maximum over a total order
    — the max sibling of ``global_prefix_sum``, same two-exchange
    shape: range-repartition on the sort key, per-partition exclusive
    running max via a PID-partitioned window (parallel across range
    partitions), per-partition maxima collapse to a ≤ nparts offsets
    relation whose own exclusive prefix max broadcasts back, and
    ``prev_max = greatest(partition_prefix_max, local_running_max)``
    (greatest skips NULLs; the global first row gets NULL — no
    predecessor). ``sort_cols`` must be a total order."""
    ranged = _range_pinned(df, sort_cols)
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn("__lmax", F.max(F.col(value_col)).over(w_local))
    pmax = ranged.groupBy("__pid").agg(
        F.max(F.col(value_col)).alias("__pmax")
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = pmax.select(
        "__pid", F.max("__pmax").over(w_off).alias("__omax")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_name, F.greatest("__omax", "__lmax"))
        .drop("__pid", "__lmax", "__omax")
    )


def skyline_2d(
    df: DataFrame, x_col: str, y_col: str,
    minimize_x: bool = True, maximize_y: bool = True,
) -> DataFrame:
    """2-D skyline / Pareto front — the classic multi-criteria operator
    ('cheapest for its size'): points no other point dominates
    (x no worse AND y no worse AND strictly better in one). The naive
    form is an O(n²) dominance anti-join with NO equi-key (a scale
    dead end); the sort formulation is exact and LINEAR after one
    range shuffle: orient so smaller x and larger y are better, dedupe
    exact coordinate pairs (keeping multiplicity), order by
    (x asc, y desc), and a point is on the front iff the EXCLUSIVE
    running maximum of y before it is < its own y — every prior point
    has better-or-equal x, so any ≥ y there dominates. The running max
    is ``global_prefix_max_excl`` (two exchanges, no single-reducer
    window). Output: (x, y, n_points) front rows in original units."""
    sx = F.col(x_col) if minimize_x else -F.col(x_col)
    sy = F.col(y_col) if maximize_y else -F.col(y_col)
    pts = df.groupBy(
        sx.alias("__x"), sy.alias("__y"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    ranked = global_prefix_max_excl(
        pts, [F.col("__x").asc(), F.col("__y").desc()], "__y",
        out_name="__pm",
    )
    front = ranked.where(
        F.col("__pm").isNull() | (F.col("__pm") < F.col("__y"))
    )
    ox = F.col("__x") if minimize_x else -F.col("__x")
    oy = F.col("__y") if maximize_y else -F.col("__y")
    return front.select(
        ox.alias(x_col), oy.alias(y_col), "n_points"
    )


def rolling_active_users(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """DAU / trailing-WAU / stickiness per active day — the
    product-analytics headline metric family. The naive trailing
    window is a per-day DISTINCT over a range self-join (quadratic in
    days × activity); the scale form INVERTS it: each distinct
    (user, day) activity CONTRIBUTES to the ``window_days`` window-end
    days it falls inside, so one explode (×window, a constant) + one
    distinct + one count computes every day's trailing distinct count
    in linear passes — no self-join, no per-day re-scan.

    Day arithmetic is integer epoch days (cross-engine portable);
    output rows only for days with activity: (day_n, dau, wau,
    stickiness_ppm = dau·1e6 div wau). wau >= dau > 0 by construction,
    so the division is safe."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    day_n = F.datediff(
        F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    activity = df.select(
        F.col(user_col).alias("u"), day_n.alias("d")
    ).distinct()
    dau = activity.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    contrib = (
        activity.withColumn(
            "__k",
            F.explode(F.array(*[F.lit(k) for k in range(window_days)])),
        )
        .select("u", (F.col("d") + F.col("__k")).alias("wd"))
        .distinct()
    )
    wau = contrib.groupBy("wd").agg(
        F.count(F.lit(1)).cast("long").alias("wau")
    )
    return (
        dau.join(
            wau.withColumnRenamed("wd", "d").hint("shuffle_hash"), "d"
        )
        .select(
            F.col("d").alias("day_n"), "dau", "wau",
            F.expr("dau * 1000000L div wau").cast("long")
            .alias("stickiness_ppm"),
        )
    )


def funnel_with_exclusion(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    step_a: str,
    step_b: str,
    excluded: str,
) -> DataFrame:
    """Negative-condition funnel — 'did A then B WITHOUT E between'
    (checkout completed without an error, upgrade without a support
    ticket): first-touch semantics (first A, first B at-or-after it),
    conversion is CLEAN iff no excluded event falls STRICTLY between
    them. The exclusion makes this inexpressible as a plain step chain
    — it needs the between-interval check.

    One-scan form (the sequential_funnel_single_pass shape): one
    user-key aggregation collects first-A plus sorted B/E timestamp
    arrays; first-B-after-A is array_min over a filter (NULL on empty
    — the ANSI-safe idiom), the exclusion check is one more filter
    over the E array inside the same row. Per-user state bounded by
    that user's B/E events; the final count is a singleton aggregate.
    Output one row: n_step_a, n_converted, n_clean, clean_rate_ppm
    (clean div step-A users)."""
    ev = df.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(type_col).alias("y"),
    )
    per_user = ev.groupBy("u").agg(
        F.min(F.when(F.col("y") == step_a, F.col("t"))).alias("ta"),
        F.sort_array(
            F.collect_list(F.when(F.col("y") == step_b, F.col("t")))
        ).alias("barr"),
        F.sort_array(
            F.collect_list(F.when(F.col("y") == excluded, F.col("t")))
        ).alias("xarr"),
    )
    tb = F.array_min(
        F.filter(F.col("barr"), lambda t: t >= F.col("ta"))
    )
    flagged = per_user.select(
        "u", "ta", tb.alias("tb"), "xarr"
    ).withColumn(
        "blocked",
        F.when(
            F.col("tb").isNotNull(),
            F.size(
                F.filter(
                    F.col("xarr"),
                    lambda e: (e > F.col("ta")) & (e < F.col("tb")),
                )
            )
            > 0,
        ),
    )
    agg = flagged.agg(
        F.sum(F.when(F.col("ta").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_step_a"),
        F.sum(F.when(F.col("tb").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_converted"),
        F.sum(
            F.when(
                F.col("tb").isNotNull() & ~F.coalesce("blocked", F.lit(False)),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_clean"),
    )
    return agg.select(
        "n_step_a", "n_converted", "n_clean",
        F.when(F.col("n_step_a") == 0, F.lit(0))
        .otherwise(F.expr("n_clean * 1000000L div n_step_a"))
        .cast("long").alias("clean_rate_ppm"),
    )


def interval_concurrency_peak(
    df: DataFrame,
    id_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Peak concurrency of half-open integer intervals [start, end) —
    the sweep-line classic (max simultaneous open orders / sessions /
    connections) made distributed: every interval emits (+1 at start,
    −1 at end) endpoint deltas, the EXCLUSIVE-end convention means a
    close at t frees capacity before an open at t (delta −1 sorts
    before +1), and the global running sum over the endpoint stream is
    ``global_prefix_sum`` — one range shuffle, no single-reducer
    window. Peak = max running sum; reported at the FIRST time it is
    reached (min t, then min id — deterministic).

    Intervals with end <= start are dropped as degenerate (a data bug
    surfaced in n_dropped, not silently counted). Output one row:
    n_intervals, n_dropped, peak_concurrency, first_peak_t."""
    # performance pin: base feeds the n_intervals count AND (filtered)
    # both union legs of the endpoint stream — unpinned, the caller's
    # upstream join/groupBy lineage re-runs per consumer. One narrow
    # (id, start, end) materialization serves all three.
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(start_col).cast("long").alias("__s"),
        F.col(end_col).cast("long").alias("__e"),
    ).localCheckpoint(eager=False)
    valid = base.where(F.col("__e") > F.col("__s"))
    n_all = base.agg(F.count(F.lit(1)).cast("long").alias("n_intervals"))
    n_ok = valid.agg(F.count(F.lit(1)).cast("long").alias("__n_ok"))
    endpoints = valid.select(
        F.col("__s").alias("t"), F.lit(1).alias("delta"), "__id"
    ).unionByName(
        valid.select(
            F.col("__e").alias("t"), F.lit(-1).alias("delta"), "__id"
        )
    )
    cum = global_prefix_sum(
        endpoints, ["t", "delta", "__id"], "delta",
        prefix_name="__running",
    )
    peak = cum.agg(F.max("__running").cast("long").alias("peak_concurrency"))
    first = (
        cum.join(F.broadcast(peak), F.col("__running") == F.col("peak_concurrency"))
        .agg(F.min(F.struct("t", "__id")).alias("__at"))
        .select(F.col("__at.t").cast("long").alias("first_peak_t"))
    )
    return (
        n_all.crossJoin(n_ok).crossJoin(peak).crossJoin(first)  # 1x1x1x1
        .select(
            "n_intervals",
            (F.col("n_intervals") - F.col("__n_ok")).cast("long")
            .alias("n_dropped"),
            "peak_concurrency", "first_peak_t",
        )
    )


def amortize_over_days(
    df: DataFrame,
    id_col: str,
    start_day: str,
    end_day: str,
    amount_fp: str,
) -> DataFrame:
    """Straight-line amortization of an integer fixed-point amount over
    an INCLUSIVE day range [start, end] — the revenue-recognition /
    cost-allocation primitive: each day carries amount div n_days, the
    LAST day absorbs the remainder, so per-id daily amounts sum to the
    amount EXACTLY (the attribution-remainder contract).

    Shape: one `sequence` + explode per row — the fan-out is bounded by
    the maximum range length (a business constant: contract terms,
    ship-lag caps), never by the corpus; everything else is map-side
    arithmetic. Degenerate ranges (end < start) are dropped; surface
    them upstream with a quality check, not here. Output: (id, day_n,
    daily_fp)."""
    valid = df.select(
        F.col(id_col).alias("__id"),
        F.col(start_day).cast("long").alias("__s"),
        F.col(end_day).cast("long").alias("__e"),
        F.col(amount_fp).cast("long").alias("__a"),
    ).where(F.col("__e") >= F.col("__s"))
    n_days = F.col("__e") - F.col("__s") + 1
    exploded = valid.withColumn(
        "day_n", F.explode(F.sequence(F.col("__s"), F.col("__e")))
    )
    base = F.expr("__a div (__e - __s + 1)")
    rem = F.expr("__a % (__e - __s + 1)")
    return exploded.select(
        F.col("__id").alias(id_col),
        F.col("day_n").cast("long").alias("day_n"),
        F.when(F.col("day_n") == F.col("__e"), base + rem)
        .otherwise(base)
        .cast("long")
        .alias("daily_fp"),
    )


def woe_iv_bins(
    df: DataFrame,
    value_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Weight-of-evidence / information-value scorecard binning — the
    credit-risk feature-screening classic: equal-frequency bins over a
    numeric driver, per-bin WOE = ln((good_share)/(bad_share)) and its
    IV contribution (share_good - share_bad) * WOE.

    Determinism: the ntile order is (value, id) — the unique id
    tie-break makes bin assignment identical cross-engine. WOE/IV stay
    float (a single ln + one product, identical libm both sides) and
    surface rounded to 6; counts surface as exact BIGINTs. ntile is a
    global window: acceptable ONLY because a scorecard bins ONE
    feature at a time and the window input is the (unit, value, label)
    triple — for a 100 TB corpus, bin on pre-aggregated per-unit
    values (bounded by |units|), or swap ntile for approx-quantile
    cut points; this operator is the exact-audit form.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col(value_col).asc(), F.col(id_col).asc())
    binned = df.select(
        F.col(value_col),
        F.col(id_col),
        F.col(label_col).cast("int").alias("__y"),
    ).withColumn("bin", F.ntile(n_bins).over(w))
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_bad"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    ).withColumn("n_good", (F.col("n") - F.col("n_bad")).cast("long"))
    tot = per_bin.agg(
        F.sum("n_good").cast("double").alias("tot_good"),
        F.sum("n_bad").cast("double").alias("tot_bad"),
    )
    out = per_bin.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("long").alias("bin"),
        "n", "n_good", "n_bad",
        F.round(
            F.log(
                (F.col("n_good") / F.col("tot_good"))
                / (F.col("n_bad") / F.col("tot_bad"))
            ),
            6,
        ).alias("woe"),
        F.round(
            (
                F.col("n_good") / F.col("tot_good")
                - F.col("n_bad") / F.col("tot_bad")
            )
            * F.log(
                (F.col("n_good") / F.col("tot_good"))
                / (F.col("n_bad") / F.col("tot_bad"))
            ),
            6,
        ).alias("iv_part"),
    )
    return out


def cuped_adjusted_means(
    df: DataFrame,
    unit_col: str,
    pre_col: str,
    post_col: str,
    arm_col: str,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al., WSDM'13):
    adjusted post-period metric per arm, using the pre-period metric as
    the control covariate — adjusted = mean(y|arm) - theta * (mean(x|arm)
    - mean(x)), theta = cov(x,y)/var(x) pooled across arms.

    EXACT integer arithmetic end to end: theta's numerator/denominator
    are the classic n*Sxy - Sx*Sy / n*Sxx - Sx^2 integer forms held in
    DECIMAL(38,0), surfaced as theta_ppm via integer div (truncation
    toward zero — identical in Spark `div` and DuckDB `//`); per-arm
    means surface in ppm of the input unit. One pass for the global
    moments (6 sums), one groupBy(arm) — both map-side combined; the
    1-row moment relation is a broadcast scalar.

    Inputs are per-UNIT aggregates (the caller reduces raw events to
    (unit, pre, post) first), so every shuffle here is bounded by
    |units|, never raw event volume.
    """
    base = df.select(
        F.col(unit_col).alias("u"),
        F.col(pre_col).cast("decimal(38,0)").alias("x"),
        F.col(post_col).cast("decimal(38,0)").alias("y"),
        F.col(arm_col).alias("arm"),
    )
    g = base.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    ).select(
        "n", "sx", "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("decimal(38,0)").alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("decimal(38,0)").alias("den"),
    )
    arms = base.groupBy("arm").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_arm"),
        F.sum("x").alias("sx_arm"),
        F.sum("y").alias("sy_arm"),
    )
    j = arms.crossJoin(F.broadcast(g))
    theta_ppm = F.expr("num * 1000000 div den").cast("long")
    mean_x_arm_ppm = F.expr("sx_arm * 1000000 div n_arm").cast("long")
    mean_y_arm_ppm = F.expr("sy_arm * 1000000 div n_arm").cast("long")
    return j.select(
        F.col("arm"),
        F.col("n_arm").cast("long").alias("n_units"),
        mean_x_arm_ppm.alias("mean_pre_ppm"),
        mean_y_arm_ppm.alias("mean_post_ppm"),
        theta_ppm.alias("theta_ppm"),
        (
            mean_y_arm_ppm
            # theta_ppm * ppm-scale mean gap can pass 2^63: hold the
            # product in DECIMAL(38,0); both div's truncate toward zero
            # exactly like the oracle's HUGEINT //
            - F.expr(
                "CAST(num * 1000000 div den AS DECIMAL(38,0))"
                " * CAST((sx_arm * 1000000 div n_arm)"
                "        - (sx * 1000000 div n) AS DECIMAL(38,0))"
                " div 1000000"
            ).cast("long")
        ).cast("long").alias("adjusted_post_ppm"),
    )


def amortize_monthly(
    df: DataFrame,
    id_col: str,
    start_day: str,
    end_day: str,
    amount_fp: str,
) -> DataFrame:
    """Calendar-month rollup of straight-line amortization, computed
    WITHOUT the day-level explode: algebraically identical to
    `amortize_over_days` summed by month (same integer base/remainder
    contract — last day absorbs `amount % n_days`), but the fan-out is
    one row per COVERED MONTH (~n_days/30), a ~30x smaller explode.
    Per-month total = daily_base * overlap_days (+ remainder if the
    range ends in that month) — pure JVM date arithmetic, no UDF.
    Output: (id, month_key yyyymm, month_fp, n_days) where n_days is
    the covered-day count inside that month (sums to the range length)."""
    epoch = F.lit("1970-01-01").cast("date")
    valid = df.select(
        F.col(id_col).alias("__id"),
        F.col(start_day).cast("long").alias("__s"),
        F.col(end_day).cast("long").alias("__e"),
        F.col(amount_fp).cast("long").alias("__a"),
    ).where(F.col("__e") >= F.col("__s"))
    v = valid.select(
        "__id", "__a",
        (F.col("__e") - F.col("__s") + 1).alias("__n"),
        F.date_add(epoch, F.col("__s").cast("int")).alias("__sd"),
        F.date_add(epoch, F.col("__e").cast("int")).alias("__ed"),
    ).withColumn("__m0", F.trunc(F.col("__sd"), "MM"))
    exploded = v.withColumn(
        "__i",
        F.explode(
            F.sequence(
                F.lit(0),
                F.months_between(
                    F.trunc(F.col("__ed"), "MM"), F.col("__m0")
                ).cast("int"),
            )
        ),
    ).withColumn("__ms", F.add_months(F.col("__m0"), F.col("__i")))
    ov_start = F.greatest(F.col("__sd"), F.col("__ms"))
    ov_end = F.least(F.col("__ed"), F.last_day(F.col("__ms")))
    overlap = (F.datediff(ov_end, ov_start) + 1).cast("long")
    base = F.expr("__a div __n")
    rem = F.expr("__a % __n")
    return exploded.select(
        F.col("__id").alias(id_col),
        (F.year(F.col("__ms")) * 100 + F.month(F.col("__ms")))
        .cast("long").alias("month_key"),
        (
            base * overlap
            + F.when(
                (F.col("__ed") >= F.col("__ms"))
                & (F.col("__ed") <= F.last_day(F.col("__ms"))),
                rem,
            ).otherwise(F.lit(0))
        ).cast("long").alias("month_fp"),
        overlap.alias("n_days"),
    )


def shapley_channel_credits(
    df: DataFrame,
    user_col: str,
    channel_col: str,
    conv_col: str,
    channels: list[str],
) -> DataFrame:
    """EXACT Shapley-value channel attribution over a bounded channel
    enum — the coalition-game answer to 'which touchpoints actually
    drive conversion', computed in closed form (no sampling) because
    marketing channel sets are enum-sized (n ≤ ~10, 2^n masks).

    Value function: v(S) = conversion rate (integer ppm, truncating
    div) among users whose touched-channel set is EXACTLY S; v = 0 for
    the empty set and for unobserved sets. Shapley credit for channel
    i is sum over masks S not containing i of |S|!(n-1-|S|)! *
    (v(S+i) - v(S)), surfaced both raw (exact integer, x n! ppm) and
    as phi_ppm = scaled div n!.

    Scale shape: ONE corpus-scale aggregation (per-user channel
    bitmask + converted flag — map-side combined), then a per-mask
    count agg whose output is ≤ 2^n rows; the subset-pair Shapley sum
    runs on broadcast-sized relations by construction. The factorial
    weights and the full mask enumeration are driver literals (bounded
    by contract). Everything after the user agg is exact BIGINT."""
    n = len(channels)
    bit = {c: 1 << i for i, c in enumerate(sorted(channels))}
    per_user = df.groupBy(F.col(user_col).alias("u")).agg(
        F.sum(
            F.when(F.col(conv_col) == 1, 1).otherwise(0)
        ).alias("__conv_n"),
        *[
            F.max(
                F.when(F.col(channel_col) == c, F.lit(b)).otherwise(0)
            ).alias(f"__b{b}")
            for c, b in bit.items()
        ],
    )
    mask_expr = None
    for b in bit.values():
        col = F.col(f"__b{b}")
        mask_expr = col if mask_expr is None else mask_expr + col
    users = per_user.select(
        mask_expr.cast("int").alias("mask"),
        F.when(F.col("__conv_n") > 0, 1).otherwise(0).alias("conv"),
    )
    per_mask = users.groupBy("mask").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").alias("n_conv"),
    )
    spark = df.sparkSession
    all_masks = spark.range(1 << n).select(F.col("id").cast("int").alias("mask"))
    v = (
        all_masks.join(per_mask, "mask", "left")
        .select(
            "mask",
            F.when(
                (F.col("mask") == 0) | F.col("n_users").isNull(), F.lit(0)
            )
            .otherwise(F.expr("n_conv * 1000000L div n_users"))
            .cast("long")
            .alias("v_ppm"),
        )
    )
    import math

    fact = [math.factorial(i) for i in range(n + 1)]
    chan_rows = [(c, b) for c, b in bit.items()]
    from redshift_to_pendo_api_data_pipeline_spark.operators.routing import (
        local_df,
    )

    chans = local_df(spark, chan_rows, "channel string, bit int")
    # S ranges over masks NOT containing the channel bit; weight w(|S|)
    pairs = (
        chans.crossJoin(v.withColumnRenamed("mask", "s_mask")
                        .withColumnRenamed("v_ppm", "v_s"))
        .where(F.expr("(s_mask & bit) = 0"))
        .withColumn("si_mask", F.expr("s_mask | bit"))
    )
    vi = v.select(
        F.col("mask").alias("si_mask"), F.col("v_ppm").alias("v_si")
    )
    popcnt = F.expr("bit_count(s_mask)")
    weight = F.lit(0).cast("long")
    for s in range(n):
        weight = F.when(popcnt == s, F.lit(fact[s] * fact[n - 1 - s])).otherwise(
            weight
        )
    scored = (
        pairs.join(F.broadcast(vi), "si_mask")
        .withColumn("w", weight.cast("long"))
        .groupBy("channel")
        .agg(
            F.sum(F.col("w") * (F.col("v_si") - F.col("v_s")))
            .cast("long")
            .alias("phi_scaled")
        )
    )
    return scored.select(
        "channel",
        "phi_scaled",
        F.expr(f"phi_scaled div {fact[n]}").cast("long").alias("phi_ppm"),
    )


def markov_removal_attribution(
    df: DataFrame,
    user_col: str,
    channel_col: str,
    ts_col: str,
    order_col: str,
    conv_value: str,
    n_steps: int = 6,
) -> DataFrame:
    """Markov-chain data-driven attribution (removal effects): build
    the first-order journey chain start -> channels -> {conv, drop},
    compute the k-step conversion-reach probability from `start`, and
    credit each channel by how much that probability FALLS when the
    channel's node is removed (transitions into it reroute to drop,
    transitions out of it disappear) — the standard alternative to
    rule-based attribution models.

    EXACT integer pipeline: reach probabilities live in ppm with
    truncating div at every step (p_{k+1}(s) = sum_t cnt(s,t)*p_k(t)
    div out(s)), so the result is bit-reproducible and the oracle can
    unroll the SAME n_steps iterations per chain variant as chained
    CTEs. Paths truncate at the FIRST conversion event; (ts, order)
    tuple ordering pins equal timestamps.

    Scale shape: ONE corpus-scale pass builds per-user transitions
    (user-partitioned window + map-side-combined (src,dst) count); the
    transition matrix is |channels+2|² rows — enum-bounded BY
    CONTRACT — and is collected to the driver where the (channels+1)
    chain evaluations run in exact arbitrary-precision integers.
    Nothing corpus-sized ever reaches the driver."""
    from pyspark.sql import Window

    ev = df.select(
        F.col(user_col).alias("u"),
        F.col(channel_col).alias("c"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("oid"),
    )
    firstconv = ev.where(F.col("c") == conv_value).groupBy("u").agg(
        F.min(F.struct("ts", "oid")).alias("__fc")
    )
    pre = (
        ev.join(firstconv, "u", "left")
        .where(
            F.col("__fc").isNull()
            | (F.struct("ts", "oid") < F.col("__fc"))
        )
        .where(F.col("c") != conv_value)
        .withColumn("__conv", F.col("__fc").isNotNull())
    )
    w = Window.partitionBy("u").orderBy("ts", "oid")
    seq = pre.select(
        "u", "c", "__conv",
        F.lag("c").over(w).alias("prev"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("u")).alias("n"),
    )
    inner = seq.select(
        F.coalesce(F.col("prev"), F.lit("start")).alias("src"),
        F.col("c").alias("dst"),
    )
    ends = seq.where(F.col("rn") == F.col("n")).select(
        F.col("c").alias("src"),
        F.when(F.col("__conv"), F.lit("conv")).otherwise(F.lit("drop")).alias("dst"),
    )
    # converting users with NO pre-conversion events: start -> conv
    bare = firstconv.join(
        pre.select("u").distinct(), "u", "left_anti"
    ).select(F.lit("start").alias("src"), F.lit("conv").alias("dst"))
    trans = (
        inner.unionByName(ends).unionByName(bare)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # enum-bounded by contract: |channels + 2|^2 rows max
    rows = [(r["src"], r["dst"], r["cnt"]) for r in trans.collect()]

    def reach_ppm(tr: list[tuple], steps: int) -> int:
        out: dict[str, int] = {}
        for s, _, c in tr:
            out[s] = out.get(s, 0) + c
        p = {"conv": 1_000_000, "drop": 0}
        states = {s for s, _, _ in tr} | {d for _, d, _ in tr}
        cur = {s: p.get(s, 0) for s in states}
        for _ in range(steps):
            nxt = {}
            for s in states:
                if s == "conv":
                    nxt[s] = 1_000_000
                elif s == "drop":
                    nxt[s] = 0
                else:
                    num = sum(c * cur.get(d, 0) for (x, d, c) in tr if x == s)
                    nxt[s] = num // out[s] if out.get(s) else 0
            cur = nxt
        return cur.get("start", 0)

    def removed(tr: list[tuple], ch: str) -> list[tuple]:
        red: dict[tuple, int] = {}
        for s, d, c in tr:
            if s == ch:
                continue
            d2 = "drop" if d == ch else d
            red[(s, d2)] = red.get((s, d2), 0) + c
        return [(s, d, c) for (s, d), c in red.items()]

    base = reach_ppm(rows, n_steps)
    channels = sorted(
        {s for s, _, _ in rows} - {"start", "conv", "drop"}
    )
    # clamped at 0: ppm truncation can make a removal microscopically
    # "help"; negative effects would also split floor-vs-truncate
    # division semantics cross-engine
    effects = {
        ch: max(0, base - reach_ppm(removed(rows, ch), n_steps))
        for ch in channels
    }
    tot = sum(effects.values())
    spark = df.sparkSession
    out_rows = [
        (
            ch,
            int(base),
            int(effects[ch]),
            int(effects[ch] * 1_000_000 // tot) if tot > 0 else 0,
        )
        for ch in channels
    ]
    from redshift_to_pendo_api_data_pipeline_spark.operators.routing import (
        local_df,
    )

    return local_df(
        spark,
        out_rows,
        "channel string, base_reach_ppm long, "
        "removal_effect_ppm long, credit_ppm long",
    )


def seasonal_naive_mase(
    df: DataFrame,
    group_col: str,
    day_col: str,
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Forecast-quality backtest of the seasonal-naive model (predict
    value[t-season]) against the naive benchmark (predict value[t-1]) —
    MASE, the scale-free standard for 'is there real weekly structure
    worth modeling': mase_ppm < 1e6 means seasonality beats persistence.

    Input is the PRE-AGGREGATED per-(group, day) series, so every
    window here is bounded by the observation span (a contract
    constant), partitioned by group — never corpus-scale, never
    global. Absolute errors sum as exact BIGINTs; the final ratio is
    one truncating div."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.asc(day_col))
    lagged = df.select(
        F.col(group_col),
        F.col(day_col),
        F.col(value_col).cast("long").alias("__v"),
    ).select(
        F.col(group_col),
        "__v",
        F.lag("__v", season).over(w).alias("__fs"),
        F.lag("__v", 1).over(w).alias("__f1"),
    ).where(F.col("__fs").isNotNull() & F.col("__f1").isNotNull())
    return lagged.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.abs(F.col("__v") - F.col("__fs"))).cast("long")
        .alias("sae_seasonal"),
        F.sum(F.abs(F.col("__v") - F.col("__f1"))).cast("long")
        .alias("sae_naive"),
    ).withColumn(
        "mase_ppm",
        F.when(
            F.col("sae_naive") > 0,
            F.expr("sae_seasonal * 1000000L div sae_naive"),
        ).cast("long"),
    )


def loo_group_slope_influence(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Leave-one-group-out influence on the global OLS slope — data
    valuation via sufficient statistics: because the slope is a pure
    function of (n, Sx, Sy, Sxy, Sxx), the slope WITHOUT any group is
    the global sums minus that group's sums — |groups| exact
    re-evaluations from ONE corpus pass, not |groups| refits.

    All moments held in DECIMAL(38,0); slopes surface as ppm with
    truncating div (matching the oracle's HUGEINT //). Output per
    group: its share, the slope without it, and the signed influence
    delta vs the global slope."""
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(x_col).cast("decimal(38,0)").alias("x"),
        F.col(y_col).cast("decimal(38,0)").alias("y"),
    )
    per_g = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_g"),
        F.sum("x").alias("sx_g"),
        F.sum("y").alias("sy_g"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy_g"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx_g"),
    )
    glob = per_g.agg(
        F.sum("n_g").cast("decimal(38,0)").alias("n"),
        F.sum("sx_g").alias("sx"),
        F.sum("sy_g").alias("sy"),
        F.sum("sxy_g").alias("sxy"),
        F.sum("sxx_g").alias("sxx"),
    )
    j = per_g.crossJoin(F.broadcast(glob))
    slope_glob = F.expr(
        "(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
    ).cast("long")
    slope_wo = F.expr(
        "((n - n_g) * (sxy - sxy_g) - (sx - sx_g) * (sy - sy_g)) * 1000000"
        " div ((n - n_g) * (sxx - sxx_g) - (sx - sx_g) * (sx - sx_g))"
    ).cast("long")
    return j.select(
        F.col("g").alias(group_col),
        F.col("n_g").cast("long").alias("n_rows"),
        slope_glob.alias("slope_global_ppm"),
        slope_wo.alias("slope_without_ppm"),
        (slope_wo - slope_glob).cast("long").alias("influence_ppm"),
    )


def conformal_residual_bound(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    coverage_pm: int = 900,
) -> DataFrame:
    """Split-conformal prediction bound for the global OLS fit y ~ x —
    the distribution-free ML-ops answer to 'how wrong can this model
    be, with 90% guarantee': qhat = the ceil((n+1)*coverage)-th
    smallest absolute residual; |y - yhat| <= qhat holds for at least
    `coverage` of exchangeable future rows.

    EXACT arithmetic throughout: with slope num/den and intercept
    (den*Sy - num*Sx)/(den*n) as integer rationals, the scaled
    residual r_i = |den*n*y_i - (den*Sy - num*Sx + n*num*x_i)| is an
    exact DECIMAL(38,0) (valid while den*n*|y| < 1e38 — cent-scaled
    features to ~1e7 rows per the raw-normal-equation bound; beyond
    that, center first). The order statistic comes from
    `global_ranks` — the range-partitioned distributed ranking, NO
    single-reducer sort — and qhat surfaces back in y units via
    truncating div. One corpus pass for moments, one range shuffle
    for the rank, one broadcast-scalar pass for the coverage audit."""
    # width pin (SCALE.md AQE compute-amplification trap): the
    # DECIMAL(38) residual pass is ~10x long arithmetic per row and
    # otherwise inherits the scan's 1-3 task partitioning (single-file
    # input, byte-small relation) — the heavy exact math serializes
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("decimal(38,0)").alias("x"),
        F.col(y_col).cast("decimal(38,0)").alias("y"),
    ).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col("__id")
    ).localCheckpoint(eager=False)  # r11: both the moment agg and the
    # residual pass consume base — unpinned, each re-ran the
    # scan+repartition+DECIMAL-cast lineage (profiled: the 12 MB
    # repartition map stage executed twice per run). Non-eager: the
    # upstream is deterministic (no range sampling), so the pin only
    # needs block-level reuse, not a synchronous materialize job.
    mom = base.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    ).select(
        "n", "sx", "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("decimal(38,0)").alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("decimal(38,0)").alias("den"),
    )
    # the 1-row moment relation feeds three consumers and the residual
    # relation two (rank path + coverage audit) — unpinned, each
    # consumer re-ran the full scan+agg lineage (measured: ~5 corpus
    # scans, 8.6 s at sf0.1). Pin both once.
    mom = mom.localCheckpoint(eager=True)
    resid = base.crossJoin(F.broadcast(mom)).select(
        "__id",
        F.abs(
            F.col("den") * F.col("n") * F.col("y")
            - (
                F.col("den") * F.col("sy")
                - F.col("num") * F.col("sx")
                + F.col("n") * F.col("num") * F.col("x")
            )
        ).cast("decimal(38,0)").alias("rs"),
    ).localCheckpoint(eager=True)
    k_expr = F.expr(
        f"CAST((({coverage_pm} * (n + 1)) + 999) div 1000 AS BIGINT)"
    )
    krow = mom.select(
        F.col("n").cast("long").alias("n_rows"),
        k_expr.alias("k"),
        (F.col("den") * F.col("n")).cast("decimal(38,0)").alias("unit"),
    )
    # the order statistic comes from SELECTION, not ranking: the old
    # global_ranks path paid a full range shuffle + materialization of
    # every residual to read ONE row (round 7: 8.6 s -> ~2 s at sf0.1);
    # kth_smallest_exact sketch-brackets the k-th residual and sorts
    # only the ~O(eps*n) bracket. n and k are two scalars off the
    # checkpointed 1-row moment relation — bounded driver contract.
    kn = krow.collect()[0]
    kth = kth_smallest_exact(resid, "rs", int(kn["k"]), int(kn["n_rows"]))
    qhat = (
        kth.crossJoin(F.broadcast(krow))
        .select(
            "n_rows", "k",
            F.expr("kth_value div unit").cast("long").alias("qhat_fp"),
            F.col("kth_value").alias("__q"),
        )
    )
    # coverage audit: exact share of rows with residual <= qhat
    return (
        resid.crossJoin(F.broadcast(qhat))
        .agg(
            F.first("n_rows").alias("n_rows"),
            F.first("k").alias("k"),
            F.first("qhat_fp").alias("qhat_fp"),
            F.sum(F.when(F.col("rs") <= F.col("__q"), 1).otherwise(0))
            .cast("long").alias("n_within"),
        )
        .select(
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("k").cast("long").alias("k"),
            "qhat_fp",
            F.expr("n_within * 1000 div n_rows").cast("long")
            .alias("coverage_pm"),
        )
    )


def wilson_ci_by_group(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Wilson score confidence interval for a per-group proportion —
    the experiment-readout companion that behaves at small n and
    p near 0/1 where the normal approximation fails. One map-side
    combined (group) agg; the interval itself is scalar float algebra
    (one sqrt, identical libm), surfaced at round-6 with exact BIGINT
    counts alongside."""
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(success_col).cast("int")).alias("k"),
    )
    p = F.col("k") / F.col("n")
    z2 = z * z
    denom = F.lit(1.0) + F.lit(z2) / F.col("n")
    center = (p + F.lit(z2) / (F.lit(2.0) * F.col("n"))) / denom
    half = (
        F.lit(z)
        * F.sqrt(
            p * (F.lit(1.0) - p) / F.col("n")
            + F.lit(z2) / (F.lit(4.0) * F.col("n") * F.col("n"))
        )
        / denom
    )
    return agg.select(
        F.col(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    )


def next_event_accuracy(
    train: DataFrame,
    test: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    order_col: str,
) -> DataFrame:
    """First-order sequence-model evaluation: learn argmax next-event
    per current event from TRAIN user journeys (most frequent
    successor, ties -> smallest type), measure top-1 accuracy on TEST
    journeys' transitions. The baseline every fancier sequence model
    must beat — and a drift alarm when production accuracy moves.

    One lag window per relation, two map-side-combined counts; the
    learned (src -> predicted dst) table is enum-bounded and
    broadcasts. Test transitions with a train-unseen src count as
    uncovered (reported, not silently correct/incorrect). Exact
    BIGINT counts + truncating-div rates."""
    from pyspark.sql import Window

    def transitions(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
        return df.select(
            F.lag(type_col).over(w).alias("src"),
            F.col(type_col).alias("dst"),
        ).where(F.col("src").isNotNull())

    tr_counts = transitions(train).groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_rank = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("dst"))
    model = (
        tr_counts.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select("src", F.col("dst").alias("pred"))
    )
    tt = transitions(test).join(F.broadcast(model), "src", "left")
    return tt.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(F.when(F.col("pred").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_covered"),
        F.sum(F.when(F.col("pred") == F.col("dst"), 1).otherwise(0))
        .cast("long").alias("n_correct"),
    ).select(
        "n_test", "n_covered", "n_correct",
        F.expr("n_covered * 1000 div n_test").cast("long")
        .alias("coverage_pm"),
        F.when(
            F.col("n_covered") > 0,
            F.expr("n_correct * 1000 div n_covered"),
        ).cast("long").alias("accuracy_pm"),
    )


def did_estimate(
    df: DataFrame,
    treated_col: str,
    post_col: str,
    value_fp: str,
) -> DataFrame:
    """Difference-in-differences estimator over a 2x2 (treated, post)
    design — the workhorse causal readout for staggered feature
    launches: DiD = (treated_post - treated_pre) - (control_post -
    control_pre), on per-cell means.

    One map-side-combined 4-cell aggregation; means surface in exact
    ppm (truncating div), and the estimate is pure subtraction of the
    already-truncated cell means — deterministic cross-engine. Output
    is one row: the four cell means, their counts, and did_ppm."""
    cells = df.groupBy(
        F.col(treated_col).cast("int").alias("t"),
        F.col(post_col).cast("int").alias("p"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_fp).cast("decimal(38,0)")).alias("s"),
    ).select(
        "t", "p", "n",
        F.expr("s * 1000000 div n").cast("long").alias("m"),
    )
    pivoted = cells.groupBy().agg(
        F.sum(F.when((F.col("t") == 0) & (F.col("p") == 0), F.col("n"))).alias("n00"),
        F.sum(F.when((F.col("t") == 0) & (F.col("p") == 1), F.col("n"))).alias("n01"),
        F.sum(F.when((F.col("t") == 1) & (F.col("p") == 0), F.col("n"))).alias("n10"),
        F.sum(F.when((F.col("t") == 1) & (F.col("p") == 1), F.col("n"))).alias("n11"),
        F.sum(F.when((F.col("t") == 0) & (F.col("p") == 0), F.col("m"))).alias("m00"),
        F.sum(F.when((F.col("t") == 0) & (F.col("p") == 1), F.col("m"))).alias("m01"),
        F.sum(F.when((F.col("t") == 1) & (F.col("p") == 0), F.col("m"))).alias("m10"),
        F.sum(F.when((F.col("t") == 1) & (F.col("p") == 1), F.col("m"))).alias("m11"),
    )
    return pivoted.select(
        *[F.col(c).cast("long").alias(c)
          for c in ("n00", "n01", "n10", "n11", "m00", "m01", "m10", "m11")],
        ((F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00")))
        .cast("long").alias("did_ppm"),
    )


def mutual_information_binned(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Mutual information between two bounded-cardinality columns —
    the feature-selection screen (how much does knowing A tell you
    about B), in nats. Inputs are ALREADY-DISCRETIZED columns (bins /
    enums), so the contingency relation is cell-bounded by contract.

    Hash-stable float pattern (the BM25 lesson): each cell's
    (p_ab)·ln(p_ab/(p_a·p_b)) term is rounded to micro-nats FIRST and
    the cross-cell sum runs as exact BIGINT — order-independent where
    a double sum is not. Marginals ride along via two more
    cell-bounded aggs; products go through DOUBLE before dividing, so
    no integer overflow at corpus scale."""
    cells = df.groupBy(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).agg(F.count(F.lit(1)).alias("n_ab"))
    ma = cells.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    mb = cells.groupBy("b").agg(F.sum("n_ab").alias("n_b"))
    tot = cells.agg(F.sum("n_ab").alias("n"))
    terms = (
        cells.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("n_ab").cast("double") / F.col("n"))
                * F.log(
                    (F.col("n_ab").cast("double") * F.col("n"))
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                )
                * F.lit(1e6),
                0,
            ).cast("long").alias("term_micro")
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("term_micro").cast("long").alias("mi_micro_nats"),
    )


def cusum_alarms(
    df: DataFrame,
    group_col: str,
    t_col: str,
    value_col: str,
    slack_num: int = 1,
    slack_den: int = 8,
    h_num: int = 4,
) -> DataFrame:
    """One-sided CUSUM control chart over per-(group, t) series — the
    SPC drift detector: S_t = max(0, S_{t-1} + (x_t - target - k)),
    alarm when S_t > h. The recursion LOOKS sequential, but CUSUM has
    the classic prefix closed form S_t = P_t - min_{j<=t} P_j with
    P_t = sum of deviations — two cumulative windows, no iteration,
    no UDF.

    EXACT integers: target = per-group mean (truncating div),
    allowance k = target * slack_num div slack_den, threshold
    h = h_num * k (integer multiples — the practical tuning); every
    P_t and S_t is a BIGINT. Windows partition by group over the
    span-bounded series relation (inputs are pre-aggregated by
    contract). Output: per (group, t), S_t and the alarm flag."""
    from pyspark.sql import Window

    base = df.select(
        F.col(group_col).alias("g"),
        F.col(t_col).alias("t"),
        F.col(value_col).cast("long").alias("x"),
    )
    stats = base.groupBy("g").agg(
        F.expr("sum(x) div count(1)").cast("long").alias("target")
    ).select(
        "g", "target",
        F.expr(f"target * {slack_num} div {slack_den}")
        .cast("long").alias("k"),
    )
    w_cum = Window.partitionBy("g").orderBy(F.asc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = (
        base.join(F.broadcast(stats), "g")
        .withColumn("__dev", F.col("x") - F.col("target") - F.col("k"))
        .withColumn("__p", F.sum("__dev").over(w_cum).cast("long"))
        .withColumn(
            "__minp",
            F.least(F.min("__p").over(w_cum), F.lit(0).cast("long")),
        )
    )
    return stepped.select(
        F.col("g").alias(group_col),
        "t",
        (F.col("__p") - F.col("__minp")).cast("long").alias("s"),
        F.when(
            (F.col("__p") - F.col("__minp")) > F.col("k") * h_num, 1
        ).otherwise(0).cast("int").alias("alarm"),
    )


def hll_merge_estimate(
    registers: DataFrame,
    merge_over: list[str],
    group_cols: list[str] | None = None,
    m: int = 256,
    alpha_ppm: int = 718272,
) -> DataFrame:
    """HyperLogLog register MERGE + raw estimate — the property that
    makes HLL the 100 TB distinct-count answer: registers built per
    slice (type, day, shard...) union by per-bucket MAX, so
    cardinality rolls up WITHOUT revisiting keys. `merge_over` names
    the slice columns to merge away; `group_cols` what survives.

    EXACT integer estimate: the harmonic denominator is held in
    2^(vbits+1) units (S = sum over ALL m buckets of 2^(rank_max - M),
    absent buckets at M = 0), so est = alpha_ppm·m²·2^rank_max div S
    div 1e6 is pure DECIMAL(38,0) algebra — no pow(2.0, -x) float to
    drift. alpha_ppm is the standard 0.7213/(1 + 1.079/m) constant as
    a ppm literal (both engines use the identical integer). The raw
    estimator (no small-range linear counting) — n_zero_buckets rides
    along so consumers can see when the correction regime applies.

    Shape: one (group, bucket) max agg over the register relation
    (≤ |slices|·m rows in, |groups|·m out), then a |groups|-row
    estimate. Nothing touches the original key stream."""
    groups = list(group_cols or [])
    vbits_rank = 41  # rank_max for the 48-bit word / m=256 layout
    merged = registers.groupBy(*groups, "bucket").agg(
        F.max("register").alias("M")
    )
    per_group = merged.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr(f"shiftleft(1L, {vbits_rank} - M)"))
        .cast("decimal(38,0)").alias("s_present"),
    )
    est_expr = (
        f"CAST({alpha_ppm} AS DECIMAL(38,0)) * {m} * {m}"
        f" * CAST(shiftleft(1L, {vbits_rank}) AS DECIMAL(38,0))"
        f" div (s_present"
        f"      + CAST(({m} - n_present) AS DECIMAL(38,0))"
        f"        * CAST(shiftleft(1L, {vbits_rank}) AS DECIMAL(38,0)))"
        f" div 1000000"
    )
    return per_group.select(
        *groups,
        (F.lit(m) - F.col("n_present")).cast("long").alias("n_zero_buckets"),
        F.expr(est_expr).cast("long").alias("est_distinct"),
    )


def ipw_effect_stratified(
    df: DataFrame, stratum_col: str, treated_col: str, outcome_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect with a
    STRATIFIED propensity model — the observational-data sibling of
    `did_estimate`/`cuped_adjusted_means`: within each stratum the
    propensity is the exact rational p_s = nt_s/n_s, so the IPW terms
    collapse to integer arithmetic (y/p_s = y*n_s div nt_s — no float
    propensity ever materializes):

        mu1 = (1/N) * sum_s( sum_y_treated_s * n_s div nt_s )
        mu0 = (1/N) * sum_s( sum_y_control_s * n_s div nc_s )
        ate = mu1 - mu0

    Strata violating positivity (no treated or no control rows — the
    weights would be infinite) are DROPPED and counted, the standard
    trimming. Returns one row: (n_used, n_strata_used,
    n_strata_dropped, mu1_fp, mu0_fp, ate_fp).

    Shape: one stratum-key groupBy (map-side combined, stratum
    cardinality rows), one bounded fold. ``treated_col``/
    ``outcome_col`` must be 0/1 integers.
    """
    cells = df.groupBy(F.col(stratum_col).alias("__s")).agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum(F.col(treated_col).cast("long")).cast("long").alias("nt"),
        F.sum(
            (F.col(treated_col).cast("long")
             * F.col(outcome_col).cast("long"))
        ).cast("long").alias("yt"),
        F.sum(
            ((1 - F.col(treated_col).cast("long"))
             * F.col(outcome_col).cast("long"))
        ).cast("long").alias("yc"),
    ).withColumn("nc", F.col("n_s") - F.col("nt"))
    ok = (F.col("nt") > 0) & (F.col("nc") > 0)
    folded = cells.agg(
        F.sum(F.when(ok, F.col("n_s"))).cast("long").alias("n_used"),
        F.sum(ok.cast("long")).cast("long").alias("n_strata_used"),
        F.sum((~ok).cast("long")).cast("long").alias("n_strata_dropped"),
        F.sum(
            F.when(ok, F.expr(
                f"CAST(CAST(yt AS DECIMAL(38,0)) * n_s * {int(scale)}"
                " AS DECIMAL(38,0)) div nt"))
        ).cast("decimal(38,0)").alias("__w1"),
        F.sum(
            F.when(ok, F.expr(
                f"CAST(CAST(yc AS DECIMAL(38,0)) * n_s * {int(scale)}"
                " AS DECIMAL(38,0)) div nc"))
        ).cast("decimal(38,0)").alias("__w0"),
    )
    return folded.select(
        "n_used", "n_strata_used", "n_strata_dropped",
        F.expr("CAST(__w1 div n_used AS BIGINT)").alias("mu1_fp"),
        F.expr("CAST(__w0 div n_used AS BIGINT)").alias("mu0_fp"),
        F.expr(
            "CAST(__w1 div n_used AS BIGINT)"
            " - CAST(__w0 div n_used AS BIGINT)"
        ).cast("long").alias("ate_fp"),
    )


def max_drawdown_by_group(
    df: DataFrame, group_col: str, period_col: str, value_col: str,
) -> DataFrame:
    """Per-group maximum drawdown of a period series: the largest drop
    from a running peak — the 'how bad did it get vs the best we ever
    were' revenue-health metric (finance's drawdown applied to any
    grouped time series). For each group: peak_t = max(value) over
    periods <= t, dd_t = peak_t - value_t, and the output row is the
    group's max dd with the EARLIEST period achieving it (row_number
    tiebreak — deterministic cross-engine where max_by is not).

    Returns (group, period, peak_value, value, drawdown) — one row per
    group. All windows are PARTITIONED by the group (parallel, bounded
    by each group's period count); inputs must be exact integers.
    """
    w_run = (
        Window.partitionBy(group_col)
        .orderBy(F.col(period_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_dd = df.select(
        F.col(group_col), F.col(period_col), F.col(value_col),
        F.max(F.col(value_col)).over(w_run).alias("peak_value"),
    ).withColumn(
        "drawdown", F.col("peak_value") - F.col(value_col)
    )
    w_pick = Window.partitionBy(group_col).orderBy(
        F.col("drawdown").desc(), F.col(period_col).asc()
    )
    return (
        with_dd.withColumn("__rn", F.row_number().over(w_pick))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def engagement_curve(
    df: DataFrame, user_col: str, day_col, month_col,
) -> DataFrame:
    """The L28/power-user curve: for each calendar month, the histogram
    of per-user active-day counts — the canonical engagement-depth
    read (a hump near the top = habit; mass at 1 = drive-by traffic).
    ``day_col``/``month_col`` are column expressions (day + month
    derived from the same timestamp).

    Two aggregations, both map-side combined: (user, month) distinct
    active days — the only data-sized shuffle — then the
    (month, n_days)-bounded histogram. Returns
    (month, active_days, n_users).
    """
    per_user = (
        df.select(
            F.col(user_col).alias("__u"),
            day_col.alias("__d"),
            month_col.alias("__m"),
        )
        .groupBy("__u", "__m")
        .agg(F.count_distinct("__d").cast("long").alias("active_days"))
    )
    return (
        per_user.groupBy(
            F.col("__m").alias("month"), F.col("active_days")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def pettitt_changepoint(
    df: DataFrame, group_col: str, t_col: str, value_col: str,
) -> DataFrame:
    """Pettitt (1979) rank-based changepoint test per group — the
    nonparametric sibling of `mean_shift_changepoint`/`cusum_alarms`:
    insensitive to outliers and to the magnitude scale because only
    RANKS enter. Statistic: U_t = 2*sum_{i<=t} r_i - t*(n+1) with
    midranks r; K = max_t |U_t| and the changepoint is the earliest t
    attaining K. DOUBLED midranks (dr = 2*cnt_less + cnt_eq + 1, the
    `mann_whitney_u` device) keep everything integral:
    U2_t = sum_{i<=t} dr_i - t*(n+1) is exactly U_t since
    sum dr = 2*sum r.

    All windows are PARTITIONED by the group (parallel, bounded by the
    per-group series length — the same contract as every per-entity
    window in the repo): cnt_less via a RANGE frame on the value,
    prefix sums and the argmax pick via ROWS frames on t. Returns one
    row per group: (group, n, k_stat, t_at_k, u_at_k) — sign of
    u_at_k gives the shift direction.

    ``value_col`` must be integer-typed (RANGE frame + exact ranks);
    ``t_col`` a unique time index within each group.
    """
    g = F.col(group_col)
    w_less = (
        Window.partitionBy(group_col)
        .orderBy(F.col(value_col).cast("long"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy(group_col, value_col)
    ranked = df.select(
        g, F.col(t_col), F.col(value_col),
        (2 * F.coalesce(F.count(F.lit(1)).over(w_less), F.lit(0))
         + F.count(F.lit(1)).over(w_eq) + 1).cast("long").alias("__dr"),
    )
    w_pre = (
        Window.partitionBy(group_col)
        .orderBy(F.col(t_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(group_col)
    with_u = ranked.select(
        g, F.col(t_col),
        (F.sum("__dr").over(w_pre)
         - F.row_number().over(
             Window.partitionBy(group_col).orderBy(F.col(t_col)))
         .cast("long")
         * (F.count(F.lit(1)).over(w_all) + 1)).alias("__u"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    w_pick = Window.partitionBy(group_col).orderBy(
        F.abs(F.col("__u")).desc(), F.col(t_col).asc()
    )
    return (
        with_u.withColumn("__rn", F.row_number().over(w_pick))
        .where(F.col("__rn") == 1)
        .select(
            g, "n",
            F.abs(F.col("__u")).cast("long").alias("k_stat"),
            F.col(t_col).alias("t_at_k"),
            F.col("__u").cast("long").alias("u_at_k"),
        )
    )


def price_volume_mix(
    df: DataFrame, group_col: str, period_col: str, qty_col: str,
    rev_col: str, period_a, period_b, scale: int = 10**6,
) -> DataFrame:
    """Price-volume-mix revenue bridge per group — the FP&A
    decomposition of 'revenue moved by X: how much was selling MORE
    (volume), how much was selling DEARER (price), how much the
    interaction (mix)':

        volume = dQ * p0,   price = Q0 * dp,   mix = dQ * dp
        (p = R/Q unit price; dQ = Q1-Q0, dp = p1-p0)

    Fixed-point contract: volume and price effects are quantized at
    ``scale`` with integer cross-multiplied division (dQ*R0*scale div
    Q0 — unit prices never materialize as floats), and MIX IS DEFINED
    AS THE RESIDUAL delta_fp - volume_fp - price_fp, so the bridge
    identity volume+price+mix == delta holds EXACTLY by construction
    (textbook mix absorbs the quantization remainder — the accounting
    convention, made deterministic).

    One (group, period) combiner aggregate; periods pivot via
    conditional sums; groups present in only one period are dropped
    (no bridge without both endpoints — count them upstream). Returns
    (group, rev_a_fp, rev_b_fp, delta_fp, volume_fp, price_fp,
    mix_fp).
    """
    cells = df.groupBy(F.col(group_col).alias("g")).agg(
        F.sum(F.when(F.col(period_col) == period_a,
                     F.col(qty_col).cast("long"))).alias("q0"),
        F.sum(F.when(F.col(period_col) == period_a,
                     F.col(rev_col).cast("long"))).alias("r0"),
        F.sum(F.when(F.col(period_col) == period_b,
                     F.col(qty_col).cast("long"))).alias("q1"),
        F.sum(F.when(F.col(period_col) == period_b,
                     F.col(rev_col).cast("long"))).alias("r1"),
    ).where(
        F.col("q0").isNotNull() & F.col("q1").isNotNull()
        & (F.col("q0") > 0) & (F.col("q1") > 0)
    )
    # volume = (q1-q0) * r0/q0 ; price = q0 * (r1/q1 - r0/q0)
    #        = q0*r1/q1 - r0 — both one cross-multiplied div
    volume = F.expr(
        f"CAST(CAST(q1 - q0 AS DECIMAL(38,0)) * r0 * {int(scale)}"
        " AS DECIMAL(38,0)) div q0"
    )
    price = (
        F.expr(
            f"CAST(CAST(q0 AS DECIMAL(38,0)) * r1 * {int(scale)}"
            " AS DECIMAL(38,0)) div q1"
        )
        - F.col("r0").cast("decimal(38,0)") * int(scale)
    )
    delta = (F.col("r1") - F.col("r0")).cast("decimal(38,0)") * int(scale)
    return cells.select(
        "g",
        F.col("r0").cast("long").alias("rev_a_fp"),
        F.col("r1").cast("long").alias("rev_b_fp"),
        delta.cast("long").alias("delta_fp"),
        volume.cast("long").alias("volume_fp"),
        price.cast("long").alias("price_fp"),
        (delta - volume - price).cast("long").alias("mix_fp"),
    )


def kth_smallest_exact(
    df: DataFrame, val_col: str, k: int, n: int,
) -> DataFrame:
    """EXACT k-th smallest of an integer/decimal column WITHOUT
    ranking the corpus — the selection-vs-sort distinction that
    matters at 100 TB: a full `global_ranks` pays a range shuffle +
    materialization of every row to extract ONE order statistic; this
    pays two narrow passes + one tiny sort.

    Mechanics (sketch-bracket selection): an approx_percentile sketch
    brackets the k-th value's location (rank error <= eps*n by the GK
    accuracy contract; the bracket is widened by 3*eps both sides so
    containment survives sketch merge-order wobble), one pass counts
    rows strictly below the bracket, and the exact answer is the
    (k - below)-th smallest INSIDE the bracket — a relation of
    ~O(eps*n) rows, sorted with TakeOrdered. The sketch only STEERS;
    the answer is exact-integer and identical to the ranking path
    (the k-th smallest is unique as a value). If the bracket
    unexpectedly misses (pathological distribution), falls back to
    the exact range-partitioned rank — correctness never rides the
    sketch.

    Driver contract: collects exactly two scalar rows (the bracket
    bounds), bounded by construction. Returns a 1-row DF with column
    ``kth_value`` (same type as ``val_col``).
    """
    eps = 1e-4
    p = min(max(k / max(n, 1), 0.0), 1.0)
    p_lo = max(0.0, p - 3 * eps)
    p_hi = min(1.0, p + 3 * eps)
    b = df.agg(
        F.percentile_approx(
            F.col(val_col).cast("double"), F.lit([p_lo, p_hi]), F.lit(10000)
        ).alias("b")
    ).collect()[0]["b"]
    lo_d, hi_d = float(b[0]), float(b[1])
    # widen for double-rounding of huge decimals (relative + absolute)
    lo_t = lo_d - abs(lo_d) * 1e-9 - 1.0
    hi_t = hi_d + abs(hi_d) * 1e-9 + 1.0
    stats = df.agg(
        F.sum(
            (F.col(val_col).cast("double") < F.lit(lo_t)).cast("long")
        ).alias("below"),
        F.sum(
            (
                (F.col(val_col).cast("double") >= F.lit(lo_t))
                & (F.col(val_col).cast("double") <= F.lit(hi_t))
            ).cast("long")
        ).alias("inside"),
    ).collect()[0]
    below, inside = int(stats["below"] or 0), int(stats["inside"] or 0)
    j = k - below
    if 1 <= j <= inside:
        bracket = df.where(
            (F.col(val_col).cast("double") >= F.lit(lo_t))
            & (F.col(val_col).cast("double") <= F.lit(hi_t))
        )
        return (
            bracket.orderBy(F.col(val_col).asc())
            .limit(j)
            .agg(F.max(F.col(val_col)).alias("kth_value"))
        )
    # fallback: exact distributed rank (never expected; correctness net)
    ranked = global_ranks(
        df.select(F.col(val_col)), [F.asc(val_col)], rank_name="__rk"
    )
    return ranked.where(F.col("__rk") == int(k)).select(
        F.col(val_col).alias("kth_value")
    )


def path_topk_similarity(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak: str,
    type_col: str,
    n_seeds: int = 3,
    gram: int = 4,
    top_k: int = 10,
) -> DataFrame:
    """Top-k sequence-similar entities per seed — "find sessions that
    look like THIS one" (the trajectory/sequence similarity-search
    family, cf. REPOSE's top-k trajectory search): each key's events
    become a chronological symbol string (the sequence_pattern_counts
    idiom), similarity = Jaccard over the string's distinct character
    ``gram``-grams, and the ``n_seeds`` smallest keys each rank every
    other key by score, keeping ``top_k``.

    Scale shape: the whole-corpus side is ONE (key, gram) distinct
    relation (shuffle keyed by entity, per-key state bounded by that
    entity's activity); the seed side is n_seeds rows of gram SETS,
    BROADCAST — so scoring is a map-side join + one (seed, key) count
    aggregation, linear in corpus gram rows and bounded fan-out
    n_seeds. The only window partitions by seed (n_seeds partitions,
    top_k rows kept: TakeOrdered shape per seed). No all-pairs
    anywhere — all-pairs similarity over a 5-symbol alphabet is
    degenerate by construction; the seed-probe form is the one that
    scales AND means something.

    Exact integer surfaces: score_ppm = 1e6 * |A∩B| div |A∪B|; ties
    broken by key ascending."""
    sym = F.substring(F.col(type_col), 1, 1)
    seq = (
        df.select(
            F.col(key_col).alias("k"),
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(tiebreak).alias("tb"),
                sym.alias("ch"),
            ).alias("s"),
        )
        .groupBy("k")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["ch"]
                ),
                "",
            ).alias("seq")
        )
    )
    grams = seq.select(
        "k",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(
                            F.length("seq") - (gram - 1), F.lit(1)
                        ),
                    ),
                    lambda i: F.col("seq").substr(i, F.lit(gram)),
                )
            )
        ).alias("g"),
    )
    sizes = grams.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    seeds = sizes.orderBy("k").limit(int(n_seeds)).select(
        F.col("k").alias("seed"), F.col("sz").alias("seed_sz")
    )
    seed_grams = grams.join(
        F.broadcast(seeds.select(F.col("seed").alias("k"))), "k"
    ).select(F.col("k").alias("seed"), "g")
    inter = (
        grams.join(F.broadcast(seed_grams), "g")
        .where(F.col("k") != F.col("seed"))
        .groupBy("seed", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    scored = (
        inter.join(F.broadcast(seeds), "seed")
        .join(sizes.hint("shuffle_hash"), "k")
        .select(
            "seed", "k", "n_shared",
            F.expr(
                "CAST(n_shared * 1000000 AS BIGINT)"
                " div (seed_sz + sz - n_shared)"
            ).alias("score_ppm"),
        )
    )
    w = Window.partitionBy("seed").orderBy(
        F.desc("score_ppm"), F.asc("k")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(top_k))
        .select(
            F.col("seed").cast("long").alias("seed"),
            F.col("k").cast("long").alias(key_col),
            F.col("rank").cast("int").alias("rank"),
            "n_shared", "score_ppm",
        )
        .orderBy("seed", "rank")
    )
