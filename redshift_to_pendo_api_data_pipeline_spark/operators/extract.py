"""Extract-side operators: the reference's query-builder surface as
composable DataFrame transforms.

Reference parity map (SURVEY.md §2.2/2.3/2.5, all in
``tap-redshift/src/sync.py`` unless noted):

- P4 incremental predicate  ``WHERE rk > %(bookmark)s``      (sync.py:143,147)
- J3 semi-join reduction    ``AND pk = ANY(uuid_allowlist)`` (sync.py:144,150)
- P6/P7 UUID-shape filters  len==36 / validators.uuid        (sync.py:42,51-53)
- O1 ORDER BY rk ASC                                         (sync.py:145,151)
- O2 LIMIT n (default 1e6)                                   (sync.py:146,155)
- A1 COUNT(*) volume                                         (sync.py:153-159)
- A3 running-max bookmark                                    (sync.py:188-194)

Scale notes: the incremental filter and projection reach the parquet/JDBC
scan via Catalyst pushdown; the allowlist semi-join broadcasts when small
(the canonical replacement for ``= ANY(<list>)``, which dies at millions of
IDs) and falls back to a shuffle semi-join past the broadcast threshold.
ORDER BY + LIMIT compiles to TakeOrderedAndProject (distributed top-k), not
a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

UUID_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"

DEFAULT_QUERY_LIMIT = 1_000_000  # tap-redshift/src/parsed_args.py:95


def incremental_filter(
    df: DataFrame, replication_key: str, bookmark, lookback: str | None = None
) -> DataFrame:
    """P4: strictly-greater-than bookmark scan (sync.py:143,147).

    Pushed into the source scan by Catalyst (check PushedFilters).

    ``lookback`` is the late-data remedy the reference acknowledges but
    never ships (changelog.md:44 — rows whose replication key is stamped
    late are silently skipped by a strict ``> bookmark``): an SQL
    INTERVAL string (e.g. ``'1 hour'``) widens the scan to
    ``> bookmark - lookback``, re-syncing the overlap window. Requires
    the idempotent upsert sink (which this pipeline has, README.md:142);
    multi-version feeds should collapse the overlap with
    ``analytics.latest_per_key`` before sinking."""
    if bookmark is None:
        return df
    bound = F.lit(bookmark)
    if lookback is not None:
        bound = bound - F.expr(f"INTERVAL {lookback}")
    return df.filter(F.col(replication_key) > bound)


def semi_join_allowlist(
    df: DataFrame, key: str, allowlist: DataFrame, allowlist_key: str = "id"
) -> DataFrame:
    """J3: restrict the scan to keys present in a remote-fetched allowlist
    (sync.py:144,150 pushed ``= ANY``). Broadcast left-semi join — the
    allowlist is small relative to the fact table; if it grows past the
    broadcast threshold AQE/planner falls back to shuffle semi-join.

    The allowlist key is renamed to a reserved name so both sides of the
    join condition are bound DataFrame references: an unbound
    F.col(allowlist_key) is ambiguous (AnalysisException) whenever df also
    has a column of that name — and 'id' is a common one."""
    allow = allowlist.select(F.col(allowlist_key).alias("__allow_key"))
    return df.join(
        F.broadcast(allow), on=df[key] == allow["__allow_key"], how="left_semi"
    )


def anti_join_allowlist(
    df: DataFrame, key: str, allowlist: DataFrame, allowlist_key: str = "id"
) -> DataFrame:
    """Complement of J3 — rows NOT matched remotely (the reference's
    'dropped, never inserted' sink contract, README.md:121-122, and the
    failed-record complement of J4). Binding rationale as in
    semi_join_allowlist."""
    allow = allowlist.select(F.col(allowlist_key).alias("__allow_key"))
    return df.join(
        F.broadcast(allow), on=df[key] == allow["__allow_key"], how="left_anti"
    )


def uuid_shape_filter(col: Column) -> Column:
    """P6: the remote Pendo aggregation filter ``len(id) == 36``
    (sync.py:42)."""
    return F.length(col) == 36


def uuid_valid_filter(col: Column) -> Column:
    """P7: full UUID validation (sync.py:51-53 validators.uuid)."""
    return col.rlike(UUID_RE)


def ordered_limit(
    df: DataFrame, order_key: str, n: int = DEFAULT_QUERY_LIMIT, ascending: bool = True
) -> DataFrame:
    """O1+O2: ORDER BY rk LIMIT n (sync.py:145-146). Spark executes this as
    TakeOrderedAndProject — per-partition top-k then a single merge, no
    global sort shuffle. The merge leaves the result in ONE partition;
    ``sink.http_sink.sink_dataframe`` re-fans it across writers."""
    key = F.asc(order_key) if ascending else F.desc(order_key)
    return df.orderBy(key).limit(n)


def volume_count(df: DataFrame) -> DataFrame:
    """A1: the pre-sync COUNT(*) used for the VOLUME message / batch
    planning (sync.py:153-159)."""
    return df.agg(F.count(F.lit(1)).alias("record_count"))


def max_bookmark(df: DataFrame, replication_key: str):
    """A3: the new bookmark after a sync. The reference relies on ORDER BY
    + last-row-wins (sync.py:188-194); a max-aggregate needs no ordering
    and is a partial-aggregated (map-side combined) single-row reduce."""
    row = df.agg(F.max(replication_key).alias("bookmark")).first()
    return row["bookmark"] if row else None
