"""The flagship pipeline: ``sync_table`` as ONE lazy DataFrame plan.

The reference's sync path (tap-redshift/src/sync.py:83-206 +
target-pendo/src/__init__.py:421-622) is two processes and a pipe:

    SELECT cols FROM t WHERE rk > bookmark AND pk = ANY(uuids)
    ORDER BY rk LIMIT n
    | per-row JSON | validate | flatten | remap | reshape | batch | POST

Here the whole thing is a single declarative plan; Catalyst pushes the
filter + projection into the scan, the allowlist becomes a broadcast
left-semi join, record shaping is column expressions inside one codegen
stage, and the only materialization is at the sink. The Singer message
stream between tap and target disappears entirely (SURVEY.md §3.2).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from redshift_to_pendo_api_data_pipeline_spark.catalog import resolve_projection
from redshift_to_pendo_api_data_pipeline_spark.functions.transforms import remap_fields, reshape_payload
from redshift_to_pendo_api_data_pipeline_spark.operators.extract import (
    DEFAULT_QUERY_LIMIT,
    incremental_filter,
    max_bookmark,
    ordered_limit,
    semi_join_allowlist,
)
from redshift_to_pendo_api_data_pipeline_spark.plans.state import State, now_version
from redshift_to_pendo_api_data_pipeline_spark.schema import StreamSpec


@dataclass
class SyncResult:
    stream: str
    record_count: int
    bookmark: object | None
    version: int
    metrics: dict | None = None  # A2 observed counters (tagged per stream)


def sync_plan(
    df: DataFrame,
    stream: StreamSpec,
    bookmark=None,
    allowlist: DataFrame | None = None,
    limit: int | None = DEFAULT_QUERY_LIMIT,
    lookback: str | None = None,
) -> DataFrame:
    """Build the extract+shape plan for one stream (no execution).

    Mirrors the reference's query builder (sync.py:143-155) + the target's
    record shaping (__init__.py:530-557), as one plan.

    The limit semantics follow the reference's ``ORDER BY rk ASC LIMIT n``
    (sync.py:145-146), and for the same reason: the limited set must be an
    rk-PREFIX so that advancing the bookmark to max(rk) over the sunk rows
    never skips a pending row. A bare ``LIMIT n`` picks an arbitrary
    subset — any unsunk row with rk below the new bookmark would be lost
    forever on the next incremental run. Spark executes the ordered limit
    as TakeOrderedAndProject (per-partition top-k + single merge), so no
    global sort is paid; the merge leaves the shaped frame in one
    partition, and the HTTP sink re-fans it across concurrent writers
    (``sink_dataframe``). FULL_TABLE ignores the limit entirely: a
    versioned full refresh truncated to n arbitrary rows would drop the
    rest at ACTIVATE_VERSION time.
    """
    out = resolve_projection(df, stream)
    if stream.replication_method == "INCREMENTAL":
        # lookback widens the scan to catch late-stamped rows; safe only
        # because the sink upserts idempotently (resynced rows collapse)
        out = incremental_filter(
            out, stream.replication_key, bookmark, lookback=lookback
        )
    if allowlist is not None:
        out = semi_join_allowlist(out, stream.primary_key, allowlist)
    if limit is not None and stream.replication_method == "INCREMENTAL":
        out = ordered_limit(out, stream.replication_key, limit)
    out = remap_fields(out, stream.field_mappings)
    pk_out = stream.field_mappings.get(stream.primary_key, stream.primary_key)
    return reshape_payload(out, pk_out)


def run_sync(
    spark: SparkSession,
    df: DataFrame,
    stream: StreamSpec,
    state: State,
    sink,
    allowlist: DataFrame | None = None,
    limit: int | None = DEFAULT_QUERY_LIMIT,
) -> SyncResult:
    """Execute one stream sync with correct state-commit ordering:

    1. read bookmark from state (INCREMENTAL only)
    2. build plan, stamp a version (FULL_TABLE mints a new one =
       ACTIVATE_VERSION swap; INCREMENTAL reuses, sync.py:114-121,199-204)
       and write it to state, where a message-stamping sink reads it
    3. sink the data (idempotent writer, task retries safe)
    4. only then advance the bookmark to max(rk) over the sunk rows and
       clear ``currently_syncing`` — the target-echoes-state contract
       (README.md:191-192).
    """
    bookmark = None
    if stream.replication_method == "INCREMENTAL":
        bookmark = state.get_bookmark(stream.name, "replication_key_value")
    version = state.get_bookmark(stream.name, "version")
    if version is None or stream.replication_method == "FULL_TABLE":
        version = now_version()

    state.currently_syncing = stream.name
    state.write_bookmark(stream.name, "version", version)
    shaped = sync_plan(df, stream, bookmark=bookmark, allowlist=allowlist, limit=limit)
    # A2: record-counter metric riding the existing action (the reference
    # increments a per-row counter tagged db/table, sync.py:178-183; here
    # Observation collects it with zero extra passes).
    from pyspark.sql import Observation, functions as F

    obs = Observation(f"sync:{stream.name}")
    shaped = shaped.observe(obs, F.count(F.lit(1)).alias("record_count"))
    # Correctness pin: the sink, the count and the new bookmark must read
    # one row set, or a bookmark can pass rows the sink never saw.
    shaped = shaped.cache()
    try:
        n = sink(shaped)

        rk_out = None
        if stream.replication_method == "INCREMENTAL":
            assert stream.replication_key is not None
            rk_out = stream.field_mappings.get(stream.replication_key, stream.replication_key)
            new_bm = max_bookmark(shaped.select(f"values.{rk_out}"), rk_out)
            if new_bm is not None and limit is not None and n >= limit:
                # The rk-ordered prefix was truncated at the limit, so rows
                # TIED with the boundary rk value may have been cut off.
                # Advancing to max(rk) would skip them forever (the next
                # run filters strictly-greater). Only advance to the
                # largest rk strictly below the boundary — every row at or
                # below it is provably sunk. If the whole batch shares one
                # rk value the bookmark cannot safely move at all (raise
                # the limit above the largest tie group).
                new_bm = max_bookmark(
                    shaped.select(f"values.{rk_out}").where(
                        F.col(rk_out) < F.lit(new_bm)
                    ),
                    rk_out,
                )
            if new_bm is not None:
                state.write_bookmark(stream.name, "replication_key_value", new_bm)
            state.write_bookmark(stream.name, "replication_key", stream.replication_key)
        state.currently_syncing = None
        bm = state.get_bookmark(stream.name, "replication_key_value")
        try:
            metrics = dict(obs.get)
        except Exception:  # noqa: BLE001 — sink may not have run an action
            metrics = None
        return SyncResult(
            stream=stream.name, record_count=n, bookmark=bm, version=version,
            metrics=metrics,
        )
    finally:
        shaped.unpersist()
