"""Continuous aggregate (incremental aggregation maintenance).

The 'hypertable rollup' pattern: a per-key aggregate table that each
micro-batch UPDATES instead of recomputing — maintained with partial
aggregates, published atomically through the versioned parquet sink's
ACTIVATE_VERSION swap (sink/parquet_sink.py), so readers always see a
complete consistent rollup and never a half-merged one.

Maintainable aggregates are the decomposable ones (count, sum, min, max —
and avg as sum/count at read time). Per micro-batch:

    new_version = re-aggregate( current_rollup  UNION  partial(batch) )

The shuffle is keyed on the rollup key and carries one row per key per
side — batch volume never accumulates (state lives in the table, the
stream just flows through). At 100 TB the union re-agg touches only
|keys| + |batch keys| rows; with a partitioned/bucketed rollup table the
merge co-locates without a full shuffle. Exactly-once comes from the
streaming checkpoint (a replayed batch overwrites the same version id,
and activation is atomic).

``commit_rollup`` is that commit protocol, checkpoint-ownership guard
included. The streaming HLL and KMV rollups (``streaming/sketches``)
commit through it with their own partial and merge.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from redshift_to_pendo_api_data_pipeline_spark.sink import parquet_sink as PS
from redshift_to_pendo_api_data_pipeline_spark.staging import (
    fs_delete,
    fs_exists,
    fs_read_text,
    fs_touch,
)
from redshift_to_pendo_api_data_pipeline_spark.streaming.incremental import (
    run_incremental_sync,
)

# Marker persisted next to _ACTIVE_VERSION: the identity (query id) of the
# checkpoint that owns this rollup. Exactly-once replay relies on version
# id == micro-batch id, and batch ids only mean anything within ONE
# checkpoint lineage — a fresh checkpoint restarts at 0, so every batch
# would satisfy 'active >= v' and be silently discarded. The marker turns
# that silent data loss into a fail-fast error.
_CHECKPOINT_MARKER = "_CHECKPOINT_ID"


def _checkpoint_query_id(spark: SparkSession, checkpoint_dir: str) -> str | None:
    """The uuid Structured Streaming writes to <checkpoint>/metadata on
    first start — stable across restarts of the same checkpoint, fresh
    when the checkpoint is recreated. Read through the Hadoop FS, so a
    checkpoint on any scheme is identified."""
    meta = f"{checkpoint_dir}/metadata"
    if not fs_exists(spark, meta):
        return None
    try:
        return json.loads(fs_read_text(spark, meta)).get("id")
    except ValueError:
        return None


def _partial(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(value).alias("sum_value"),
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
    )


def commit_rollup(
    batch_df: DataFrame,
    batch_id: int,
    rollup_path: str,
    checkpoint_dir: str,
    partial: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> None:
    """Fold one micro-batch into the versioned rollup at ``rollup_path``:
    ``partial(batch)`` is merged with the active version by
    ``merge(active, partial)`` and published as version ``batch_id``.

    Version id == batch id, and activation is the commit point: a
    checkpoint-replayed batch either finds its version already active
    (fully applied -> no-op) or rebuilds that version from the previous
    active one (partial writes are cleared first). The rollup and the
    checkpoint share a lifecycle, enforced by the _CHECKPOINT_ID marker:
    a fresh checkpoint restarting batch ids at 0 against an existing
    rollup would otherwise make 'active >= v' swallow every new batch.
    An empty batch is skipped and publishes no version."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    v = int(batch_id)
    active = PS.active_version(rollup_path)

    marker = f"{rollup_path}/{_CHECKPOINT_MARKER}"
    cid = _checkpoint_query_id(spark, checkpoint_dir)
    if fs_exists(spark, marker):
        owner = fs_read_text(spark, marker).strip()
        if cid is not None and owner != cid:
            raise RuntimeError(
                f"rollup at {rollup_path} is owned by checkpoint query "
                f"{owner}; refusing batches from query {cid} — a fresh "
                "or different checkpoint restarts batch ids at 0 and "
                "its data would be silently discarded. Use the "
                "original checkpoint, or start a new rollup path."
            )
    elif cid is not None:
        if active is not None:
            raise RuntimeError(
                f"rollup at {rollup_path} has active version {active} "
                "but no checkpoint-owner marker; refusing to adopt it "
                "— batch ids from this checkpoint cannot be compared "
                "to its versions. Start a new rollup path."
            )
        fs_touch(spark, marker, cid)

    if active is not None and active >= v:
        if active > v:
            # same checkpoint lineage never regresses by more than the
            # one uncommitted batch a restart replays
            raise RuntimeError(
                f"batch id {v} behind active version {active} at "
                f"{rollup_path} — checkpoint/rollup lifecycle mismatch"
            )
        return
    merged = partial(batch_df)
    if active is not None:
        merged = merge(PS.read_active(spark, rollup_path), merged)
    fs_delete(spark, f"{rollup_path}/version={v}")
    PS.write_versioned(merged, rollup_path, v, mode="append")
    PS.activate(rollup_path, v)


def run_continuous_agg(
    events: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    keys: list[str],
    value: str,
):
    """Start and drain the maintenance stream. Returns the
    StreamingQuery. Read the rollup with
    `parquet_sink.read_active(spark, rollup_path)`."""

    def merge(cur: DataFrame, part: DataFrame) -> DataFrame:
        return cur.unionByName(part).groupBy(*keys).agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )

    return run_incremental_sync(
        events, checkpoint_dir,
        lambda batch_df, batch_id: commit_rollup(
            batch_df, batch_id, rollup_path, checkpoint_dir,
            lambda df: _partial(df, keys, value), merge,
        ),
    )


def refresh_rollup_from_diff(
    spark: SparkSession,
    table_path: str,
    rollup: DataFrame,
    keys: list[str],
    value: str,
    pk: str,
    v_old: int,
    v_new: int,
) -> DataFrame:
    """Incremental materialized-view refresh from a snapshot delta
    (round 7): move a rollup from v_old's state to v_new's by
    re-aggregating ONLY the groups the CDC delta touched — the
    differential-maintenance move that makes a 100 TB rollup refresh
    cost O(changed groups), not O(table).

    Correct for EVERY aggregate (min/max included, which pure
    retraction arithmetic cannot handle): affected groups = the old
    image's groups (DELETE/UPDATE retract from there) UNION the new
    image's groups (INSERT/UPDATE land there — an UPDATE may MOVE a row
    between groups, hence both sides); untouched groups keep their
    rollup rows verbatim, affected groups re-aggregate from the new
    snapshot pruned to those groups (predicate-pushable semi-join scan).

    Returns the refreshed rollup, pinned equal to a full re-aggregation
    of v_new by test + oracle."""
    from redshift_to_pendo_api_data_pipeline_spark.sink.parquet_sink import (
        version_diff,
    )

    delta = version_diff(spark, table_path, pk, v_old, v_new, include_old=True)
    affected = (
        delta.where(F.col("op").isin("INSERT", "UPDATE"))
        .select(*[F.col(k).alias(k) for k in keys])
        .unionByName(
            delta.where(F.col("op").isin("DELETE", "UPDATE"))
            .select(*[F.col(f"old_{k}").alias(k) for k in keys]))
        .distinct()
    )
    new_rows = (
        spark.read.parquet(table_path)
        .where(F.col("version") == v_new)
        .drop("version")
    )
    recomputed = _partial(
        new_rows.join(affected.hint("shuffle_hash"), keys, "left_semi"),
        keys, value,
    )
    kept = rollup.join(affected.hint("shuffle_hash"), keys, "left_anti")
    return kept.unionByName(recomputed)


def append_join_view(
    old_view: DataFrame,
    delta_fact: DataFrame,
    dim: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Incremental JOIN-view maintenance, append-only case: the
    refreshed view is the STAGED previous materialization unioned with
    only the delta's join — dV = ΔF ⋈ D; old fact rows are never
    re-joined or re-shuffled (the entire point at 100 TB, where the
    view body dwarfs any day's delta). Dimension updates or fact
    deletes need the diff-based path (`refresh_rollup_from_diff` /
    CDC merge) — this operator is the fast path for the dominant
    append workload, and composes with them.

    The delta join inherits whatever strategy fits (broadcast for
    enum dims via AQE); the union is metadata-only. The joined delta
    projects down to the view's schema, so join keys the view doesn't
    materialize don't break the union."""
    return old_view.unionByName(
        delta_fact.join(dim, keys).select(*old_view.columns)
    )
