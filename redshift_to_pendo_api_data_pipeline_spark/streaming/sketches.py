"""Streaming sketch maintenance: HLL registers as a continuously
maintained rollup.

The register table is the IDEAL streaming aggregate: max-merge is
commutative, associative, and IDEMPOTENT, so unlike the sum-based rollup
in ``continuous_agg``, a replayed or duplicated micro-batch converges to
the same registers by algebra alone. Both sketch rollups still commit
through ``continuous_agg.commit_rollup`` — version id = batch id, atomic
ACTIVATE_VERSION publish, and the checkpoint-ownership guard. Idempotence
protects against a replay, not against a batch that is never applied: a
fresh checkpoint restarts batch ids at 0, and without the guard its
batches would be dropped as already applied; with it the query fails.

Per micro-batch:

    new_registers = max_merge( active_registers, registers(batch) )

The batch's keys fold to at most |groups| x m register rows map-side
(`analytics.hyperloglog_registers`), the merge union-aggregates two
m-bounded tables, and the stream never accumulates state beyond the
register table — the 100 TB distinct-counter that costs O(groups·m)
per trigger regardless of traffic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from redshift_to_pendo_api_data_pipeline_spark.streaming.continuous_agg import (
    commit_rollup,
)
from redshift_to_pendo_api_data_pipeline_spark.streaming.incremental import (
    run_incremental_sync,
)


def kmv_sketch_stream(
    stream_df: DataFrame,
    key_col: str,
    group_col: str,
    rollup_path: str,
    checkpoint: str,
    k: int = 128,
):
    """Maintain per-group KMV sketches from a stream — the mergeable
    twin of `hll_register_stream` for when downstream needs set ALGEBRA
    (union/intersection estimates via `analytics.kmv_pair_overlap`),
    not just cardinality. Merge = k smallest of (current ∪ batch) per
    group: min-k-merge is idempotent and commutative like the register
    max, so replays converge by algebra; the commit (and its refusal of
    a fresh checkpoint) is `continuous_agg.commit_rollup`. Per trigger
    the batch collapses to ≤ |groups|·k sketch rows before touching the
    rollup. Returns the StreamingQuery."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        kmv_sketches,
    )

    def merge(cur: DataFrame, part: DataFrame) -> DataFrame:
        rn = F.row_number().over(Window.partitionBy(group_col).orderBy("w"))
        return (
            cur.unionByName(part)
            .distinct()
            .withColumn("__rn", rn)
            .where(F.col("__rn") <= k)
            .select(group_col, "w")
        )

    return run_incremental_sync(
        stream_df, checkpoint,
        lambda batch_df, batch_id: commit_rollup(
            batch_df, batch_id, rollup_path, checkpoint,
            lambda df: kmv_sketches(df, key_col, group_col, k=k), merge,
        ),
    )


def hll_register_stream(
    stream_df: DataFrame,
    key_col: str,
    group_cols: list[str],
    rollup_path: str,
    checkpoint: str,
    m: int = 256,
):
    """Maintain a grouped HLL register rollup from a stream, committed
    through `continuous_agg.commit_rollup`. Read the current registers
    with ``parquet_sink.read_active``; estimate with
    ``analytics.hll_estimate`` per group. Returns the StreamingQuery."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        hyperloglog_registers,
    )

    keys = list(group_cols) + ["bucket"]

    def merge(cur: DataFrame, part: DataFrame) -> DataFrame:
        return (
            cur.unionByName(part)
            .groupBy(*keys)
            .agg(F.max("register").alias("register"))
        )

    return run_incremental_sync(
        stream_df, checkpoint,
        lambda batch_df, batch_id: commit_rollup(
            batch_df, batch_id, rollup_path, checkpoint,
            lambda df: hyperloglog_registers(df, key_col, group_cols, m=m),
            merge,
        ),
    )
