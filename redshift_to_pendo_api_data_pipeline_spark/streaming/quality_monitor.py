"""Streaming data-quality monitoring: run a declarative constraint suite
(operators/quality.Suite) against every micro-batch and stream the
per-batch violation report to a callback or a lake path.

The batch flavor (quality.run_suite) is one aggregation pass; here each
micro-batch pays that same single pass via foreachBatch — constraint
evaluation stays wholly declarative, the stream never buffers, and the
report relation is O(constraints) rows per trigger. This is the shape a
pipeline uses to trip circuit breakers on a live feed (null-rate spike,
out-of-range burst) without a second scan of the data.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, functions as F

from redshift_to_pendo_api_data_pipeline_spark.operators.quality import Suite, run_suite
from redshift_to_pendo_api_data_pipeline_spark.streaming.incremental import (
    run_incremental_sync,
)


def _report_stream(
    stream: DataFrame,
    report: Callable[[DataFrame], DataFrame],
    on_report: Optional[Callable[[DataFrame, int], None]],
    report_path: Optional[str],
    checkpoint_dir: Optional[str],
):
    """Start a default-trigger query that stamps ``report(batch)`` with
    its batch id and hands it to ``on_report`` and/or appends it to
    ``report_path`` parquet. The caller owns the query's lifecycle."""

    def _each(batch_df: DataFrame, batch_id: int) -> None:
        out = report(batch_df).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        if report_path is not None:
            out.write.mode("append").parquet(report_path)
        if on_report is not None:
            on_report(out, batch_id)

    writer = stream.writeStream.foreachBatch(_each)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def monitor_stream(
    stream: DataFrame,
    suite: Suite,
    on_report: Optional[Callable[[DataFrame, int], None]] = None,
    report_path: Optional[str] = None,
    checkpoint_dir: Optional[str] = None,
):
    """Attach the suite to a streaming DataFrame. Each micro-batch emits
    (batch_id, constraint, n_violations, n_checked) rows — to the
    ``on_report`` callback, and/or appended to ``report_path`` parquet.

    Returns the StreamingQuery (caller owns lifecycle)."""
    return _report_stream(
        stream, lambda df: run_suite(df, suite),
        on_report, report_path, checkpoint_dir,
    )


def score_stream(
    stream_df,
    weights_fp_path: str,
    text_col: str,
    id_col: str,
    checkpoint: str,
    on_scores,
    dim: int = 2**15,
):
    """Streaming half of the learned quality filter: every micro-batch
    of documents is scored against the STAGED fixed-point weight table
    (train once per corpus version with classifier.train_logreg, serve
    forever — the same stage-once/probe-many contract as the ANN
    indexes). Per trigger: hashed features for the batch only, one
    broadcast weights join, integer logits to ``on_scores(df, batch_id)``.
    The weight table reloads per batch from the lake path, so a weight
    RETRAIN published mid-stream (ACTIVATE_VERSION-style overwrite) is
    picked up at the next trigger without restarting the query."""
    from pyspark.sql import functions as F

    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        hashed_features,
        score_logreg_fp,
    )

    spark = stream_df.sparkSession

    def _process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        weights = spark.read.parquet(weights_fp_path)
        feats = hashed_features(batch_df, text_col, id_col, dim=dim)
        # every doc in the batch gets a logit (bias-only when it has no
        # in-vocab features) — a stream must never silently drop records
        scores = score_logreg_fp(
            feats, weights,
            docs=batch_df.select(F.col(id_col).alias("doc")),
        ).select(
            F.col("doc").alias(id_col), "logit_fp"
        )
        on_scores(scores, batch_id)

    return run_incremental_sync(stream_df, checkpoint, _process)


def privacy_monitor_stream(
    stream: DataFrame,
    quasi_cols: list[str],
    k: int,
    on_report: Optional[Callable[[DataFrame, int], None]] = None,
    report_path: Optional[str] = None,
    checkpoint_dir: Optional[str] = None,
):
    """Streaming k-anonymity gate: each micro-batch is audited with the
    batch ``privacy.k_anonymity_summary`` (one row per batch: classes,
    violators, rows at risk, min class size) BEFORE it would be shipped
    to an external API — the release check the batch audit performs,
    attached to the live pipe via foreachBatch. Per-batch semantics are
    deliberate: the gate protects each OUTBOUND batch; cross-batch
    anonymity of the accumulated sink is the batch audit's job on the
    landed table (run it on the versioned sink, not the stream).

    Returns the StreamingQuery (caller owns lifecycle)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.privacy import (
        k_anonymity_summary,
    )

    return _report_stream(
        stream, lambda df: k_anonymity_summary(df, quasi_cols, k),
        on_report, report_path, checkpoint_dir,
    )
