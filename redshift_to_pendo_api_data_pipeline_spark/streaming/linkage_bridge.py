"""Streaming record-linkage bridge: fuzzy-match each micro-batch of
entity rows against the standing corpus dictionary.

The batch operator (``operators/dedup.incremental_editdist_pairs``)
already has the ingest shape — asymmetric new×corpus blocked edit
distance where the corpus never self-joins. This module wires it into
Structured Streaming via ``foreachBatch`` (the ``dedup_bridge``
pattern): the corpus name DICTIONARY is staged once before the stream
starts (distinct values + occurrence counts — dictionary-sized, not
row-sized), and every micro-batch

1. collapses its own rows to a batch dictionary in-memory (a
   micro-batch is small; staging it would just add a write),
2. block-joins against the STAGED corpus dictionary (last-token blocks,
   length prefilter, JVM levenshtein verify),
3. hands (name_new, name_corpus, dist, n_new, n_corpus) to the caller's
   sink callback with the batch id.

At 100 TB the corpus dictionary is the durable artifact (re-staged per
corpus version); each trigger costs |batch-dict| · block-width
levenshtein evaluations — the same plan the batch operator proves out,
re-executed per trigger with exactly-once semantics from the
checkpoint. This is the live-sync ER gate: "does this incoming entity
fuzzy-match something we already have" answered before the row lands.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
    incremental_editdist_pairs,
)
from redshift_to_pendo_api_data_pipeline_spark.staging import stage


def stage_name_dictionary(
    corpus_df: DataFrame, col: str, path: str
) -> DataFrame:
    """Collapse the corpus to its distinct-name dictionary (name,
    n_corpus) and stage it. The bridge probes this relation every
    trigger; re-stage on corpus version changes (same contract as the
    MinHash signature staging)."""
    return stage(
        corpus_df.sparkSession, path,
        lambda: corpus_df.groupBy(F.col(col).alias("name")).agg(
            F.count(F.lit(1)).cast("long").alias("__n")
        ),
    )


def streaming_linkage_against_corpus(
    stream_df: DataFrame,
    corpus_df: DataFrame,
    col: str,
    stage_dict: str,
    checkpoint: str,
    on_pairs: Callable[[DataFrame, int], None],
    max_dist: int = 2,
    trigger_available_now: bool = True,
):
    """Start a streaming query that fuzzy-links every micro-batch of
    ``stream_df`` (a streaming DataFrame with entity-name column
    ``col``) against ``corpus_df``'s staged name dictionary.
    ``on_pairs(pairs_df, batch_id)`` receives the verified
    (name_new, name_corpus, dist, n_new, n_corpus) relation per batch.
    Returns the StreamingQuery."""
    spark = corpus_df.sparkSession
    stage_name_dictionary(corpus_df, col, stage_dict)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        corpus_dic = spark.read.parquet(stage_dict).select(
            F.col("name").alias(col)
        )
        # incremental_editdist_pairs re-collapses both sides; the
        # corpus side is already a dictionary so its groupBy is a
        # no-op-sized pass over the staged parquet — but n_corpus must
        # reflect ROW counts, so rehydrate from the staged (name, n)
        pairs = incremental_editdist_pairs(
            batch_df, corpus_dic, col, max_dist=max_dist
        ).drop("n_corpus")
        counts = spark.read.parquet(stage_dict).select(
            F.col("name").alias("name_corpus"),
            F.col("__n").alias("n_corpus"),
        )
        on_pairs(pairs.join(counts, "name_corpus"), batch_id)

    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_process)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
