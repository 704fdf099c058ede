"""Streaming near-dup bridge: dedupe a document stream against a staged
corpus.

The batch operator (``operators/dedup.minhash_neardup_incremental``)
already has the production ingest shape — asymmetric banding where the
corpus side never self-joins, signatures staged to the lake. This module
wires it into Structured Streaming via ``foreachBatch``: the corpus
signatures are staged ONCE (or reused from a previous ingest via
``SPARK_GRAFT_STAGE_REUSE``), and every micro-batch of new documents

1. computes its own MinHash signatures in-memory (a micro-batch is small;
   staging it would just add a write),
2. generates candidates against the STAGED corpus signatures
   (new x corpus on (band, bucket) — the corpus is scanned from parquet,
   never recomputed, never self-paired),
3. exact-verifies candidates with n-gram Jaccard over the pair texts,
4. hands (id_a=new, id_b=corpus, jaccard) to the caller's sink callback
   together with the batch id.

At 100 TB the corpus signature relation is the big artifact (staged once
per corpus version) and each micro-batch costs O(bands x batch) band rows
joined against the bucketed corpus — the same plan the batch operator
proves out, re-executed per trigger with exactly-once semantics from the
checkpoint.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
    candidates_between_signatures,
    minhash_signatures,
    ngram_jaccard,
    staged_minhash_signatures,
)
from redshift_to_pendo_api_data_pipeline_spark.staging import fs_list_files
from redshift_to_pendo_api_data_pipeline_spark.streaming.incremental import (
    run_incremental_sync,
)


def streaming_neardup_against_corpus(
    stream_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    stage_corpus: str,
    checkpoint: str,
    on_pairs: Callable[[DataFrame, int], None],
    threshold: float = 0.8,
    n: int = 3,
    k: int = 48,
    bands: int = 8,
):
    """Start a streaming query that near-dup-checks every micro-batch of
    ``stream_df`` (a streaming DataFrame of documents) against
    ``corpus_df``, whose signatures are staged at ``stage_corpus`` before
    the stream starts. ``on_pairs(pairs_df, batch_id)`` receives the
    verified (id_a, id_b, jaccard) pairs per batch. Returns the
    StreamingQuery."""
    spark = corpus_df.sparkSession
    # stage once, up front — every micro-batch probes this relation
    staged_minhash_signatures(corpus_df, text_col, id_col, stage_corpus, n=n, k=k)
    corpus_texts = corpus_df.select(
        F.col(id_col).alias("__cid"), F.col(text_col).alias("__ctext")
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sigs_new = minhash_signatures(batch_df, text_col, id_col, n=n, k=k)
        sigs_corpus = spark.read.parquet(stage_corpus)
        cands = candidates_between_signatures(
            sigs_new, sigs_corpus, k=k, bands=bands
        ).select(F.col("id_new").alias("id_a"), F.col("id_corpus").alias("id_b"))
        # verify needs both sides' texts: batch rows + corpus rows
        docs = batch_df.select(
            F.col(id_col).alias("__cid"), F.col(text_col).alias("__ctext")
        ).unionByName(corpus_texts).select(
            F.col("__cid").alias(id_col), F.col("__ctext").alias(text_col)
        )
        pairs = ngram_jaccard(cands, docs, text_col, id_col, n=n).where(
            F.col("jaccard") >= threshold
        )
        on_pairs(pairs, batch_id)

    return run_incremental_sync(stream_df, checkpoint, _process)


def streaming_corpus_line_dedup(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    ts_col: str,
    state_dir: str,
    checkpoint: str,
    on_batch: Callable[[DataFrame, int], None],
    line_sep: str = "\n",
    ttl_seconds: int | None = None,
):
    """Streaming twin of ``curation.corpus_line_dedup`` — C4's
    corpus-wide exact LINE dedup at INGEST time: within each
    micro-batch of (id, text, ts) documents, a non-blank line survives
    iff its digest has been seen neither in any prior batch (the
    digest STATE, TTL-bounded) nor at an earlier (doc id, position) in
    the same batch — the batch operator's earliest-occurrence rule
    applied in arrival order. Blank / whitespace-only lines are
    paragraph separators and pass through unconditionally (the batch
    exemption). ``on_batch(docs_df, batch_id)`` receives (id, rebuilt
    text, n_lines_kept) for every doc that keeps >= 1 line; it must
    consume eagerly (write/collect).

    State shape (the streaming_url_dedup watermark-TTL-keyed-state
    pattern, externalized because the rebuild needs a per-doc
    aggregation downstream of the dedup — two chained stateful
    operators in append mode would hold results until the watermark
    closes): a parquet relation of (digest, first_ts) line digests
    under ``state_dir``, one delta directory per micro-batch. Replay
    idempotency: the delta path is keyed by the deterministic epoch id
    and written mode=overwrite, so a foreachBatch replay after a crash
    rewrites the same delta instead of double-inserting digests — the
    ivf_index_append marker contract. ``ttl_seconds`` bounds state
    read-side: digests first seen more than the TTL before the batch's
    max event time no longer suppress (and a compaction can drop them
    from disk); None = corpus-lifetime dedup, the batch operator's
    semantics.

    Scale shape per batch: state holds 16-byte digests (never line
    text), probed with one digest-keyed left_anti join; the
    batch-internal winner pass is the SAME partial-combining
    min-struct agg the batch operator uses. At 100 TB/day the state
    relation is (unique lines per TTL window) x 24 bytes — the exact
    footprint dropDuplicatesWithinWatermark would hold in the state
    store, made scannable."""
    spark = stream_df.sparkSession

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        lines = batch_df.select(
            F.col(id_col).alias("__doc"),
            F.col(ts_col).alias("__ts"),
            F.posexplode(F.split(F.col(text_col), line_sep)).alias(
                "__pos", "__line"
            ),
        ).withColumn("__d", F.md5("__line"))
        blank = F.trim(F.col("__line")) == ""
        nonblank = lines.where(~blank)
        # batch-internal earliest occurrence per digest
        winners = nonblank.groupBy("__d").agg(
            F.min(F.struct("__doc", "__pos")).alias("__w"),
            F.min("__ts").alias("__first_ts"),
        )
        # a replayed batch must not be suppressed by (or wipe) its OWN
        # prior delta: read every delta EXCEPT batch=<this id>, so the
        # replay recomputes the identical fresh set and the overwrite
        # below rewrites the identical delta. Listed through the Hadoop
        # FS so the state is found on whatever scheme backs state_dir.
        deltas = {f.rsplit("/", 2)[1] for f, _, _ in fs_list_files(spark, state_dir)}
        paths = [
            f"{state_dir}/{b}"
            for b in sorted(deltas)
            if b.startswith("batch=") and b != f"batch={batch_id}"
        ]
        if paths:
            state = spark.read.parquet(*paths)
            if ttl_seconds is not None:
                cutoff = nonblank.agg(F.max("__ts")).collect()[0][0]
                if cutoff is not None:
                    state = state.where(
                        F.col("first_ts")
                        >= F.lit(cutoff) - F.expr(
                            f"INTERVAL {int(ttl_seconds)} SECONDS"
                        )
                    )
            fresh = winners.join(
                state.select(F.col("digest").alias("__d")).hint(
                    "shuffle_hash"
                ),
                "__d",
                "left_anti",
            )
        else:
            fresh = winners
        kept_nonblank = (
            nonblank.join(fresh.hint("shuffle_hash"), "__d")
            .where(
                (F.col("__doc") == F.col("__w.__doc"))
                & (F.col("__pos") == F.col("__w.__pos"))
            )
            .select("__doc", "__pos", "__line")
        )
        kept = kept_nonblank.unionByName(
            lines.where(blank).select("__doc", "__pos", "__line")
        )
        out = (
            kept.groupBy("__doc")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__pos", "__line"))
                        ),
                        lambda s: s["__line"],
                    ),
                    line_sep,
                ).alias(text_col),
                F.count(F.lit(1)).cast("long").alias("n_lines_kept"),
            )
            .withColumnRenamed("__doc", id_col)
        )
        # surface results BEFORE committing state so a crash between the
        # two replays the whole batch (state write is idempotent below)
        on_batch(out, batch_id)
        fresh.select(
            F.col("__d").alias("digest"), F.col("__first_ts").alias("first_ts")
        ).write.mode("overwrite").parquet(f"{state_dir}/batch={batch_id}")

    return run_incremental_sync(stream_df, checkpoint, _process)
