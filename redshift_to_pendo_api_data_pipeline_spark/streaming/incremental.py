"""Streaming flavor of the sync pipeline.

The reference is micro-batch incremental: re-run the tap, scan
``rk > bookmark``, pipe to the target, persist new bookmark
(SURVEY.md §2.8). Structured Streaming owns every one of those concerns
natively:

- bookmark/state      -> checkpointLocation (offset tracking per file)
- incremental scan    -> file-source readStream (only new files per batch)
- late data           -> withWatermark grace period (the reference has
                         none and knowingly misses late mutations,
                         changelog.md:44)
- periodic STATE      -> per-micro-batch checkpoint commit
- the HTTP sink       -> foreachBatch reusing the exact same batch writer

``run_incremental_sync`` is the package's one foreachBatch driver. It
always runs availableNow (process everything pending, then stop) — the
direct analogue of one tap invocation — and every streaming bridge starts
its query through it. Only the two monitors in ``quality_monitor``, whose
lifecycle the caller owns, keep the default continuous trigger.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from redshift_to_pendo_api_data_pipeline_spark.functions.transforms import remap_fields, reshape_payload
from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import normalize_text
from redshift_to_pendo_api_data_pipeline_spark.operators.url import url_normalize
from redshift_to_pendo_api_data_pipeline_spark.schema import StreamSpec


def read_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def shape_stream(
    sdf: DataFrame,
    stream: StreamSpec,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Same record shaping as the batch plan (remap + {pk, values}),
    plus a watermark on the replication key so stateful downstream ops
    (windowed aggs, dedup) can bound their state."""
    out = sdf
    if stream.replication_key:
        out = out.withWatermark(stream.replication_key, watermark_delay)
    out = remap_fields(out, stream.field_mappings)
    pk_out = stream.field_mappings.get(stream.primary_key, stream.primary_key)
    return reshape_payload(out, pk_out)


def windowed_event_counts(
    sdf: DataFrame, ts_col: str, window: str = "5 minutes",
    watermark_delay: str = "10 minutes", group_col: str | None = None,
) -> DataFrame:
    """Stateful windowed aggregation with late-data tolerance — the
    streaming upgrade of the reference's per-stream counters (A2/A5).
    Watermark bounds state: windows older than (max event time - delay)
    finalize and evict."""
    keys = [F.window(F.col(ts_col), window)]
    if group_col:
        keys.append(F.col(group_col))
    return sdf.withWatermark(ts_col, watermark_delay).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    )


def size_watermark_delay(
    lateness_hist: DataFrame, admit_ppm: int = 990_000
) -> str:
    """Close the sizing loop from measurement to configuration (r8,
    r7 verdict #8): `operators/temporal.lateness_histogram` exists
    precisely to size `withWatermark` delays — this helper reads the
    histogram and returns the SMALLEST delay string that admits at
    least ``admit_ppm`` of the observed event mass (default 99%).

    A `withWatermark(delay)` drops exactly the records whose lateness
    exceeds delay, so: walk buckets in lateness order accumulating
    mass until the admit target is met, and return the max OBSERVED
    lateness among admitted buckets (exact, from the histogram's
    per-bucket max), ceiled to whole seconds. Using the observed max
    rather than the bucket edge means the planted stragglers that
    motivated the bucket are admitted, not grazed.

    The histogram is <= max_buckets+1 rows by construction — the
    collect is bounded (repo sidecar convention).
    """
    rows = sorted(lateness_hist.collect(), key=lambda r: r["bucket"])
    total = sum(r["n_events"] for r in rows)
    if total == 0:
        return "0 seconds"
    need = -(-total * int(admit_ppm) // 1_000_000)   # ceil
    cum = 0
    delay_us = 0
    for r in rows:
        cum += r["n_events"]
        delay_us = max(delay_us, r["max_lateness_us"])
        if cum >= need:
            break
    return f"{-(-delay_us // 1_000_000)} seconds"


def run_incremental_sync(
    sdf_shaped: DataFrame,
    checkpoint_dir: str,
    batch_writer: Callable[[DataFrame, int], None],
):
    """foreachBatch sink: every micro-batch goes through the same writer
    as the batch path (sink/http_sink.sink_dataframe inside the callable);
    the checkpoint commits only after the writer returns — the streaming
    equivalent of 'state echoes after the target succeeds'
    (README.md:191-192). Drains everything pending, then stops; returns
    the StreamingQuery."""
    return (
        sdf_shaped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(batch_writer)
        .trigger(availableNow=True)
        .start()
    )


def streaming_exact_dedup(
    sdf: DataFrame,
    text_col: str,
    ts_col: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with TTL-bounded state: first occurrence of
    each normalized-content digest passes, replays within the watermark
    horizon are dropped, and state self-evicts past the horizon —
    Spark's native ``dropDuplicatesWithinWatermark``, so the state
    store, eviction, and exactly-once replay semantics are all engine
    code rather than a hand-rolled applyInPandasWithState loop (the
    batch twin is ``dedup.exact_dedup``; the streaming near-dup twin is
    ``dedup_bridge.streaming_neardup_against_corpus``).

    The dedup key is the md5 digest of the normalized text (the repo
    dedup convention): state holds 16-byte digests, never documents, so
    the per-key footprint is constant no matter the doc size, and the
    watermark bounds HOW MANY keys live at once — at 100 TB/day the
    state is (unique docs per TTL window) x 16 bytes per partition,
    the same bound the batch digest-groupBy enjoys per shuffle
    partition.

    Why WithinWatermark (Spark 3.5+) and not plain
    ``dropDuplicates``: the plain form keeps every key forever (state
    grows unboundedly on an infinite stream) unless the watermark
    column itself is part of the key, which then treats the same doc
    at two timestamps as distinct. WithinWatermark keys on the digest
    alone and uses the event-time watermark purely for eviction —
    exactly the "duplicates arrive within a bounded delay" contract
    ingestion pipelines actually have."""
    return _dedup_on_digest(
        sdf, F.md5(normalize_text(F.col(text_col))), ts_col, watermark_delay
    )


def streaming_url_dedup(
    sdf: DataFrame,
    url_col: str,
    ts_col: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming URL-keyed dedup — the INGEST-TIME twin of
    ``url.url_dedup_keep_best`` and the first gate a crawl stream
    passes (two fetches of one page dedup on the URL before any
    document byte is inspected): first occurrence of each NORMALIZED
    URL passes, re-fetches within the watermark horizon drop, state
    self-evicts past it (``dropDuplicatesWithinWatermark``, the
    ``streaming_exact_dedup`` machinery with the URL digest as the
    key).

    Rows whose URL fails to parse (normalize -> NULL) key on their own
    raw URL string prefixed distinctly — a malformed URL never merges
    with another malformed URL of different text, and is never
    silently dropped. State holds 16-byte digests; the watermark
    bounds live keys exactly as in the content-dedup twin.

    Streaming-vs-batch semantic difference, stated: the batch
    keep-best picks the HIGHEST-SCORE duplicate; a stream must decide
    on arrival, so this keeps the FIRST — the standard ingest
    trade-off (re-rank later in batch if scores matter)."""
    digest = F.md5(
        F.coalesce(
            url_normalize(F.col(url_col)),
            F.concat(F.lit("__unparseable__"), F.col(url_col)),
        )
    )
    return _dedup_on_digest(sdf, digest, ts_col, watermark_delay)


def _dedup_on_digest(
    sdf: DataFrame, digest: Column, ts_col: str, watermark_delay: str
) -> DataFrame:
    """First row per ``digest`` within the watermark horizon passes; the
    digest column is dropped again."""
    return (
        sdf.withColumn("__digest", digest)
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["__digest"])
        .drop("__digest")
    )
