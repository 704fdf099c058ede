"""File-format sources beyond parquet: CSV and JSON-lines with the same
quarantine discipline as the Singer stdin source (functions/singer.py) —
malformed rows never kill a 100 TB job and never silently vanish; they
route to a quarantine relation the pipeline can count, sample and replay.

Scale notes: both readers take an EXPLICIT schema (inference is a full
extra pass over the data — never acceptable at scale) and keep Spark's
PERMISSIVE mode with a ``_corrupt_record`` capture column, so one scan
yields both the clean and the quarantined rows. Column pruning and
(CSV) predicate pushdown behave as for any FileScan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from redshift_to_pendo_api_data_pipeline_spark.streaming.incremental import (
    run_incremental_sync,
)

CORRUPT_COL = "_corrupt_record"


class ParsedSource:
    """(valid, quarantine) pair that still owns its persisted parse.

    Unpacks as a 2-tuple for existing callers; long-lived sessions that
    read many batch files should call :meth:`unpersist` once both
    relations have been consumed, or cached parse blocks accumulate in
    executor storage across reads."""

    def __init__(self, raw: DataFrame, valid: DataFrame, quarantine: DataFrame):
        self._raw = raw
        self.valid = valid
        self.quarantine = quarantine

    def __iter__(self):
        return iter((self.valid, self.quarantine))

    def unpersist(self, blocking: bool = False) -> None:
        """Release the cached parsed scan backing both relations."""
        self._raw.unpersist(blocking)


def _split(raw: DataFrame) -> ParsedSource:
    """One parse, two relations. Spark disallows queries whose required
    schema is ONLY the corrupt column (SPARK-21610 / the
    QUERY_ONLY_CORRUPT_RECORD_COLUMN rule), so the parsed scan is
    materialized once (MEMORY_AND_DISK — on a cluster this is exactly
    the "persist the parse, then split" pattern the Spark docs
    prescribe; for 100 TB jobs substitute a staging parquet write, which
    is the same single pass with durable output)."""
    raw = raw.persist()
    valid = raw.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = raw.where(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw")
    )
    return ParsedSource(raw, valid, quarantine)


def _with_corrupt(schema: T.StructType) -> T.StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(list(schema.fields) + [
        T.StructField(CORRUPT_COL, T.StringType(), True)
    ])


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> ParsedSource:
    """(valid, quarantine) from JSON-lines files. A row is quarantined
    when it fails to parse or type-check (PERMISSIVE capture)."""
    raw = spark.read.schema(_with_corrupt(schema)).option(
        "mode", "PERMISSIVE"
    ).option("columnNameOfCorruptRecord", CORRUPT_COL).json(path)
    return _split(raw)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
) -> ParsedSource:
    """(valid, quarantine) from CSV files, explicit schema, PERMISSIVE
    corrupt-capture. Numeric/timestamp parse failures quarantine the
    whole raw line rather than nulling fields silently."""
    raw = (
        spark.read.schema(_with_corrupt(schema))
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )
    return _split(raw)


def stream_jsonl_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    on_batch,
    checkpoint_dir: str,
):
    """Streaming twin of read_jsonl: a JSON-lines directory consumed as
    a stream, each micro-batch split into (valid, quarantine) with the
    same PERMISSIVE corrupt-capture, routed through ``on_batch(valid,
    quarantine, batch_id)``. The split happens inside foreachBatch —
    batch DataFrames, so the corrupt-column restriction never applies
    and the parse is evaluated once per trigger. The query runs through
    ``incremental.run_incremental_sync`` (availableNow: drain what is
    pending, then stop); returns the StreamingQuery."""
    raw = (
        spark.readStream.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )

    def _each(batch_df, batch_id: int) -> None:
        valid, quarantine = _split(batch_df)
        try:
            on_batch(valid, quarantine, batch_id)
        finally:
            batch_df.unpersist()

    return run_incremental_sync(raw, checkpoint_dir, _each)
