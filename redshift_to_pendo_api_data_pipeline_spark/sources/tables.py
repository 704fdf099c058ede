"""Parquet table loaders for the synthetic test corpus.

The reference's eager relation scan (``tap-redshift/src/connect.py:8-14``
``select_all``) fetched whole result sets into driver memory; here every
table is a lazy DataFrame whose projection/filters Catalyst pushes into the
parquet scan (column pruning + predicate pushdown + partition pruning come
free — see SURVEY.md §4).

Schemas come from one place: ``_pinned`` infers a table's schema with
Spark's own parquet inference (a footer-reading job) and pins it, with the
load-time fix-ups (nanos longs to timestamps, TIMESTAMP_NTZ to TIMESTAMP),
for as long as the table path's leaf-file listing (name, length,
modification time, read through ``staging.fs_list_files``) is unchanged.
Later loads read with the pinned schema and launch no job; the reference
likewise never re-discovered a stream's columns per SELECT.
``catalog.discover_parquet_catalog`` reads the same pinned schema, so
discovery followed by a sync infers each table once.
"""

from __future__ import annotations

from dataclasses import dataclass
from weakref import WeakKeyDictionary

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from redshift_to_pendo_api_data_pipeline_spark.staging import fs_list_files

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Guard for nanos-encoded sources: TIMESTAMP(NANOS) columns read as long
# under spark.sql.legacy.parquet.nanosAsLong. The fixtures store micros.
_NANOS_TS_COLS = {"events": ("ts",)}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make table reads work on ANY caller-provided session (the external
    driver builds its own): the nanos-parquet read path and the UTC
    session timezone are both runtime-settable SQL confs; without them
    events.parquet fails outright and NTZ->timestamp casts shift by the
    host timezone (breaking cross-engine value comparison)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _fixups(schema: T.StructType, name: str) -> tuple[Column, ...]:
    """The load-time projection over a file schema, or ``()`` when every
    column reads as it is stored."""
    nanos = _NANOS_TS_COLS.get(name, ())
    cols, fixed = [], False
    for f in schema.fields:
        q = "`" + f.name.replace("`", "``") + "`"
        if f.name in nanos and isinstance(f.dataType, T.LongType):
            # integer div: ns values (~1.7e18) overflow double mantissa
            cols.append(F.timestamp_micros(F.expr(f"{q} div 1000")).alias(f.name))
            fixed = True
        elif isinstance(f.dataType, T.TimestampNTZType):
            # Parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as
            # TIMESTAMP_NTZ; with the session pinned to UTC, casting to
            # TIMESTAMP is an identity relabel that keeps every downstream
            # function (unix_micros, windows, watermarks) applicable.
            cols.append(F.col(q).cast("timestamp").alias(f.name))
            fixed = True
        else:
            cols.append(F.col(q))
    return tuple(cols) if fixed else ()


@dataclass(frozen=True)
class _Pinned:
    listing: tuple[tuple[str, int, int], ...]  # (file, length, mtime)
    schema: T.StructType                       # as Spark infers it
    columns: tuple[Column, ...]                # the fix-up projection


# One entry per table path for each session. An entry stands while the
# path's leaf-file listing is unchanged: a rewritten, added or removed
# file changes the listing and the next load infers again. Keyed by
# session because inference reads session confs, and the fix-up columns
# belong to that session's JVM. Two threads missing at once both infer;
# either entry is valid.
_PINNED: "WeakKeyDictionary[SparkSession, dict[str, _Pinned]]" = WeakKeyDictionary()


def _pinned(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[str, _Pinned, DataFrame | None]:
    """The table's path, its pinned entry and, on a miss, the inferring
    reader that filled the entry (``None`` on a hit)."""
    _ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    # listed before inferring: a file that lands in between changes the
    # next listing, so the entry can never outlive the files it describes
    listing = tuple(fs_list_files(spark, path))
    entries = _PINNED.setdefault(spark, {})
    hit = entries.get(path)
    if hit is not None and hit.listing == listing:
        return path, hit, None
    inferred = spark.read.parquet(path)
    schema = inferred.schema
    entries[path] = _Pinned(listing, schema, _fixups(schema, name))
    return path, entries[path], inferred


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The table's file schema as Spark infers it from the parquet
    footers, inferred once per leaf-file listing."""
    return _pinned(spark, sf_dir, name)[1].schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one table. Equivalent of the reference's per-stream
    SELECT (``tap-redshift/src/sync.py:107,143-155``) minus the hand-built
    WHERE/LIMIT strings — callers compose those as DataFrame ops and
    Catalyst pushes them down. The scan reads with the pinned schema, so
    a table whose files have not changed since its last load launches no
    Spark job here; a miss returns the reader that inferred the schema."""
    path, p, df = _pinned(spark, sf_dir, name)
    if df is None:
        df = spark.read.schema(p.schema).parquet(path)
    return df.select(*p.columns) if p.columns else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
