"""Parquet table loaders for the synthetic test corpus.

The reference's eager relation scan (``tap-redshift/src/connect.py:8-14``
``select_all``) fetched whole result sets into driver memory; here every
table is a lazy DataFrame whose projection/filters Catalyst pushes into the
parquet scan (column pruning + predicate pushdown + partition pruning come
free — see SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one table. Equivalent of the reference's per-stream
    SELECT (``tap-redshift/src/sync.py:107,143-155``) minus the hand-built
    WHERE/LIMIT strings — callers compose those as DataFrame ops and
    Catalyst pushes them down."""
    _ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    for c in _NANOS_TS_COLS.get(name, ()):
        if isinstance(df.schema[c].dataType, T.LongType):
            # integer div: ns values (~1.7e18) overflow double mantissa
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ;
    # with the session pinned to UTC, casting to TIMESTAMP is an identity
    # relabel that keeps every downstream function (unix_micros, windows,
    # watermarks) applicable.
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
