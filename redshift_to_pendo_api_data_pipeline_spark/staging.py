"""Lake staging for signature/candidate/index relations.

Dedup and ANN pipelines follow the stage-once / probe-many shape: a
signature (MinHash, SimHash), candidate-id set, or IVF index is
materialized to parquet once per corpus version, and every downstream
probe — banding joins, verifies, clustering rounds, ANN re-ranks — scans
the staged copy instead of recomputing. At 100 TB the staged relation is
the product of the expensive pass; rerunning it per query would dominate
every job.

This module is the whole protocol: ``reusable`` decides when a staged
copy may stand in for a rebuild, ``stage`` builds, writes and reads one
relation back, and ``stage_parquet`` is the bare write for artifacts that
are read elsewhere. A copy is complete when its ``_SUCCESS`` marker
exists; no other module spells the marker or reads the knobs.

Two environment knobs, both read at call time:

- ``SPARK_GRAFT_STAGE_ROOT`` — the staging root directory (default
  ``DEFAULT_ROOT``). The bench points it at a run-unique directory so
  cold-stage cost is measured against a cold filesystem and concurrent
  runs never clobber each other.
- ``SPARK_GRAFT_STAGE_REUSE=1`` — a complete staged copy stands in for
  the rebuild (default off). The correctness gate always re-stages with
  the code under test; a bench probe pass or a stage-once/probe-many
  serving job reuses the artifact, which is the point of staging.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame

DEFAULT_ROOT = "/tmp/spark_graft_stage"


def stage_root() -> str:
    return os.environ.get("SPARK_GRAFT_STAGE_ROOT", DEFAULT_ROOT)


def stage_dir(sf_dir: str) -> str:
    """Staging area keyed by the scale-factor directory basename, so
    concurrent runs at different SFs never clobber each other."""
    return f"{stage_root()}/{os.path.basename(os.path.normpath(sf_dir))}"


def _hadoop_fs(spark, path: str):
    """Resolve ``path`` through Spark's Hadoop FileSystem so existence
    checks and marker writes work on any configured scheme (file://,
    hdfs://, s3a://) — driver-local ``os.path`` silently breaks the
    moment the staging root points at a lake."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def fs_exists(spark, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def fs_touch(spark, path: str, content: str = "committed\n") -> None:
    """Create-or-overwrite a small marker file through the Hadoop FS —
    the lake-safe replacement for ``open(path, "w")``."""
    fs, hpath = _hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def fs_read_text(spark, path: str) -> str:
    """Read a small marker/pointer file through the Hadoop FS."""
    fs, hpath = _hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def fs_delete(spark, path: str) -> bool:
    """Recursive delete through the Hadoop FS; True if anything was
    removed."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return False
    return bool(fs.delete(hpath, True))


def reusable(spark, *paths: str) -> bool:
    """True when ``SPARK_GRAFT_STAGE_REUSE=1`` and every path holds a
    complete staged copy. Sites that train once and stage several
    artifacts guard the training with one call over all of them."""
    return os.environ.get("SPARK_GRAFT_STAGE_REUSE") == "1" and all(
        fs_exists(spark, f"{p}/_SUCCESS") for p in paths
    )


def complete_stages(root: str) -> int:
    """Number of complete staged copies under a driver-local ``root`` —
    the bench's test for whether a query run wrote a stage."""
    return sum("_SUCCESS" in files for _, _, files in os.walk(root))


def stage_parquet(df: DataFrame, path: str, partition_by: str | None = None) -> bool:
    """Write ``df`` to ``path`` as the staged artifact. Returns True if a
    write happened, False when a reusable copy is already present."""
    if reusable(df.sparkSession, path):
        return False
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)
    return True


def stage(
    spark, path: str, build: Callable[[], DataFrame],
    partition_by: str | None = None,
) -> DataFrame:
    """Stage the relation ``build()`` returns at ``path`` and return the
    staged copy. A reusable copy skips ``build`` entirely and is read
    with schema inference, since it may predate this code. A fresh write
    is read back with the written frame's schema, so no footer-inference
    job runs."""
    if reusable(spark, path):
        return spark.read.parquet(path)
    df = build()
    stage_parquet(df, path, partition_by)
    return spark.read.schema(df.schema).parquet(path)
