"""Data-lake sink: versioned parquet tables with ACTIVATE_VERSION swap
semantics.

The reference's ACTIVATE_VERSION message tells the target "delete
everything not of this version" (tap messages.py:152-173; target
__init__.py:445-466) — a full-refresh swap. On a lake that is exactly an
atomic overwrite keyed by version:

- FULL_TABLE sync  -> write under version=V, then activate V (readers see
  old data until the swap, then only V) — `write_versioned` + `activate`.
- INCREMENTAL sync -> append under the *current* version.

Reads go through `read_active`, which prunes to the active version via a
partition filter (partition pruning makes the swap free for readers).
A retention sweep (`vacuum`) drops deactivated versions.

At 100 TB you'd use an ACID table format (Delta/Iceberg) for the same
contract; this keeps the engine dependency-free while preserving the
semantics + pruning behavior.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from redshift_to_pendo_api_data_pipeline_spark.staging import (
    _hadoop_fs,
    fs_exists,
    fs_read_text,
    fs_touch,
)

_ACTIVE_FILE = "_ACTIVE_VERSION"


def write_versioned(df: DataFrame, path: str, version: int, mode: str = "overwrite") -> None:
    """Write one version partition. Data lands under version=V without
    touching other versions (dynamic single-partition write)."""
    df.withColumn("version", F.lit(version)).write.mode(mode) \
        .partitionBy("version").parquet(path)


def append_to_version(df: DataFrame, path: str, version: int) -> None:
    """INCREMENTAL flavor: append rows into the current version."""
    df.withColumn("version", F.lit(version)).write.mode("append") \
        .partitionBy("version").parquet(path)


def _fs(path: str):
    """Hadoop FileSystem for ``path`` via the active session — the
    pointer file must live on whatever scheme backs the table (file://,
    hdfs://, s3a://); driver-local pathlib would silently scope the
    ACTIVATE_VERSION contract to the driver's own disk. Falls back to
    None (pathlib path) only when no session exists (plain-Python
    tooling against a local table)."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return None, None
    return _hadoop_fs(spark, path)


def activate(path: str, version: int) -> None:
    """The ACTIVATE_VERSION swap: atomic pointer flip. Hadoop FS
    ``create(overwrite=True)`` is create-then-write-then-close — the
    pointer is VISIBLE at length 0 before close on local and HDFS
    schemes, so a concurrent reader could see an empty file. Instead the
    body lands under a temp name and ``fs.rename()`` flips it over
    _ACTIVE (rename is atomic on HDFS and POSIX local; on object stores
    the plain create was already a single PUT, and rename degrades to
    copy+delete — `active_version` additionally tolerates partial reads
    as the belt-and-braces for that case). The no-session fallback keeps
    the POSIX tmp+replace."""
    fs, _ = _fs(path)
    body = json.dumps({"version": version})
    if fs is not None:
        spark = SparkSession.getActiveSession()
        jvm = spark._jvm
        tmp_name = f"{path}/{_ACTIVE_FILE}.tmp.{version}"
        fs_touch(spark, tmp_name, body)
        src = jvm.org.apache.hadoop.fs.Path(tmp_name)
        dst = jvm.org.apache.hadoop.fs.Path(f"{path}/{_ACTIVE_FILE}")
        if not fs.rename(src, dst):
            # HDFS semantics: rename refuses when dst exists — drop the
            # old pointer and retry (the unguarded window is between the
            # delete and the rename; readers retry through it)
            fs.delete(dst, False)
            if not fs.rename(src, dst):
                raise IOError(f"could not activate version pointer at {dst}")
        return
    p = Path(path) / _ACTIVE_FILE
    tmp = p.with_suffix(".tmp")
    tmp.write_text(body)
    tmp.replace(p)  # atomic on POSIX


def active_version(path: str, retries: int = 5) -> int | None:
    """Read the active-version pointer. Tolerates the transient states a
    concurrent `activate` can expose (missing during an HDFS
    delete+rename window, empty/partial on a non-atomic scheme) by
    retrying briefly; returns None only when the pointer is genuinely
    absent after the retry budget."""
    import time

    spark = SparkSession.getActiveSession()
    ptr = f"{path}/{_ACTIVE_FILE}"
    last_err: Exception | None = None
    for attempt in range(retries):
        if attempt:
            time.sleep(0.05 * attempt)
        try:
            if spark is not None:
                if not fs_exists(spark, ptr):
                    if last_err is None:
                        return None  # genuinely absent, not mid-swap
                    continue  # vanished inside a delete+rename window
                text = fs_read_text(spark, ptr)
            else:
                p = Path(path) / _ACTIVE_FILE
                if not p.exists():
                    if last_err is None:
                        return None
                    continue
                text = p.read_text()
            return int(json.loads(text)["version"])
        except (json.JSONDecodeError, ValueError, KeyError) as e:
            last_err = e  # partial/empty pointer mid-swap: retry
    if last_err is not None:
        raise last_err
    return None


def read_active(spark: SparkSession, path: str) -> DataFrame:
    """Read only the active version — the version predicate prunes to one
    partition directory (verify: PartitionFilters in .explain)."""
    v = active_version(path)
    if v is None:
        raise FileNotFoundError(f"no active version at {path}")
    return read_version(spark, path, v)


def read_version(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Time travel: read a SPECIFIC version snapshot (active or not) —
    any version `vacuum` hasn't reclaimed is a complete, immutable
    snapshot. Same single-directory partition pruning as read_active."""
    return (
        spark.read.parquet(path)
        .where(F.col("version") == version)
        .drop("version")
    )


def version_diff(
    spark: SparkSession, path: str, key: str, v_old: int, v_new: int,
    include_old: bool = False,
) -> DataFrame:
    """CDC between two versions of a versioned table: (op, key, ...new
    row columns) with op in INSERT/DELETE/UPDATE — what a downstream
    consumer replays to move from v_old's snapshot to v_new's without
    rereading the full table (the ACTIVATE_VERSION swap gives atomic
    snapshots; this gives the delta between them).

    ``include_old=True`` additionally carries the OLD row image as
    ``old_<col>`` columns — required by retraction-aware consumers
    (materialized-view maintenance must know which group a DELETE/UPDATE
    left, not only which it entered; see
    ``continuous_agg.refresh_rollup_from_diff``).

    One full-outer join on the key, both sides partition-pruned to their
    single version directory. UPDATE detection hashes the non-key
    columns JVM-side (xxhash64 over a canonical struct) — no column
    list needed and no row comparison leaves the executors."""
    base = spark.read.parquet(path)
    old = base.where(F.col("version") == v_old).drop("version")
    new = base.where(F.col("version") == v_new).drop("version")
    cols = [c for c in new.columns if c != key]
    o = old.select(
        F.col(key).alias("__k"),
        F.xxhash64(F.struct(*[F.col(c) for c in cols])).alias("__h_old"),
        *[F.col(c).alias(f"old_{c}") for c in (cols if include_old else [])],
    )
    n = new.select(
        F.col(key), F.xxhash64(F.struct(*[F.col(c) for c in cols])).alias("__h_new"),
        *cols,
    )
    # shuffle_hash: both snapshots are table-sized — a full-outer
    # ShuffledHashJoin (supported since Spark 3.1) beats SMJ's two full
    # sorts, and neither side may broadcast at scale
    joined = o.join(n.hint("shuffle_hash"), o["__k"] == n[key], "full")
    return (
        joined.select(
            F.when(F.col("__k").isNull(), F.lit("INSERT"))
            .when(F.col(key).isNull(), F.lit("DELETE"))
            .when(F.col("__h_old") != F.col("__h_new"), F.lit("UPDATE"))
            .alias("op"),
            F.coalesce(F.col(key), F.col("__k")).alias(key),
            *cols,
            *[F.col(f"old_{c}") for c in (cols if include_old else [])],
        )
        .where(F.col("op").isNotNull())
    )


def compact_active_version(
    spark: SparkSession, path: str, target_files: int = 1
) -> int:
    """Small-file compaction for the ACTIVE version — the lake-ops chore
    an append-heavy INCREMENTAL stream creates (every micro-batch adds
    files; readers eventually pay per-file open cost). Rewrites the
    active version's rows into `target_files` files UNDER A NEW VERSION
    and atomically activates it, so readers never see a half-compacted
    table and the old layout stays until `vacuum`. Returns the new
    version id. Row-preservation is the caller-visible contract (pinned
    by test); at 100 TB run it per partition key instead of whole-table."""
    v = active_version(path)
    if v is None:
        raise FileNotFoundError(f"no active version at {path}")
    rows = read_active(spark, path).coalesce(target_files)
    new_v = v + 1
    write_versioned(rows, path, new_v, mode="append")
    activate(path, new_v)
    return new_v


def migrate_layout(
    spark: SparkSession, old_path: str, new_path: str,
    partition_cols: list[str],
) -> int:
    """Partition-layout EVOLUTION (round 7): copy the ACTIVE snapshot to
    a NEW table root partitioned by (version, *partition_cols) and
    activate it there — readers filtering the new columns get
    directory-level pruning at the new root. A new ROOT, not a new
    version in place: Spark (correctly) refuses mixed partition-column
    layouts under one directory tree
    (CONFLICTING_PARTITION_COLUMN_NAMES), so layout changes are a
    table-level cutover — exactly the Hive/Delta recreation shape. The
    old root stays intact and readable for the cutover window; the
    version pointer at the new root is active before this returns, so
    switching readers never see a partial table. Returns the version id
    at the new root (1)."""
    rows = read_active(spark, old_path)
    (
        rows.withColumn("version", F.lit(1))
        .write.mode("errorifexists")
        .partitionBy("version", *partition_cols)
        .parquet(new_path)
    )
    activate(new_path, 1)
    return 1


def vacuum(path: str) -> list[int]:
    """Drop every deactivated version directory; returns dropped ids.
    Listing and deletes go through the Hadoop FS so retention works on
    the same scheme the table lives on."""
    keep = active_version(path)
    dropped = []
    fs, root = _fs(path)
    if fs is not None:
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if not name.startswith("version="):
                continue
            v = int(name.split("=")[1])
            if v != keep:
                fs.delete(status.getPath(), True)
                dropped.append(v)
        return sorted(dropped)
    for d in Path(path).glob("version=*"):
        v = int(d.name.split("=")[1])
        if v != keep:
            shutil.rmtree(d)
            dropped.append(v)
    return sorted(dropped)
