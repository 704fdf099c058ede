"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configs below are the ones
that matter identically on a 1000-executor cluster: AQE on (runtime shuffle
coalescing + skew-join splitting), sensible shuffle partition count, Arrow
for the few pandas-UDF paths, and broadcast threshold so dimension tables
and ID allowlists broadcast instead of shuffling the fact side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """A quarter of physical memory (the JVM's own default max heap),
    capped at 24g: two sessions on one host, such as tier-1 beside an
    oracle sweep, must both fit with room left for Python workers."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, phys_mb // 4)}m"


def get_spark(
    app_name: str = "redshift_to_pendo_api_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    """
    # Python executor workers must be able to import this package even when
    # the driver process was launched from elsewhere (mapPartitions/pandas
    # UDF closures are pickled by reference). Locally that means PYTHONPATH;
    # on a real cluster the equivalent is --py-files / a wheel on the image.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # On a real cluster this should be ~2-3x total executor cores (or
        # left to AQE's coalescing with a high initial value). Locally we
        # match core count to avoid tiny-partition overhead.
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions, skew-join
        # splitting, and dynamic broadcast-join conversion. Essential at
        # 100 TB where static planning guesses wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow makes pandas_udf / mapInPandas / toPandas columnar-batch
        # transfers instead of per-row pickling.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Allowlists / dimension tables up to 64 MB broadcast rather than
        # shuffling the (huge) fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Timestamps in testdata are TIMESTAMP (no tz); keep session UTC so
        # results are stable across environments and match the oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # The synthetic events table stores TIMESTAMP(NANOS) parquet, which
        # Spark has no native type for (SPARK-40819); read as long nanos and
        # convert in the loader (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] puts driver + all N executor threads in ONE JVM: size the
        # heap for N concurrent tasks' shuffle/broadcast/write buffers, not
        # for a lone driver (8g thrashed GC late in an 87-query loop on 32
        # cores; the per-query cost showed up as 3-5x tail inflation). On a
        # real cluster this maps to spark.executor.memory per executor.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_heap()))
        # The generated-class cache defaults to 100 entries; a session
        # running the full 112-query registry cycles past it, so every
        # re-run re-pays Janino compilation (measured: the bench total
        # jumped ~60% the round the registry crossed 100 shapes, with
        # per-query standalone times unchanged). Size it to the surface,
        # and give HotSpot room so JIT never disables itself mid-session.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Scan width on SMALL files: the default openCostInBytes (4 MB)
        # FLOORS the file-split size, so a 10 MB parquet fixture scans
        # at ceil(10/4)=3 tasks while decompressing ~9x that and
        # feeding compute-heavy projections (profiled: the lineitem
        # scan+uid-concat stage ran 2.1 s on 3 of 32 cores). 256 KB
        # lets bytes-per-core set the split on small files; on real
        # cluster-sized files maxPartitionBytes (128 MB) still caps the
        # split, so the knob is inert there.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # SPARK_GRAFT_UI=1 turns the UI (and its REST stage API at
        # localhost:4040) on for profiling sessions; off by default —
        # the listener bus + HTTP server cost real time in a
        # 327-query bench loop
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def sf_dir(default: str = "/root/testdata/sf0.1") -> str:
    """Benchmark data directory (driver contract: $SPARK_GRAFT_SF_DIR)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)
