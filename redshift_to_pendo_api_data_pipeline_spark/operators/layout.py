"""Data-layout operators: Z-order (Morton) clustering for multi-
dimensional file pruning.

A lake table is usually range-partitioned/sorted on ONE column (commonly
time), so parquet min/max stats prune scans filtered on that column —
and nothing else. Z-ordering interleaves the bits of several columns'
quantized ranks into one sort key; sorting files by the Z value makes
every participating column's values locally clustered, so per-file
min/max spans stay narrow on ALL of them and a filter on ANY of the
columns skips most files (row-group stats pruning does the rest within a
file). This is the same layout trick Delta's OPTIMIZE ZORDER BY applies;
here it is a plain composition of built-ins: quantize -> interleave ->
repartitionByRange -> sortWithinPartitions -> write.

Everything is exact integer column arithmetic (JVM codegen, no UDF): the
quantization bounds come from one 1-row agg broadcast back, and the bit
interleave is an OR-reduction over shift/mask terms.

The reference has no lake layout at all (it replicates row streams); this
is north-star surface for the 100 TB lake the parquet sink writes.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from redshift_to_pendo_api_data_pipeline_spark.staging import fs_list_files

# 16 bits per dimension: 65536 buckets is far finer than file count in
# any practical layout job. The interleaved key must stay clear of a
# long's SIGN bit (bit 63) — a key with bit 63 set sorts before 0 and
# signed range-partitioning would split the Morton curve into two
# swapped halves — so per-dimension width shrinks to 15 when 4 columns
# interleave (60 bits used; 2-3 columns keep the full 16).
_BITS = 16


def _dim_bits(n_dims: int) -> int:
    return min(_BITS, 63 // n_dims)


def _quantize(col: Column, lo: Column, hi: Column, bits: int = _BITS) -> Column:
    """Map a numeric column into [0, 2^bits) by linear scaling between
    the column's observed min/max (degenerate range -> bucket 0)."""
    span = (hi.cast("double") - lo.cast("double"))
    frac = F.when(
        span > 0, (col.cast("double") - lo.cast("double")) / span
    ).otherwise(F.lit(0.0))
    bucket = F.floor(frac * ((1 << bits) - 1)).cast("long")
    return F.greatest(F.lit(0), F.least(bucket, F.lit((1 << bits) - 1)))


def _interleave(buckets: list[Column]) -> Column:
    """Morton-interleave the low _dim_bits(len) bits of each bucket
    column into one non-negative long: bit i of dimension d lands at
    position i*len + d (highest position 59 at 4 dims — never the sign
    bit)."""
    n = len(buckets)
    bits = _dim_bits(n)
    terms = []
    for d, b in enumerate(buckets):
        for i in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(b, i).bitwiseAND(F.lit(1)), i * n + d
                )
            )
    return reduce(lambda a, c: a.bitwiseOR(c), terms)


def zorder_key(df: DataFrame, cols: list[str]) -> DataFrame:
    """Add a ``__z`` Morton key over ``cols`` (numeric or timestamp; at
    most 4 columns). Bounds are computed in one tiny agg and broadcast —
    the data itself is touched once."""
    if not 2 <= len(cols) <= 4:
        raise ValueError("zorder needs 2-4 columns")
    dtypes = dict(df.dtypes)
    casted = {
        c: F.unix_micros(F.col(c)) if dtypes[c].startswith("timestamp") else F.col(c)
        for c in cols
    }
    work = df.select("*", *[casted[c].cast("double").alias(f"__v_{c}") for c in cols])
    bounds = work.agg(
        *[F.min(f"__v_{c}").alias(f"__lo_{c}") for c in cols],
        *[F.max(f"__v_{c}").alias(f"__hi_{c}") for c in cols],
    )
    work = work.join(F.broadcast(bounds))
    bits = _dim_bits(len(cols))
    buckets = [
        _quantize(F.col(f"__v_{c}"), F.col(f"__lo_{c}"), F.col(f"__hi_{c}"), bits)
        for c in cols
    ]
    out = work.withColumn("__z", _interleave(buckets))
    drop = [f"__v_{c}" for c in cols] + [f"__lo_{c}" for c in cols] + [
        f"__hi_{c}" for c in cols
    ]
    return out.drop(*drop)


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered by the Z-order
    of ``cols``: range-partition on ``__z`` (one shuffle — the same
    shuffle any re-layout job pays), sort within partitions, drop the
    key. After this, a filter on ANY of ``cols`` prunes most files via
    parquet min/max stats."""
    (
        zorder_key(df, cols)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_small_files(
    spark,
    path: str,
    out_path: str,
    target_file_mb: int = 128,
    sort_col: str | None = None,
) -> dict:
    """Lake maintenance: bin-pack a directory of (typically many small)
    parquet files into ~target_file_mb outputs — the compaction job every
    streaming/incremental sink eventually needs, since per-trigger
    appends produce file counts proportional to trigger frequency and
    small files destroy scan parallelism economics at 100 TB (footer
    overhead + task-per-file scheduling).

    File count is sized from the ACTUAL on-disk bytes (Hadoop
    listing — no data pass); the single data pass is one
    repartition(ByRange when sort_col given, preserving/establishing a
    clusterable order so min/max stats stay useful) + write. Returns
    {files_in, bytes_in, files_out} for the maintenance log."""
    # every leaf file: partitioned layouts nest dirs
    sizes = [n for f, n, _ in fs_list_files(spark, path) if f.endswith(".parquet")]
    n_files_in, bytes_in = len(sizes), sum(sizes)
    n_out = max(1, -(-bytes_in // (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    if sort_col is not None:
        df = df.repartitionByRange(n_out, sort_col).sortWithinPartitions(sort_col)
    else:
        df = df.repartition(n_out)
    df.write.mode("overwrite").parquet(out_path)
    return {"files_in": n_files_in, "bytes_in": int(bytes_in), "files_out": int(n_out)}


def consistent_ring(shards: list[str], n_virtual: int = 16) -> list[tuple[int, str]]:
    """The hash ring: n_virtual positions per shard at
    md5(shard + '#' + replica) 32-bit prefix points, sorted. Driver-side
    literal — the ring is configuration, not data."""
    import hashlib

    ring = []
    for s in shards:
        for r in range(n_virtual):
            pos = int(
                hashlib.md5(f"{s}#{r}".encode()).hexdigest()[:8], 16
            )
            ring.append((pos, s))
    ring.sort()
    return ring


def ring_point(key_col: str):
    """The 32-bit consistent-hash ring point of a key: first 8 hex chars
    of md5 (mirrored exactly by the oracle). Exposed separately so a
    query assigning the SAME keys against several ring generations
    computes the (comparatively expensive) md5/conv once."""
    from pyspark.sql import functions as F

    return F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("long")


def shard_assignment(
    df, key_col: str, shards: list[str], n_virtual: int = 16,
    out_col: str = "shard", point_col: str | None = None,
):
    """Consistent-hash shard assignment — the re-sharding-safe
    partitioner: a key goes to the first ring position clockwise from
    md5(key)'s 32-bit point. Adding or removing a shard moves only
    ~1/n of the keys (the property modulo-hashing lacks: `hash % n`
    reshuffles EVERYTHING when n changes — the difference between a
    trickle and a full-corpus migration when the sink scales out).

    Shape: ZERO shuffle, zero joins — the ring is a sorted literal
    struct array baked into the plan (|shards|·n_virtual entries, pure
    configuration), the lookup is filter + array_min over it per row,
    whole-stage codegen. The oracle does the same lookup as a bounded
    cross join + min_by, certifying the ring arithmetic from a
    different plan shape."""
    from pyspark.sql import functions as F

    ring = consistent_ring(shards, n_virtual)
    h = F.col(point_col) if point_col else ring_point(key_col)
    # the ring as DATA, not plan: the sorted ring becomes disjoint
    # half-open ownership intervals [lo, hi] -> shard (the wrap
    # interval routes h > max(pos) back to the ring's global minimum),
    # and the lookup is a broadcast interval join — O(|ring|) per row
    # in the JVM like any lookup must be, but the expression tree
    # stays key-sized (a |ring|-literal CaseWhen/array ladder made
    # Catalyst analysis itself the bottleneck: 2x the query's runtime
    # at 15k keys). Duplicate ring positions yield empty intervals,
    # reproducing array_min's (pos, s) tie order exactly.
    spark = df.sparkSession
    intervals = []
    prev = -1
    for pos, s in ring:
        if pos > prev:
            intervals.append((prev + 1, pos, s))
        prev = max(prev, pos)
    intervals.append((prev + 1, (1 << 32) - 1, ring[0][1]))
    from redshift_to_pendo_api_data_pipeline_spark.operators.routing import (
        local_df,
    )

    ring_df = local_df(
        spark, intervals, "lo long, hi long, s string"
    )
    joined = df.withColumn("__h", h).join(
        F.broadcast(ring_df),
        (F.col("__h") >= F.col("lo")) & (F.col("__h") <= F.col("hi")),
    )
    return joined.withColumn(out_col, F.col("s")).drop("lo", "hi", "s", "__h")


def minmax_overlap_depth(
    df,
    bucket_col: str,
    key_col: str,
):
    """Clustering-depth audit for min-max (zone-map) pruning: collapse
    each storage bucket (file / rowgroup stand-in) to its [min, max]
    key envelope and sweep-line the envelopes — the peak overlap IS
    the number of files a point lookup must open after pruning.
    Depth 1 = perfectly clustered; depth ≈ n_buckets = the key is
    scattered and min-max pruning is useless for it.

    One map-side-combined (bucket) agg collapses the corpus to
    |buckets| envelopes; the sweep reuses `interval_concurrency_peak`
    (distributed prefix-sum, no single-reducer window). Envelopes use
    the half-open [min, max+1) convention so touching-at-a-point
    buckets don't count as overlapping."""
    from pyspark.sql import functions as F

    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        interval_concurrency_peak,
    )

    env = df.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.min(key_col).cast("long").alias("lo"),
        (F.max(key_col).cast("long") + 1).alias("hi"),
    )
    return interval_concurrency_peak(env, "bucket", "lo", "hi")


def file_row_skew(df: DataFrame) -> DataFrame:
    """Physical-layout skew audit over the files backing a scan — the
    small-files / straggler screen read before (and after) compaction:
    rows per physical file via ``input_file_name()`` (evaluated
    map-side in the scan, zero extra I/O), collapsed to one audit row

        (n_files, total_rows, min_file_rows, max_file_rows,
         skew_fp = max * scale div mean)

    skew_fp >> scale means one file dominates a partition's work (a
    straggler at 1000 executors); a huge n_files with tiny mean is the
    small-files tax `compact_small_files` exists to pay down. File
    NAMES never leave the aggregation (they differ across engines and
    schemes); only counts surface, so the audit hash-checks
    cross-engine against DuckDB's filename-grouped twin.
    """
    per = df.groupBy(F.input_file_name().alias("__f")).agg(
        F.count(F.lit(1)).cast("long").alias("__rows")
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("__rows").cast("long").alias("total_rows"),
        F.min("__rows").cast("long").alias("min_file_rows"),
        F.max("__rows").cast("long").alias("max_file_rows"),
    ).select(
        "n_files", "total_rows", "min_file_rows", "max_file_rows",
        # the floored mean is guarded to >= 1: an empty input (or any
        # degenerate total_rows < n_files) would otherwise hit ANSI
        # DIVIDE_BY_ZERO instead of reporting (r8 ADVICE); with zero
        # files skew_fp surfaces as NULL, not a throw.
        F.expr(
            "CAST(CAST(max_file_rows AS DECIMAL(38,0)) * 1000000"
            " AS DECIMAL(38,0))"
            " div GREATEST(total_rows div GREATEST(n_files, 1), 1)"
        ).cast("long").alias("skew_fp"),
    )
