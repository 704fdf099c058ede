"""Driver-crossover routing guard — the shared probe behind every
small-relation driver path in the engine.

Several operators route bounded-size relations to a driver-side
algorithm because the distributed loop's per-job scheduling latency
dominates below a threshold (measured: ~6 s of pure stage scheduling
for an 84k-edge connected-components graph; 2.7 s -> 0.5 s for a 200k-
vector k-center loop). The crossover CONTRACT every such site must
satisfy:

1. **Bounded memory by construction** — the cap times the row payload
   must be a driver-safe byte budget (document the arithmetic at the
   call site), and the transfer should be Arrow/flat-column where the
   rows are numerous (5M Row objects cost ~an order of magnitude more
   than two flat long columns).
2. **Bit-identical results** — the driver twin must reproduce the
   distributed path's floating-point fold order, rounding, and tie
   rules exactly, pinned by a test that runs BOTH paths (force the
   distributed one with cap=0).
3. **Distributed fallback mandatory** — above the cap the operator
   must keep working without the driver; the guard routes, it never
   errors.
4. **Cheap probe** — size is probed with ``limit(cap+1).count()``,
   O(cap) rows regardless of relation size, never a full count().

Sites: ``dedup.connected_components`` (union-find under the edge cap,
star contraction above it),
``sampling.kcenter_select`` (greedy loop under the vector cap),
``streaming.ann_bridge.batch_ivf_topk`` (query matmul under the query
cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def within_driver_bound(df: DataFrame, cap: int) -> bool:
    """True iff ``df`` has at most ``cap`` rows — the crossover probe.

    Costs one job over at most ``cap + 1`` rows: the count aggregates
    a GlobalLimit, so execution stops as soon as cap+1 rows surface —
    a corpus-sized relation never pays a full count to learn it is
    over the bound (plan shape pinned by
    ``test_routing.test_probe_plan_is_limit_bounded``)."""
    return df.limit(int(cap) + 1).count() <= int(cap)


def local_df(spark, rows, schema) -> DataFrame:
    """Arrow-backed local relation — the return leg of every driver
    crossover.

    ``spark.createDataFrame(list_of_tuples)`` builds a pickled Python
    RDD whose plan is ``Scan ExistingRDD``: EVERY downstream action
    launches a Python worker per task just to unpickle the rows
    (profiled r11: 32 zero-IO tasks x ~250 ms of pure worker wait per
    action — 7-9 s of task time on the connected-components result
    alone, ~0.5 s of wall per query run). Routing the same rows through
    a pyarrow Table instead plans as ``LocalTableScan``: the rows are
    serialized ONCE on the driver into Arrow and every task is pure
    JVM. Same values, same schema, same NULLs — only the transfer
    mechanism changes.

    ``schema`` is a DDL string ("a bigint, b string") or a StructType.
    Supported field types: integral/floating scalars, string, boolean,
    binary, and arrays of those; anything else falls back to the plain
    createDataFrame path (correct, just slower).
    """
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)

    import pyarrow as pa

    _PA = {
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
        T.ShortType: pa.int16(),
        T.ByteType: pa.int8(),
        T.DoubleType: pa.float64(),
        T.FloatType: pa.float32(),
        T.StringType: pa.string(),
        T.BooleanType: pa.bool_(),
        T.BinaryType: pa.binary(),
    }

    def _pa_type(dt):
        if type(dt) in _PA:
            return _PA[type(dt)]
        if isinstance(dt, T.ArrayType) and type(dt.elementType) in _PA:
            return pa.list_(_PA[type(dt.elementType)])
        return None

    pa_types = [_pa_type(f.dataType) for f in schema.fields]
    if any(t is None for t in pa_types):
        return spark.createDataFrame(rows, schema)
    rows = list(rows)
    cols = [
        pa.array([r[i] for r in rows], type=pa_types[i])
        for i in range(len(schema.fields))
    ]
    table = pa.table(dict(zip([f.name for f in schema.fields], cols)))
    out = spark.createDataFrame(table)
    # pyarrow's nullability is per-chunk; re-assert the declared
    # schema (names + nullable flags + exact Spark types) with a
    # no-op cast so downstream unions/joins see identical schemas
    # regardless of which path built the relation
    if out.schema != schema:
        out = spark.createDataFrame(table, schema=schema)
    return out
