"""Record-shaping transforms as pure column expressions.

The reference applies these per row in Python inside the target's message
loop; here each is a Catalyst expression that stays inside whole-stage
codegen (SURVEY.md §2.7):

- F8  recursive dict flatten, ``__`` separator; lists stringified
                                     (target __init__.py:408-418)
- F9  field rename per mapping, collision-safe (target __init__.py:531-548)
- F10 payload reshape {pk, values:{attr: val}} (target __init__.py:549-557)
- F6  JSON envelope (to_json)        (tap sync.py:62-67)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

# the sink payload's record key (target __init__.py:549-557)
PAYLOAD_KEY = "id"

_I64_MAX = (1 << 63) - 1
_I64_MIN = -(1 << 63)


def checked_bigint(col: Column) -> Column:
    """Cast to BIGINT with a fits-or-errors guarantee that does NOT depend
    on ``spark.sql.ansi.enabled``.

    A plain ``.cast("bigint")`` under the default (non-ANSI) session
    silently returns NULL/wrapped values on overflow — exactly the silent
    wrongness a DECIMAL(38,0) intermediate is meant to rule out. This
    wraps the cast in a row-level ``raise_error`` so an out-of-range value
    fails the job loudly on any executor, with zero extra passes and no
    session-wide ANSI blast radius across unrelated queries.

    NULL passes through as NULL (matching a plain cast): without the
    leading isNull branch a NULL input would make ``in_range`` NULL and
    fall to the raise_error arm — with a NULL message, since concat with
    NULL is NULL."""
    dec = T.DecimalType(38, 0)
    in_range = (col >= F.lit(str(_I64_MIN)).cast(dec)) & (
        col <= F.lit(str(_I64_MAX)).cast(dec)
    )
    return F.when(col.isNull(), F.lit(None).cast("bigint")).when(
        in_range, col.cast("bigint")
    ).otherwise(
        F.raise_error(
            F.concat(F.lit("checked_bigint: value out of int64 range: "),
                     col.cast("string"))
        ).cast("bigint")
    )


def fixed_point(col: Column, scale: int = 2) -> Column:
    """Exact DECIMAL aggregate -> fixed-point BIGINT (value * 10^scale).

    The engine sums money as DECIMAL (order-independent, exact); the
    *surfaced* column is an integer so the value serializes identically
    across engines and fetch paths (a DECIMAL becomes float64 in a pandas
    fetch from DuckDB but stays ``Decimal`` from Spark, so '25.50' vs
    '25.5' breaks value-hash comparison; integers never do). The multiply
    happens in decimal arithmetic, so the cast is exact."""
    return (col * F.lit(10**scale)).cast("long")


def flatten(df: DataFrame, sep: str = "__") -> DataFrame:
    """F8: recursively flatten struct columns into ``parent__child`` top
    level columns; arrays/maps are JSON-stringified (the reference does
    ``str(value)`` for lists, __init__.py:408-418 — we emit valid JSON
    instead, same shape-normalization intent).

    Pure projection: zero shuffle, prunes to referenced leaves.
    """
    def _expand(schema: T.StructType, prefix: list[str]) -> list[Column]:
        cols: list[Column] = []
        for f in schema.fields:
            path = prefix + [f.name]
            qual = ".".join(f"`{p}`" for p in path)
            name = sep.join(path)
            if isinstance(f.dataType, T.StructType):
                cols.extend(_expand(f.dataType, path))
            elif isinstance(f.dataType, (T.ArrayType, T.MapType)):
                cols.append(F.to_json(F.col(qual)).alias(name))
            else:
                cols.append(F.col(qual).alias(name))
        return cols

    return df.select(*_expand(df.schema, []))


def remap_fields(df: DataFrame, mappings: dict[str, str]) -> DataFrame:
    """F9: rename columns per ``{source: target}`` mapping.

    The reference needs a tmp-swap dance because it mutates one dict in
    place and a target name may equal a *different* source name
    (__init__.py:531-548). A single ``select`` is collision-free by
    construction: every output is computed from the input row before any
    rename 'happens'. Unmapped columns pass through under their own name.
    """
    out, seen = [], set()
    for c in df.columns:
        dst = mappings.get(c, c)
        if dst in seen:
            raise ValueError(f"field mapping collision on output column {dst!r}")
        seen.add(dst)
        out.append(F.col(f"`{c}`").alias(dst))
    return df.select(*out)


def reshape_payload(df: DataFrame, primary_key: str) -> DataFrame:
    """F10: reshape a flat record to the sink payload
    ``{id: pk, values: {attr: val, ...}}`` (__init__.py:549-557), every
    other column going into ``values``. ``values`` is a struct column;
    serialize with :func:`json_envelope` at the sink edge only."""
    value_cols = [c for c in df.columns if c != primary_key]
    return df.select(
        F.col(primary_key).alias(PAYLOAD_KEY),
        F.struct(*[F.col(f"`{c}`") for c in value_cols]).alias("values"),
    )


def json_envelope(df: DataFrame, col_name: str = "payload") -> DataFrame:
    """F6: one JSON document per row — the Singer RECORD serialization
    boundary (sync.py:62-67). Only used at the outermost sink edge; between
    in-plan operators rows stay columnar."""
    return df.select(F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns])).alias(col_name))
