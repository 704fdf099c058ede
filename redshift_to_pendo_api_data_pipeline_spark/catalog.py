"""Catalog discovery + selection resolution.

Reference behavior being re-expressed (SURVEY.md §2.1 S3-S5, §2.2 P2-P3):

- discovery builds one catalog entry per table with per-column JSON schema
  and metadata breadcrumbs (``tap-redshift/src/discover.py:20-97``);
- sync resolves the user's ``selected`` marks against what actually exists,
  force-including primary keys, warning on selected-but-missing columns and
  skipping unsupported ones (``tap-redshift/src/resolve.py:10-109``);
- schema drift is absorbed by re-discovering every run and intersecting
  (``resolve.py:38-42``).

In Spark the "discovery scan" is just ``df.schema`` on a lazy reader — no
INFORMATION_SCHEMA round trips needed for parquet; for JDBC the same three
metadata queries the reference runs can be issued through ``spark.read.jdbc``
on ``information_schema`` relations.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from redshift_to_pendo_api_data_pipeline_spark.schema import ColumnSpec, StreamSpec
from redshift_to_pendo_api_data_pipeline_spark.sources.tables import table_schema

LOGGER = logging.getLogger(__name__)

# Redshift type-name families for SINGER JSON-SCHEMA emission — kept
# separate from schema.spark_type_for because the wire format must stay
# bit-compatible with the reference catalog (tap-redshift/src/schema.py:
# 10-29), including its lossy choices (numeric -> bare "number") that the
# Spark-side mapping deliberately upgrades (DecimalType keeps precision).
_SINGER_INT_BYTES = {
    "int2": 2, "smallint": 2, "int": 4, "int4": 4, "integer": 4,
    "int8": 8, "bigint": 8,
}
_SINGER_FLOAT = {"float", "float4", "float8", "real", "double precision"}
_SINGER_STRING = {
    "char", "character", "nchar", "bpchar", "text", "varchar",
    "character varying", "nvarchar",
}
_SINGER_DATETIME = {
    "timestamp", "timestamptz", "timestamp without time zone",
    "timestamp with time zone",
}


def singer_json_schema(spec: ColumnSpec) -> dict:
    """JSON-schema property for one column, matching the reference's
    ``schema_for_column`` (tap-redshift/src/schema.py:37-83) field for
    field: integer min/max encode the byte width, datetimes are
    date-time-formatted strings, nullable becomes a ``["null", T]`` type
    union, unknown types turn into an ``unsupported`` marker."""
    dt = spec.sql_datatype.strip().lower()
    out: dict = {"inclusion": spec.inclusion}
    if dt in ("bool", "boolean"):
        out["type"] = "boolean"
    elif dt in _SINGER_INT_BYTES:
        bits = _SINGER_INT_BYTES[dt] * 8
        out["minimum"] = -(2 ** (bits - 1))
        out["maximum"] = 2 ** (bits - 1) - 1
        out["type"] = "integer"
    elif dt in _SINGER_FLOAT or dt.split("(")[0].strip() in ("numeric", "decimal"):
        out["type"] = "number"
    elif dt in _SINGER_DATETIME:
        out["format"] = "date-time"
        out["type"] = "string"
    elif dt == "date":
        out["format"] = "date"
        out["type"] = "string"
    elif dt.split("(")[0].strip() in _SINGER_STRING:
        out["type"] = "string"
        # maxLength from discovery metadata, else from a varchar(n)
        # type spelling (reference README.md:379 documents the field)
        max_len = spec.char_max_length
        if max_len is None and "(" in dt and dt.endswith(")"):
            inner = dt.split("(", 1)[1][:-1].strip()
            if inner.isdigit():
                max_len = int(inner)
        if max_len is not None:
            out["maxLength"] = max_len
    else:
        return {
            "inclusion": "unsupported",
            "description": f"Unsupported column type {dt}",
        }
    if spec.nullable:
        out["type"] = ["null", out["type"]]
    return out


def singer_catalog_entry(
    db_name: str,
    schema_name: str,
    table_name: str,
    specs: list[ColumnSpec],
    *,
    is_view: bool = False,
    selected: bool = True,
    selected_by_default: bool = False,
    replication_key: str | None = None,
    replication_method: str = "FULL_TABLE",
) -> dict:
    """One ``streams[]`` element of a Singer catalog, shape-identical to
    the reference's emitted catalog (tap-redshift/sample-catalog.json:
    1-460): table-level breadcrumb ``[]`` carries selection/keys/
    replication metadata, then one ``["properties", col]`` breadcrumb per
    column with ``sql-datatype`` + ``inclusion``."""
    properties = {c.name: singer_json_schema(c) for c in specs}
    key_properties = [
        c.name for c in specs
        if c.is_primary_key and properties[c.name]["inclusion"] != "unsupported"
    ]
    table_meta: dict = {
        "selected-by-default": selected_by_default,
        "selected": selected,
        "key-properties": key_properties,
        "is-view": is_view,
        "schema-name": table_name,
        "database-name": db_name,
    }
    if replication_key:
        table_meta["valid-replication-keys"] = [replication_key]
    table_meta["replication-method"] = replication_method
    if replication_key:
        table_meta["replication-key"] = replication_key
    metadata = [{"breadcrumb": [], "metadata": table_meta}]
    for c in specs:
        metadata.append({
            "breadcrumb": ["properties", c.name],
            "metadata": {
                "selected-by-default": properties[c.name]["inclusion"]
                != "unsupported",
                "sql-datatype": c.sql_datatype,
                "inclusion": properties[c.name]["inclusion"],
            },
        })
    return {
        "tap_stream_id": f"{db_name}.{schema_name}.{table_name}",
        "table_name": f"{schema_name}.{table_name}",
        "schema": {"properties": properties, "type": "object"},
        "stream": table_name,
        "metadata": metadata,
    }


@dataclass
class CatalogEntry:
    """Discovered stream: name + Spark schema + key metadata.

    Analogue of singer ``CatalogEntry`` (tap-redshift/src/discover.py:89-96)
    with the JSON-schema replaced by the DataFrame's StructType.
    """

    stream: str
    columns: list[str]
    primary_key: str | None = None
    metadata: dict = field(default_factory=dict)


def discover_parquet_catalog(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...]
) -> list[CatalogEntry]:
    """Discovery for file sources: schema comes from the parquet footer
    (zero data read), the moral equivalent of the reference's three
    INFORMATION_SCHEMA queries (discover.py:20-54). It is the schema
    ``load_table`` pins, so a sync after discovery infers nothing again."""
    return [CatalogEntry(stream=t, columns=table_schema(spark, sf_dir, t).names)
            for t in tables]


def resolve_columns(
    available: list[str],
    selected: list[str] | None,
    automatic: list[str],
) -> list[str]:
    """Selection resolution, the semantics of ``resolve.py:10-44``:

    result = (selected ∩ available) ∪ (automatic ∩ available),
    preserving the available-column order; selected-but-missing columns are
    warned and dropped (schema drift absorption, resolve.py:38-42).
    """
    if selected is None:
        keep = set(available)
    else:
        keep = set(selected) & set(available)
        for missing in sorted(set(selected) - set(available)):
            LOGGER.warning("selected column %s does not exist; skipping", missing)
    keep |= set(automatic) & set(available)
    for auto_missing in sorted(set(automatic) - set(available)):
        LOGGER.warning("automatic column %s does not exist", auto_missing)
    return [c for c in available if c in keep]


def resolve_projection(df: DataFrame, stream: StreamSpec) -> DataFrame:
    """Apply resolved selection as a projection. Catalyst prunes the scan
    to exactly these columns (verify: ReadSchema in .explain)."""
    automatic = [stream.primary_key]
    if stream.replication_key:
        automatic.append(stream.replication_key)
    cols = resolve_columns(df.columns, stream.selected_columns, automatic)
    return df.select(*cols)
