"""JDBC query builders, REST allowlist source, Singer interop, CLI."""

import json
import tempfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F, types as T

from redshift_to_pendo_api_data_pipeline_spark.functions import singer as SG
from redshift_to_pendo_api_data_pipeline_spark.schema import ColumnSpec
from redshift_to_pendo_api_data_pipeline_spark.sources import jdbc as J
from redshift_to_pendo_api_data_pipeline_spark.sources import rest as R
from redshift_to_pendo_api_data_pipeline_spark.sources.tables import load_table


# ------------------------------------------------------------------- jdbc
def test_jdbc_metadata_queries_shape():
    tq = J.tables_query("public")
    assert "INFORMATION_SCHEMA.Tables" in tq and "table_schema = 'public'" in tq
    cq = J.columns_query("public")
    assert "ordinal_position" in cq and "JOIN INFORMATION_SCHEMA.Columns" in cq
    pq = J.primary_keys_query("public")
    assert "PRIMARY KEY" in pq and "key_column_usage" in pq


def test_jdbc_url_and_props():
    cfg = J.JdbcConfig(host="h", user="u", password="p")
    assert cfg.url == "jdbc:postgresql://h:5439/dev"
    assert cfg.properties["driver"] == "org.postgresql.Driver"


def test_column_specs_from_metadata():
    rows = [
        ("public", "t", "id"),                                  # pk row
        ("public", "t", "id", 1, "int8", "no"),                 # column rows
        ("public", "t", "name", 2, "varchar", "yes"),
        ("public", "t", "geo", 3, "geometry", "yes"),
    ]
    specs = J.column_specs_from_metadata(rows)
    by_name = {c.name: c for c in specs["t"]}
    assert by_name["id"].is_primary_key and not by_name["id"].nullable
    assert by_name["name"].inclusion == "available"
    assert by_name["geo"].inclusion == "unsupported"


# ------------------------------------------------------------------- rest
class _AggAPI(BaseHTTPRequestHandler):
    def do_POST(self):
        body = json.loads(self.rfile.read(int(self.headers["content-length"])))
        pipeline = body["request"]["pipeline"]
        assert "source" in pipeline[0] and "filter" in pipeline[1]
        out = json.dumps({
            "results": [
                {"accountId": "123e4567-e89b-12d3-a456-426614174000"},
                {"accountId": "223e4567-e89b-12d3-a456-426614174000"},
                {"accountId": "not-a-uuid-but-present"},
            ]
        }).encode()
        self.send_response(200)
        self.send_header("content-length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)

    def log_message(self, *a):
        pass


def test_rest_allowlist_fetch_and_validate(spark):
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _AggAPI)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        ids = R.fetch_allowlist_ids(
            f"http://127.0.0.1:{srv.server_port}", "account", "accountId"
        )
        assert len(ids) == 3
        df = R.allowlist_df(spark, ids)  # P7 validation drops the junk id
        assert df.count() == 2
    finally:
        srv.shutdown()


class _PagedAggAPI(BaseHTTPRequestHandler):
    """5 ids served through skip/limit pipeline stages, page_size 2 ->
    pages of 2, 2, 1 (short page terminates the loop)."""

    IDS = [f"{i:08d}-e89b-12d3-a456-426614174000" for i in range(5)]
    requests_seen: list[tuple[int, int]] = []

    def do_POST(self):
        body = json.loads(self.rfile.read(int(self.headers["content-length"])))
        pipeline = body["request"]["pipeline"]
        skip = next((s["skip"] for s in pipeline if "skip" in s), 0)
        limit = next((s["limit"] for s in pipeline if "limit" in s), None)
        type(self).requests_seen.append((skip, limit))
        page = self.IDS[skip:skip + limit]
        out = json.dumps({"results": [{"accountId": i} for i in page]}).encode()
        self.send_response(200)
        self.send_header("content-length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)

    def log_message(self, *a):
        pass


def test_rest_allowlist_pagination():
    _PagedAggAPI.requests_seen = []
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _PagedAggAPI)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        ids = R.fetch_allowlist_ids(
            f"http://127.0.0.1:{srv.server_port}", "account", "accountId",
            page_size=2,
        )
        assert ids == _PagedAggAPI.IDS
        assert _PagedAggAPI.requests_seen == [(0, 2), (2, 2), (4, 2)]
    finally:
        srv.shutdown()


# --------------------------------------------------- singer catalog golden
SAMPLE_CATALOG = "/root/reference/tap-redshift/sample-catalog.json"


def test_singer_catalog_golden_shape():
    """Discovery output must be byte-shape-compatible with the catalog the
    reference ships (sample-catalog.json): JSON-schema property mapping
    (null unions, integer byte-width bounds, date-time formats), breadcrumb
    metadata (sql-datatype / inclusion / selected-by-default), and
    table-level selection + replication keys. The test reconstructs each
    sample stream from bare (name, sql-datatype, pk) triples and asserts
    deep equality with the shipped file."""
    from redshift_to_pendo_api_data_pipeline_spark.catalog import singer_catalog_entry

    with open(SAMPLE_CATALOG) as f:
        golden = json.load(f)["streams"]
    assert len(golden) == 2

    for stream in golden:
        table_meta = stream["metadata"][0]["metadata"]
        col_meta = {
            m["breadcrumb"][1]: m["metadata"] for m in stream["metadata"][1:]
        }
        pks = set(table_meta["key-properties"])
        specs = [
            ColumnSpec(
                name=name,
                sql_datatype=col_meta[name]["sql-datatype"],
                nullable=True,        # every sample property is a null union
                is_primary_key=name in pks,
            )
            for name in stream["schema"]["properties"]
        ]
        db, schema_name, table = stream["tap_stream_id"].split(".")
        rebuilt = singer_catalog_entry(
            db, schema_name, table, specs,
            is_view=table_meta["is-view"],
            selected=table_meta["selected"],
            selected_by_default=table_meta["selected-by-default"],
            replication_key=table_meta["replication-key"],
            replication_method=table_meta["replication-method"],
        )
        assert rebuilt == stream


# ----------------------------------------------------------------- singer
def test_singer_roundtrip(spark, sf_dir):
    """write_message_file -> read_messages -> records_for_stream must
    reproduce the original rows (the pipe, reconstructed)."""
    ev = load_table(spark, sf_dir, "events").limit(50).select(
        "event_id", "user_id", "event_type"
    )
    with tempfile.TemporaryDirectory() as d:
        n = SG.write_message_file(
            ev, "events", 123, ["event_id"], {"bookmarks": {}}, f"{d}/msgs"
        )
        assert n == 50
        msgs = SG.read_messages(spark, f"{d}/msgs")
        by_type = SG.dispatch(msgs)
        assert by_type["SCHEMA"].count() == 1
        assert by_type["ACTIVATE_VERSION"].count() == 1
        assert by_type["VOLUME"].first()["volume"] == 50
        assert by_type["STATE"].count() == 2  # opening + closing
        assert by_type["RECORD"].count() == 50

        schema = T.StructType([
            T.StructField("event_id", T.LongType(), False),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
        ])
        valid, quarantine = SG.records_for_stream(msgs, "events", schema, 123)
        assert quarantine.count() == 0
        got = {r["event_id"] for r in valid.collect()}
        want = {r["event_id"] for r in ev.collect()}
        assert got == want


def test_singer_validation_quarantine(spark):
    """P10: version mismatch and missing required keys route to
    quarantine instead of raising."""
    lines = [
        json.dumps({"type": "RECORD", "stream": "s", "version": 2,
                    "record": {"id": 1, "x": "a"}}),
        json.dumps({"type": "RECORD", "stream": "s", "version": 1,   # stale version
                    "record": {"id": 2, "x": "b"}}),
        json.dumps({"type": "RECORD", "stream": "s", "version": 2,
                    "record": {"x": "missing-id"}}),                 # invariant broken
    ]
    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/m.jsonl", "w") as fh:
            fh.write("\n".join(lines))
        msgs = SG.read_messages(spark, f"{d}/m.jsonl")
        schema = T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("x", T.StringType(), True),
        ])
        valid, quarantine = SG.records_for_stream(msgs, "s", schema, 2)
        assert valid.count() == 1 and valid.first()["id"] == 1
        assert quarantine.count() == 2


def test_singer_schema_message_types():
    schema = T.StructType([
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.TimestampType(), True),
        T.StructField("c", T.DecimalType(12, 2), True),
    ])
    msg = json.loads(SG.schema_message("s", schema, ["a"]))
    props = msg["schema"]["properties"]
    assert props["a"]["type"] == "integer" and props["a"]["maximum"] == 2**63 - 1
    assert props["b"]["type"] == ["null", "string"]
    assert props["b"]["format"] == "date-time"
    assert props["c"]["type"] == ["null", "number"]
    assert msg["key_properties"] == ["a"]


# -------------------------------------------------------------------- cli
def test_cli_sync_singer_end_to_end(tmp_path):
    """The reference's pipe as one command: parquet source -> incremental
    stream -> singer message file + state echo."""
    import subprocess, sys, os

    cfg = {
        "source": {"kind": "parquet", "dir": "/root/testdata/sf0.001"},
        "streams": [{
            "name": "events", "primary_key": "event_id",
            "replication_method": "INCREMENTAL", "replication_key": "ts",
            "field_mappings": {"user_id": "visitorId"},
        }],
        "sink": {"kind": "singer", "out_dir": str(tmp_path / "out")},
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    state_path = tmp_path / "state.json"

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-m", "redshift_to_pendo_api_data_pipeline_spark.cli", "sync",
         "-c", str(cfg_path), "-s", str(state_path)],
        capture_output=True, text=True, cwd="/root/repo", env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    state = json.loads(state_path.read_text())
    bm = state["bookmarks"]["events"]
    assert bm["replication_key"] == "ts" and "replication_key_value" in bm
    assert "records=" in proc.stderr
    out_files = list((tmp_path / "out" / "events").glob("*.txt"))
    assert out_files, "singer message file written"
    first = out_files[0].read_text().splitlines()
    assert json.loads(first[0])["type"] == "STATE"
    assert json.loads(first[1])["type"] == "SCHEMA"


def test_cli_sync_full_table_stamps_messages_with_state_version(spark, tmp_path):
    """A FULL_TABLE sync mints one new version: the message file's
    ACTIVATE_VERSION and RECORD lines carry the version the state records,
    not the prior run's stamp."""
    from redshift_to_pendo_api_data_pipeline_spark import cli

    cfg = {
        "source": {"kind": "parquet", "dir": "/root/testdata/sf0.001"},
        "streams": [{"name": "customer", "primary_key": "c_custkey",
                     "replication_method": "FULL_TABLE"}],
        "sink": {"kind": "singer", "out_dir": str(tmp_path / "out")},
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    state_path = tmp_path / "state.json"
    state_path.write_text(json.dumps({"bookmarks": {"customer": {"version": 5}}}))

    assert cli.main(["sync", "-c", str(cfg_path), "-s", str(state_path)]) == 0
    version = json.loads(state_path.read_text())["bookmarks"]["customer"]["version"]
    assert version != 5
    msgs = [json.loads(line)
            for f in sorted((tmp_path / "out" / "customer").glob("*.txt"))
            for line in f.read_text().splitlines() if line.strip()]
    activate = [m for m in msgs if m["type"] == "ACTIVATE_VERSION"]
    assert [m["version"] for m in activate] == [version]
    records = [m for m in msgs if m["type"] == "RECORD"]
    assert records and {m["version"] for m in records} == {version}


def test_singer_conformance_runner_clean_stream(spark, sf_dir):
    """singer-check-tap parity: the full ordered message file our writer
    emits must pass the conformance validator with zero violations."""
    import glob

    ev = load_table(spark, sf_dir, "events").limit(30).select(
        "event_id", "user_id", "event_type"
    )
    with tempfile.TemporaryDirectory() as d:
        SG.write_message_file(
            ev, "events", 7, ["event_id"], {"bookmarks": {}}, f"{d}/msgs"
        )
        lines = []
        for f in sorted(glob.glob(f"{d}/msgs/part-*")):
            with open(f) as fh:
                lines.extend(line.rstrip("\n") for line in fh if line.strip())
        assert SG.validate_message_stream(lines) == []


def test_singer_conformance_runner_flags_violations():
    """Each conformance rule fires on a planted violation."""
    schema_line = json.dumps({
        "type": "SCHEMA", "stream": "s",
        "schema": {"type": "object", "properties": {
            "id": {"type": "integer"}, "name": {"type": ["null", "string"]}}},
        "key_properties": ["id"],
    })
    state = json.dumps({"type": "STATE", "value": {}})
    av = json.dumps({"type": "ACTIVATE_VERSION", "stream": "s", "version": 1})

    def rec(record, version=1):
        return json.dumps({"type": "RECORD", "stream": "s",
                           "version": version, "record": record})

    # record before schema
    v = SG.validate_message_stream([state, rec({"id": 1}), state])
    assert any("before SCHEMA" in x for x in v)
    # wrong field type
    v = SG.validate_message_stream(
        [state, schema_line, av, rec({"id": "not-int"}), state])
    assert any("violates type" in x for x in v)
    # unknown field
    v = SG.validate_message_stream(
        [state, schema_line, av, rec({"id": 1, "zzz": 2}), state])
    assert any("not in SCHEMA" in x for x in v)
    # null key property
    v = SG.validate_message_stream(
        [state, schema_line, av, rec({"name": "x"}), state])
    assert any("key property" in x for x in v)
    # version mismatch
    v = SG.validate_message_stream(
        [state, schema_line, av, rec({"id": 1}, version=9), state])
    assert any("!= activated" in x for x in v)
    # missing closing STATE
    v = SG.validate_message_stream([state, schema_line, av, rec({"id": 1})])
    assert any("STATE flush" in x for x in v)
    # clean stream: no violations
    v = SG.validate_message_stream(
        [state, schema_line, av, rec({"id": 1, "name": None}), state])
    assert v == []


def test_maxlength_emitted_for_sized_strings():
    """JSON-schema maxLength parity (reference README.md:379): emitted
    when discovery provides character_maximum_length or the type spells
    varchar(n); omitted for bare string types (sample-catalog parity)."""
    from redshift_to_pendo_api_data_pipeline_spark.catalog import singer_json_schema

    sized = ColumnSpec(name="name", sql_datatype="varchar",
                       nullable=True, char_max_length=64)
    assert singer_json_schema(sized)["maxLength"] == 64
    spelled = ColumnSpec(name="name", sql_datatype="varchar(128)", nullable=False)
    assert singer_json_schema(spelled)["maxLength"] == 128
    bare = ColumnSpec(name="name", sql_datatype="varchar", nullable=True)
    assert "maxLength" not in singer_json_schema(bare)


def test_column_specs_carry_char_max_length():
    """Discovery rows with a 7th character_maximum_length element flow
    into ColumnSpec.char_max_length (None stays None)."""
    from redshift_to_pendo_api_data_pipeline_spark.sources.jdbc import (
        column_specs_from_metadata,
    )

    rows = [
        ("public", "t", "id"),  # pk row
        ("public", "t", "id", 1, "int4", "NO", None),
        ("public", "t", "name", 2, "varchar", "YES", 64),
    ]
    specs = {c.name: c for c in column_specs_from_metadata(rows)["t"]}
    assert specs["name"].char_max_length == 64
    assert specs["id"].char_max_length is None
    assert specs["id"].is_primary_key


def test_singer_metric_lines_format():
    from redshift_to_pendo_api_data_pipeline_spark.functions.singer import (
        format_metric_line,
    )
    from redshift_to_pendo_api_data_pipeline_spark.plans.sync import SyncResult

    line = format_metric_line("counter", "record_count", 42, {"table": "t"})
    assert line == ('INFO METRIC: {"metric": "record_count", '
                    '"tags": {"table": "t"}, "type": "counter", '
                    '"value": 42}')
    import json as _json
    parsed = _json.loads(line.split("METRIC: ", 1)[1])
    assert parsed["type"] == "counter" and parsed["value"] == 42

    import pytest as _pytest
    with _pytest.raises(ValueError):
        format_metric_line("gauge", "x", 1)

    from redshift_to_pendo_api_data_pipeline_spark.functions.singer import (
        sync_metric_lines,
    )
    r = SyncResult(stream="orders", record_count=7, bookmark=None,
                   version=1, metrics={"elapsed_s": 1.5})
    lines = sync_metric_lines(r)
    assert len(lines) == 2
    assert '"metric": "record_count"' in lines[0]
    assert '"metric": "sync_table"' in lines[1]
