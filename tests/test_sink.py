"""HTTP sink: batching, rate limiting, retry/giveup, quarantine routing —
driven end-to-end against an in-process mock of the metadata API."""

from __future__ import annotations

import json
import threading
import time
import urllib.error
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from redshift_to_pendo_api_data_pipeline_spark.sink.batching import (
    GiveUpError,
    TokenBucket,
    batch_records,
)
from redshift_to_pendo_api_data_pipeline_spark.sink.http_sink import (
    SinkConfig,
    route_endpoint,
    sink_dataframe,
    write_partition,
)


# ---------------------------------------------------------------- batching
def test_batch_record_cap():
    recs = [b"x" * 10] * 25
    batches = list(batch_records(recs, max_records=10, max_bytes=10**9))
    assert [len(b) for b in batches] == [10, 10, 5]


def test_batch_byte_cap():
    recs = [b"x" * 400] * 6
    batches = list(batch_records(recs, max_records=100, max_bytes=1000))
    assert [len(b) for b in batches] == [2, 2, 2]


def test_oversized_record_ships_alone():
    batches = list(batch_records([b"x" * 5000, b"y"], max_records=10, max_bytes=1000))
    assert [len(b) for b in batches] == [1, 1]


def test_token_bucket_paces():
    import time

    tb = TokenBucket(calls=5, period=0.5)  # 10/sec refill
    for _ in range(5):
        tb.acquire()
    t0 = time.monotonic()
    tb.acquire()  # must wait ~0.1s for a token
    assert time.monotonic() - t0 > 0.05


def test_endpoint_routing():
    assert route_endpoint("pendo_integration_account", "http://h") == \
        "http://h/api/v1/metadata/account/custom/value"
    assert route_endpoint("pendo_integration_visitor", "http://h") == \
        "http://h/api/v1/metadata/visitor/custom/value"


# ------------------------------------------------------------- mock server
class _MockAPI(BaseHTTPRequestHandler):
    """Accepts metadata batches; rejects records whose id is in
    fail_ids (per-record errors, like the real API's error.list);
    returns 500 for the first `flaky_500s` requests. Every POST first
    sleeps `service_s`, and the mock counts POSTs and the most POSTs in
    flight at once."""

    store: list[list[dict]] = []
    fail_ids: set = set()
    fail_codes: dict = {}        # id -> application error code
    flaky_500s: int = 0
    # (status, code, n): answer the first n requests with an HTTP
    # `status` whose body is a Pendo error.list carrying `code`
    error_list_replies: tuple = ()
    service_s: float = 0.0
    posts: int = 0
    inflight: int = 0
    max_inflight: int = 0
    lock = threading.Lock()

    def do_POST(self):  # noqa: N802
        with _MockAPI.lock:
            _MockAPI.posts += 1
            _MockAPI.inflight += 1
            _MockAPI.max_inflight = max(_MockAPI.max_inflight, _MockAPI.inflight)
        try:
            time.sleep(_MockAPI.service_s)
            self._handle()
        finally:
            with _MockAPI.lock:
                _MockAPI.inflight -= 1

    def _handle(self):
        body = self.rfile.read(int(self.headers["content-length"]))
        if not self.path.startswith("/api/v1/metadata/"):
            self.send_response(404)
            self.end_headers()
            return
        with _MockAPI.lock:
            if _MockAPI.error_list_replies:
                status, code, n = _MockAPI.error_list_replies
                if n > 0:
                    _MockAPI.error_list_replies = (status, code, n - 1)
                    data = json.dumps({
                        "type": "error.list",
                        "errors": [{"code": code, "message": "mock"}],
                    }).encode()
                    self.send_response(status)
                    self.send_header("content-type", "application/json")
                    self.send_header("content-length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                    return
            if _MockAPI.flaky_500s > 0:
                _MockAPI.flaky_500s -= 1
                self.send_response(500)
                self.end_headers()
                return
            recs = json.loads(body)
            _MockAPI.store.append(recs)
        errors = [
            {"id": r["id"], **(
                {"code": _MockAPI.fail_codes[r["id"]]}
                if r["id"] in _MockAPI.fail_codes else {}
            )}
            for r in recs if r["id"] in _MockAPI.fail_ids
        ]
        out = {
            "total": len(recs),
            "updated": len(recs) - len(errors),
            "failed": len(errors),
            "errors": errors,
        }
        data = json.dumps(out).encode()
        self.send_response(200)
        self.send_header("content-type", "application/json")
        self.send_header("content-length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *a):  # silence
        pass


@pytest.fixture()
def mock_api():
    _MockAPI.store = []
    _MockAPI.fail_ids = set()
    _MockAPI.fail_codes = {}
    _MockAPI.flaky_500s = 0
    _MockAPI.error_list_replies = ()
    _MockAPI.service_s = 0.0
    _MockAPI.posts = _MockAPI.inflight = _MockAPI.max_inflight = 0
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _MockAPI)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}", _MockAPI
    srv.shutdown()


# ------------------------------------------------------------- end-to-end
def test_sink_end_to_end(spark, sf_dir, mock_api):
    base_url, api = mock_api
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(40)
    shaped = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
    ).repartition(2)

    cfg = SinkConfig(base_url=base_url, stream_name="account_stream", max_records=10)
    results = sink_dataframe(shaped, cfg)
    agg = results.agg(
        F.sum("total").alias("total"),
        F.sum("updated").alias("updated"),
        F.sum("failed").alias("failed"),
    ).first()

    assert agg["total"] == 40 and agg["updated"] == 40 and agg["failed"] == 0
    sent_ids = {r["id"] for batch in api.store for r in batch}
    assert len(sent_ids) == 40
    assert all(len(b) <= 10 for b in api.store)


def test_sink_quarantine_and_retry_pass(spark, sf_dir, mock_api):
    """B7: per-record failures land in the quarantine set; a second pass
    re-posts exactly those records (finish_requests retry pass,
    __init__.py:217-259)."""
    base_url, api = mock_api
    api.fail_ids = {1, 5}
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(20)
    shaped = cust.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))

    cfg = SinkConfig(base_url=base_url, stream_name="visitors", max_records=10)
    results = sink_dataframe(shaped, cfg).cache()
    quarantined = [
        json.loads(p)
        for row in results.select("failed_payloads").collect()
        for p in row["failed_payloads"]
    ]
    assert {q["id"] for q in quarantined} == {1, 5}

    # retry pass: server now healthy
    api.fail_ids = set()
    retry_df = spark.createDataFrame(quarantined)
    r2 = sink_dataframe(retry_df, cfg).agg(F.sum("failed").alias("f")).first()
    assert r2["f"] == 0
    results.unpersist()


def test_sink_retries_transient_500(spark, sf_dir, mock_api):
    base_url, api = mock_api
    api.flaky_500s = 2  # first two requests fail; backoff must absorb
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(5)
    shaped = cust.select(F.col("c_custkey").alias("id")).coalesce(1)
    cfg = SinkConfig(base_url=base_url, stream_name="v", max_records=100)
    agg = sink_dataframe(shaped, cfg).agg(F.sum("updated").alias("u")).first()
    assert agg["u"] == 5
    # one schedule spans the first attempt and the deferred retries
    assert api.posts == 3


def test_sink_gives_up_on_4xx(spark, sf_dir, mock_api):
    base_url, api = mock_api
    cfg = SinkConfig(
        base_url=base_url + "/missing", stream_name="v", max_records=100
    )  # wrong path -> 404 -> GiveUpError, no retry storm
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(3)
    shaped = cust.select(F.col("c_custkey").alias("id")).coalesce(1)
    with pytest.raises(Exception, match="HTTP 404"):
        sink_dataframe(shaped, cfg).count()
    assert api.posts == 1


def test_quarantine_rows_carry_error_code_taxonomy(spark, sf_dir, mock_api):
    """B8 granular (r8, r7 verdict #9): per-record rejections carry
    the application error code AND its taxonomy class (the bucket the
    reference's exceptions.py:74-97 would have raised) on the
    quarantine row, aligned with failed_payloads."""
    base_url, api = mock_api
    api.fail_ids = {1, 5, 7}
    api.fail_codes = {
        1: "parameter_invalid",      # -> bad_request
        5: "unique_user_constraint", # -> multiple_matching_users
        # id 7 rejected WITHOUT a code -> "" / unexpected
    }
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(20)
    shaped = cust.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    cfg = SinkConfig(base_url=base_url, stream_name="visitors", max_records=10)
    rows = sink_dataframe(shaped, cfg).collect()
    got = {}
    for r in rows:
        for p, c, k in zip(
            r["failed_payloads"], r["failed_codes"], r["failed_classes"]
        ):
            got[json.loads(p)["id"]] = (c, k)
    assert got == {
        1: ("parameter_invalid", "bad_request"),
        5: ("unique_user_constraint", "multiple_matching_users"),
        7: ("", "unexpected"),
    }


def test_error_list_code_controls_retry_vs_giveup(spark, sf_dir, mock_api):
    """A whole-request error.list body drives the retry decision by
    CODE class, not bare status: rate_limit_exceeded on 429 retries
    through (reference RateLimitExceeded is transient), while
    parameter_invalid on 400 gives up naming the class."""
    base_url, api = mock_api
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(3)
    shaped = cust.select(F.col("c_custkey").alias("id")).coalesce(1)
    cfg = SinkConfig(base_url=base_url, stream_name="v", max_records=100)

    api.error_list_replies = (429, "rate_limit_exceeded", 2)
    agg = sink_dataframe(shaped, cfg).agg(F.sum("updated").alias("u")).first()
    assert agg["u"] == 3    # two rate-limited replies absorbed by retry

    api.error_list_replies = (400, "parameter_invalid", 10**6)
    with pytest.raises(Exception, match="bad_request/parameter_invalid"):
        sink_dataframe(shaped, cfg).count()


def test_classify_error_mapping():
    from redshift_to_pendo_api_data_pipeline_spark.sink.http_sink import (
        classify_error,
    )

    # application codes (exceptions.py:74-97 parity)
    assert classify_error("unauthorized") == "authentication"
    assert classify_error("token_expired") == "token_not_found"
    assert classify_error("server_error") == "service_unavailable"
    assert classify_error("no_such_code") == "unexpected"
    # HTTP fallbacks (request.py:77-91 parity)
    assert classify_error(None, 404) == "resource_not_found"
    assert classify_error(None, 403) == "authentication"
    assert classify_error(None, 502) == "bad_gateway"
    assert classify_error(None, 418) == "http_4xx"
    assert classify_error(None, 599) == "http_5xx"
    assert classify_error(None, None) == "unexpected"


def test_rate_budget_split_across_executors():
    """rate_calls is the GLOBAL API budget; sink_dataframe splits it over
    the concurrent writers its executors run via per_writer_config (a
    per-writer TokenBucket honoring the full budget would hit the API at
    N x the limit with N writers)."""
    from redshift_to_pendo_api_data_pipeline_spark.sink.http_sink import (
        per_writer_config,
    )

    cfg = SinkConfig(base_url="http://x", stream_name="visitors", rate_calls=1800)
    for writers in (1, 3, 4, 7, 64, 1800):
        w = per_writer_config(cfg, writers)
        assert w.rate_calls >= 1                         # no writer gets 0
        assert writers * w.rate_calls <= cfg.rate_calls  # sum within budget
        assert w.rate_period == cfg.rate_period
    assert per_writer_config(cfg, 4).rate_calls == 450
    assert per_writer_config(cfg, 1).rate_calls == 1800
    assert per_writer_config(cfg, 10_000).rate_calls == 1  # never zero
    assert cfg.rate_calls == 1800                        # caller's config untouched


def test_executor_count_local_mode(spark):
    """In local mode the one executor's cores (local[4] here) cap the
    writer count; one batch of records keeps one writer and so the full
    budget, and a narrow budget caps the writers below the cores."""
    from redshift_to_pendo_api_data_pipeline_spark.sink.http_sink import _writer_count

    cores = spark.sparkContext.defaultParallelism
    assert cores == 4
    cfg = SinkConfig(base_url="http://x", stream_name="v", max_records=10)
    assert _writer_count(spark, 0, cfg) == 1
    assert _writer_count(spark, 10, cfg) == 1      # local: full budget stays
    assert _writer_count(spark, 11, cfg) == 2
    assert _writer_count(spark, 10_000, cfg) == cores
    narrow = SinkConfig(base_url="http://x", stream_name="v", max_records=10,
                        rate_calls=3)
    assert _writer_count(spark, 10_000, narrow) == 3


def test_rate_budget_split_across_writers(spark, mock_api):
    """A budget narrower than the cluster caps the fan-out itself: 40 rows
    at 10 per batch would fan out over all 4 cores, but rate_calls=2 keeps
    exactly 2 writers, so the writers' budgets sum to the global one."""
    base_url, api = mock_api
    api.service_s = 0.3
    shaped = spark.range(40).coalesce(1)
    small = SinkConfig(base_url=base_url, stream_name="v", max_records=10,
                       rate_calls=2, rate_period=0.1)
    total = sink_dataframe(shaped, small).agg(F.sum("total")).first()[0]
    assert total == 40
    assert api.max_inflight == small.rate_calls
    assert small.rate_calls == 2                         # the sink copied, not mutated


# ------------------------------------------------------------- fan-out
def _posted_ids(api) -> list:
    return [r["id"] for batch in api.store for r in batch]


def test_sink_fans_out_single_partition_input(spark, mock_api):
    """An ordered limit leaves one partition; the sink re-fans it, so
    batches are POSTed concurrently and every id exactly once."""
    base_url, api = mock_api
    api.service_s = 0.2
    shaped = spark.range(40).coalesce(1)
    cfg = SinkConfig(base_url=base_url, stream_name="v", max_records=10)
    total = sink_dataframe(shaped, cfg).agg(F.sum("total")).first()[0]
    assert total == 40
    assert api.max_inflight >= 2
    assert sorted(_posted_ids(api)) == list(range(40))


def test_sink_small_input_makes_one_post(spark, mock_api):
    base_url, api = mock_api
    shaped = spark.range(0, 10, numPartitions=3)
    cfg = SinkConfig(base_url=base_url, stream_name="v", max_records=10)
    total = sink_dataframe(shaped, cfg).agg(F.sum("total")).first()[0]
    assert total == 10
    assert api.posts == 1
    assert sorted(_posted_ids(api)) == list(range(10))


def test_sink_keeps_input_order_per_key(spark, mock_api):
    """Two versions of each id, the older first in input order (and in
    another input partition), reach the API older first: last writer
    wins per key as in a serial sink."""
    base_url, api = mock_api
    api.service_s = 0.02
    shaped = spark.range(0, 200, numPartitions=4).select(
        (F.col("id") % 100).alias("id"), (F.col("id") >= 100).alias("newer")
    )
    cfg = SinkConfig(base_url=base_url, stream_name="v", max_records=10)
    sink_dataframe(shaped, cfg).collect()
    assert api.max_inflight >= 2
    seen: dict = {}
    for batch in api.store:
        for r in batch:
            seen.setdefault(r["id"], []).append(r["newer"])
    assert seen == {i: [False, True] for i in range(100)}


def test_cli_http_sink_posts_each_batch_once(spark, mock_api):
    """The CLI's HTTP sink reads the per-batch results once: POSTs equal
    distinct batches and every record is posted exactly once."""
    from redshift_to_pendo_api_data_pipeline_spark.cli import _make_sink
    from redshift_to_pendo_api_data_pipeline_spark.plans.state import State
    from redshift_to_pendo_api_data_pipeline_spark.schema import StreamSpec

    base_url, api = mock_api
    cfg = {"sink": {"kind": "http", "base_url": base_url, "batch_records": 10}}
    stream = StreamSpec(name="visitors", primary_key="id")
    sink = _make_sink(cfg, stream, State())
    shaped = spark.range(45).select(
        "id", F.struct((F.col("id") * 2).alias("score")).alias("values")
    )
    assert sink(shaped) == 45
    batches = {frozenset(r["id"] for r in b) for b in api.store}
    assert api.posts == len(api.store) == len(batches)
    assert sorted(_posted_ids(api)) == list(range(45))


# ------------------------------------------------------- deferred retry
def _one_writer(base_url: str) -> SinkConfig:
    """rate_calls=1 keeps one writer; the short period keeps it from
    waiting on its bucket between POSTs."""
    return SinkConfig(base_url=base_url, stream_name="v", max_records=10,
                      rate_calls=1, rate_period=0.02)


def _stored(api) -> list:
    """(first id, newer) of each batch, in the order the API took them."""
    return [(b[0]["id"], b[0].get("newer")) for b in api.store]


def test_backing_off_batch_does_not_block_its_writer(spark, mock_api):
    """One writer, three batches, a 503 on the first POST: the second and
    third batches reach the API before the first one's retry, and the
    POSTs are the three batches plus that retry, one at a time."""
    base_url, api = mock_api
    api.service_s = 0.02
    api.error_list_replies = (503, "service_unavailable", 1)
    rows = sink_dataframe(spark.range(30).coalesce(1), _one_writer(base_url)).collect()
    assert sum(r["updated"] for r in rows) == 30
    assert _stored(api) == [(10, None), (20, None), (0, None)]
    assert api.posts == 3 + 1
    assert api.max_inflight == 1


def test_deferred_batch_keeps_per_key_order(spark, mock_api):
    """The third batch carries newer versions of the first batch's ids.
    The first batch gets a 503; the second (other ids) goes ahead, and
    the third is posted only after the first one's retry succeeded."""
    base_url, api = mock_api
    api.service_s = 0.02
    api.error_list_replies = (503, "service_unavailable", 1)
    shaped = spark.range(30).coalesce(1).select(
        (F.col("id") % 20).alias("id"), (F.col("id") >= 20).alias("newer")
    )
    sink_dataframe(shaped, _one_writer(base_url)).collect()
    assert _stored(api) == [(10, False), (0, False), (0, True)]
    assert api.posts == 3 + 1


def test_second_failure_settles_the_deferred_batch(spark, mock_api):
    """A writer defers one batch at most: when the second batch fails
    too, the first is retried before anything else is posted. The POSTs
    are the batches plus the retries."""
    base_url, api = mock_api
    api.service_s = 0.02
    api.error_list_replies = (503, "service_unavailable", 2)
    rows = sink_dataframe(spark.range(30).coalesce(1), _one_writer(base_url)).collect()
    assert sum(r["updated"] for r in rows) == 30
    # the second batch falls due about when the first one has settled,
    # so it may go before or after the third
    first, *rest = _stored(api)
    assert first == (0, None) and sorted(rest) == [(10, None), (20, None)]
    assert api.posts == 3 + 2


def test_deferred_batch_still_gives_up(mock_api):
    """A batch failing on every attempt raises after max_tries, and a
    4xx on a deferred batch's retry raises GiveUpError at once."""
    base_url, api = mock_api
    cfg = SinkConfig(base_url=base_url, stream_name="v", max_records=10, max_tries=2)
    payloads = [json.dumps({"id": i}).encode() for i in range(20)]

    api.error_list_replies = (503, "service_unavailable", 10**6)
    with pytest.raises(urllib.error.HTTPError, match="503"):
        list(write_partition(cfg, payloads))
    assert api.posts == 2 + 1    # both batches, then batch 1's last try

    api.posts = 0
    api.error_list_replies = (503, "service_unavailable", 1)
    rows = write_partition(cfg, payloads)
    assert next(rows)[:2] == (10, 10)   # batch 2, while batch 1 waits
    api.error_list_replies = (400, "parameter_invalid", 1)
    with pytest.raises(GiveUpError, match="bad_request/parameter_invalid"):
        next(rows)
    assert api.posts == 3
