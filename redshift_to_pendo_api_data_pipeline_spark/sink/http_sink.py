"""The HTTP partition writer: Spark-side replacement for target-pendo.

The reference consumes a Singer message stream on stdin and POSTs batches
to ``/api/v1/metadata/{kind}/{group}/value`` with asyncio concurrency
(target-pendo/src/__init__.py:301-368). Here the equivalent is a
``mapPartitions`` writer: ``sink_dataframe`` spreads the records over as
many writer partitions as the batch count and the cluster's cores allow,
and Spark runs them as concurrent tasks. Each writer keeps one POST in
flight. The reference wraps every POST in one backoff decorator inside
the gather; here every POST, a batch's first and each retry, is one
attempt step on the batch's own backoff schedule (``_attempt``). A
writer defers a batch that backs off and goes on posting the batches
after it (``write_partition``), holding at most two batches.

Reliability semantics preserved (SURVEY.md §2.9):
- B6 retry: expo backoff, ≤5 tries, give up on 4xx; a batch that shares
  an ``id`` with a deferred one waits for it, so per-key order holds;
- B7 per-record failure routing: the API reports per-record errors in the
  response body; failed records are routed to a quarantine location and
  re-posted by a later pass instead of failing the job
  (__init__.py:272-281,217-259);
- B8 status->error taxonomy (request.py:77-109);
- idempotency: Spark retries whole tasks, so the sink relies on the API's
  upsert-only idempotency (README.md:142) — a replayed batch converges.

Endpoint routing (B9): stream name containing "account" -> account kind,
else visitor (__init__.py:40-72, endpoints.py:7-36).
"""

from __future__ import annotations

import json
import math
import time
import urllib.error
import urllib.request
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from redshift_to_pendo_api_data_pipeline_spark.sink.batching import (
    DEFAULT_MAX_BYTES,
    DEFAULT_MAX_RECORDS,
    GiveUpError,
    TokenBucket,
    backoff_delays,
    batch_records,
)


def route_endpoint(stream_name: str, base_url: str, group: str = "custom") -> str:
    """B9: infer entity kind from the stream name (endpoints.py:7-36)."""
    kind = "account" if "account" in stream_name.lower() else "visitor"
    return f"{base_url}/api/v1/metadata/{kind}/{group}/value"


# B8 (r8, granular): the reference keeps a full application-error-code
# taxonomy — target-pendo/src/exceptions.py:74-97 maps `error.list`
# codes to exception classes and request.py:77-109 raises them from the
# parsed body. The Spark sink carries the same taxonomy as a CLASS
# STRING on each quarantine row (exception classes don't survive an
# executor boundary; a labeled row does), so a user debugging a
# specific Pendo rejection sees the same bucket the reference would
# have raised.
ERROR_CODE_CLASSES: dict[str, str] = {
    "unauthorized": "authentication",
    "forbidden": "authentication",
    "bad_request": "bad_request",
    "action_forbidden": "bad_request",
    "missing_parameter": "bad_request",
    "parameter_invalid": "bad_request",
    "parameter_not_found": "bad_request",
    "client_error": "bad_request",
    "type_mismatch": "bad_request",
    "not_found": "resource_not_found",
    "admin_not_found": "resource_not_found",
    "not_restorable": "not_restorable",
    "rate_limit_exceeded": "rate_limit",
    "service_unavailable": "service_unavailable",
    "server_error": "service_unavailable",
    "conflict": "multiple_matching_users",
    "unique_user_constraint": "multiple_matching_users",
    "token_unauthorized": "token_unauthorized",
    "token_not_found": "token_not_found",
    "token_revoked": "token_not_found",
    "token_blocked": "token_not_found",
    "token_expired": "token_not_found",
}

# HTTP-status fallback when no application code is present
# (request.py:77-91's raise_errors_on_failure table)
_HTTP_STATUS_CLASSES: dict[int, str] = {
    401: "authentication",
    403: "authentication",
    404: "resource_not_found",
    500: "server_error",
    502: "bad_gateway",
    503: "service_unavailable",
}

# classes the reference retries (RateLimitExceeded/ServiceUnavailable/
# ServerError are transient; everything else is a caller bug or a
# permanent state)
RETRYABLE_ERROR_CLASSES = {
    "rate_limit", "service_unavailable", "server_error", "bad_gateway",
    "http_5xx",
}


def classify_error(code: str | None, http_status: int | None = None) -> str:
    """Application `error.list` code -> taxonomy class; HTTP status as
    the fallback; `unexpected` when the code is unknown (the reference's
    UnexpectedError arm, request.py:98-105)."""
    if code:
        return ERROR_CODE_CLASSES.get(code, "unexpected")
    if http_status is not None:
        if http_status in _HTTP_STATUS_CLASSES:
            return _HTTP_STATUS_CLASSES[http_status]
        if 400 <= http_status < 500:
            return "http_4xx"
        if 500 <= http_status < 600:
            return "http_5xx"
    return "unexpected"


@dataclass
class SinkConfig:
    base_url: str
    stream_name: str
    api_key: str = ""
    max_records: int = DEFAULT_MAX_RECORDS
    max_bytes: int = DEFAULT_MAX_BYTES
    # rate_calls/rate_period is the GLOBAL API budget (Pendo: 1800 calls
    # per 300 s, __init__.py:308-311). Each writer task runs in its own
    # Python worker with its own TokenBucket, so sink_dataframe divides
    # this budget by its writer count before shipping the config to tasks
    # — N writers each get rate_calls/N. That bounds one sink call; each
    # bucket starts full, so several sink calls inside one period (sync
    # cycles, a quarantine retry pass) can together exceed the budget.
    # Configs used directly in post_once/write_partition
    # (single-process paths) spend the whole budget. Every POST attempt,
    # a deferred batch's retries included, takes one token.
    rate_calls: int = 1800
    rate_period: float = 300.0
    max_tries: int = 5              # attempts per batch, first POST included
    request_delay: float = 0.0      # B10, default 0 (__init__.py:106)
    timeout: float = 300.0          # request.py:13-20
    group: str = "custom"

    @property
    def endpoint(self) -> str:
        return route_endpoint(self.stream_name, self.base_url, self.group)


# One bucket per (calls, period) per Python worker process. Spark runs
# each concurrent task in its own worker, so a writer never shares its
# bucket with another writer of the same sink call. A later sink call
# with another writer share, or a task landing in a fresh worker, gets a
# new full bucket.
_BUCKETS: dict[tuple[int, float], TokenBucket] = {}


def _bucket(calls: int, period: float) -> TokenBucket:
    key = (calls, period)
    if key not in _BUCKETS:
        _BUCKETS[key] = TokenBucket(calls, period)
    return _BUCKETS[key]


def per_writer_config(cfg: SinkConfig, writers: int) -> SinkConfig:
    """Split the global rate budget: each of ``writers`` concurrent writers
    gets rate_calls // writers (min 1). Every other field passes through;
    the caller's config is never mutated."""
    from dataclasses import replace

    return replace(cfg, rate_calls=max(1, cfg.rate_calls // max(writers, 1)))


def _writer_count(spark, n: int, cfg: SinkConfig) -> int:
    """Writers for ``n`` records: one per batch, but no more than the
    executors' cores (``defaultParallelism``) nor than ``rate_calls``, so
    every writer keeps a rate budget of at least one call."""
    return max(1, min(
        math.ceil(n / cfg.max_records),
        spark.sparkContext.defaultParallelism,
        cfg.rate_calls,
    ))


def post_once(cfg: SinkConfig, batch: list[bytes]) -> dict:
    """One POST attempt of a JSON-array batch: take a token from the
    writer's bucket (B5), wait the fixed request delay (B10) and return
    the parsed response body. A retryable failure raises as it is; any
    other HTTP error raises :class:`GiveUpError` naming its class."""
    req = urllib.request.Request(
        cfg.endpoint,
        data=b"[" + b",".join(batch) + b"]",
        headers={
            "content-type": "application/json",
            "x-pendo-integration-key": cfg.api_key,
        },
        method="POST",
    )
    _bucket(cfg.rate_calls, cfg.rate_period).acquire()
    if cfg.request_delay:
        time.sleep(cfg.request_delay)
    try:
        with urllib.request.urlopen(req, timeout=cfg.timeout) as resp:
            return json.loads(resp.read() or b"{}")
    except urllib.error.HTTPError as e:
        # B8 (granular, r8): an error body of type `error.list` carries
        # the application code the reference's
        # raise_application_errors_on_failure maps (request.py:92-109).
        # Codes in a retryable class keep retrying with backoff; the rest
        # give up with the class named, not just the bare status.
        err_code = None
        try:
            body_ = json.loads(e.read() or b"{}")
            if body_.get("type") == "error.list" and body_.get("errors"):
                d = body_["errors"][0]
                # reference reads .type then .code (request.py:94-96);
                # code wins when both present
                err_code = d.get("code") or d.get("type")
        except (ValueError, AttributeError):
            pass
        klass = classify_error(err_code, e.code)
        if klass in RETRYABLE_ERROR_CLASSES:
            raise  # B6 path: backoff + retry
        raise GiveUpError(
            f"HTTP {e.code} [{klass}"
            + (f"/{err_code}" if err_code else "")
            + f"] at {cfg.endpoint}"
        ) from e


def batch_result(batch: list[bytes], payload: dict) -> tuple:
    """A batch's result row from its response body: (total, updated,
    failed, failed_payloads, failed_codes, failed_classes). The API
    returns {total, updated, failed, errors:[{id}]}, and the failed
    records are joined back by id (__init__.py:272-281); the counts
    aggregate like the reference's Counter merge (:159,192-195)."""
    failed = int(payload.get("failed", 0))
    payloads, codes, classes = [], [], []
    if failed:
        # J4: join error ids back to the records of this batch; carry
        # each error's application code + taxonomy class alongside so
        # the quarantine relation is debuggable per Pendo rejection
        errors_by_id = {
            e.get("id"): (e.get("code") or e.get("type") or "")
            for e in payload.get("errors", [])
        }
        for raw in batch:
            rec_id = json.loads(raw).get("id")
            if rec_id in errors_by_id:
                code = errors_by_id[rec_id]
                payloads.append(raw.decode())
                codes.append(code)
                classes.append(classify_error(code or None))
    return (int(payload.get("total", len(batch))), int(payload.get("updated", 0)),
            failed, payloads, codes, classes)


def _ids(batch: list[bytes]) -> set:
    return {json.loads(raw).get("id") for raw in batch}


@dataclass
class _Pending:
    """A batch not yet posted successfully: the rest of its backoff
    schedule, the time.monotonic() its next attempt is due, and its ids,
    parsed once it is deferred."""
    batch: list[bytes]
    waits: Iterator[float]
    due: float = 0.0
    ids: set | None = None


def _attempt(cfg: SinkConfig, p: _Pending) -> tuple | None:
    """One attempt at a batch: wait until it is due, POST it and return
    its result row. A retryable error instead moves the batch's due time
    by the next wait of its schedule and returns None; a
    :class:`GiveUpError`, or any error once the schedule is spent,
    raises."""
    wait = p.due - time.monotonic()
    if wait > 0:
        time.sleep(wait)
    try:
        return batch_result(p.batch, post_once(cfg, p.batch))
    except GiveUpError:
        raise
    except Exception:
        wait = next(p.waits, None)
        if wait is None:
            raise
        p.due = time.monotonic() + wait
        return None


def _settle(cfg: SinkConfig, p: _Pending) -> tuple:
    """Attempt a deferred batch until it yields its row or raises."""
    row = None
    while row is None:
        row = _attempt(cfg, p)
    return row


def write_partition(cfg: SinkConfig, payloads: Iterable[bytes]) -> Iterator[tuple]:
    """The foreachPartition body. Yields one row per batch:
    (total, updated, failed, failed_json_array, failed_codes,
    failed_classes) so failures land in a quarantine DataFrame —
    labeled with the application error code and its taxonomy class —
    instead of killing the job.

    B6 without stalling the writer: every POST, a batch's first and each
    retry, is one ``_attempt`` on the batch's own schedule (0.5, 1, 2,
    4 s; ``max_tries`` attempts in all; a 4xx gives up at once). A batch
    whose first attempt fails with a retryable error is deferred, and
    the writer goes on posting the batches after it. The deferred batch
    is settled, attempted until it succeeds or raises, when its backoff
    is due, before a second batch is deferred, before a batch sharing an
    ``id`` with it is posted (so every version of a key reaches the API
    in input order), and at the end of the input. One POST is in flight
    at a time, and at most two batches are held in memory."""
    deferred = None
    for batch in batch_records(payloads, cfg.max_records, cfg.max_bytes):
        if deferred is not None and (
            deferred.due <= time.monotonic() or not deferred.ids.isdisjoint(_ids(batch))
        ):
            yield _settle(cfg, deferred)
            deferred = None
        pending = _Pending(batch, backoff_delays(cfg.max_tries))
        row = _attempt(cfg, pending)
        if row is not None:
            yield row
            continue
        if deferred is not None:
            yield _settle(cfg, deferred)
        pending.ids = _ids(batch)
        deferred = pending
    if deferred is not None:
        yield _settle(cfg, deferred)


def sink_dataframe(df: DataFrame, cfg: SinkConfig) -> DataFrame:
    """Write a shaped DataFrame (any schema with the record key in ``id``;
    serialized to one JSON doc per row here) to the HTTP endpoint. Returns
    the per-batch results (``batch_result`` rows) as a DataFrame — the
    caller aggregates (A4) and persists the quarantine set (B7).

    Distribution: the input is counted once and spread over
    ``fan = min(ceil(n / max_records), defaultParallelism, rate_calls)``
    writer partitions, each an independent writer with its own HTTP
    connection. That is the Spark-native replacement for
    asyncio.gather+Semaphore(10) (__init__.py:351-368). The input's own
    partitioning does not matter: an ordered limit leaves one partition,
    and ``n <= max_records`` rows still make one POST. ``run_sync`` caches
    its input, so there the count also fills the cache; an uncached input
    is evaluated twice, once by the count and once by the writers.

    Records are hash-partitioned on ``id`` and re-sorted by their input
    position inside each writer, so every version of a key is posted by
    one writer in input order and last-writer-wins per key holds as in a
    serial sink.

    The global rate budget is split across the ``fan`` writers (each runs
    in its own Python worker with its own TokenBucket); since ``fan`` never
    exceeds ``rate_calls``, the writers' budgets sum to at most the global
    one within this call. Buckets start full, so successive calls inside
    one ``rate_period`` can add their bursts together.
    """
    fan = _writer_count(df.sparkSession, df.count(), cfg)
    json_df = (
        df.select(
            F.to_json(F.struct(*df.columns)).alias("payload"),
            "id",
            F.monotonically_increasing_id().alias("_seq"),
        )
        .repartition(fan, "id")
        .sortWithinPartitions("_seq")
        .select("payload")
    )
    writer_cfg = per_writer_config(cfg, fan)

    def _run(it: Iterator) -> Iterator[tuple]:
        yield from write_partition(
            writer_cfg, (row["payload"].encode() for row in it)
        )

    return json_df.rdd.mapPartitions(_run).toDF(
        "total long, updated long, failed long,"
        " failed_payloads array<string>, failed_codes array<string>,"
        " failed_classes array<string>"
    )
