"""Byte/record-bounded request batching + flow-control primitives.

Reference policies being re-expressed (SURVEY.md §2.9):

- B1 batch closes at max bytes (5 MB) OR max records (500) OR end of input
  (target-pendo/src/__init__.py:371-405 ``check_batch``, defaults :100-108)
- B5 rate limit: 1,800 calls / 300 s on the async POST (:308-311)
- B6 exponential backoff, max 5 tries, give up immediately on 4xx
  (:301-307)
- B10 fixed inter-request delay (:324)

All of this is plain library code that runs *inside* an executor task
(the ``mapPartitions`` writer); none of it touches the driver, so sink
throughput scales with the number of writer partitions.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Iterable, Iterator

DEFAULT_MAX_RECORDS = 500       # target-pendo/src/__init__.py:105
DEFAULT_MAX_BYTES = 5_000_000   # target-pendo/src/__init__.py:104


def batch_records(
    payloads: Iterable[bytes],
    max_records: int = DEFAULT_MAX_RECORDS,
    max_bytes: int = DEFAULT_MAX_BYTES,
) -> Iterator[list[bytes]]:
    """B1: yield closed batches; a batch closes when adding the next record
    would exceed the byte cap, or when the record cap is hit. A single
    record larger than the cap still ships alone (the reference measures
    after append, __init__.py:377-383, so matches)."""
    batch: list[bytes] = []
    size = 0
    for p in payloads:
        if batch and (size + len(p) > max_bytes or len(batch) >= max_records):
            yield batch
            batch, size = [], 0
        batch.append(p)
        size += len(p)
    if batch:
        yield batch


class TokenBucket:
    """B5: thread-safe token-bucket limiter, `calls` per `period` seconds.

    One instance per Python worker process and config (module-level
    singleton in ``http_sink``). Spark runs each concurrent task in its own
    worker, so every writer task has a bucket of its own: the caller must
    provision each writer with global_limit / num_writers, which
    ``http_sink.sink_dataframe`` does.
    """

    def __init__(self, calls: int, period: float) -> None:
        self.capacity = float(calls)
        self.tokens = float(calls)
        self.rate = calls / period
        self.ts = time.monotonic()
        self._lock = threading.Lock()

    def acquire(self) -> None:
        """Take one token, sleeping until the bucket has one."""
        while True:
            with self._lock:
                now = time.monotonic()
                self.tokens = min(self.capacity, self.tokens + (now - self.ts) * self.rate)
                self.ts = now
                if self.tokens >= 1:
                    self.tokens -= 1
                    return
                wait = (1 - self.tokens) / self.rate
            time.sleep(min(wait, 1.0))


class GiveUpError(Exception):
    """Non-retryable failure (HTTP 4xx — reference gives up immediately,
    __init__.py:305-307 ``giveup=lambda e: 400 <= e.status < 500``)."""


def backoff_delays(max_tries: int) -> Iterator[float]:
    """B6: the waits between ``max_tries`` attempts, doubling from 0.5 s
    up to 30 s (0.5, 1, 2, 4 s for five tries)."""
    for i in range(max_tries - 1):
        yield min(0.5 * 2**i, 30.0)
