"""Loopback mock of the Pendo metadata API for the sync workload.

Run as its own process
(``python3 perfbench/mock_api.py --seed N --service-ms MS --threads T``); it
prints its port on the first line of stdout and serves until stdin closes.

- ``POST /api/v1/metadata/<kind>/<group>/value`` takes a JSON array of
  ``{"id": ..., "values": {...}}`` records, sleeps a fixed service time
  (so the mock spends no CPU) and answers like Pendo:
  ``{"total", "updated", "failed", "errors": [{"id", "code"}]}``.
- The seed plants faults deterministically: ``planted_reject`` marks
  records answered as per-record 4xx errors, and ``planted_503`` picks the
  one batch of each drain window (one sync cycle) that gets a
  ``503 service_unavailable`` before it succeeds. One 503 per cycle keeps
  the retry's backoff in every cycle alike.
- ``GET /_bench/drain`` returns what was acknowledged and rejected since
  the last drain, plus counters, and resets the per-drain part.

At most ``--threads`` requests are served at once; further connections
wait in the listen backlog.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer
from socketserver import ThreadingMixIn

REJECT_PER_MILLE = 3
RETRY_503_SPAN = 8  # the planted 503 hits one of a window's first 8 batches
REJECT_CODE = "parameter_invalid"


def _h(seed: int, *parts: str) -> int:
    d = hashlib.blake2b(digest_size=8)
    d.update(str(seed).encode())
    for p in parts:
        d.update(b"\x1f" + p.encode())
    return int.from_bytes(d.digest(), "big")


def planted_reject(seed: int, rec_id: str) -> bool:
    """Whether the API rejects this record (a per-record 4xx error)."""
    return _h(seed, "reject", rec_id) % 1000 < REJECT_PER_MILLE


def batch_key(ids: list[str]) -> str:
    return hashlib.blake2b("\x1f".join(sorted(ids)).encode(), digest_size=12).hexdigest()


def planted_503(seed: int, window: int, k: int) -> bool:
    """Whether the first POST of the ``k``-th new batch (from 0) of drain
    window ``window`` gets a 503."""
    return k == _h(seed, "503", str(window)) % RETRY_503_SPAN


class MockState:
    """Everything the mock remembers; guarded by one lock."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.lock = threading.Lock()
        self.seen_batches: set[str] = set()
        self.post_times: list[float] = []
        self.inflight = 0
        self.window = 0
        self._reset_window()

    def _reset_window(self) -> None:
        self.acked: list[str] = []
        self.rejected: list[str] = []
        self.posts = 0
        self.batches = 0
        self.records = 0
        self.bytes = 0
        self.window_max_inflight = 0

    def enter(self) -> None:
        with self.lock:
            self.inflight += 1
            self.window_max_inflight = max(self.window_max_inflight, self.inflight)
            self.post_times.append(time.monotonic())
            self.posts += 1

    def leave(self) -> None:
        with self.lock:
            self.inflight -= 1

    def handle(self, body: bytes) -> tuple[int, dict]:
        """Status and JSON answer for one POST body."""
        records = json.loads(body)
        ids = [r["id"] for r in records]
        key = batch_key(ids)
        with self.lock:
            if key not in self.seen_batches:
                self.seen_batches.add(key)
                self.batches += 1
                if planted_503(self.seed, self.window, self.batches - 1):
                    return 503, {"type": "error.list",
                                 "errors": [{"code": "service_unavailable"}]}
            bad = [i for i in ids if planted_reject(self.seed, i)]
            bad_set = set(bad)
            self.records += len(ids)
            self.bytes += len(body)
            self.rejected.extend(bad)
            self.acked.extend(i for i in ids if i not in bad_set)
        return 200, {
            "total": len(ids), "updated": len(ids) - len(bad), "failed": len(bad),
            "errors": [{"id": i, "code": REJECT_CODE} for i in bad],
        }

    def drain(self) -> dict:
        with self.lock:
            out = {
                "acked": self.acked, "rejected": self.rejected,
                "posts": self.posts, "batches": self.batches,
                "records": self.records, "bytes": self.bytes,
                "max_inflight": self.window_max_inflight,
                "peak_calls_per_300s": _peak_window(self.post_times, 300.0),
            }
            self._reset_window()
            self.window += 1
        return out


def _peak_window(times: list[float], width: float) -> int:
    """Most POSTs that arrived within any ``width``-second window."""
    best, lo = 0, 0
    for hi, t in enumerate(times):
        while t - times[lo] > width:
            lo += 1
        best = max(best, hi - lo + 1)
    return best


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *args) -> None:  # keep stderr quiet
        pass

    def _send(self, status: int, payload: dict) -> None:
        data = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("content-type", "application/json")
        self.send_header("content-length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_POST(self) -> None:
        state: MockState = self.server.state
        body = self.rfile.read(int(self.headers.get("content-length", 0)))
        state.enter()
        try:
            time.sleep(self.server.service_s)
            status, payload = state.handle(body)
        finally:
            state.leave()
        self._send(status, payload)

    def do_GET(self) -> None:
        if self.path == "/_bench/drain":
            self._send(200, self.server.state.drain())
        else:
            self._send(404, {})


class MockServer(ThreadingMixIn, HTTPServer):
    """Thread-per-request server capped at ``threads`` live handlers."""

    daemon_threads = True
    request_queue_size = 128

    def __init__(self, seed: int, service_s: float, threads: int) -> None:
        super().__init__(("127.0.0.1", 0), _Handler)
        self.state = MockState(seed)
        self.service_s = service_s
        self._slots = threading.BoundedSemaphore(threads)

    def process_request(self, request, client_address) -> None:
        self._slots.acquire()
        try:
            super().process_request(request, client_address)
        except BaseException:
            self._slots.release()
            raise

    def process_request_thread(self, request, client_address) -> None:
        try:
            super().process_request_thread(request, client_address)
        finally:
            self._slots.release()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--service-ms", type=float, required=True)
    ap.add_argument("--threads", type=int, required=True)
    args = ap.parse_args()
    server = MockServer(args.seed, args.service_ms / 1000.0, args.threads)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    print(server.server_address[1], flush=True)
    sys.stdin.read()  # serve until the parent closes our stdin
    server.shutdown()
    server.server_close()


if __name__ == "__main__":
    main()
