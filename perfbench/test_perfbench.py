"""Tests of the benchmark's own parts (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import http.client
import json
import os
import sys
import threading
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import mock_api  # noqa: E402
from measure import percentile, tail  # noqa: E402


def _bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    pq.write_table(table.replace_schema_metadata(None), sink, compression="snappy")
    return sink.getvalue().to_pybytes()


def test_registry_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.write_registry("sf0.01", str(a), seed=3)
    datagen.write_registry("sf0.01", str(b), seed=3)
    datagen.write_registry("sf0.01", str(c), seed=4)
    names = sorted(os.listdir(a))
    assert len(names) == 10
    for n in names:
        assert (a / n).read_bytes() == (b / n).read_bytes(), n
    assert (a / "lineitem.parquet").read_bytes() != (c / "lineitem.parquet").read_bytes()


def test_sync_generator_is_byte_identical_per_seed():
    def stream(seed):
        src = datagen.SyncSource(seed, initial_rows=2_000, delta_new=50,
                                 delta_restamp=50, max_deltas=3)
        deltas = [src.initial] + [src.next_delta() for _ in range(3)]
        return [_bytes(src.allowlist)] + [_bytes(d.table) for d in deltas], deltas

    one, deltas = stream(5)
    two, _ = stream(5)
    assert one == two
    assert stream(6)[0] != one
    # each delta's stamps lie after every earlier stamp, with ties inside
    prev = None
    for d in deltas:
        ts = d.table.column(datagen.RK).to_pylist()
        assert len(set(ts)) < len(ts)
        if prev is not None:
            assert min(ts) > prev
        prev = max(ts)
        ids = d.table.column(datagen.PK).to_pylist()
        assert len(set(ids)) == len(ids)


def _post(port: int, ids: list[str]) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
    body = json.dumps([{"id": i, "values": {}} for i in ids])
    conn.request("POST", "/api/v1/metadata/visitor/custom/value", body,
                 {"content-type": "application/json"})
    r = conn.getresponse()
    out = r.status, json.loads(r.read())
    conn.close()
    return out


def _drain(port: int) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
    conn.request("GET", "/_bench/drain")
    out = json.loads(conn.getresponse().read())
    conn.close()
    return out


def _session(seed: int, windows: list[list[list[str]]]) -> list:
    server = mock_api.MockServer(seed, service_s=0.0, threads=2)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        port = server.server_address[1]
        seen = []
        for batches in windows:
            for b in batches:
                for _ in range(2):  # a planted 503 must clear on the retry
                    seen.append(_post(port, b))
            _drain(port)
        return seen
    finally:
        server.shutdown()
        server.server_close()
        t.join(timeout=10)
        assert not t.is_alive()


def test_mock_api_faults_reproduce_exactly():
    ids = [f"id-{i:05d}" for i in range(6_000)]
    batches = [ids[i:i + 50] for i in range(0, len(ids), 50)]
    windows = [batches[i:i + 10] for i in range(0, len(batches), 10)]
    first = _session(11, windows)
    assert _session(11, windows) == first
    assert _session(12, windows) != first

    rejected, k = [], 0
    for w, win in enumerate(windows):
        hit = [j for j in range(len(win)) if first[2 * (k + j)][0] == 503]
        assert hit == [j for j in range(len(win)) if mock_api.planted_503(11, w, j)]
        assert len(hit) == 1  # one 503 per window
        for j, b in enumerate(win):
            (s1, p1), (s2, p2) = first[2 * (k + j)], first[2 * (k + j) + 1]
            assert s2 == 200
            ok = p2 if s1 == 503 else p1
            rejected += [e["id"] for e in ok["errors"]]
        k += len(win)
    assert rejected == [i for i in ids if mock_api.planted_reject(11, i)]
    assert rejected


def test_tail_picks_highest_percentile_with_ten_beyond():
    for n, want in [(19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0),
                    (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0),
                    (10_000, 99.9)]:
        vals = [float(v) for v in range(n, 0, -1)]
        p, v = tail(vals)
        assert p == want, n
        assert v == percentile(sorted(vals), p)
        if n >= 20:
            assert sum(x > v for x in vals) >= 10
            nxt = [q for q in (75.0, 90.0, 95.0, 99.0, 99.9) if q > p]
            if nxt:
                assert sum(x > percentile(sorted(vals), nxt[0]) for x in vals) < 10


def test_registry_summary_does_not_depend_on_the_mix():
    import run

    def summary(names):
        lat = {"a": 1.0, "b": 2.0, "c": 3.0, "d": 9.0}
        log = SimpleNamespace(
            names=names, latency=[lat[n] for n in names], traced=[False] * len(names),
            records=None, ops_per_pass=4, failed=0, attempted=len(names))
        e2e, _, named = run._summarise(log, False, {})
        return e2e, named["mix_wall_s"][0]

    one_pass = summary(list("abcd"))
    assert one_pass == ({"op_s_p50": 2.5, "throughput_per_s": 4 / 15.0}, 15.0)
    # a window that ends partway through a pass, with two samples of the
    # cheap queries and one of the expensive one, gives the same figures
    assert summary(list("abcdabc")) == one_pass
