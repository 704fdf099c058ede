"""Seeded input generators for the benchmark.

Two families, both pure functions of their seed (same seed, same bytes):

- ``registry_tables``: the TPC-H-ish corpus the query registry reads
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), with the column names, types and value ranges of the
  repository's test fixtures, at two scales (``sf0.01``, ``sf0.1``).
- ``SyncSource``: a ``pendo_integration_visitor``-shaped table (FIXTURES.md,
  Table 2) with a UUID primary key and a tied ``last_updated`` replication
  key, its UUID allowlist, and the delta files appended between syncs.

Nothing here imports Spark or the program; the benchmark writes these
tables before its clock starts.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator changes, so cached inputs are rebuilt.
GENERATOR_VERSION = "1"

REGISTRY_SEED = 42

ROWS = {
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, documents=500, embeddings=500),
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                  lineitem=600000, events=100000, documents=5000, embeddings=2000),
}

_WORDS = (
    "spark window merge table column vector stream value data small join filter"
    " big group hash customer sort order slow line part fast row the agg key"
    " query a scan batch"
).split()
_PART_ADJ = "red blue small large new old hot cold".split()
_PART_NOUN = "bolt widget ring plate rod gear anvil nut".split()
_EPOCH = dt.datetime(1970, 1, 1)


def _us(ts: dt.datetime) -> int:
    return (ts - _EPOCH) // dt.timedelta(microseconds=1)


def _ts_col(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _days(rng, n, start: dt.datetime, span_days: int) -> pa.Array:
    day_us = 86_400 * 1_000_000
    return _ts_col(_us(start) + rng.integers(0, span_days + 1, n) * day_us)


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def registry_tables(scale: str, seed: int = REGISTRY_SEED) -> dict[str, pa.Table]:
    """All ten registry tables at ``scale`` (a key of ``ROWS``)."""
    rows = ROWS[scale]
    rng = np.random.Generator(np.random.PCG64(seed))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = rows["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
    })
    n = rows["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = rows["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n),
                                            rng.choice(_PART_NOUN, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    })
    n, n_cust = rows["orders"], rows["customer"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _days(rng, n, dt.datetime(1995, 1, 1), 2403),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })
    n = rows["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, dt.datetime(1995, 1, 2), 2498),
    })
    n = rows["events"]
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n, n)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts_col(_us(dt.datetime(2024, 1, 1)) + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    t["documents"] = _documents(rng, rows["documents"])
    n = rows["embeddings"]
    vec = rng.standard_normal((n, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents; one in twenty is a near-duplicate of an
    earlier document (a copy with one word swapped and `` dup``
    appended), so the dedup queries have clusters to find."""
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "es", "de", "fr", "zh"], n,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def write_table(table: pa.Table, path: str) -> None:
    """One snappy parquet file, one row group, no pandas metadata."""
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy", row_group_size=max(table.num_rows, 1))


def write_registry(scale: str, out_dir: str, seed: int = REGISTRY_SEED) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in registry_tables(scale, seed).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# sync_catchup inputs


SYNC_TABLE = "pendo_integration_visitor"
PK = "platform_user_public_id"
RK = "last_updated"


@dataclass
class Delta:
    """One delta file: new keys plus re-stamped existing keys."""
    table: pa.Table
    expected_ids: frozenset      # allowlisted keys in this delta
    expected_bookmark: dt.datetime  # max(last_updated) over those rows


class SyncSource:
    """The visitor table, its allowlist and a stream of deltas.

    ``initial_rows`` keys exist at the initial load; every delta adds
    ``delta_new`` fresh keys and re-stamps ``delta_restamp`` existing ones.
    With half the keys allowlisted, the default delta emits about 5,000
    records: enough to fill the reference's ten concurrent 500-record POSTs
    (BASELINE.md: ``Semaphore(10)``, 500 records per POST) once per cycle.
    Stamps are whole seconds drawn with replacement from a window much
    smaller than the row count, so ``last_updated`` has ties; each delta's
    window lies after every earlier stamp. The allowlist holds about half of
    all keys (initial and future) plus ``allow_extra`` UUIDs that match
    nothing.
    """

    def __init__(self, seed: int, initial_rows: int = 16_560,
                 delta_new: int = 5_000, delta_restamp: int = 5_000,
                 max_deltas: int = 40, allow_extra: int = 10_000) -> None:
        self.rng = np.random.Generator(np.random.PCG64([seed, 7]))
        self.delta_new, self.delta_restamp = delta_new, delta_restamp
        self.max_deltas = max_deltas
        n_keys = initial_rows + delta_new * max_deltas
        self.keys = _uuids(self.rng, n_keys)
        allowed = self.rng.random(n_keys) < 0.5
        self.allowed = allowed
        self.allowlist = pa.table({"id": list(self.keys[allowed])
                                   + list(_uuids(self.rng, allow_extra))})
        self.n_live = initial_rows
        self._t0 = _us(dt.datetime(2024, 1, 1))
        self._cycle = 0
        self.initial = self._rows(np.arange(initial_rows), 180 * 86_400, initial_rows // 4)

    def _rows(self, idx: np.ndarray, span_s: int, distinct: int) -> Delta:
        rng = self.rng
        n = len(idx)
        slots = np.sort(rng.choice(span_s, size=min(distinct, span_s), replace=False))
        stamps = self._t0 + slots[rng.integers(0, len(slots), n)] * 1_000_000
        table = pa.table({
            "user_id": pa.array(rng.integers(1, 2**31 - 1, n), pa.int32()),
            "studio_id": pa.array(rng.integers(1, 50_000, n), pa.int32()),
            RK: _ts_col(stamps),
            "platform_account_id": pa.array(rng.integers(1, 2**40, n), pa.int64()),
            PK: self.keys[idx].tolist(),
            "account_owner": pa.array(rng.random(n) < 0.3),
        })
        mask = self.allowed[idx]
        self._t0 += (span_s + 1) * 1_000_000
        bm = _EPOCH + dt.timedelta(microseconds=int(stamps[mask].max()))
        return Delta(table, frozenset(self.keys[idx][mask].tolist()), bm)

    def next_delta(self) -> Delta:
        """New keys, plus existing keys re-stamped later than every prior
        row; each key appears at most once per delta."""
        if self._cycle >= self.max_deltas:
            raise RuntimeError("delta key pool exhausted")
        self._cycle += 1
        new = np.arange(self.n_live, self.n_live + self.delta_new)
        old = self.rng.choice(self.n_live, size=self.delta_restamp, replace=False)
        self.n_live += self.delta_new
        return self._rows(np.concatenate([new, old]), 3_600, 600)


def _uuids(rng, n: int) -> np.ndarray:
    """``n`` random version-4 UUID strings."""
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    raw[:, 6] = (raw[:, 6] & 0x0F) | 0x40
    raw[:, 8] = (raw[:, 8] & 0x3F) | 0x80
    h = raw.tobytes().hex()
    return np.array([
        f"{h[i:i + 8]}-{h[i + 8:i + 12]}-{h[i + 12:i + 16]}-{h[i + 16:i + 20]}-{h[i + 20:i + 32]}"
        for i in range(0, 32 * n, 32)
    ])
