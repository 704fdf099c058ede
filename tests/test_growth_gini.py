"""Growth accounting, Gini coefficient, seasonal residuals, session
entry/exit — python-recompute pinned."""

from __future__ import annotations

import decimal
from collections import Counter, defaultdict
from datetime import date

from pyspark.sql import functions as F

from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
    gini_coefficient,
    growth_accounting,
    seasonal_residuals,
)
from redshift_to_pendo_api_data_pipeline_spark.operators.temporal import (
    session_entry_exit,
    sessionize,
)
from redshift_to_pendo_api_data_pipeline_spark.sources.tables import load_table


def test_growth_accounting_matches_python(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    got = {r["month_idx"]: r for r in growth_accounting(
        orders, "o_custkey", "o_orderdate").collect()}
    months = defaultdict(set)
    for r in orders.select("o_custkey", "o_orderdate").collect():
        d = r["o_orderdate"]
        months[r["o_custkey"]].add(d.year * 12 + d.month - 1)
    last_m = max(m for ms in months.values() for m in ms)
    agg = defaultdict(lambda: Counter())
    for u, ms in months.items():
        sms = sorted(ms)
        for i, m in enumerate(sms):
            prev = sms[i - 1] if i > 0 else None
            nxt = sms[i + 1] if i + 1 < len(sms) else None
            agg[m]["n_active"] += 1
            if prev is None:
                agg[m]["n_new"] += 1
            elif prev == m - 1:
                agg[m]["n_retained"] += 1
            else:
                agg[m]["n_resurrected"] += 1
            if m == last_m:
                agg[m]["n_censored"] += 1
            elif nxt is None or nxt > m + 1:
                agg[m]["n_churned_after"] += 1
    for m, c in agg.items():
        g = got[m]
        for k in ("n_active", "n_new", "n_retained", "n_resurrected",
                  "n_churned_after", "n_censored"):
            assert g[k] == c[k], (m, k)
    # waterfall invariant: the classes partition the actives
    for r in got.values():
        assert r["n_new"] + r["n_retained"] + r["n_resurrected"] == r["n_active"]


def test_gini_known_values(spark):
    # perfectly equal: gini 0; one-member group: 0; 2-member extreme
    rows = [("eq", i, 10.0) for i in range(4)] + [
        ("solo", 1, 7.0),
        ("ext", 1, 0.0), ("ext", 2, 100.0),
    ]
    df = spark.createDataFrame(rows, ["g", "mem", "v"])
    got = {r["g"]: r["gini_ppm"] for r in gini_coefficient(
        df, "g", "mem", "v").collect()}
    assert got["eq"] == 0
    assert got["solo"] == 0
    # x=(0, 10000): gini = (2*(1*0+2*10000) - 3*10000)/(2*10000) = 0.5
    assert got["ext"] == 500000


def test_gini_matches_python(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    got = {r["o_orderpriority"]: r for r in gini_coefficient(
        orders, "o_orderpriority", "o_custkey", "o_totalprice").collect()}
    rev = defaultdict(lambda: defaultdict(int))
    for r in orders.collect():
        rev[r["o_orderpriority"]][r["o_custkey"]] += int(
            decimal.Decimal(str(r["o_totalprice"])).quantize(
                decimal.Decimal("0.01")) * 100
        )
    for g, members in rev.items():
        xs = sorted(members.items(), key=lambda kv: (kv[1], kv[0]))
        n = len(xs)
        sx = sum(v for _, v in xs)
        six = sum((i + 1) * v for i, (_, v) in enumerate(xs))
        want = (2 * six - (n + 1) * sx) * 1000000 // (n * sx)
        assert got[g]["gini_ppm"] == want
        assert got[g]["n_members"] == n and got[g]["total_fp"] == sx


def test_seasonal_residuals_matches_python(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    got = {(r["event_type"], r["day"]): r for r in seasonal_residuals(
        ev, "event_type", "ts").collect()}
    daily = Counter()
    for r in ev.select("event_type", F.col("ts").cast("date").alias("d")).collect():
        daily[(r["event_type"], r["d"])] += 1
    base = defaultdict(lambda: [0, 0])
    for (k, d), n in daily.items():
        dow = ((d - date(1970, 1, 1)).days + 4) % 7
        base[(k, dow)][0] += n
        base[(k, dow)][1] += 1
    for (k, d), n in daily.items():
        dow = ((d - date(1970, 1, 1)).days + 4) % 7
        tot, days = base[(k, dow)]
        num = (n * days - tot) * 1000000
        want = abs(num) // tot * (1 if num >= 0 else -1)
        g = got[(k, str(d))]
        assert g["n"] == n and g["resid_ppm"] == want
    # residuals of a dow-group sum to ~0 (floor-div drift < days)
    for (k, dow), (tot, days) in base.items():
        s = sum(
            got[(k2, d2)]["resid_ppm"]
            for (k2, d2) in got
            if k2 == k and got[(k2, d2)]["dow"] == dow
        )
        assert abs(s) <= 1000000  # bounded rounding drift


def test_session_entry_exit_consistent_with_sessionize(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = session_entry_exit(ev, "user_id", "ts", "event_id", "event_type")
    rows = out.collect()
    s = sessionize(ev, "user_id", "ts", "event_id").select(
        "user_id", "session_id", "ts", "event_id", "event_type"
    ).collect()
    sessions = defaultdict(list)
    for r in s:
        sessions[(r["user_id"], r["session_id"])].append(
            (r["ts"], r["event_id"], r["event_type"])
        )
    want = Counter()
    bounces = Counter()
    for evs in sessions.values():
        evs.sort()
        key = (evs[0][2], evs[-1][2])
        want[key] += 1
        if len(evs) == 1:
            bounces[key] += 1
    got = {(r["entry"], r["exit"]): r for r in rows}
    assert {k: r["n_sessions"] for k, r in got.items()} == dict(want)
    for k, r in got.items():
        assert r["n_bounces"] == bounces.get(k, 0)
    # total sessions match
    assert sum(want.values()) == len(sessions)


def test_label_margin_screen_matches_numpy(spark, sf_dir):
    import numpy as np

    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        label_margin_screen,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    got = {r["vec_id"]: r for r in label_margin_screen(
        emb, "embedding", "vec_id", "label").collect()}
    rows = emb.collect()
    by_label = defaultdict(list)
    for r in rows:
        by_label[r["label"]].append(
            np.round(np.array(r["embedding"]) * 1e6).astype(np.int64)
        )
    sums = {
        lab: np.sum(vs, axis=0).astype(object)
        for lab, vs in by_label.items()
    }
    qq = {lab: int((s * s).sum()) for lab, s in sums.items()}
    for r in rows[:100]:
        v = np.round(np.array(r["embedding"]) * 1e6).astype(np.int64).astype(
            object
        )
        vv = int((v * v).sum())
        cos = {
            lab: round(int((v * s).sum()) / (vv ** 0.5 * qq[lab] ** 0.5), 6)
            for lab, s in sums.items()
        }
        own = cos[r["label"]]
        other = max(c for lab, c in cos.items() if lab != r["label"])
        g = got[r["vec_id"]]
        assert abs(g["cos_own"] - own) < 1e-9
        assert abs(g["cos_best_other"] - other) < 1e-9
        assert abs(g["margin"] - round(own - other, 6)) < 1e-9


def test_daily_autocorrelation_known_series(spark):
    from datetime import date, timedelta

    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        daily_autocorrelation,
    )

    d0 = date(2024, 1, 1)
    rows = []
    # alternating 1,3,1,3,... -> strong NEGATIVE lag-1, positive lag-2
    for i in range(14):
        rows += [("alt", d0 + timedelta(days=i))] * (1 if i % 2 == 0 else 3)
    df = spark.createDataFrame(rows, ["k", "d"]).select(
        "k", F.col("d").cast("timestamp").alias("ts")
    )
    out = {r["k"]: r for r in daily_autocorrelation(
        df, "k", "ts", lags=[1, 2]).collect()}
    # exact python recompute
    xs = [1 if i % 2 == 0 else 3 for i in range(14)]
    n, s = len(xs), sum(xs)
    c = [n * x - s for x in xs]
    den = sum(v * v for v in c)
    for lag, col in ((1, "acf1_ppm"), (2, "acf2_ppm")):
        num = sum(c[i] * c[i + lag] for i in range(n - lag)) * 1000000
        want = abs(num) // den * (1 if num >= 0 else -1)
        assert out["alt"][col] == want
    assert out["alt"]["acf1_ppm"] < 0 < out["alt"]["acf2_ppm"]


def test_daily_autocorrelation_gap_breaks_pairing(spark):
    from datetime import date, timedelta

    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        daily_autocorrelation,
    )

    d0 = date(2024, 1, 1)
    # days 0,1,2 then a gap, then 10,11: lag-1 pairs = (0,1),(1,2),(10,11)
    days = [0, 1, 2, 10, 11]
    rows = [("g", d0 + timedelta(days=i)) for i in days for _ in range(i + 1)]
    df = spark.createDataFrame(rows, ["k", "d"]).select(
        "k", F.col("d").cast("timestamp").alias("ts")
    )
    out = daily_autocorrelation(df, "k", "ts", lags=[1]).first()
    xs = [i + 1 for i in days]
    n, s = len(xs), sum(xs)
    c = [n * x - s for x in xs]
    den = sum(v * v for v in c)
    # only consecutive-day pairs count
    pairs = [(0, 1), (1, 2), (3, 4)]
    num = sum(c[a] * c[b] for a, b in pairs) * 1000000
    want = abs(num) // den * (1 if num >= 0 else -1)
    assert out["acf1_ppm"] == want


def test_wav_encode_decode_roundtrip_identity(spark):
    import numpy as np

    from redshift_to_pendo_api_data_pipeline_spark.operators.multimodal import (
        WavCodec,
        wav_encode,
    )

    rng = np.random.default_rng(7)
    s = rng.integers(-32768, 32767, size=2048, dtype=np.int16)
    pcm, rate = WavCodec._pcm(wav_encode(s, 22050))
    assert rate == 22050
    assert np.array_equal(pcm.astype(np.int16), s)
    # edge shapes: empty and single-sample clips survive the container
    for n in (0, 1):
        short = s[:n]
        pcm2, _ = WavCodec._pcm(wav_encode(short, 8000))
        assert np.array_equal(pcm2.astype(np.int16), short)


def test_arrival_burstiness_matches_python(spark, sf_dir):
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        arrival_burstiness,
    )

    ev = load_table(spark, sf_dir, "events")
    got = {r["event_type"]: r for r in arrival_burstiness(
        ev, "event_type", "ts", "event_id").collect()}
    by_k = defaultdict(list)
    for r in ev.select("event_type", "ts", "event_id").collect():
        us = int(r["ts"].timestamp() * 1_000_000)
        by_k[r["event_type"]].append((us, r["event_id"]))
    for k, rows in by_k.items():
        rows.sort()
        gaps = [b[0] - a[0] for a, b in zip(rows, rows[1:])]
        m, s = len(gaps), sum(gaps)
        sq = sum(g * g for g in gaps)
        g = got[k]
        assert g["n_gaps"] == m
        assert g["mean_gap_us"] == s // m
        assert g["cv2_ppm"] == (m * sq - s * s) * 1000000 // (s * s)


def test_k_core_peels_cascade(spark):
    from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
        k_core,
    )

    # K4 clique {1,2,3,4} + a chain 4-5-6 hanging off it: the 2-core is
    # exactly the clique (5 drops, THEN 6 cascades — needs >1 round)
    import itertools as it

    edges = list(it.combinations([1, 2, 3, 4], 2)) + [(4, 5), (5, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["core_degree"] for r in k_core(df, 2).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert all(d == 3 for d in got.values())
    # 3-core of the same graph is still the clique; 4-core is empty
    assert {r["node"] for r in k_core(df, 3).collect()} == {1, 2, 3, 4}
    assert k_core(df, 4).count() == 0
    # fixpoint property: every member keeps >= k in-core neighbors
    core2 = {r["node"] for r in k_core(df, 2).collect()}
    from collections import defaultdict as dd

    adj = dd(set)
    for a, b in edges:
        if a in core2 and b in core2:
            adj[a].add(b)
            adj[b].add(a)
    assert all(len(adj[n]) >= 2 for n in core2)
    # a 110-node path has an empty 2-core; each peel only trims the
    # two end nodes, so this needs ~55 rounds to reach the fixpoint
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(109)], ["src", "dst"]
    )
    assert k_core(path, 2).count() == 0


def test_consistent_sharding_minimal_movement(spark, sf_dir):
    import hashlib

    from redshift_to_pendo_api_data_pipeline_spark.operators.layout import (
        consistent_ring,
        shard_assignment,
    )

    cust = load_table(spark, sf_dir, "customer")
    s8 = [f"shard{i}" for i in range(8)]
    a = {r["c_custkey"]: r["shard"] for r in shard_assignment(
        cust, "c_custkey", s8, 16).select("c_custkey", "shard").collect()}
    b = {r["c_custkey"]: r["shard"] for r in shard_assignment(
        cust, "c_custkey", s8 + ["shard8"], 16).select(
        "c_custkey", "shard").collect()}
    # python recompute of the ring lookup
    ring = consistent_ring(s8, 16)
    for k, s in list(a.items())[:50]:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
        cw = [x for x in ring if x[0] >= h]
        want = (cw[0] if cw else ring[0])[1]
        assert s == want
    # the consistent-hash property: movers only move TO the new shard,
    # and nothing rebalances between old shards
    movers = {k for k in a if a[k] != b[k]}
    assert all(b[k] == "shard8" for k in movers)
    # movement is ~1/9, not ~8/9 (modulo hashing); generous bound 3x
    assert len(movers) <= 3 * len(a) // 9
    assert len(movers) > 0
