"""Custom stateful streaming operators (applyInPandasWithState).

The reference's incremental loop is batch-with-bookmarks; Structured
Streaming owns that natively (streaming/incremental.py). This module is
the genuinely-stateful surface Spark's built-ins can't express: per-key
session tracking whose OPEN session must survive micro-batch boundaries
and whose CLOSED sessions stream out incrementally.

Why not ``session_window``: the built-in emits a session only as an
aggregate row and (pre-watermark-close) re-emits updates; the custom
operator emits each closed session exactly once, in append mode, with
arbitrary per-session payload — and is the documented pattern for
"custom stateful operator" the engine needs (SURVEY.md §2.8 widened
surface; batch twin: operators/temporal.session_stats).

State per key is three longs (session start, last event, event count) —
at 100 TB the state store holds |active users| x 24 bytes, bounded by
key cardinality, not event volume; events stream through without
accumulating.

All seven operators share one state step, ``_per_key``: it owns the
GroupState protocol (empty chunks dropped, the rest concatenated, state
read or defaulted, updated, rows emitted) and the one
``applyInPandasWithState`` call; each operator keeps only its own sort
and arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_STATE_SCHEMA = "start long, last long, n long"  # epoch micros


def _micros(series: pd.Series) -> np.ndarray:
    return series.astype("datetime64[us]").astype("int64").to_numpy()


def _rows(rows: list[tuple], columns: list[str], *us_cols: str):
    """Output frame from tuples, the ``us_cols`` epoch micros turned back
    into timestamps; None when there is nothing to emit."""
    if not rows:
        return None
    out = pd.DataFrame(rows, columns=columns)
    for c in us_cols:
        out[c] = pd.to_datetime(out[c], unit="us")
    return out


def _per_key(
    df: DataFrame,
    keys: list[str],
    out_schema: str,
    state_schema: str,
    initial: tuple,
    step: Callable[[Tuple, pd.DataFrame, tuple], tuple],
) -> DataFrame:
    """The one per-key state step of this module. With NoTimeout Spark
    calls it only for keys that have rows in the micro-batch; empty
    chunks are dropped, the rest concatenated, and ``step(key, batch,
    state)`` gets the key's carried state, or ``initial`` before its
    first batch. ``step`` returns ``(new_state, rows)``: the state is
    updated unless ``new_state`` is None (then it stays exactly as it
    was), and ``rows`` is emitted when it is a non-empty frame. Append
    mode, so each emitted row leaves exactly once."""

    def fn(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        new_state, rows = step(
            key,
            pd.concat(chunks, ignore_index=True),
            state.get if state.exists else initial,
        )
        if new_state is not None:
            state.update(new_state)
        if rows is not None and len(rows):
            yield rows

    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Incremental gap-sessionization over a streaming DataFrame.

    Emits one row per CLOSED session (a gap > gap_seconds ended it);
    the open tail session stays in the state store until a later batch
    closes it. Within a batch the gap scan is vectorized (one numpy diff
    + split per user-batch, no per-event Python). Events may arrive
    unordered within a batch (sorted here); cross-batch late events are
    the caller's watermark policy.
    """
    gap_us = int(gap_seconds) * 1_000_000

    def step(key, batch, state):
        (user,) = key
        start, last, n = state
        closed: list[tuple] = []
        ts = np.sort(_micros(batch[ts_col]))
        # stitch the open session in front so the diff sees the
        # cross-batch gap too
        if last is not None:
            gaps = np.diff(np.concatenate(([last], ts)))
        else:
            gaps = np.diff(ts)
            start, last, n = int(ts[0]), int(ts[0]), 1
            ts = ts[1:]
        breaks = np.nonzero(gaps[: len(ts)] > gap_us)[0]  # index into ts
        prev = 0
        for b in breaks:
            seg = ts[prev:b]
            if len(seg):
                last, n = int(seg[-1]), n + len(seg)
            closed.append((user, start, last, n))
            start, last, n = int(ts[b]), int(ts[b]), 1
            prev = b + 1
        tail = ts[prev:]
        if len(tail):
            last, n = int(tail[-1]), n + len(tail)
        return (start, last, n), _rows(
            closed,
            ["user_id", "session_start", "session_end", "n_events"],
            "session_start", "session_end",
        )

    return _per_key(
        events, [user_col], _OUT_SCHEMA, _STATE_SCHEMA, (None, None, 0), step
    )


_DEB_OUT_SCHEMA = (
    "user_id long, event_type string, event_id long, ts timestamp"
)
_DEB_STATE_SCHEMA = "last_kept long"  # epoch micros of the last KEPT event


def streaming_debounce(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    ts_col: str = "ts",
    gap_seconds: int = 60,
) -> DataFrame:
    """KEPT-event debounce over a stream: emit an event only when it is
    >= gap_seconds after the last EMITTED event of its (user, type) —
    the semantics the batch `temporal.debounce_events` docstring defers
    to streaming, because "distance to the last kept event" is a running
    state a stateless window cannot express (each kept event resets the
    clock, so a burst longer than the gap still emits only its first
    event; lag-based debounce would re-admit every gap_seconds).

    State per key: ONE long (last kept timestamp) — bounded by key
    cardinality. Within a batch the scan is a vectorized loop over the
    sorted per-key events; across batches the state store carries the
    clock. Exactly-once per kept event in append mode."""
    gap_us = int(gap_seconds) * 1_000_000

    def step(key, batch, state):
        user, etype = key
        (last_kept,) = state
        order = np.lexsort((batch[id_col].to_numpy(), _micros(batch[ts_col])))
        ts = _micros(batch[ts_col])[order]
        ids = batch[id_col].to_numpy()[order]
        keep_rows = []
        for i in range(len(ts)):
            t = int(ts[i])
            if last_kept is None or t - last_kept >= gap_us:
                keep_rows.append((user, etype, int(ids[i]), t))
                last_kept = t
        return (last_kept,), _rows(
            keep_rows, ["user_id", "event_type", "event_id", "ts"], "ts"
        )

    return _per_key(
        events, [user_col, type_col], _DEB_OUT_SCHEMA, _DEB_STATE_SCHEMA,
        (None,), step,
    )


_ANOM_OUT_SCHEMA = (
    "user_id long, event_id long, ts timestamp, v_cents long, is_anomaly int"
)
_ANOM_STATE_SCHEMA = "vals array<long>"  # trailing cents, most recent last


def streaming_anomalies(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    frame: int = 20,
    min_n: int = 10,
    z: int = 2,
) -> DataFrame:
    """Streaming twin of analytics.windowed_anomalies: per-key trailing-
    window z-score flags where the window must SURVIVE micro-batch
    boundaries — the last frame-1 values ride the state store, so an
    event arriving at the head of a new batch is still judged against
    its full history (a stateless per-batch window would see an empty
    frame and go silent after every trigger).

    Same exact integer contract as the batch flavor: values fixed-point
    to cents with floor, the z-test evaluated in cross-multiplied BIGINT
    form — flags agree bit-for-bit with the batch operator when events
    arrive in timestamp order (the streaming ordering caveat; out-of-
    order arrivals are judged against the history as-arrived).

    State per key: at most frame-1 longs — bounded by key cardinality
    times the frame, independent of stream length. Within a batch the
    sliding sums are one numpy cumsum, no per-event Python arithmetic.
    """
    hist = frame - 1

    def step(key, batch, state):
        (user,) = key
        prev = np.array(state[0], dtype="int64")
        batch = batch.sort_values([ts_col, id_col])
        v = np.floor(batch[value_col].to_numpy() * 100).astype("int64")
        buf = np.concatenate([prev, v])
        cs = np.concatenate(([0], np.cumsum(buf)))
        css = np.concatenate(([0], np.cumsum(buf * buf)))
        j = np.arange(len(prev), len(buf))          # new values' positions
        lo = np.maximum(j - hist, 0)
        n = j + 1 - lo
        s = cs[j + 1] - cs[lo]
        ss = css[j + 1] - css[lo]
        lhs = (v * n - s) ** 2
        rhs = z * z * (n * ss - s * s)
        flag = ((n >= min_n) & (lhs > rhs)).astype("int32")
        return (buf[-hist:].tolist() if hist else [],), pd.DataFrame(
            {
                "user_id": user,
                "event_id": batch[id_col].to_numpy(),
                "ts": batch[ts_col].to_numpy(),
                "v_cents": v,
                "is_anomaly": flag,
            }
        )

    return _per_key(
        events, [user_col], _ANOM_OUT_SCHEMA, _ANOM_STATE_SCHEMA, ([],), step
    )


_FUNNEL_OUT_SCHEMA = "user_id long, step_idx int, step string, ts timestamp"
_FUNNEL_STATE_SCHEMA = "stage int, t_reach long"  # next step index, epoch micros


def streaming_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming twin of analytics.sequential_funnel: per-user ordered
    conversion tracking where the progression state (how far this user
    got, and when) must SURVIVE micro-batch boundaries — a user who
    signed up in batch 1 and purchased in batch 40 is exactly the case
    a per-batch join chain cannot see. Emits one row per stage ADVANCE
    (append mode, each reach emitted exactly once), carrying the reach
    timestamp; the consumer aggregates counts per step.

    Semantics match the batch operator when events arrive in ts order:
    a user reaches step i at their first step-i event at-or-after their
    step-(i-1) reach time. State per key: TWO scalars (stage index +
    reach micros) — bounded by user cardinality, independent of stream
    length. Within a batch the scan is one pass over the user's sorted
    batch slice; events of non-next types are skipped without state
    churn."""
    step_of = {s: i for i, s in enumerate(steps)}
    n_steps = len(steps)

    def step(key, batch, state):
        (user,) = key
        stage, t_reach = state
        if stage >= n_steps:
            return None, None
        # Secondary key = funnel-stage index so same-timestamp events are
        # scanned in funnel order; ts-only stable sort could visit step
        # i+1 before step i at an equal ts and miss an advance the batch
        # operator's ts >= t_reach semantics would count.
        batch["__step_ord"] = (
            batch[type_col].map(step_of).fillna(n_steps).astype("int64")
        )
        batch = batch.sort_values([ts_col, "__step_ord"])
        ts_us = _micros(batch[ts_col])
        types = batch[type_col].to_numpy()
        out = []
        for t, ty in zip(ts_us, types):
            if stage >= n_steps:
                break
            if step_of.get(ty) == stage and (t_reach is None or t >= t_reach):
                out.append((user, stage, steps[stage], t))
                t_reach = int(t)
                stage += 1
        return (stage, t_reach), _rows(
            out, ["user_id", "step_idx", "step", "ts"], "ts"
        )

    return _per_key(
        events, [user_col], _FUNNEL_OUT_SCHEMA, _FUNNEL_STATE_SCHEMA,
        (0, None), step,
    )


_PATTERN_OUT_SCHEMA = "user_id long, new_matches long, total_matches long"
_PATTERN_STATE_SCHEMA = "tail string, total long"


def streaming_pattern_counts(
    events: DataFrame,
    pattern: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    max_state: int = 4096,
) -> DataFrame:
    """Streaming twin of analytics.sequence_pattern_counts
    (MATCH_RECOGNIZE-lite / CEP): per user, count NON-OVERLAPPING regex
    matches over the chronological event-symbol string as it grows
    across micro-batches — the pattern spanning a batch boundary (a
    signup in batch 1 whose purchase lands in batch 40) is exactly what
    a per-batch scan cannot see.

    State per key: the unmatched SUFFIX of the symbol string (finditer
    consumes through the end of the last completed match; the text
    after it contains no complete match, so re-scanning tail+next-batch
    never double-counts) plus the cumulative count — two scalars.  The
    tail is capped at ``max_state`` symbols (oldest dropped), so state
    is bounded per key regardless of stream length; a match whose open
    prefix is older than max_state symbols is missed — the documented
    bounded-state trade every CEP engine makes.

    Exactness contract: counts equal the batch operator's when (a)
    events arrive across batches in (ts, tiebreak) order — the same
    in-order assumption streaming_funnel documents — and (b) the
    pattern has an unambiguous terminal symbol (e.g. 's[vc]*p'): a
    pattern whose GREEDY tail could extend into a later batch ('sv*')
    consumes differently incrementally than globally (same count at the
    boundary, but a different consumption point). Emits one row per
    (user, batch) with new matches (append mode, each match counted
    exactly once)."""
    import re

    rx = re.compile(pattern)

    def step(key, batch, state):
        (user,) = key
        tail, total = state
        batch = batch.sort_values([ts_col, tiebreak_col])
        seq = tail + "".join(batch[type_col].str[:1].tolist())
        last_end, new = 0, 0
        for m in rx.finditer(seq):
            last_end, new = m.end(), new + 1
        tail = seq[last_end:][-max_state:]
        total += new
        return (tail, total), _rows(
            [(user, new, total)] if new else [],
            ["user_id", "new_matches", "total_matches"],
        )

    return _per_key(
        events, [user_col], _PATTERN_OUT_SCHEMA, _PATTERN_STATE_SCHEMA,
        ("", 0), step,
    )


_CUSUM_OUT_SCHEMA = "g string, t long, s long, alarm int"
_CUSUM_STATE_SCHEMA = "p long, minp long"


def streaming_cusum(
    points: DataFrame,
    group_col: str = "g",
    t_col: str = "t",
    value_col: str = "x",
    target_col: str = "target",
    k_col: str = "k",
    h_mult: int = 4,
) -> DataFrame:
    """Streaming twin of analytics.cusum_alarms: the one-sided CUSUM
    recursion S_t = max(0, S_{t-1} + (x - target - k)) run against a
    FIXED reference (target/k ride each row as columns — the control-
    chart deployment shape: the reference is trained offline, the
    chart monitors live), with the (P, minP) pair riding the state
    store so the chart survives micro-batch boundaries.

    State per key: exactly two longs, independent of stream length.
    Within a batch the recursion is the same prefix closed form the
    batch operator uses — cumsum + running minimum, vectorized, no
    per-row Python. Bit-equal to the batch twin on in-order arrival
    (pinned by test)."""

    def step(key, batch, state):
        (g,) = key
        p0, minp0 = state
        batch = batch.sort_values(t_col)
        x = batch[value_col].to_numpy().astype("int64")
        target = batch[target_col].to_numpy().astype("int64")
        k = batch[k_col].to_numpy().astype("int64")
        p = p0 + np.cumsum(x - target - k)
        minp = np.minimum.accumulate(np.minimum(p, minp0))
        s = p - minp
        alarm = (s > h_mult * k).astype("int32")
        return (int(p[-1]), int(minp[-1])), pd.DataFrame(
            {
                "g": g,
                "t": batch[t_col].to_numpy().astype("int64"),
                "s": s,
                "alarm": alarm,
            }
        )

    return _per_key(
        points, [group_col], _CUSUM_OUT_SCHEMA, _CUSUM_STATE_SCHEMA, (0, 0), step
    )


_LATENESS_OUT_SCHEMA = "g string, arr long, late_us long"
_LATENESS_STATE_SCHEMA = "max_ts long"


def streaming_lateness(
    events: DataFrame,
    group_col: str = "g",
    arrival_col: str = "arr",
    ts_col: str = "ts_us",
) -> DataFrame:
    """Streaming twin of temporal.lateness_histogram's per-record
    lateness: out-of-orderness measured LIVE, per key — the monitor
    that tells you whether the watermark delay you sized offline still
    covers production arrival skew. Lateness of a record = (max event
    time seen earlier in arrival order) − (its own event time),
    clamped at 0.

    State per key: ONE long (the running max event time), independent
    of stream length. Within a micro-batch the exclusive running max
    is vectorized (sort by arrival, shifted cummax seeded from state);
    across batches the state seeds the next batch — bit-equal to the
    batch operator when arrival order = (batch, in-batch arrival),
    pinned by test. Emits (g, arr, late_us); bucketing/aggregation is
    the caller's compose step (same split as batch: measure rowside,
    histogram in a bounded agg).
    """

    no_max = np.iinfo("int64").min

    def step(key, batch, state):
        (g,) = key
        (max0,) = state
        batch = batch.sort_values(arrival_col)
        ts = batch[ts_col].to_numpy().astype("int64")
        cm = np.maximum.accumulate(ts)
        # exclusive prefix max seeded by carried state; the stream's
        # first-ever record has no predecessor — seed with its own ts
        # (lateness 0, the batch operator's NULL-coalesce), NOT the
        # int64-min sentinel (prev - ts would wrap)
        prev = np.empty_like(cm)
        prev[0] = ts[0] if max0 == no_max else max0
        prev[1:] = np.maximum(cm[:-1], prev[0])
        late = np.maximum(prev - ts, 0)
        return (int(max(cm[-1], max0)),), pd.DataFrame(
            {
                "g": g,
                "arr": batch[arrival_col].to_numpy().astype("int64"),
                "late_us": late,
            }
        )

    return _per_key(
        events, [group_col], _LATENESS_OUT_SCHEMA, _LATENESS_STATE_SCHEMA,
        (no_max,), step,
    )
