"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY T2.16 "custom stateful operators").

The operator keeps per-key running aggregates ACROSS micro-batches in
GroupState — the thing windowed aggs can't express (no window bound:
state lives for the key's lifetime). Used here for per-user running
stats over the event stream; the same skeleton carries any per-key
accumulator (fraud counters, rate limiters, trajectory trackers).

Determinism contract: all state fields are exact integers or strings;
"last" is defined by the total order (ts_s, event_id), never by row
arrival order (pandas batch order is not deterministic).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Output row per key per micro-batch: the running totals so far.
OUTPUT_SCHEMA = (
    "user_id long, n_events long, max_value_c long, last_event_type string"
)
#: Persisted per-key state between micro-batches.
STATE_SCHEMA = "n long, max_c long, last_ts long, last_id long, last_type string"


def _update_user_stats(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, max_c, last_ts, last_id, last_type = state.get
    else:
        n, max_c, last_ts, last_id, last_type = 0, None, -1, -1, None
    for pdf in pdfs:
        n += len(pdf)
        batch_max = int(pdf["value_c"].max()) if len(pdf) else None
        if batch_max is not None:
            max_c = batch_max if max_c is None else max(max_c, batch_max)
        # "last" by (ts_s, event_id) total order, not arrival order.
        # Vectorized composite key (event_id < 10^7 by testdata
        # construction); a row-wise apply(tuple) here was the whole
        # operator's hot spot at 1.5k groups × 67 rows.
        key_series = (
            pdf["ts_s"].astype("int64") * 10_000_000
            + pdf["event_id"].astype("int64")
        )
        pos = int(key_series.to_numpy().argmax())
        row_ts = int(pdf["ts_s"].iat[pos])
        row_id = int(pdf["event_id"].iat[pos])
        if (row_ts, row_id) > (last_ts, last_id):
            last_ts = row_ts
            last_id = row_id
            last_type = str(pdf["event_type"].iat[pos])
    state.update((n, max_c, last_ts, last_id, last_type))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "max_value_c": [max_c],
            "last_event_type": [last_type],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Streaming per-user running stats. `events` needs columns
    (user_id, event_id, ts_s, event_type, value_c) — the integer
    prep (cents, epoch seconds) happens JVM-side BEFORE the Python
    stateful operator, keeping it exact and Arrow-cheap."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Event-time-timeout sessions: state emits ONLY when the watermark
# closes it (the GroupStateTimeout surface running_user_stats does not
# exercise)
# --------------------------------------------------------------------------
SESSION_GAP_S = 60

DAY_SESSION_OUTPUT_SCHEMA = (
    "user_id long, day_s long, n_events long, start_s long, end_s long"
)

#: Per-USER state: every open day-session folded into one JSON blob
#: {day_s: [n, mn, mx], ...}. A string (not array columns) keeps the
#: state schema trivially evolvable and the Arrow exchange one cell.
DAY_SESSION_STATE_SCHEMA = "sessions string"


#: Shared empty output frame — the per-key fn runs once PER LIVE KEY
#: per micro-batch (~1.5k × 3 batches at sf0.1) and a fresh
#: pd.DataFrame construction per invocation was a measurable slice of
#: the whole drain (guide §4.5: keep per-call work constant-cheap).
#: Yielded read-only; the Arrow serializer never mutates it.
_DAY_SESSION_EMPTY = pd.DataFrame(
    {
        "user_id": pd.Series([], dtype="int64"),
        "day_s": pd.Series([], dtype="int64"),
        "n_events": pd.Series([], dtype="int64"),
        "start_s": pd.Series([], dtype="int64"),
        "end_s": pd.Series([], dtype="int64"),
    }
)


def _close_user_day_sessions(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import json

    # The SAME watermark Spark used for this batch's timeout decisions;
    # closure is strict (< wm) to mirror the oracle's `end + gap < max`.
    wm = state.getCurrentWatermarkMs()
    sess: dict[str, list[int]] = (
        json.loads(state.get[0]) if state.exists else {}
    )
    if not state.hasTimedOut:
        for pdf in pdfs:
            if not len(pdf):
                continue
            # Plain zip over the two int columns instead of a pandas
            # groupby: a per-key batch slice is tens of rows, where
            # groupby's fixed overhead (~0.5 ms) dwarfs the loop —
            # measured r12, this fn's invocation count is the whole
            # query's wall (guide §4.2: per-call constants rule at
            # per-key grain).
            for day, t in zip(
                pdf["day_s"].to_numpy().tolist(),
                pdf["ts_s"].to_numpy().tolist(),
            ):
                d = str(day)
                cur = sess.get(d)
                if cur is None:
                    sess[d] = [1, t, t]
                else:
                    cur[0] += 1
                    if t < cur[1]:
                        cur[1] = t
                    if t > cur[2]:
                        cur[2] = t
    closed = {
        d: v for d, v in sess.items() if (v[2] + SESSION_GAP_S) * 1000 < wm
    }
    still_open = {d: v for d, v in sess.items() if d not in closed}
    if still_open:
        state.update((json.dumps(still_open),))
        nxt = min(
            (v[2] + SESSION_GAP_S) * 1000 for v in still_open.values()
        )
        # Spark rejects a timeout at/below the current watermark; a
        # remaining day with end+gap == wm stays open (strict oracle
        # inequality), so bumping to wm+1 never closes early.
        state.setTimeoutTimestamp(max(nxt, wm + 1))
    else:
        state.remove()
    if closed:
        rows = sorted(
            (int(d), v[0], v[1], v[2]) for d, v in closed.items()
        )
        out = pd.DataFrame(
            rows, columns=["day_s", "n_events", "start_s", "end_s"]
        )
        out.insert(0, "user_id", key[0])
        yield out
    else:
        yield _DAY_SESSION_EMPTY


def timeout_day_sessions(events: DataFrame) -> DataFrame:
    """Watermark-closed day sessions with state keyed by USER ONLY —
    each user's open day-sessions fold into one state blob and close
    (emit + evict) as the watermark passes day-end + gap.

    Why not groupBy(user, day): applyInPandasWithState invokes the
    Python fn once PER KEY per batch, so wall time scales with live-key
    count. Day-composite keys made that ~40k invocations per batch at
    sf0.1 (31.66 s, 12% of the whole BENCH_r06 catalog — the flagged r6
    scale-killer); user-grain keys cut invocations to the distinct-user
    count (~1.5k, ~27x fewer) while state stays bounded: a user's blob
    holds only days not yet closed by the watermark, which under any
    monotone watermark is O(open days), not O(history). Emission is
    driven by `getCurrentWatermarkMs()` in BOTH branches (data and
    timeout), strict `end + gap < wm` exactly as the oracle computes,
    so results are identical to the per-(user, day) grain.
    `events` needs (user_id, day_s, ts_s) and a caller watermark on
    `ts`.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _close_user_day_sessions,
        outputStructType=DAY_SESSION_OUTPUT_SCHEMA,
        stateStructType=DAY_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
