"""Custom gap-based sessionizer as a Structured Streaming stateful
operator (`applyInPandasWithState`).

`F.session_window` covers the built-in case (see session_window_12h);
this operator exists for session logic the builtin can't express —
numbered sessions carried across micro-batches, per-event session
labels at assignment time, custom gap policies. It is the second
custom stateful operator next to the delivery state machine
(delivery_state.py), exercising numeric state rather than a status
enum.

State per user: (last event-time micros, running session number,
events in current session). A new session starts when the gap to the
previous event exceeds the threshold. Because the replay source emits
exact (ts, event_id) slices, arrival order across micro-batches is
event-time order per key, and the streaming labels equal the batch
gaps-and-islands computation — which is what the oracle asserts.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("session_no", T.LongType()),
        T.StructField("event_in_session", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("session_no", T.LongType()),
        T.StructField("n_in_session", T.LongType()),
    ]
)


def make_sessionize_fn(gap_seconds: int):
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            last_ts_us, session_no, n_in_session = state.get
        else:
            last_ts_us, session_no, n_in_session = None, 0, 0

        # Same Arrow-chunk rule as delivery_state.py's bucket slice: a
        # group's batch slice may span chunks and chunk order is not ts
        # order — materialize, then one deterministic sort.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        out_event, out_sess, out_idx = [], [], []
        if chunks:
            whole = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            whole = whole.sort_values(["ts", "event_id"])
            for event_id, ts in zip(whole["event_id"], whole["ts"]):
                ts_us = ts.value // 1_000  # pandas ns -> micros
                if last_ts_us is None or ts_us - last_ts_us > gap_us:
                    session_no += 1
                    n_in_session = 0
                n_in_session += 1
                last_ts_us = ts_us
                out_event.append(int(event_id))
                out_sess.append(session_no)
                out_idx.append(n_in_session)

        state.update((last_ts_us, session_no, n_in_session))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_event),
                "event_id": out_event,
                "session_no": out_sess,
                "event_in_session": out_idx,
            }
        )

    return fn


def apply_sessionize(stream: DataFrame, gap_seconds: int = 3600) -> DataFrame:
    """Sessionize a replayed event stream keyed by user_id."""
    return (
        stream.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionize_fn(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
