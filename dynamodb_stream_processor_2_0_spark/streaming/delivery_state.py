"""Per-key delivery claim (reference D4/S5/S6/S7, index.js:324-344,
448-522) as a Structured Streaming stateful operator.

The reference implements exactly-once delivery with a conditional-write
CAS against the table: claim ``processing`` only if the current status
allows it, ``ConditionalCheckFailedException`` -> duplicate_prevented,
success -> sink send -> ``delivered`` (or compensating revert to
``pending`` on sink failure). Spark's stateful model makes the race
disappear: a key is owned by exactly one task per micro-batch, so the
CAS becomes a membership test inside ``applyInPandasWithState`` — same
observable semantics, no distributed lock. The only question left per
record is whether its key already has a winner: if not, the record wins
(``email_triggered``); if so, it is ``duplicate_prevented``.
``status_after`` is therefore always ``delivered``.

S7 (compensation on a failed send) is Spark's epoch retry, not a state
transition. A micro-batch counts as done only once its commit-log entry
is written, after the sink returns. If the sink raises, a restart from
the checkpoint re-runs that batch on the state version it started from,
so the same records win again, and the epoch-keyed sink
(``sinks.write_envelopes``) overwrites the failed epoch's output.
``tests/test_streaming_recovery.py`` fails an epoch after its sink
wrote it and checks that every key lands exactly once.

Bucket layout. The operator groups by ``pmod(xxhash64(user_id,
event_type), _BUCKETS)``, not by the key, so Spark makes one Python
call per touched bucket instead of one per touched key. Grouped per key,
a 2,000-row batch touched about 1,765 keys, and Spark's fixed cost per
group (Arrow slicing, pandas conversion, ``GroupState`` set-up, output
encoding) came on top of about 1.25 ms of function body per key group.
Each bucket's state is one row of three typed parallel arrays —
``user_id``, ``event_type``, ``delivered_event_id`` — so
``spark.read.format("statestore")`` still reads it; exploding the
arrays gives one entry per key, holding that key's winner. One task
still owns each bucket, hence each key, per micro-batch, so the
single-writer argument above is unchanged.

Limit. A touched bucket rewrites every key it holds, so the cost per
touched bucket grows with keys per bucket. Python side alone (function
plus state pickle), one touched bucket at 64 buckets, measured on the
earlier five-array state (the three-array state pickles less):

    total keys            keys per bucket   cost per touched bucket
    7.5k (perfbench)      117               1.3 ms
    75k                   1.2k              2.2 ms
    750k                  11.7k             14 ms
    7.5M                  117k              242 ms

These are per-group costs inside the worker, on top of each micro-batch's
fixed cost: at perfbench size a 100-row tail batch takes a median 673 ms,
554 ms of it ``addBatch``, with the session's worker daemon
(session.py) sparing each state partition's Python task a re-read of
``pyspark.zip``.

Above about 10^5-10^6 keys a 100-row batch costs more than one Python
call per key did. The layout whose cost scales with the touched keys is
Spark's native per-key aggregation, which emits one row per touched key
instead of one disposition per record.

Checkpoints written by earlier layouts cannot be restarted by this
operator: neither the per-key layout (state keyed by ``(user_id,
event_type)``, value ``(delivery_status, delivered_event_id,
attempts)``) nor the five-array bucket layout (``user_id``,
``event_type``, ``delivery_status``, ``delivered_event_id``,
``attempts``); the grouping key or the state schema differs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Median 2,000-row backlog micro-batch, 4-core host, one session per
# setting, interleaved: 762 ms at 16 buckets, 678 ms at 64, 789 ms at
# 256 (fewer, larger groups lose task parallelism; more, smaller ones pay
# the per-group cost again). Grouped per key it took 2,870 ms.
_BUCKETS = 64

DISPOSITION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("action", T.StringType()),
        T.StructField("status_after", T.StringType()),
    ]
)

# One row per bucket; entry i of every array belongs to the same key.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.ArrayType(T.LongType())),
        T.StructField("event_type", T.ArrayType(T.StringType())),
        T.StructField("delivered_event_id", T.ArrayType(T.LongType())),
    ]
)


def make_bucket_fn() -> Callable[
    [Any, Iterator[pd.DataFrame], GroupState], Iterator[pd.DataFrame]
]:
    """Build the stateful function for one hash bucket."""

    # Nested, so cloudpickle ships it by value: a worker started outside
    # the repository cannot import this package.
    def user_ids(col: pd.Series) -> list:
        # Arrow hands an int64 column holding nulls to pandas as float64.
        if col.dtype.kind == "f":
            return [None if u != u else int(u) for u in col.tolist()]
        return col.tolist()

    def fn(
        bucket: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # (user_id, event_type) -> delivered_event_id
        winners: dict[tuple, int] = {}
        if state.exists:
            known_users, known_types, delivered = state.get
            winners = dict(zip(zip(known_users, known_types), delivered))

        users, types, events, actions = [], [], [], []
        # A bucket's rows in one micro-batch may arrive as multiple Arrow
        # chunks (> arrow.maxRecordsPerBatch rows per group), and chunk
        # order is not ts-ordered after the shuffle — materialize the
        # whole group before the single deterministic sort, or a key's
        # winner is no longer its global (ts, event_id) minimum (the
        # reference processes records in stream order, index.js:53).
        # This buffers one bucket's batch slice, not the stream.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            whole = whole.sort_values(["ts", "event_id"])
            users = user_ids(whole["user_id"])
            types = whole["event_type"].tolist()
            events = [int(e) for e in whole["event_id"].tolist()]
            for key, event_id in zip(zip(users, types), events):
                if key in winners:
                    # D4 claim fails: ConditionalCheckFailed analog
                    actions.append("duplicate_prevented")
                else:
                    winners[key] = event_id
                    actions.append("email_triggered")

        state.update(
            (
                [k[0] for k in winners],
                [k[1] for k in winners],
                list(winners.values()),
            )
        )
        yield pd.DataFrame(
            {
                "user_id": users,
                "event_type": types,
                "event_id": events,
                "action": actions,
                "status_after": "delivered",
            }
        )

    return fn


def apply_delivery_state(events: DataFrame) -> DataFrame:
    """Wire the claim over a (streaming or batch) events frame keyed by
    (user_id, event_type), grouped into ``_BUCKETS`` hash buckets."""
    bucket = F.pmod(F.xxhash64("user_id", "event_type"), F.lit(_BUCKETS))
    return (
        events.select("user_id", "event_type", "event_id", "ts")
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .applyInPandasWithState(
            make_bucket_fn(),
            outputStructType=DISPOSITION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
