"""Per-key delivery state machine (reference D4/S5/S6/S7,
index.js:324-344, 448-522) as a Structured Streaming stateful operator.

The reference implements exactly-once delivery with a conditional-write
CAS against the table: claim ``processing`` only if the current status
allows it, ``ConditionalCheckFailedException`` -> duplicate_prevented,
success -> sink send -> ``delivered`` (or compensating revert to
``pending`` on sink failure). Spark's stateful model makes the race
disappear: a key is owned by exactly one task per micro-batch, so the
CAS becomes a pure state-machine guard inside
``applyInPandasWithState`` — same observable semantics, no distributed
lock.

States: (none) -> delivered, with every later attempt for the key
tagged ``duplicate_prevented`` — the reference's pending -> processing
-> delivered collapses within a micro-batch because claim and delivery
are a single ownership scope; the ``sink_ok`` hook keeps S7's
compensating transition expressible (failure -> stays pending, retried
next batch).

Bucket layout. The operator groups by ``pmod(xxhash64(user_id,
event_type), _BUCKETS)``, not by the key, so Spark makes one Python
call per touched bucket instead of one per touched key. Grouped per key,
a 2,000-row batch touched about 1,765 keys, and Spark's fixed cost per
group (Arrow slicing, pandas conversion, ``GroupState`` set-up, output
encoding) came on top of about 1.25 ms of function body per key group.
Each bucket's state is one row of typed parallel
arrays — ``user_id``, ``event_type``, ``delivery_status``,
``delivered_event_id``, ``attempts`` — so ``spark.read.format(
"statestore")`` still reads it; exploding the arrays gives one entry
per key. One task still owns each bucket, hence each key, per
micro-batch, so the single-writer argument above is unchanged.

Limit. A touched bucket rewrites every key it holds, so the cost per
touched bucket grows with keys per bucket. Python side alone (function
plus state pickle), one touched bucket at 64 buckets:

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
a per-bucket ``MapState`` on ``transformWithStateInPandas``, which needs
``google.protobuf`` (see ``first_touch.py``).

Checkpoints written by the earlier per-key layout (state keyed by
``(user_id, event_type)``, value ``(delivery_status,
delivered_event_id, attempts)``) cannot be restarted by this operator:
both the grouping key and the state schema differ.
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
        T.StructField("delivery_status", T.ArrayType(T.StringType())),
        T.StructField("delivered_event_id", T.ArrayType(T.LongType())),
        T.StructField("attempts", T.ArrayType(T.LongType())),
    ]
)


def make_bucket_fn(
    sink_ok: Callable[[int], bool] | None = None,
) -> Callable[[Any, Iterator[pd.DataFrame], GroupState], Iterator[pd.DataFrame]]:
    """Build the stateful function for one hash bucket.
    ``sink_ok(event_id)`` models the S3 queue send; returning False
    triggers the S7 compensating path (status stays pending, nothing
    marked delivered)."""

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
        # (user_id, event_type) -> [delivery_status, delivered_event_id, attempts]
        keys: dict[tuple, list] = {}
        if state.exists:
            users, types, statuses, delivered, attempts = state.get
            keys = {
                (u, t): [s, d, a]
                for u, t, s, d, a in zip(users, types, statuses, delivered, attempts)
            }

        out_user: list = []
        out_type: list = []
        out_event: list[int] = []
        out_action: list[str] = []
        # A bucket's rows in one micro-batch may arrive as multiple Arrow
        # chunks (> arrow.maxRecordsPerBatch rows per group), and chunk
        # order is not ts-ordered after the shuffle — materialize the
        # whole group before the single deterministic sort, or a key's
        # delivered winner is no longer its global (ts, event_id)
        # minimum (the reference processes records in stream order,
        # index.js:53). This buffers one bucket's batch slice, not the
        # stream.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            whole = whole.sort_values(["ts", "event_id"])
            rows = zip(
                user_ids(whole["user_id"]),
                whole["event_type"].tolist(),
                whole["event_id"].tolist(),
            )
            for user_id, event_type, event_id in rows:
                entry = keys.get((user_id, event_type))
                if entry is None:
                    entry = keys[(user_id, event_type)] = ["pending", None, 0]
                entry[2] += 1
                event_id = int(event_id)
                if entry[0] == "delivered":
                    # D4 claim fails: ConditionalCheckFailed analog
                    action = "duplicate_prevented"
                # claim succeeds (single writer per key): -> processing
                elif sink_ok is None or sink_ok(event_id):
                    entry[0], entry[1] = "delivered", event_id
                    action = "email_triggered"
                else:
                    # S7 compensating revert: back to pending
                    entry[0] = "pending"
                    action = "sink_failed"
                out_user.append(user_id)
                out_type.append(event_type)
                out_event.append(event_id)
                out_action.append(action)

        entries = list(keys.values())
        state.update(
            (
                [k[0] for k in keys],
                [k[1] for k in keys],
                [e[0] for e in entries],
                [e[1] for e in entries],
                [e[2] for e in entries],
            )
        )
        yield pd.DataFrame(
            {
                "user_id": out_user,
                "event_type": out_type,
                "event_id": out_event,
                "action": out_action,
                "status_after": [keys[k][0] for k in zip(out_user, out_type)],
            }
        )

    return fn


def apply_delivery_state(
    events: DataFrame,
    sink_ok: Callable[[int], bool] | None = None,
) -> DataFrame:
    """Wire the state machine over a (streaming or batch) events frame
    keyed by (user_id, event_type), grouped into ``_BUCKETS`` hash
    buckets."""
    bucket = F.pmod(F.xxhash64("user_id", "event_type"), F.lit(_BUCKETS))
    return (
        events.select("user_id", "event_type", "event_id", "ts")
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .applyInPandasWithState(
            make_bucket_fn(sink_ok),
            outputStructType=DISPOSITION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
