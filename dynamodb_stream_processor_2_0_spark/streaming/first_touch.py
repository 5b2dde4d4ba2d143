"""First-touch attribution on Spark 4's transformWithStateInPandas.

The reference's dedup layers (D3 cross-record lookup + D4 atomic claim,
index.js:107-141, 448-497) reduce to "only the first record per key may
act".  ``delivery_state.py`` expresses that with the legacy
``applyInPandasWithState`` API; this module is the same class of
semantics on the NEW arbitrary-state API (``transformWithStateInPandas``,
Spark 4): typed per-key state handles (here a ``MapState`` keyed by
event_type), RocksDB-only backend, timers available (unused here — they
are wall-clock/processing driven for timeMode='none' and would break
replay determinism).

Scale posture: state per user is one boolean per distinct event_type
(~5 entries) in RocksDB — bounded executor memory and incremental
checkpointing; the shuffle is one hash exchange on user_id per
micro-batch. The legacy operator (``delivery_state.apply_delivery_state``)
groups by a 64-way hash of (user_id, event_type), so its exchange is on
that bucket and each Python call rewrites a whole bucket's state.

ENVIRONMENT GATE: transformWithStateInPandas talks to a driver-side
state server over a protobuf protocol; ``google.protobuf`` is not
installed in this container and must not be pip-installed, so the e2e
run cannot execute here (the Python state-server worker crashes on
import).  The operator is therefore NOT registered in ``queries()``;
``tests/test_streaming.py::test_first_touch_transform_with_state_e2e``
runs the full streaming query whenever protobuf is importable, and the
processor's per-batch logic is unit-tested against a fake state handle
unconditionally.  The registered ``streaming_delivery_e2e`` /
``streaming_sessionize_e2e`` queries cover the same exactly-once
semantics on the legacy ``applyInPandasWithState`` API, which needs no
protobuf.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

OUTPUT_SCHEMA = "user_id bigint, event_type string, first_event_id bigint"


class FirstTouchProcessor(StatefulProcessor):
    """Emit the first event per (user, event_type), exactly once across
    micro-batches.  Within a batch all Arrow chunks for the key are
    concatenated and sorted by (ts, event_id) BEFORE iterating — a key's
    rows can span chunks, and chunk order is not event-time order (the
    delivery-state bug from round 1's advice, fixed the same way here)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._seen = handle.getMapState(
            "seen", "event_type string", "seen boolean"
        )

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        pdfs = list(rows)
        pdf = pd.concat(pdfs) if len(pdfs) > 1 else pdfs[0]
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        user_id = key[0]
        out_types: list[str] = []
        out_ids: list[int] = []
        for etype, event_id in zip(pdf["event_type"], pdf["event_id"]):
            if not self._seen.containsKey((etype,)):
                self._seen.updateValue((etype,), (True,))
                out_types.append(etype)
                out_ids.append(int(event_id))
        if out_ids:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_ids),
                    "event_type": out_types,
                    "first_event_id": out_ids,
                }
            )

    def close(self) -> None:
        pass


def apply_first_touch(stream: DataFrame) -> DataFrame:
    """Group the replayed event stream by user and run the processor.
    RocksDB is mandatory for transformWithState — the caller must set
    ``spark.sql.streaming.stateStore.providerClass`` before starting."""
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=FirstTouchProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
