"""The one runner for availableNow Structured Streaming queries.

Every availableNow query in the engine runs through
``run_available_now``, as does every test query meant to drain; the run
contract it enforces (conf scope, build inside the scope, no partial
sink on timeout) is written out in ``plans/queries_streaming_batch.py``.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_PARTITIONS = "spark.sql.shuffle.partitions"
_WIDTH_CAP = 32

UTC = {"spark.sql.session.timeZone": "UTC"}
ROCKSDB = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
}


@contextmanager
def conf_scope(spark: SparkSession, overrides: dict[str, str]) -> Iterator[None]:
    """Set ``overrides`` on the session; on exit put back each key's
    prior value, or unset it if the caller had not set it."""
    prior = {key: spark.conf.get(key, None) for key in overrides}
    try:
        for key, value in overrides.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def run_available_now(
    spark: SparkSession,
    name: str,
    build: Callable[[], DataStreamWriter],
    *,
    conf: dict[str, str] | None = None,
    timeout_s: int = 180,
) -> StreamingQuery:
    """Call ``build()`` inside the run's conf scope and drain the writer
    it returns as an availableNow query named ``name`` plus a unique
    suffix. Returns the terminated query; a memory sink's table is
    ``spark.table(query.name)``. Raises ``TimeoutError`` after stopping
    a query that has not drained within ``timeout_s`` seconds."""
    overrides = dict(conf or {})
    if int(spark.conf.get(_PARTITIONS)) > _WIDTH_CAP:
        overrides[_PARTITIONS] = str(_WIDTH_CAP)
    with conf_scope(spark, overrides):
        query = (
            build()
            .queryName(f"{name}_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(timeout_s):
            query.stop()
            raise TimeoutError(
                f"{name}: availableNow query did not terminate within "
                f"{timeout_s}s; refusing to return a partial sink"
            )
    return query
