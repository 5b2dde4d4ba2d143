"""Stream-batch source (S1, index.js:34-101) for the engine: replay the
``events`` table as a Structured Streaming file source in event-time
order.

The reference consumes externally-batched CDC records; here the batch
boundary is the file boundary — ``chunks`` files written in ts order,
replayed one per micro-batch via ``maxFilesPerTrigger=1``. In
production the same pipeline code runs unchanged over a Kafka/file
source; this module only swaps the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
from dynamodb_stream_processor_2_0_spark.sources.formats import staged


def ts_ordered_chunks(events: DataFrame, chunks: int) -> DataFrame:
    """``events`` plus an int ``chunk`` column: chunk i holds the i-th
    of ``chunks`` equal slices in global (ts, event_id) order."""
    per = (events.count() + chunks - 1) // chunks
    # a single sorted partition makes monotonically_increasing_id a true
    # global ts-order rank, so chunk boundaries are exact.
    return (
        events.coalesce(1)
        .sortWithinPartitions("ts", "event_id")
        .withColumn("chunk", (F.monotonically_increasing_id() / per).cast("int"))
    )


def _write_chunks(tagged: DataFrame, chunks: int, out_dir: str) -> None:
    # sequential writes give strictly increasing mtimes, so the file
    # stream replays chunk 0..n-1 in this order
    for i in range(chunks):
        (
            tagged.filter(F.col("chunk") == i)
            .drop("chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/chunk={i}")
        )


def stage_event_chunks(spark: SparkSession, sf_dir: str, chunks: int = 4) -> str:
    """Write events into ``chunks`` single-file parquet slices in ts
    order (slice i = rows with ntile i) so arrival order == event-time
    order during replay. Staged once per process per (sf_dir, chunks)."""
    return staged(
        "events_replay_",
        (sf_dir, chunks),
        lambda out_dir: _write_chunks(
            ts_ordered_chunks(load_table(spark, sf_dir, "events"), chunks),
            chunks,
            out_dir,
        ),
    )


def read_event_stream(
    spark: SparkSession, staged_dir: str, schema=None
) -> DataFrame:
    """One staged chunk per micro-batch. ``ts`` is cast to TIMESTAMP
    (instant) because watermarks reject TIMESTAMP_NTZ; the engine
    session pins UTC so the wall-clock value is unchanged. ``schema``
    defaults to the one every staged chunk shares, read from chunk 0."""
    if schema is None:
        schema = spark.read.parquet(f"{staged_dir}/chunk=0").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{staged_dir}/chunk=*")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def stage_event_chunks_hashed(
    spark: SparkSession, sf_dir: str, chunks: int = 4
) -> str:
    """Write events into ``chunks`` slices keyed by a deterministic hash
    of event_id — arrival order is then UNCORRELATED with event time, so
    replaying one chunk per micro-batch genuinely exercises watermark
    late-data drops (the ts-ordered staging never produces late rows).
    The same md5-derived assignment is expressible in the DuckDB oracle,
    which makes the drop accounting itself oracle-checkable. Staged once
    per process per (sf_dir, chunks)."""
    chunk = (
        F.conv(F.substring(F.md5(F.concat(F.lit("late:"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("bigint") % chunks
    )
    return staged(
        "events_hashed_",
        (sf_dir, chunks),
        lambda out_dir: _write_chunks(
            load_table(spark, sf_dir, "events").withColumn("chunk", chunk),
            chunks,
            out_dir,
        ),
    )
