"""Round-trip tests for the format-agnostic IO surface."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
from dynamodb_stream_processor_2_0_spark.sources.formats import read_batch, write_batch


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv", "orc"])
def test_roundtrip(spark, events, fmt):
    out = tempfile.mkdtemp(prefix=f"fmt_{fmt}_")
    # CSV can't carry nested/timestamp_ntz faithfully without options;
    # normalize to the columns every format handles.
    df = events.select("event_id", "user_id", "event_type", "value")
    write_batch(df, out, fmt=fmt)
    back = read_batch(spark, out, fmt=fmt, schema=df.schema)
    assert back.count() == df.count()
    assert [f.name for f in back.schema.fields] == [f.name for f in df.schema.fields]
    assert (
        back.agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("s")).collect()[0].s
        == df.agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("s")).collect()[0].s
    )


def test_partitioned_write_prunes(spark, events):
    out = tempfile.mkdtemp(prefix="fmt_part_")
    write_batch(events.select("event_id", "event_type", "value"), out, partition_by=["event_type"])
    back = read_batch(spark, out).filter(F.col("event_type") == "purchase")
    # partition pruning: the physical scan must read only the purchase dir
    plan = back._jdf.queryExecution().executedPlan().toString()
    n = back.count()
    assert n == events.filter("event_type = 'purchase'").count()
    assert "event_type=purchase" in plan or "PartitionFilters" in plan


def test_schema_required_for_json(spark):
    with pytest.raises(ValueError, match="explicit schema"):
        read_batch(spark, "/nonexistent", fmt="json")


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unsupported format"):
        read_batch(spark, "/nonexistent", fmt="avro")


def test_load_table_nanos_ts_round_trip(spark, sf_dir, tmp_path):
    """A TIMESTAMP(NANOS) ``events.ts`` reads back as the same instant
    truncated to micros; only that file sets nanosAsLong, a micros file
    leaves the session conf untouched."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        load_table(spark, sf_dir, "events").limit(1).collect()
        assert spark.conf.get(key, None) is None
        nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
        pq.write_table(
            pa.table({
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
            }),
            tmp_path / "events.parquet",
        )
        got = load_table(spark, str(tmp_path), "events").orderBy("event_id")
        assert [r.ts for r in got.collect()] == [
            dt.datetime(2023, 11, 14, 22, 13, 20, 123456),
            dt.datetime(2023, 11, 14, 22, 13, 21),
        ]
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
