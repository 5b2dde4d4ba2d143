"""Round-trip tests for the format-agnostic IO surface."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.sources.catalog import TABLES, load_table
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
    leaves the session conf untouched. The schema memo keeps both rules:
    a nanos file first loaded with the conf already set still sets it on
    its next load, and a file rewritten in place is read afresh."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    key = "spark.sql.legacy.parquet.nanosAsLong"
    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    instants = [
        dt.datetime(2023, 11, 14, 22, 13, 20, 123456),
        dt.datetime(2023, 11, 14, 22, 13, 21),
    ]

    def write_events(sub, ts_type, **extra):
        (tmp_path / sub).mkdir(exist_ok=True)
        pq.write_table(
            pa.table({
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")).cast(ts_type, safe=False),
                **extra,
            }),
            tmp_path / sub / "events.parquet",
        )
        return str(tmp_path / sub)

    def load_ts(sub_dir):
        return [r.ts for r in load_table(spark, sub_dir, "events").orderBy("event_id").collect()]

    prior = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        load_table(spark, sf_dir, "events").limit(1).collect()
        assert spark.conf.get(key, None) is None
        assert load_ts(write_events("plain", pa.timestamp("ns"))) == instants
        assert spark.conf.get(key) == "true"

        # Pre-set conf: the first read raises nothing, yet the file is
        # still nanos, so a load after the conf is unset sets it again.
        preset = write_events("preset", pa.timestamp("ns"))
        assert load_ts(preset) == instants
        spark.conf.unset(key)
        assert load_ts(preset) == instants
        assert spark.conf.get(key) == "true"

        # In-place rewrite: same path, new file identity, new schema.
        rewrite = write_events("rewrite", pa.timestamp("us"))
        assert load_table(spark, rewrite, "events").columns == ["event_id", "ts"]
        write_events("rewrite", pa.timestamp("us"), value=pa.array([1.5, 2.5]))
        back = load_table(spark, rewrite, "events").orderBy("event_id")
        assert back.columns == ["event_id", "ts", "value"]
        assert [r.value for r in back.collect()] == [1.5, 2.5]
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_warm_loads_and_builds_run_no_job(spark, sf_dir):
    """Once each table's schema is memoized, loading a table or building
    a query over the tables plans without running a Spark job."""
    from dynamodb_stream_processor_2_0_spark.plans import registry

    builders = [registry.get(name).fn for name in (
        "pipeline_disposition_ledger",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
    )]
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def load_and_build_all():
        for name in TABLES:
            load_table(spark, sf_dir, name)
        for build in builders:
            build(spark, sf_dir)

    load_and_build_all()
    before = dag.nextJobId()
    load_and_build_all()
    assert dag.nextJobId() == before
