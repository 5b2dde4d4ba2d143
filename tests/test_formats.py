"""Round-trip tests for the format-agnostic IO surface."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.sources import formats
from dynamodb_stream_processor_2_0_spark.sources.catalog import TABLES, load_table
from dynamodb_stream_processor_2_0_spark.sources.formats import read_batch, write_batch

PKG = pathlib.Path(__file__).resolve().parent.parent / "dynamodb_stream_processor_2_0_spark"


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv", "orc"])
def test_roundtrip(spark, events, fmt, tmp_path):
    out = str(tmp_path)
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


def test_partitioned_write_prunes(spark, events, tmp_path):
    out = str(tmp_path)
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


# Every registered query that stages a copy of a source table: the
# batch ones stage while they build, the streaming ones while they run.
BATCH_STAGING = (
    "s1_stream_record_parse",
    "bucketed_colocated_join",
    "recursive_order_chain_walk",
    "source_csv_roundtrip",
    "source_jsonl_roundtrip",
    "source_partitioned_pruning",
    "source_dynamic_partition_pruning",
    "source_orc_roundtrip",
    "source_schema_evolution_merge",
    "source_union_schema_harmonize",
    "source_python_datasource",
    "source_python_pushdown_pruning",
)
STREAMING_STAGING = (
    "streaming_delivery_e2e",
    "streaming_stream_join_e2e",
    "streaming_dedup_watermark_e2e",
    "streaming_window_agg_e2e",
    "streaming_sessionize_e2e",
    "streaming_static_enrich_e2e",
    "streaming_foreachbatch_sink_e2e",
    "streaming_incremental_rollup_e2e",
    "streaming_python_source_e2e",
    "streaming_python_sink_e2e",
    "streaming_outer_join_e2e",
    "streaming_chained_window_agg_e2e",
    "streaming_late_data_audit_e2e",
    "streaming_rocksdb_state_e2e",
    "streaming_state_introspection",
    "streaming_neardup_arrival_e2e",
)

# The kind prefix of every staged copy, and the prefixes of the
# per-run sink and checkpoint dirs those queries make.
STAGING_KINDS = (
    "ddb_wire_",
    "ddb_wire_jsonl_",
    "ddb_wire_chunks_",
    "bucketed_",
    "order_chain_ranked_",
    "events_csv_",
    "docs_jsonl_",
    "events_part_",
    "events_orc_",
    "events_evolve_",
    "harm_",
    "events_replay_",
    "events_hashed_",
    "neardup_src_",
)
RUN_PREFIXES = ("envelope_", "pysink_ckpt_", "state_introspect_ckpt_", "neardup_")


def _tmp_dirs(prefixes) -> set[str]:
    root = tempfile.gettempdir()
    return {
        os.path.join(root, e)
        for e in os.listdir(root)
        if e.startswith(prefixes)
    }


def _of_kind(dirs, kind: str) -> set[str]:
    # mkdtemp appends 8 characters, so "ddb_wire_" does not match
    # "ddb_wire_jsonl_<8>"
    return {d for d in dirs if len(os.path.basename(d)) == len(kind) + 8
            and os.path.basename(d).startswith(kind)}


def test_staging_writes_each_copy_once_and_tracks_every_dir(spark, sf_dir, tmp_path):
    """Every staged copy is written once per process and key into a dir
    the exit handler deletes: a fresh copy of the tables gives each kind
    exactly one new dir, a second call returns its path, and every dir
    the staging queries leave is in ``formats._STAGED_DIRS``."""
    from dynamodb_stream_processor_2_0_spark.plans import (
        queries_ingest_ext,
        queries_pipeline,
        registry,
    )
    from dynamodb_stream_processor_2_0_spark.sources import (
        dynamodb_stream as DS,
        python_datasource as PDS,
    )
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    # a path no earlier test staged from, so every memo entry is cold
    fresh = str(tmp_path / "sf")
    shutil.copytree(sf_dir, fresh)
    stagers = (
        lambda: replay.stage_event_chunks(spark, fresh, chunks=4),
        lambda: replay.stage_event_chunks_hashed(spark, fresh, chunks=4),
        lambda: PDS.staged_wire_jsonl(spark, fresh, n_shards=8),
        lambda: PDS.staged_wire_chunks_jsonl(spark, fresh, chunks=4),
        lambda: queries_pipeline._stage_partitioned_events(spark, fresh),
        lambda: queries_ingest_ext._stage_harmonize_shards(spark, fresh),
        lambda: DS.staged_wire(spark, fresh).inputFiles(),
    )
    before = _tmp_dirs(STAGING_KINDS + RUN_PREFIXES)
    first = [stage() for stage in stagers]
    for name in BATCH_STAGING + STREAMING_STAGING + BATCH_STAGING:
        registry.get(name).fn(spark, fresh)
    assert [stage() for stage in stagers] == first

    new = _tmp_dirs(STAGING_KINDS + RUN_PREFIXES) - before
    assert new <= set(formats._STAGED_DIRS), sorted(new - set(formats._STAGED_DIRS))
    for kind in STAGING_KINDS:
        assert len(_of_kind(new, kind)) == 1, (kind, sorted(_of_kind(new, kind)))


def test_staged_writes_once_under_racing_threads():
    """Threads that miss the memo together still run one write and all
    get its path."""
    import sys
    import threading
    import time

    writes = []

    def write(path):
        writes.append(path)
        time.sleep(0.01)

    key = (f"race-{os.getpid()}-{time.time_ns()}",)
    paths = []
    threads = [
        threading.Thread(target=lambda: paths.append(formats.staged("race_", key, write)))
        for _ in range(min(64, 4 * (os.cpu_count() or 1)))
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(writes) == 1 and paths == writes * len(threads)


def test_only_formats_makes_temp_dirs():
    """Scratch dirs are made and deleted in one place: no package module
    but sources/formats.py imports tempfile or atexit."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel == "sources/formats.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            offenders += [
                f"{rel}:{node.lineno} {n}" for n in names if n in ("tempfile", "atexit")
            ]
    assert not offenders, offenders
