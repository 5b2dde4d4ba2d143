"""Exactly-once across restart (the reference's core claim, D4 +
checkpointing): stop the delivery stream mid-replay, restart from the
checkpoint, and verify no key ever triggers twice and the final ledger
matches the uninterrupted batch golden."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.operators.dedup import first_occurrence
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
from dynamodb_stream_processor_2_0_spark.streaming import replay
from dynamodb_stream_processor_2_0_spark.streaming.delivery_state import (
    apply_delivery_state,
)
from dynamodb_stream_processor_2_0_spark.streaming.runner import (
    ROCKSDB,
    conf_scope,
    run_available_now,
)


@pytest.mark.parametrize("provider", [{}, ROCKSDB], ids=["default-hdfs", "rocksdb"])
def test_exactly_once_across_restart(spark, sf_dir, provider, tmp_path):
    """Restart recovery must hold on BOTH state backends: checkpoint
    offsets/commits are backend-independent, but RocksDB additionally
    restores keyed state from its own changelog/snapshot files — the
    path a 100 TB job exercises on every executor loss."""
    with conf_scope(spark, provider):
        _run_restart_scenario(spark, sf_dir, tmp_path)


def _run_restart_scenario(spark, sf_dir, tmp_path):
    staged = replay.stage_event_chunks(spark, sf_dir, chunks=6)
    checkpoint = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "recovery_out")

    def writer():
        stream = replay.read_event_stream(spark, staged)
        return (
            apply_delivery_state(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
        )

    # Phase 1: process at least one micro-batch, then stop mid-replay.
    q = writer().trigger(availableNow=True).start()
    while not q.recentProgress:
        q.awaitTermination(1)
    q.stop()
    q.awaitTermination(60)
    first_phase = spark.read.parquet(out_dir).count()

    # Phase 2: restart from the checkpoint and drain.
    run_available_now(spark, "recovery_restart", writer, timeout_s=120)

    out = spark.read.parquet(out_dir)
    events = load_table(spark, sf_dir, "events")
    # Crash-restart may replay the in-flight batch (at-least-once at the
    # file sink), but a clean stop() commits; availableNow restart must
    # resume, not restart from zero.
    assert out.count() == events.count(), "restart lost or duplicated events"
    if first_phase >= events.count():
        import warnings

        # machine drained all 6 micro-batches before stop(); the restart
        # path still ran (no-op resume) but interruption wasn't exercised
        warnings.warn("phase 1 completed before stop(); weak interruption")

    triggered = out.filter(F.col("action") == "email_triggered")
    keys = events.select("user_id", "event_type").distinct().count()
    assert triggered.count() == keys, "exactly one trigger per key across restart"
    dupes = (
        triggered.groupBy("user_id", "event_type").count().filter("count > 1").count()
    )
    assert dupes == 0

    expected = first_occurrence(
        events, ["user_id", "event_type"], ["ts", "event_id"]
    ).select("user_id", "event_type", "event_id")
    mismatches = (
        triggered.select("user_id", "event_type", "event_id")
        .exceptAll(expected)
        .count()
    )
    assert mismatches == 0, "post-restart winners must equal batch first-occurrence"


def test_delivery_e2e_on_rocksdb_state_store(spark, sf_dir):
    """The state backend a 100 TB streaming job actually runs on:
    RocksDB (bounded executor memory, incremental checkpoints). The
    delivery state machine must produce the identical exactly-once
    outcome on it as on the default HDFS-backed in-memory provider."""
    from dynamodb_stream_processor_2_0_spark.plans import registry

    with conf_scope(spark, ROCKSDB):
        rocks = {
            (r.user_id, r.event_type, r.event_id): r.action
            for r in registry.get("streaming_delivery_e2e")
            .fn(spark, sf_dir)
            .collect()
        }
    default = {
        (r.user_id, r.event_type, r.event_id): r.action
        for r in registry.get("streaming_delivery_e2e").fn(spark, sf_dir).collect()
    }
    assert rocks == default and len(rocks) > 0
