"""Exactly-once across a failed epoch (the reference's core claim, D4 +
S7 + checkpointing): the envelope sink fails an epoch after writing it,
the query restarts from the checkpoint, and every key must still land
exactly once with the batch golden's winner."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.operators.dedup import first_occurrence
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
from dynamodb_stream_processor_2_0_spark.streaming import replay, sinks
from dynamodb_stream_processor_2_0_spark.streaming.delivery_state import (
    apply_delivery_state,
)
from dynamodb_stream_processor_2_0_spark.streaming.runner import (
    ROCKSDB,
    conf_scope,
    run_available_now,
)
from tests import planted

# Replay chunks are ts-ordered, so most keys are won in epoch 0; epoch 1
# is the last one that still has winners at sf0.001.
_FAILED_EPOCH = 1


@pytest.mark.parametrize("provider", [{}, ROCKSDB], ids=["default-hdfs", "rocksdb"])
def test_exactly_once_across_restart(spark, sf_dir, provider, tmp_path):
    """S7 is Spark's epoch retry. The sink raises on epoch 1 after its
    envelopes are written, so that batch's state was written but the
    batch never committed. The restart must re-run epoch 1 on the state
    it started from (its winners win again and overwrite the epoch's
    envelopes), then drain the other chunks. Both state backends: RocksDB
    also restores keyed state from its own changelog/snapshot files —
    the path a 100 TB job exercises on every executor loss."""
    staged = replay.stage_event_chunks(spark, sf_dir, chunks=6)
    checkpoint = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "envelopes")
    write = sinks.write_envelopes(out_dir)

    def fail_after_write(batch_df, epoch_id):
        write(batch_df, epoch_id)
        if epoch_id == _FAILED_EPOCH:
            raise RuntimeError(f"queue send failed on epoch {epoch_id}")

    def writer(sink):
        def build():
            stream = replay.read_event_stream(spark, staged)
            triggered = apply_delivery_state(stream).filter(
                F.col("action") == "email_triggered"
            )
            return triggered.writeStream.foreachBatch(sink).option(
                "checkpointLocation", checkpoint
            )

        return build

    with pytest.raises(StreamingQueryException, match="queue send failed"):
        run_available_now(
            spark, "recovery_fail", writer(fail_after_write), conf=provider
        )
    interrupted = sorted(os.listdir(out_dir))
    restart = run_available_now(
        spark, "recovery_restart", writer(write), conf=provider
    )

    assert interrupted == [f"epoch={e}" for e in range(_FAILED_EPOCH + 1)]
    assert restart.recentProgress[0]["batchId"] == _FAILED_EPOCH, (
        "the restart must re-run the failed epoch, not skip it or start over"
    )
    body = F.col("message_body")
    envelopes = spark.read.json(out_dir)
    assert envelopes.filter(F.col("epoch") == _FAILED_EPOCH).count() > 0, (
        "the failed epoch carried no winner, so its retry proves nothing"
    )
    landed = envelopes.select(
        F.get_json_object(body, "$.payload.user_id").cast("long").alias("user_id"),
        F.get_json_object(body, "$.payload.event_type").alias("event_type"),
        F.get_json_object(body, "$.payload.event_id").cast("long").alias("event_id"),
    )
    expected = first_occurrence(
        load_table(spark, sf_dir, "events"),
        ["user_id", "event_type"],
        ["ts", "event_id"],
    ).select("user_id", "event_type", "event_id")
    assert landed.exceptAll(expected).count() == 0, "a key landed twice or late"
    assert expected.exceptAll(landed).count() == 0, "a key never landed"


# Four replay chunks of three events each, in (ts, event_id) order; every
# chunk brings a key no earlier chunk had. (3, purchase) is won by event
# 40, ahead of the smaller id 30 with a later ts; (4, click) by 70, the
# smaller id of a ts tie.
_LATER_WINNERS = [  # (event_id, ts, user_id, event_type, value)
    (1, "2024-06-01T00:00:00", 1, "click", 1.0),
    (2, "2024-06-01T01:00:00", 1, "click", 2.0),
    (3, "2024-06-01T02:00:00", 2, "view", 3.0),
    (4, "2024-06-01T03:00:00", 1, "click", 4.0),
    (40, "2024-06-01T04:00:00", 3, "purchase", 5.0),
    (30, "2024-06-01T05:00:00", 3, "purchase", 6.0),
    (6, "2024-06-01T06:00:00", 2, "view", 7.0),
    (70, "2024-06-01T07:00:00", 4, "click", 8.0),
    (71, "2024-06-01T07:00:00", 4, "click", 9.0),
    (9, "2024-06-01T08:00:00", 1, "view", 10.0),
    (10, "2024-06-01T09:00:00", 5, "signup", 11.0),
    (11, "2024-06-01T10:00:00", 4, "click", 12.0),
]
# (user_id, event_type) -> (winning event_id, epoch of its chunk)
_WINNER_EPOCHS = {
    (1, "click"): (1, 0),
    (2, "view"): (3, 0),
    (3, "purchase"): (40, 1),
    (4, "click"): (70, 2),
    (1, "view"): (9, 3),
    (5, "signup"): (10, 3),
}


@pytest.mark.parametrize("provider", [{}, ROCKSDB], ids=["default-hdfs", "rocksdb"])
def test_later_epochs_claim_their_new_keys(spark, provider, tmp_path):
    """Winners claimed after the first micro-batch: each key's
    email_triggered row is its (ts, event_id)-first event and lands in
    its chunk's epoch. The run stops after epoch 2 and a restart from
    the checkpoint drains epoch 3 on the restored state, where (4, click)
    is already won."""
    planted.write(tmp_path, "events", _LATER_WINNERS)
    staged = replay.stage_event_chunks(spark, str(tmp_path), chunks=4)
    checkpoint = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "envelopes")
    write = sinks.write_envelopes(out_dir)

    def stop_at_epoch_3(batch_df, epoch_id):
        if epoch_id == 3:
            raise RuntimeError("stopped before epoch 3")
        write(batch_df, epoch_id)

    def writer(sink):
        def build():
            triggered = apply_delivery_state(
                replay.read_event_stream(spark, staged)
            ).filter(F.col("action") == "email_triggered")
            return triggered.writeStream.foreachBatch(sink).option(
                "checkpointLocation", checkpoint
            )

        return build

    with pytest.raises(StreamingQueryException, match="stopped before epoch 3"):
        run_available_now(spark, "later_stop", writer(stop_at_epoch_3), conf=provider)
    restart = run_available_now(spark, "later_restart", writer(write), conf=provider)

    assert restart.recentProgress[0]["batchId"] == 3
    body = F.col("message_body")
    landed = [
        ((r.user_id, r.event_type), (r.event_id, r.epoch))
        for r in spark.read.json(out_dir).select(
            F.get_json_object(body, "$.payload.user_id").cast("long").alias("user_id"),
            F.get_json_object(body, "$.payload.event_type").alias("event_type"),
            F.get_json_object(body, "$.payload.event_id").cast("long").alias("event_id"),
            "epoch",
        ).collect()
    ]
    assert dict(landed) == _WINNER_EPOCHS and len(landed) == len(_WINNER_EPOCHS)


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
