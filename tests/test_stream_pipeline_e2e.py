"""Full reference-pipeline replica (SURVEY.md §3.2) end-to-end in
Structured Streaming: DynamoDB-Streams wire JSON -> from_json connector
-> typed parse -> disposition tagging -> envelope sink. The closest
analog of handler() (index.js:34-101) running as one streaming query."""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.sources import dynamodb_stream as DS
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
from dynamodb_stream_processor_2_0_spark.streaming.runner import run_available_now


@pytest.fixture(scope="module")
def wire_dir(spark, sf_dir, tmp_path_factory):
    """Stage wire-format records as 3 parquet files (micro-batches)."""
    out = str(tmp_path_factory.mktemp("wire_stream"))
    events = load_table(spark, sf_dir, "events")
    DS.events_as_stream_json(events).repartition(3).write.mode("overwrite").parquet(out)
    return out


def test_wire_to_envelope_stream(spark, sf_dir, wire_dir, tmp_path):
    schema = "event_id long, record_json string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(wire_dir)
    )
    typed = DS.parse_new_image(DS.decode_records(stream))
    # disposition-lite on the parsed row (F9 threshold + P10 priority)
    tagged = typed.select(
        "record_id",
        "event_id_s",
        F.when(F.col("total_matches") <= 0, "skipped_below_threshold")
        .otherwise("email_triggered")
        .alias("action"),
        F.when(F.col("best_similarity") >= 100.0, "high")
        .otherwise("normal")
        .alias("priority"),
    )
    out_dir = str(tmp_path / "wire_envelopes")

    def sink(batch_df, epoch_id):
        (
            batch_df.filter(F.col("action") == "email_triggered")
            .select(F.to_json(F.struct("record_id", "event_id_s", "priority")).alias("body"))
            .write.mode("overwrite")
            .json(f"{out_dir}/epoch={epoch_id}")
        )

    run_available_now(
        spark,
        "wire_to_envelope",
        lambda: stream.writeStream.foreachBatch(
            lambda df, eid: sink(
                DS.parse_new_image(DS.decode_records(df)).select(
                    "record_id",
                    "event_id_s",
                    F.when(F.col("total_matches") <= 0, "skipped_below_threshold")
                    .otherwise("email_triggered")
                    .alias("action"),
                    F.when(F.col("best_similarity") >= 100.0, "high")
                    .otherwise("normal")
                    .alias("priority"),
                ),
                eid,
            )
        ),
        timeout_s=120,
    )

    bodies = []
    for f in glob.glob(f"{out_dir}/epoch=*/part-*.json"):
        with open(f) as fh:
            bodies += [
                json.loads(json.loads(line)["body"]) for line in fh if line.strip()
            ]

    # batch golden: same pipeline, batch mode
    batch = DS.parse_new_image(
        DS.decode_records(DS.events_as_stream_json(load_table(spark, sf_dir, "events")))
    )
    expected = batch.filter(F.col("total_matches") > 0).count()
    assert len(bodies) == expected, f"stream {len(bodies)} != batch {expected}"
    assert all(set(b) == {"record_id", "event_id_s", "priority"} for b in bodies)
    # every emitted record id is unique (exactly-once on this replay)
    ids = [b["record_id"] for b in bodies]
    assert len(ids) == len(set(ids))
