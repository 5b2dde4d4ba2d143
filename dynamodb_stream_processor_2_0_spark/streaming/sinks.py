"""Streaming sinks (reference S3/S4, index.js:570-656).

- ``envelope`` / ``write_envelopes``: the queue sink — wraps each row in
  the reference's message envelope {id, type, payload, metadata} with a
  sink-level dedupId (D5, index.js:572-584), serialized with to_json
  (P11) and written idempotently per epoch via ``foreachBatch``
  (exactly-once: epoch-keyed subdirectory = idempotent retry target).
- ``observed``: the metrics sink — A1/S4 counters attached to the query
  via ``df.observe``, surfaced per micro-batch on the StreamingQuery
  progress (the CloudWatch publishMetrics analog, index.js:617-656).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def envelope(df: DataFrame) -> DataFrame:
    """Build the S3 message envelope from disposition rows."""
    dedup_id = F.concat_ws(
        "-", F.col("user_id").cast("string"), F.lower(F.col("event_type"))
    )
    body = F.struct(
        F.concat_ws(
            "_", F.lit("email"), F.col("user_id").cast("string"),
            F.col("event_id").cast("string"),
        ).alias("id"),
        F.lit("face_match_email").alias("type"),
        F.struct(
            F.col("event_id"), F.col("user_id"), F.col("event_type"), F.col("action")
        ).alias("payload"),
        F.struct(
            dedup_id.alias("dedupId"),
            F.date_format(
                F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss"
            ).alias("enqueuedAt"),
        ).alias("metadata"),
    )
    return df.select(
        dedup_id.alias("dedup_id"), F.to_json(body).alias("message_body")
    )


def write_envelopes(out_dir: str):
    """foreachBatch writer: drop batch-level dedupId repeats (D5), then
    write the epoch's envelopes to an epoch-keyed path — re-running the
    same epoch overwrites the same directory (idempotent, E2-safe)."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        (
            envelope(batch_df)
            .dropDuplicates(["dedup_id"])
            .write.mode("overwrite")
            .json(f"{out_dir}/epoch={epoch_id}")
        )

    return write


def observed(df: DataFrame) -> DataFrame:
    """Attach the reference's four batch counters (index.js:42-49):
    processed, triggered, duplicates, errors. An error is a row carrying
    neither disposition; a record that fails to process fails its
    micro-batch instead, which the restart retries (S7)."""
    return df.observe(
        "metrics",
        F.count(F.lit(1)).alias("records_processed"),
        F.count_if(F.col("action") == "email_triggered").alias("emails_triggered"),
        F.count_if(F.col("action") == "duplicate_prevented").alias(
            "duplicates_prevented"
        ),
        F.count_if(
            F.col("action").isNull()
            | ~F.col("action").isin("email_triggered", "duplicate_prevented")
        ).alias("processing_errors"),
    )
