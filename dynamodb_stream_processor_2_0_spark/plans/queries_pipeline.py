"""Flagship pipeline queries (SURVEY.md §3.2 dataflow over ``events``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dynamodb_stream_processor_2_0_spark.config import DEFAULT_CONFIG
from dynamodb_stream_processor_2_0_spark.operators import disposition as D
from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
from dynamodb_stream_processor_2_0_spark.sources.formats import staged_tmpdir


@register(
    "pipeline_disposition_summary",
    oracle=D.summary_oracle_sql(DEFAULT_CONFIG),
    tags=("pipeline", "S1", "S4", "F1", "F2", "F7", "F9", "F10", "F12", "D1", "D3", "D5", "A1", "P2", "P4", "P12"),
    doc="Flagship: full disposition pipeline + A1 counters (index.js:143-321, 42-92).",
)
def pipeline_disposition_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.disposition_summary(load_table(spark, sf_dir, "events"), DEFAULT_CONFIG)


@register(
    "pipeline_disposition_ledger",
    oracle=D.ledger_oracle_sql(DEFAULT_CONFIG),
    tags=("pipeline", "F12", "P10"),
    doc="Per-record disposition ledger with priority routing (index.js:307-315, 563).",
)
def pipeline_disposition_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.disposition_ledger(load_table(spark, sf_dir, "events"), DEFAULT_CONFIG)


@register(
    "s1_stream_record_parse",
    oracle="""
        WITH parsed AS (
            SELECT event_id, ts, user_id, event_type, value,
                   COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER), 0) AS k
            FROM events
        )
        SELECT concat('evt-', event_id) AS record_id,
               CASE WHEN event_type = 'purchase' THEN 'INSERT'
                    ELSE 'MODIFY' END AS event_name,
               CAST(event_id AS VARCHAR) AS event_id_s,
               CAST(user_id AS VARCHAR) AS guest_id,
               concat('guest ', user_id) AS guest_name,
               concat('u', user_id, '@example.org') AS guest_email,
               (k % 7 = 0) AS email_sent,
               CASE WHEN k % 5 = 0 THEN 'delivered' ELSE 'pending' END
                   AS delivery_status,
               k AS total_matches,
               value AS best_similarity,
               date_trunc('milliseconds', ts) AS processed_at,
               concat('pool/img-', event_id, '-1') AS top_url,
               round(value, 2) AS top_score,
               2 AS n_matched,
               2 AS n_stats,
               CASE WHEN event_type NOT IN ('purchase', 'error')
                    THEN k - 1 END AS old_total_matches
        FROM parsed
        WHERE event_type <> 'error'
    """,
    tags=("pipeline", "S1", "F1", "F2", "P1", "P2", "P3", "P4", "P6", "connector"),
    doc="DynamoDB-Streams wire-format connector: encode events in the reference's "
    "tagged {S|N|BOOL} + JSON-in-string format, then parse with the from_json "
    "connector (index.js:34-57, 143-164, 350-385). The oracle computes the "
    "expected typed row directly from the raw columns, so the whole "
    "encode -> decode round trip is verified lossless.",
)
def s1_stream_record_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.sources import dynamodb_stream as DS

    # One from_json per record, not one per extracted field: the
    # per-path pruning rule can't prune inside the map-typed images, so
    # it would re-parse the record per expression (see parse_new_image).
    spark.conf.set("spark.sql.optimizer.enableJsonExpressionOptimization", "false")
    wire = DS.staged_wire(spark, sf_dir)
    typed = DS.parse_new_image(DS.decode_records(wire))
    return typed.select(
        "record_id",
        "event_name",
        "event_id_s",
        "guest_id",
        "guest_name",
        "guest_email",
        "email_sent",
        "delivery_status",
        "total_matches",
        "best_similarity",
        "processed_at",
        F.col("matched_images")[0]["pool_url"].alias("top_url"),
        F.col("matched_images")[0]["similarity_score"].alias("top_score"),
        F.size("matched_images").alias("n_matched"),
        F.size(F.map_keys("match_statistics")).alias("n_stats"),
        "old_total_matches",
    )


_CSV_STAGE_CACHE: dict[str, str] = {}


@register(
    "source_csv_roundtrip",
    oracle="""
        SELECT event_id, user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS value_cents,
               strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso
        FROM events
        WHERE event_type <> 'error'
    """,
    tags=("source", "format", "csv", "S1"),
    doc="CSV source interop (sources/formats.py): events staged to CSV once "
    "per process, read back with an EXPLICIT schema (no inference pass at "
    "scale), filtered and typed; the oracle reads the original parquet — "
    "proving the CSV encode/decode round trip is lossless for the typed "
    "columns.",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubles cross CSV as shortest-repr decimal text and parse back
    to the identical bit pattern; the exported value is pre-scaled to
    int cents anyway so the round trip is exact by construction, and
    the timestamp travels as an explicit ISO string (CSV timestamp
    parsing would re-enter session-timezone territory)."""
    import tempfile

    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.sources import formats

    if sf_dir not in _CSV_STAGE_CACHE:
        path = staged_tmpdir(prefix="events_csv_")
        staged = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_iso"),
        )
        formats.write_batch(staged, path, fmt="csv", header="true")
        _CSV_STAGE_CACHE[sf_dir] = path
    df = formats.read_batch(
        spark,
        _CSV_STAGE_CACHE[sf_dir],
        fmt="csv",
        schema="event_id bigint, user_id bigint, event_type string, "
        "value_cents bigint, ts_iso string",
    )
    return df.filter(F.col("event_type") != "error")


_JSONL_STAGE_CACHE: dict[str, str] = {}


@register(
    "source_jsonl_roundtrip",
    oracle="""
        SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        FROM documents
        WHERE n_chars >= 40
    """,
    tags=("source", "format", "json", "S3"),
    doc="JSON-lines source/sink interop (sources/formats.py): documents "
    "staged as one-JSON-document-per-line (the reference's S3 envelope "
    "shape, index.js:587) and read back with an EXPLICIT schema — no "
    "inference pass, which at 100 TB would be a full extra scan; the "
    "oracle reads the original parquet, proving the round trip lossless.",
)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text travels as a JSON string field and is hashed AFTER the round
    trip — a mismatch in JSON escaping on either side would change the
    md5 and fail the gate. The n_chars filter is applied on the read
    side to show predicate evaluation over a row-oriented source (no
    pushdown into JSON — the scan cost is the parse, which is why
    parquet is the primary format)."""
    import tempfile

    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.sources import formats

    if sf_dir not in _JSONL_STAGE_CACHE:
        path = staged_tmpdir(prefix="docs_jsonl_")
        formats.write_batch(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "lang", "source", "n_chars", "text"
            ),
            path,
            fmt="json",
        )
        _JSONL_STAGE_CACHE[sf_dir] = path
    df = formats.read_batch(
        spark,
        _JSONL_STAGE_CACHE[sf_dir],
        fmt="json",
        schema="doc_id bigint, lang string, source string, n_chars bigint, text string",
    )
    return df.filter(F.col("n_chars") >= 40).select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


_PARTITIONED_STAGE_CACHE: dict[str, str] = {}


def _stage_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """events written partitionBy(event_type): one directory per type,
    shared by the static- and dynamic-pruning queries."""
    from dynamodb_stream_processor_2_0_spark.sources import formats

    if sf_dir not in _PARTITIONED_STAGE_CACHE:
        import tempfile

        path = staged_tmpdir(prefix="events_part_")
        staged = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
            "event_type",
        )
        formats.write_batch(
            staged, path, fmt="parquet", partition_by=["event_type"]
        )
        _PARTITIONED_STAGE_CACHE[sf_dir] = path
    return _PARTITIONED_STAGE_CACHE[sf_dir]


@register(
    "source_partitioned_pruning",
    oracle="""
        SELECT event_id, user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events
        WHERE event_type = 'purchase'
    """,
    tags=("source", "format", "partitioning", "S1"),
    doc="Hive-partitioned layout + partition pruning: events written "
    "partitionBy(event_type) (sources/formats.py write_batch), then read "
    "with an event_type predicate — the scan lists ONLY the matching "
    "directory (PartitionFilters in the plan), the 100 TB analog of "
    "DynamoDB's partition-key access path (index.js:113-114).",
)
def source_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruned scan reads ~1/5 of the data here and exactly one
    partition's worth at any scale — pruning happens at planning time
    from directory names, no footer/row-group IO for excluded
    partitions. ts is intentionally excluded from the projection: the
    staged copy does not re-apply the nanos rebuild, and the query is
    about the access path, not the timestamp column."""
    from dynamodb_stream_processor_2_0_spark.sources import formats

    path = _stage_partitioned_events(spark, sf_dir)
    # explicit schema: no footer-inference pass at scale, and an empty
    # staged dataset (zero partition dirs) still reads as an empty
    # relation instead of UNABLE_TO_INFER_SCHEMA (tools/hostile_sweep.py)
    df = formats.read_batch(
        spark,
        path,
        fmt="parquet",
        schema="event_id long, user_id long, value_cents long, event_type string",
    )
    return df.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "event_type", "value_cents"
    )


_ORC_STAGE_CACHE: dict[str, str] = {}


@register(
    "source_orc_roundtrip",
    oracle="""
        SELECT event_id, user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events
        WHERE event_type IN ('purchase', 'click') AND user_id % 3 = 0
    """,
    tags=("source", "format", "orc", "S1"),
    doc="ORC source interop (sources/formats.py): the engine's third "
    "columnar-capable format — events staged to ORC, read back "
    "(self-describing schema), filtered with predicates that push down "
    "to the ORC reader; oracle reads the original parquet.",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both filters reach the ORC scan as PushedFilters (In + IsNotNull;
    the modulo evaluates post-scan) — same pushdown contract as parquet,
    proven by the round trip hashing equal to the parquet-side oracle."""
    import tempfile

    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.sources import formats

    if sf_dir not in _ORC_STAGE_CACHE:
        path = staged_tmpdir(prefix="events_orc_")
        staged = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        formats.write_batch(staged, path, fmt="orc")
        _ORC_STAGE_CACHE[sf_dir] = path
    df = formats.read_batch(spark, _ORC_STAGE_CACHE[sf_dir], fmt="orc")
    return df.filter(
        F.col("event_type").isin("purchase", "click") & (F.col("user_id") % 3 == 0)
    ).select("event_id", "user_id", "event_type", "value_cents")


@register(
    "e2_corrupt_record_routing",
    oracle="""
        WITH mangled AS (
            SELECT event_id, user_id,
                   CASE WHEN event_id % 97 = 0 THEN substr(props, 1, 3)
                        ELSE props END AS payload
            FROM events
        )
        SELECT event_id, user_id,
               CASE WHEN json_valid(payload) THEN 'parsed'
                    ELSE 'corrupt' END AS disposition,
               CASE WHEN json_valid(payload)
                    THEN TRY_CAST(json_extract_string(payload, '$.k')
                                  AS INTEGER) END AS k,
               CASE WHEN json_valid(payload) THEN NULL
                    ELSE payload END AS corrupt_payload
        FROM mangled
    """,
    tags=("E1", "E2", "P2", "error-handling"),
    doc="Per-record parse-error isolation (E1/E2, index.js:53-80): "
    "deliberately mangled JSON envelopes parsed with from_json in "
    "PERMISSIVE mode — corrupt rows don't fail the batch, they carry "
    "their raw payload to a side output with a disposition tag, the "
    "tag-don't-drop rule (F12) applied to parse errors.",
)
def e2_corrupt_record_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level parse-error isolation with JSON-PARSE semantics, not
    schema-coercion semantics: 'corrupt' means the payload is not valid
    JSON (the reference's JSON.parse throw, index.js:53-80) — a payload
    that parses but carries a wrong-typed field stays 'parsed' with a
    NULL field, exactly like try_cast after a successful parse. The
    PERMISSIVE from_json + columnNameOfCorruptRecord form used before
    round 9 flagged the wrong-typed case too (from_json treats a
    non-coercible field as a corrupt record), silently diverging from
    both the reference and the oracle on inputs the testdata never
    contains — caught by the planted '{"k": "x"}' row in
    tests/test_round9_behavior_events.py. from_json into
    map<string,string> is the validity probe (NULL iff unparseable; a
    JSON scalar would also read NULL, which is fine — every envelope is
    an object); the typed field is a try_cast on the extracted string,
    the same expression shape the oracle uses. One corrupt row per 97
    exercises both branches; the corruption is keyed to event_id so
    Spark and the oracle mangle identical rows."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 97 == 0, F.substring("props", 1, 3)
    ).otherwise(F.col("props"))
    staged = ev.select("event_id", "user_id", payload.alias("payload"))
    ok = F.from_json(F.col("payload"), "map<string,string>").isNotNull()
    return staged.select(
        "event_id",
        "user_id",
        F.when(ok, "parsed").otherwise("corrupt").alias("disposition"),
        F.when(
            ok, F.expr("try_cast(get_json_object(payload, '$.k') AS int)")
        ).alias("k"),
        F.when(~ok, F.col("payload")).alias("corrupt_payload"),
    )


@register(
    "cdc_upsert_compaction",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type, ts,
                   CAST(round(value * 100) AS BIGINT) AS value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n_versions
            FROM events
        )
        SELECT user_id,
               event_type AS last_event_type,
               value_cents AS last_value_cents,
               strftime(ts, '%Y-%m-%dT%H:%M:%S') AS last_ts_iso,
               n_versions
        FROM ranked WHERE rn = 1
    """,
    tags=("S5", "S6", "D4", "cdc", "upsert"),
    doc="CDC upsert compaction — the batch analog of the reference's "
    "table point-writes (markAsProcessed / status CAS, index.js:324-344, "
    "448-497): a change log compacts to latest-state-per-key, "
    "latest-wins on (ts, event_id), with the superseded version count "
    "carried for audit. At scale this IS how a DynamoDB-stream-fed "
    "snapshot table is rebuilt: one shuffle on the key, no point reads.",
)
def cdc_upsert_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror image of d5_first_occurrence_dedup (DESC order = upsert,
    ASC = dedup — same one-shuffle window machinery expressing both
    sides of the reference's state semantics). The version count rides
    the same window partition, so compaction and audit cost one
    exchange together."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    wc = W.partitionBy("user_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_versions", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.round(F.col("value") * 100).cast("long").alias("last_value_cents"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("last_ts_iso"),
            "n_versions",
        )
    )


@register(
    "events_retention_cohort",
    oracle="""
        WITH firsts AS (
            SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
            FROM events
        )
        SELECT strftime(CAST(f.cohort_week AS TIMESTAMP),
                        '%Y-%m-%d') AS cohort_week,
               CAST(date_diff('week', f.cohort_week, a.active_week)
                    AS BIGINT) AS week_offset,
               count(*) AS n_active_users
        FROM firsts f JOIN activity a ON f.user_id = a.user_id
        GROUP BY f.cohort_week, week_offset
        ORDER BY cohort_week, week_offset
    """,
    tags=("relational", "A1", "analytics"),
    doc="Retention cohort matrix: users grouped by first-seen week, "
    "counted per subsequent active week — the standard product-analytics "
    "rollup (two aggs + one key join), exercising min-agg, distinct "
    "projection, date arithmetic, and a same-key self-join that "
    "co-partitions (both sides hash on user_id, no extra exchange).",
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both aggregates and the join share hashpartitioning(user_id), so
    Catalyst reuses one exchange per side and the join adds none. weeks
    are Monday-aligned date_trunc in both engines; the offset is exact
    integer weeks because the truncated values differ by whole weeks."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                F.datediff(
                    F.col("active_week").cast("date"),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "skew_replicated_join",
    oracle="""
        WITH dim AS (
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%dT%H:%M:%S') AS first_ts_iso
            FROM events GROUP BY user_id
        )
        SELECT e.event_id, e.user_id, e.event_type, d.first_ts_iso
        FROM events e JOIN dim d ON e.user_id = d.user_id
    """,
    tags=("skew", "join", "scale"),
    doc="Skew-resistant replicated join (operators/skew.py salted_join): "
    "the fact side salted on row identity, the per-user dim replicated "
    "once per salt, join key widened to (user_id, salt) — a hot user's "
    "rows spread over n_salts tasks instead of one straggler; the "
    "oracle is the plain equi-join, proving the rewrite is "
    "semantics-preserving.",
)
def skew_replicated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For when the small side exceeds broadcast budget AND AQE's
    skew-split can't apply (forced shuffle-hash, or skew inside an
    aggregation feeding the join). Salt comes from event_id (row
    identity, uniform), never the hot key — salting by the key itself
    would keep the hot rows together. n_salts=8 bounds replication at
    8x the dim, the knob traded against straggler depth."""
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("first_ts_iso")
    )
    fact = ev.select("event_id", "user_id", "event_type")
    return salted_join(
        fact, dim, on="user_id", entropy_col="event_id", n_salts=8
    ).select("event_id", "user_id", "event_type", "first_ts_iso")


@register(
    "source_python_datasource",
    oracle="""
        WITH parsed AS (
            SELECT event_id, user_id, event_type, value,
                   COALESCE(TRY_CAST(json_extract_string(props, '$.k')
                            AS INTEGER), 0) AS k
            FROM events
        )
        SELECT CAST(event_id % 8 AS INTEGER) AS shard,
               concat('evt-', event_id) AS record_id,
               CASE WHEN event_type = 'purchase' THEN 'INSERT'
                    ELSE 'MODIFY' END AS event_name,
               CAST(user_id AS VARCHAR) AS guest_id,
               k AS total_matches,
               value AS best_similarity
        FROM parsed
        WHERE event_type <> 'error'
    """,
    tags=("source", "S1", "connector", "python-datasource", "slow"),
    doc="Spark 4 Python DataSource API: the wire format exposed as a "
    "registerable source (spark.read.format('dynamodb_stream_wire')), "
    "shard dirs as InputPartitions (reader parallelism = shard count, "
    "the Kinesis model; index.js:34-43). The source yields raw records; "
    "the typed projection is the same JVM expression layer as "
    "s1_stream_record_parse — transport in Python, parsing in codegen.",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.sources import (
        dynamodb_stream as DS,
        python_datasource as PDS,
    )

    spark.conf.set("spark.sql.optimizer.enableJsonExpressionOptimization", "false")
    PDS.register_wire_datasource(spark)
    path = PDS.staged_wire_jsonl(spark, sf_dir, n_shards=8)
    wire = spark.read.format("dynamodb_stream_wire").option("path", path).load()
    typed = DS.parse_new_image(DS.decode_records(wire))
    return typed.select(
        # parse_new_image projects the fixed typed schema; the shard is
        # re-derived from the key (same hash the stage used), which also
        # pins that records landed in the shard their key demands.
        (F.col("event_id_s").cast("long") % 8).cast("int").alias("shard"),
        "record_id",
        "event_name",
        "guest_id",
        "total_matches",
        "best_similarity",
    )


@register(
    "sink_python_datasource_roundtrip",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events
        )
        SELECT CAST(user_id AS VARCHAR) || '-' || lower(event_type)
                   AS dedup_id,
               'email_' || CAST(user_id AS VARCHAR) || '_'
                   || CAST(event_id AS VARCHAR) AS msg_id,
               'face_match_email' AS msg_type,
               event_id, user_id, event_type
        FROM ranked WHERE rn = 1
    """,
    tags=("sink", "S3", "D5", "E2", "python-datasource"),
    doc="Python DataSourceWriter roundtrip: queue envelopes written via "
    "df.write.format('dynamodb_envelope_sink') with a two-phase "
    "manifest commit (executors stage, driver publishes), then read "
    "back from exactly the committed files. The gate checks what "
    "landed through the custom sink API — orphaned staged files from "
    "retried tasks are invisible by construction (index.js:570-611).",
)
def sink_python_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import Window, functions as F

    from dynamodb_stream_processor_2_0_spark.sources import (
        python_datasource as PDS,
    )
    from dynamodb_stream_processor_2_0_spark.streaming import sinks

    PDS.register_wire_datasource(spark)
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    winners = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .withColumn("action", F.lit("email_triggered"))
        .select("user_id", "event_type", "event_id", "action")
    )
    out_dir = staged_tmpdir(prefix="envelope_batch_sink_")
    (
        sinks.envelope(winners)
        .write.format("dynamodb_envelope_sink")
        .mode("append")
        .option("path", out_dir)
        .save()
    )
    landed = PDS.read_committed_envelopes(
        spark, out_dir, "dedup_id string, message_body string"
    )
    body = F.col("message_body")
    return landed.select(
        "dedup_id",
        F.get_json_object(body, "$.id").alias("msg_id"),
        F.get_json_object(body, "$.type").alias("msg_type"),
        F.get_json_object(body, "$.payload.event_id").cast("long").alias("event_id"),
        F.get_json_object(body, "$.payload.user_id").cast("long").alias("user_id"),
        F.get_json_object(body, "$.payload.event_type").alias("event_type"),
    )


@register(
    "source_dynamic_partition_pruning",
    oracle="""
        WITH dim AS (
            SELECT event_type FROM events
            GROUP BY event_type
            HAVING count(*) >= 0.15 * (SELECT count(*) FROM events)
        )
        SELECT e.event_type,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_value_cents
        FROM events e
        JOIN dim d ON d.event_type = e.event_type
        GROUP BY e.event_type
    """,
    tags=("source", "partitioning", "join", "scale"),
    doc="Dynamic partition pruning: the hive-partitioned events fact is "
    "joined to a dim whose qualifying rows are only known at RUNTIME "
    "(event types holding >= 15% of traffic), so no literal predicate "
    "exists to prune with at planning time — Catalyst injects a "
    "dynamicpruning#N subquery on the partition column from the "
    "broadcast dim, and the fact scan lists only matching directories. "
    "At 100 TB this is the difference between scanning 5 partitions "
    "and 2 — the pruning travels with the join, no manual predicate "
    "maintenance (tests/test_plan_shapes.py asserts the plan shape).",
)
def source_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The dim aggregates the ORIGINAL events table (a different file
    set than the staged fact), so Catalyst cannot constant-fold the
    HAVING into a static partition filter; the broadcast exchange is
    reused as the pruning filter (`ReusedExchange` under the scan's
    dynamicpruning subquery — free at runtime)."""
    from dynamodb_stream_processor_2_0_spark.sources import formats

    path = _stage_partitioned_events(spark, sf_dir)
    fact = formats.read_batch(
        spark,
        path,
        fmt="parquet",
        schema="event_id long, user_id long, value_cents long, event_type string",
    )
    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    dim = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 0.15 * total)
        .select("event_type")
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("sum_value_cents"),
        )
    )


@register(
    "cdc_retraction_aggregate",
    oracle="""
        WITH parsed AS (
            SELECT user_id, ts, event_id, event_type AS grp,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ), imaged AS (
            SELECT user_id, grp, cents,
                   lag(grp) OVER w AS old_grp,
                   lag(cents) OVER w AS old_cents
            FROM parsed
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), deltas AS (
            SELECT grp, cents AS d_cents, 1 AS d_users FROM imaged
            UNION ALL
            SELECT old_grp, -old_cents, -1 FROM imaged
            WHERE old_grp IS NOT NULL
        ), changelog AS (
            SELECT grp, CAST(sum(d_cents) AS BIGINT) AS sum_cents_changelog,
                   CAST(sum(d_users) AS BIGINT) AS n_users_changelog
            FROM deltas GROUP BY grp
        ), latest AS (
            SELECT user_id, grp, cents,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM parsed
        ), snapshot AS (
            SELECT grp, CAST(sum(cents) AS BIGINT) AS sum_cents_snapshot,
                   count(*) AS n_users_snapshot
            FROM latest WHERE rn = 1 GROUP BY grp
        )
        SELECT c.grp AS current_state,
               c.n_users_changelog, s.n_users_snapshot,
               c.sum_cents_changelog, s.sum_cents_snapshot,
               c.n_users_changelog = s.n_users_snapshot
               AND c.sum_cents_changelog = s.sum_cents_snapshot AS consistent
        FROM changelog c
        JOIN snapshot s ON s.grp = c.grp
        ORDER BY current_state
    """,
    tags=("pipeline", "cdc", "D2", "S5", "A1", "scale"),
    doc="Retraction-aware changelog aggregation (Flink retract-stream / "
    "incremental view maintenance): every CDC update emits "
    "+(new_group, new_value) and -(old_group, old_value) delta rows, "
    "and ONE map-side-combinable sum per group maintains the rollup "
    "'users currently in each state and their current value total' "
    "without ever rebuilding the snapshot - the O(changed rows) path "
    "that keeps a 100 TB materialized view fresh. The same query also "
    "computes the rollup the expensive way (latest-row-per-key "
    "snapshot, the cdc_upsert_compaction shape) and proves both arms "
    "equal inside the gate (consistent flag). Old images are "
    "reconstructed with lag() exactly as d2_cdc_old_new_diff does "
    "(index.js:187-221); exact BIGINT cents, no float drift. Shuffle "
    "budget: one window shuffle on user_id shared by both arms "
    "(exchange reuse), then two tiny per-group aggs; the delta "
    "explosion is map-only.",
)
def cdc_retraction_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    imaged = parsed.select(
        "grp",
        "cents",
        F.lag("grp").over(w).alias("old_grp"),
        F.lag("cents").over(w).alias("old_cents"),
    )
    deltas = imaged.select(
        F.explode(
            F.when(
                F.col("old_grp").isNotNull(),
                F.array(
                    F.struct(
                        F.col("grp").alias("g"),
                        F.col("cents").alias("d_cents"),
                        F.lit(1).alias("d_users"),
                    ),
                    F.struct(
                        F.col("old_grp").alias("g"),
                        (-F.col("old_cents")).alias("d_cents"),
                        F.lit(-1).alias("d_users"),
                    ),
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.col("grp").alias("g"),
                        F.col("cents").alias("d_cents"),
                        F.lit(1).alias("d_users"),
                    )
                )
            )
        ).alias("d")
    )
    changelog = deltas.groupBy(F.col("d.g").alias("grp")).agg(
        F.sum("d.d_cents").alias("sum_cents_changelog"),
        F.sum("d.d_users").cast("long").alias("n_users_changelog"),
    )
    wl = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    snapshot = (
        parsed.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .groupBy("grp")
        .agg(
            F.sum("cents").alias("sum_cents_snapshot"),
            F.count(F.lit(1)).alias("n_users_snapshot"),
        )
    )
    return (
        changelog.join(snapshot, "grp")
        .select(
            F.col("grp").alias("current_state"),
            "n_users_changelog",
            "n_users_snapshot",
            "sum_cents_changelog",
            "sum_cents_snapshot",
            (
                (F.col("n_users_changelog") == F.col("n_users_snapshot"))
                & (F.col("sum_cents_changelog") == F.col("sum_cents_snapshot"))
            ).alias("consistent"),
        )
        .orderBy("current_state")
    )


_EVOLVE_STAGE_CACHE: dict[str, tuple[str, str]] = {}


@register(
    "source_schema_evolution_merge",
    oracle="""
        SELECT event_id, user_id,
               CAST(round(value * 100) AS BIGINT) AS value_cents,
               CASE WHEN event_id % 2 = 0 THEN NULL ELSE event_type END
                   AS event_type,
               event_id % 2 = 0 AS from_v1
        FROM events
    """,
    tags=("source", "format", "parquet", "S1", "P4"),
    doc="Schema-evolution read (mergeSchema): a v1 parquet shard written "
    "before a column existed and a v2 shard with the added event_type "
    "column are read as ONE relation - the union schema is resolved at "
    "planning time from the two footers (no data rewrite, no backfill "
    "scan), v1 rows surface NULL for the added column, and the typed "
    "columns stay bit-exact through the merge. This is how a 100 TB "
    "append-only lake absorbs producer schema changes: old files are "
    "never touched, the reader reconciles by column NAME. The oracle "
    "derives the same v1/v2 split from the original parquet, proving "
    "the evolved read lossless. Extends the S1 source family "
    "(index.js:34-63 record parse) to evolving wire schemas.",
)
def source_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    if sf_dir not in _EVOLVE_STAGE_CACHE:
        base = tempfile.mkdtemp(prefix="events_evolve_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        events = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
            "event_type",
        )
        v1, v2 = f"{base}/v1", f"{base}/v2"
        events.filter(F.col("event_id") % 2 == 0).drop("event_type").write.mode(
            "overwrite"
        ).parquet(v1)
        events.filter(F.col("event_id") % 2 != 0).write.mode("overwrite").parquet(v2)
        _EVOLVE_STAGE_CACHE[sf_dir] = (v1, v2)
    v1, v2 = _EVOLVE_STAGE_CACHE[sf_dir]
    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    return merged.select(
        "event_id",
        "user_id",
        "value_cents",
        "event_type",
        F.col("event_type").isNull().alias("from_v1"),
    )


@register(
    "source_python_pushdown_pruning",
    oracle="""
        WITH parsed AS (
            SELECT event_id, user_id, event_type, value,
                   COALESCE(TRY_CAST(json_extract_string(props, '$.k')
                            AS INTEGER), 0) AS k
            FROM events
        )
        SELECT CAST(event_id % 8 AS INTEGER) AS shard,
               concat('evt-', event_id) AS record_id,
               CASE WHEN event_type = 'purchase' THEN 'INSERT'
                    ELSE 'MODIFY' END AS event_name,
               CAST(user_id AS VARCHAR) AS guest_id,
               k AS total_matches
        FROM parsed
        WHERE event_type <> 'error'
          AND event_id % 8 >= 5
          AND k >= 1
    """,
    tags=("source", "S1", "connector", "python-datasource", "scale"),
    doc="Python DataSource FILTER PUSHDOWN (Spark 4.1 pushFilters): "
    "shard-column comparisons prune whole shard directories at "
    "planning time — 3 of 8 InputPartitions are ever created for "
    "shard >= 5, no task touches the other five (the Python-source "
    "analog of hive-partition pruning, and the Kinesis "
    "read-only-your-shards model; index.js:34-43). The shard value is "
    "constant per directory so the accepted predicate is fully "
    "enforced by pruning (not re-evaluated), while the record-level "
    "total_matches >= 1 predicate is NOT accepted and correctly stays "
    "in Spark's post-scan filter. tests/test_dynamodb_connector.py "
    "asserts the partition count drops 8 -> 3 and that unsupported "
    "filters are yielded back.",
)
def source_python_pushdown_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynamodb_stream_processor_2_0_spark.sources import (
        dynamodb_stream as DS,
        python_datasource as PDS,
    )

    spark.conf.set("spark.sql.optimizer.enableJsonExpressionOptimization", "false")
    PDS.register_wire_datasource(spark)
    path = PDS.staged_wire_jsonl(spark, sf_dir, n_shards=8)
    wire = (
        spark.read.format("dynamodb_stream_wire")
        .option("path", path)
        .load()
        .filter(F.col("shard") >= 5)
    )
    typed = DS.parse_new_image(DS.decode_records(wire))
    return typed.select(
        (F.col("event_id_s").cast("long") % 8).cast("int").alias("shard"),
        "record_id",
        "event_name",
        "guest_id",
        "total_matches",
    ).filter(F.col("total_matches") >= 1)
