"""Stateless scalar/predicate operator queries (SURVEY.md §2.2-2.3).

Each query is the batch re-expression of one reference operator over the
test tables, paired with its DuckDB oracle. All plans are pure built-in
expressions — single scan, no shuffle except where an aggregate needs
one — so at 100 TB they are embarrassingly parallel map stages with full
predicate pushdown and column pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dynamodb_stream_processor_2_0_spark.functions import parsing as P
from dynamodb_stream_processor_2_0_spark.functions import predicates as PR
from dynamodb_stream_processor_2_0_spark.operators.disposition import (
    ALLOWED_EVENT_TYPES,
)
from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table


@register(
    "f1_change_type_filter",
    oracle="""
        SELECT event_id, user_id, event_type
        FROM events
        WHERE event_type IN ('click','view','purchase','signup')
    """,
    tags=("F1",),
    doc="F1 change-type allowlist (index.js:146-153).",
)
def f1_change_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*ALLOWED_EVENT_TYPES))
        .select("event_id", "user_id", "event_type")
    )


@register(
    "f3_null_pass_filter",
    oracle="""
        WITH parsed AS (
            SELECT event_id, user_id,
                   TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_raw
            FROM events
        )
        SELECT event_id, user_id, k_raw
        FROM parsed
        WHERE NOT COALESCE(k_raw % 10 = 0 OR k_raw % 13 = 0, FALSE)
    """,
    tags=("F3", "F4"),
    doc="F3/F4 negated flag filters with null-PASS semantics (index.js:167-184).",
)
def f3_null_pass_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events").withColumn(
        "k_raw", F.expr("try_cast(get_json_object(props, '$.k') AS int)")
    )
    keep = PR.null_pass_not_any(F.col("k_raw") % 10 == 0, F.col("k_raw") % 13 == 0)
    return df.filter(keep).select("event_id", "user_id", "k_raw")


@register(
    "p1_typed_parse_projection",
    oracle="""
        SELECT event_id,
               user_id,
               lower(event_type) AS event_type_norm,
               COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER), 0) AS k,
               COALESCE(TRY_CAST(json_extract_string(props, '$.missing') AS DOUBLE), 0.0) AS missing_metric,
               CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value_dec,
               strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso
        FROM events
    """,
    tags=("P1", "P2", "P3", "P4", "P6"),
    doc="P1 typed parse: dynamic JSON -> fixed schema with defaults (index.js:350-385).",
)
def p1_typed_parse_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    return df.select(
        "event_id",
        "user_id",
        F.lower("event_type").alias("event_type_norm"),
        P.json_int("props", "$.k").alias("k"),
        P.json_double("props", "$.missing").alias("missing_metric"),
        # typed 2-decimal parse, surfaced as double (decimal outputs
        # fail the driver's pandas-level hash; see tests/oracle_harness)
        F.col("value").cast("decimal(18,2)").cast("double").alias("value_dec"),
        P.iso_timestamp("ts").alias("ts_iso"),
    )


@register(
    "p5_key_building",
    oracle="""
        SELECT event_id,
               concat(CAST(user_id AS VARCHAR), '-', lower(event_type)) AS dedup_id,
               printf('email_%d_%d', event_id, user_id) AS message_id
        FROM events
    """,
    tags=("P5", "D5"),
    doc="P5/D5 key building: dedupId + message id interpolation (index.js:572, 575).",
)
def p5_key_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    return df.select(
        "event_id",
        P.dedup_id(F.col("user_id").cast("string"), F.col("event_type")).alias(
            "dedup_id"
        ),
        F.format_string("email_%d_%d", "event_id", "user_id").alias("message_id"),
    )


@register(
    "f8_email_validation",
    oracle="""
        WITH emails AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 17 = 0 THEN 'bad email at'
                        WHEN c_custkey % 13 = 0
                            THEN concat('unknown@host', CAST(c_custkey AS VARCHAR), '.org')
                        WHEN c_custkey % 5 = 0
                            THEN concat('user', CAST(c_custkey AS VARCHAR), '@test.com')
                        ELSE concat(lower(replace(c_name, ' ', '.')), '@corp.example.org')
                   END AS email
            FROM customer
        )
        SELECT c_custkey, email,
               regexp_matches(email, '^[^\\s@]+@[^\\s@]+\\.[^\\s@]+$') AS is_valid,
               (contains(lower(email), 'example.com') OR contains(lower(email), 'test.com')
                OR starts_with(lower(email), 'unknown@')) AS is_blocklisted
        FROM emails
    """,
    tags=("F8", "F10", "P3"),
    doc="F8 email regex + F10 blocklist over synthesized emails (index.js:400-403, 433-439).",
)
def f8_email_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "customer")
    email = (
        F.when(F.col("c_custkey") % 17 == 0, F.lit("bad email at"))
        .when(
            F.col("c_custkey") % 13 == 0,
            F.concat(F.lit("unknown@host"), F.col("c_custkey").cast("string"), F.lit(".org")),
        )
        .when(
            F.col("c_custkey") % 5 == 0,
            F.concat(F.lit("user"), F.col("c_custkey").cast("string"), F.lit("@test.com")),
        )
        .otherwise(
            F.concat(
                F.lower(F.replace(F.col("c_name"), F.lit(" "), F.lit("."))),
                F.lit("@corp.example.org"),
            )
        )
    )
    return df.select(
        "c_custkey",
        email.alias("email"),
        PR.is_valid_email(email).alias("is_valid"),
        PR.is_blocklisted_email(email).alias("is_blocklisted"),
    )


@register(
    "p7_nested_document_build",
    oracle="""
        SELECT event_id,
               to_json(struct_pack(
                   guestInfo := struct_pack(userId := user_id),
                   matchInfo := struct_pack(
                       eventType := event_type,
                       totalK := COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER), 0)
                   ),
                   jobMetadata := struct_pack(
                       priority := CASE WHEN value >= 100.0 THEN 'high' ELSE 'normal' END,
                       source := 'dynamodb_stream_processor_2_0_spark'
                   )
               ))::VARCHAR AS email_job
        FROM events
        WHERE event_type IN ('click','view','purchase','signup')
    """,
    tags=("P7", "P11", "P10"),
    doc="P7/P11 nested email-job document + JSON encode (index.js:528-568, 587).",
)
def p7_nested_document_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*ALLOWED_EVENT_TYPES)
    )
    job = F.struct(
        F.struct(F.col("user_id").alias("userId")).alias("guestInfo"),
        F.struct(
            F.col("event_type").alias("eventType"),
            P.json_int("props", "$.k").alias("totalK"),
        ).alias("matchInfo"),
        F.struct(
            F.when(F.col("value") >= 100.0, "high").otherwise("normal").alias("priority"),
            F.lit("dynamodb_stream_processor_2_0_spark").alias("source"),
        ).alias("jobMetadata"),
    )
    return df.select("event_id", F.to_json(job).alias("email_job"))


@register(
    "p8_array_transform_slice",
    oracle="""
        SELECT doc_id,
               array_to_string(
                   list_transform(string_split(text, ' ')[1:5], t -> upper(t)),
                   '|') AS top_tokens,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    """,
    tags=("P8", "P9"),
    doc="P8 per-element array transform + P9 top-K slice (index.js:529-534).",
)
def p8_array_transform_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    return df.select(
        "doc_id",
        F.array_join(
            F.transform(F.slice(tokens, 1, 5), lambda t: F.upper(t)), "|"
        ).alias("top_tokens"),
        F.size(tokens).alias("n_tokens"),
    )


@register(
    "p10_priority_routing",
    oracle="""
        SELECT event_id,
               CASE WHEN value >= 100.0 THEN 'high' ELSE 'normal' END AS priority,
               CASE WHEN value >= 100.0 THEN 0 ELSE 5 END AS delay_seconds
        FROM events
    """,
    tags=("P10", "S3"),
    doc="P10 priority + DelaySeconds routing (index.js:563, 599).",
)
def p10_priority_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    high = F.col("value") >= 100.0
    return df.select(
        "event_id",
        F.when(high, "high").otherwise("normal").alias("priority"),
        F.when(high, 0).otherwise(5).alias("delay_seconds"),
    )


@register(
    "a2_existence_per_key",
    oracle="""
        SELECT user_id,
               COALESCE(bool_or(event_type = 'purchase'), FALSE) AS has_purchase,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
        FROM events
        GROUP BY user_id
    """,
    tags=("A2", "S2"),
    doc="A2 existence aggregate per key (Items.length > 0, index.js:125).",
)
def a2_existence_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    return df.groupBy("user_id").agg(
        F.coalesce(F.bool_or(is_purchase), F.lit(False)).alias("has_purchase"),
        F.count_if(is_purchase).alias("n_purchases"),
    )


@register(
    "a3_failure_list",
    oracle="""
        SELECT user_id,
               COALESCE(
                   array_to_string(
                       list_sort(list(event_id) FILTER (WHERE event_type = 'error')),
                       ','),
                   '') AS failed_ids
        FROM events
        GROUP BY user_id
    """,
    tags=("A3", "E2"),
    doc="A3 failed-id collection for partial-batch retry (index.js:94-97).",
)
def a3_failure_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    failed = F.when(F.col("event_type") == "error", F.col("event_id"))
    return df.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_list(failed)), ",").alias("failed_ids")
    )


@register(
    "p11_envelope_json",
    oracle="""
        SELECT event_id,
               to_json(struct_pack(
                   id := concat('email_', event_id, '_', user_id),
                   type := 'email_job',
                   payload := struct_pack(
                       uid := user_id,
                       etype := event_type,
                       priority := CASE WHEN value >= 100 THEN 'high'
                                        ELSE 'normal' END),
                   metadata := struct_pack(
                       dedup_id := concat(event_id, '-', user_id),
                       source := 'engine',
                       max_retries := 3,
                       retry_delay_ms := 1000)
               ))::VARCHAR AS message_body
        FROM events
        WHERE event_type = 'purchase'
    """,
    tags=("P11", "P7", "S3", "E3"),
    doc="P11/S3 message envelope: nested struct -> to_json body with dedup id and E3 retry policy metadata (index.js:564-565, 575-600).",
)
def p11_envelope_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-encode the S3 queue envelope {id, type, payload, metadata}
    (index.js:585-600). Only strings/longs inside the struct: their
    JSON rendering is identical across engines (doubles are not)."""
    df = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    envelope = F.struct(
        F.concat(F.lit("email_"), F.col("event_id"), F.lit("_"), F.col("user_id")).alias("id"),
        F.lit("email_job").alias("type"),
        F.struct(
            F.col("user_id").alias("uid"),
            F.col("event_type").alias("etype"),
            F.when(F.col("value") >= 100, "high").otherwise("normal").alias("priority"),
        ).alias("payload"),
        F.struct(
            F.concat(F.col("event_id"), F.lit("-"), F.col("user_id")).alias("dedup_id"),
            F.lit("engine").alias("source"),
            # E3: retry policy declared in job metadata, consumed by the
            # stream-restart layer (index.js:21-22, 564-565)
            F.lit(3).alias("max_retries"),
            F.lit(1000).alias("retry_delay_ms"),
        ).alias("metadata"),
    )
    return df.select("event_id", F.to_json(envelope).alias("message_body"))


@register(
    "e1_error_isolation",
    oracle="""
        WITH parsed AS (
            SELECT event_id, user_id,
                   COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER), 0) AS k,
                   value
            FROM events
        )
        SELECT event_id, user_id,
               CASE WHEN k = 0 THEN NULL ELSE value / k END AS value_per_k,
               CASE WHEN k = 0 THEN 'division_by_zero' END AS error
        FROM parsed
    """,
    tags=("E1", "E2", "F12"),
    doc="E1 per-record error isolation: failing rows yield NULL + reason instead of killing the batch (index.js:53-80).",
)
def e1_error_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level try/except as an expression: ``try_divide`` turns the
    per-record throw (index.js:70-79) into a NULL plus a reason column;
    the error rows ARE the batchItemFailures side output (filter on
    ``error IS NOT NULL``)."""
    df = load_table(spark, sf_dir, "events")
    k = F.coalesce(
        F.expr("try_cast(get_json_object(props, '$.k') AS int)"), F.lit(0)
    )
    return df.select(
        "event_id",
        "user_id",
        F.try_divide(F.col("value"), k.cast("double")).alias("value_per_k"),
        F.when(k == 0, F.lit("division_by_zero")).alias("error"),
    )


@register(
    "scalar_function_battery",
    oracle="""
        SELECT c_custkey,
               upper(c_name) AS up_name,
               lower(c_mktsegment) AS low_seg,
               substr(c_name, 1, 8) AS name_prefix,
               length(c_name) AS name_len,
               replace(c_name, '#', '-') AS name_dashed,
               lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_padded,
               trim('  x  ') || CAST(c_nationkey AS VARCHAR) AS trimmed_tag,
               reverse(substr(c_name, 1, 6)) AS rev_prefix,
               strpos(c_name, '#') AS hash_pos,
               split_part(c_name, '#', 1) AS name_stem,
               left(c_mktsegment, 3) AS seg3,
               right(c_name, 4) AS name_tail,
               repeat('ab', 3) AS repeated,
               CAST(abs(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS abs_cents,
               greatest(c_nationkey, 10) AS nk_floor10,
               least(c_nationkey, 10) AS nk_cap10,
               CAST(c_custkey % 7 AS BIGINT) AS key_mod7,
               concat_ws(':', c_mktsegment, CAST(c_nationkey AS VARCHAR))
                   AS seg_nation
        FROM customer
        WHERE c_custkey <= 500
    """,
    tags=("scalar", "functions", "P3", "P5"),
    doc="Scalar-function battery: the string/number function surface "
    "(case map, substring, pad, trim, replace, split, search, reverse, "
    "repeat, abs/mod/greatest/least, concat) proven semantics-identical "
    "against the oracle — the JS string ops of index.js:350-403 and "
    "528-568 re-expressed as built-in JVM expressions.",
)
def scalar_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All whole-stage-codegen expressions, zero shuffle: this is the
    map-stage function surface, and the query exists to pin each
    function's cross-engine semantics (1-based substr/strpos, empty
    split_part behavior, lpad truncation) with the gate hash."""
    df = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    return df.select(
        "c_custkey",
        F.upper("c_name").alias("up_name"),
        F.lower("c_mktsegment").alias("low_seg"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("key_padded"),
        F.concat(F.trim(F.lit("  x  ")), F.col("c_nationkey").cast("string")).alias(
            "trimmed_tag"
        ),
        F.reverse(F.substring("c_name", 1, 6)).alias("rev_prefix"),
        F.instr(F.col("c_name"), "#").cast("long").alias("hash_pos"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_stem"),
        F.substring("c_mktsegment", 1, 3).alias("seg3"),
        F.substr(
            F.col("c_name"), F.length("c_name") - F.lit(3), F.lit(4)
        ).alias("name_tail"),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
        F.abs(F.round(F.col("c_acctbal") * 100).cast("long")).alias("abs_cents"),
        F.greatest("c_nationkey", F.lit(10)).alias("nk_floor10"),
        F.least("c_nationkey", F.lit(10)).alias("nk_cap10"),
        (F.col("c_custkey") % 7).alias("key_mod7"),
        F.concat_ws(":", "c_mktsegment", F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
    )


@register(
    "datetime_function_battery",
    oracle="""
        WITH d AS (
            SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders
            WHERE o_orderkey <= 2000
        )
        SELECT o_orderkey,
               CAST(year(od) AS INTEGER) AS y,
               CAST(quarter(od) AS INTEGER) AS q,
               CAST(month(od) AS INTEGER) AS m,
               CAST(day(od) AS INTEGER) AS dom,
               CAST(dayofyear(od) AS INTEGER) AS doy,
               CAST(isodow(od) AS INTEGER) AS iso_dow,
               CAST(week(od) AS INTEGER) AS iso_week,
               CAST(last_day(od) AS VARCHAR) AS month_end,
               CAST(date_trunc('month', od) AS VARCHAR) AS month_start,
               CAST(od + 30 AS VARCHAR) AS plus_30d,
               CAST(CAST(od + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus_3mo,
               CAST(date_diff('day', DATE '1995-01-01', od) AS BIGINT)
                   AS days_since_95,
               CAST(make_date(year(od), 1, 1) AS VARCHAR) AS year_start
        FROM d
    """,
    tags=("scalar", "functions", "P6"),
    doc="Date/time function battery: calendar extraction (ISO week/dow), "
    "month arithmetic with end-of-month clamping, truncation, date "
    "difference — the temporal surface behind the reference's "
    "processedAt stamping (index.js:370, 564) pinned cross-engine. All "
    "date-typed results cross the gate as ISO strings so neither "
    "engine's date-vs-timestamp pandas dtype leaks into the hash.",
)
def datetime_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codegen-only map stage, no shuffle. weekday()+1 == ISO dow pins
    the off-by-one between Spark's Sunday-1 dayofweek and ISO; month
    addition clamps identically (Jan 31 + 1 mo -> Feb 28) in both
    engines."""
    df = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("od"))
    )
    return df.select(
        "o_orderkey",
        F.year("od").alias("y"),
        F.quarter("od").alias("q"),
        F.month("od").alias("m"),
        F.dayofmonth("od").alias("dom"),
        F.dayofyear("od").alias("doy"),
        (F.weekday("od") + 1).alias("iso_dow"),
        F.weekofyear("od").alias("iso_week"),
        F.last_day("od").cast("string").alias("month_end"),
        F.trunc("od", "month").cast("string").alias("month_start"),
        F.date_add("od", 30).cast("string").alias("plus_30d"),
        F.add_months("od", 3).cast("string").alias("plus_3mo"),
        F.datediff("od", F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
        F.make_date(F.year("od"), F.lit(1), F.lit(1))
        .cast("string")
        .alias("year_start"),
    )


@register(
    "regex_function_battery",
    oracle="""
        SELECT p_partkey,
               regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS noun,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
               regexp_matches(p_name, '^(red|small)') AS starts_flagged,
               CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INTEGER)
                   AS n_word_runs,
               (p_name LIKE '%ring%') AS like_ring,
               (p_type ILIKE 'econ%') AS ilike_econ,
               translate(p_brand, '#', '-') AS brand_dashed,
               CAST(ascii(p_name) AS INTEGER) AS first_cp,
               chr(65 + CAST(p_partkey % 26 AS INTEGER)) AS letter,
               md5(p_name) AS name_md5,
               sha256(p_brand) AS brand_sha,
               printf('%05d:%s', CAST(p_partkey AS INTEGER), p_type) AS tag
        FROM part
        WHERE p_partkey <= 1500
    """,
    tags=("scalar", "functions", "F8", "P3"),
    doc="Regex + hashing function battery: capture-group extraction, "
    "global replacement, anchored match, match counting, LIKE/ILIKE, "
    "translate, ascii/chr, md5/sha256, printf — the validation surface "
    "of the reference's email/url regex guards (index.js:390-403) "
    "pinned cross-engine (Spark regexp_replace is global by default; "
    "DuckDB needs the explicit 'g' flag).",
)
def regex_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 1500)
    return df.select(
        "p_partkey",
        F.regexp_extract("p_name", r"([a-z]+) ([a-z]+)", 2).alias("noun"),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike(r"^(red|small)").alias("starts_flagged"),
        F.regexp_count("p_name", F.lit(r"[a-z]+")).alias("n_word_runs"),
        F.col("p_name").like("%ring%").alias("like_ring"),
        F.col("p_type").ilike("econ%").alias("ilike_econ"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.ascii("p_name").alias("first_cp"),
        F.chr(F.lit(65) + (F.col("p_partkey") % 26)).alias("letter"),
        F.md5("p_name").alias("name_md5"),
        F.sha2("p_brand", 256).alias("brand_sha"),
        F.printf(
            F.lit("%05d:%s"), F.col("p_partkey").cast("int"), F.col("p_type")
        ).alias("tag"),
    )


@register(
    "array_function_battery",
    oracle="""
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id < 300
        )
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n,
               array_to_string(list_sort(list_distinct(toks[1:5])), '|')
                   AS head_sorted,
               array_to_string(toks[2:4], '|') AS mid_slice,
               list_contains(toks, 'the') AS has_the,
               CAST(list_position(toks, 'the') AS INTEGER) AS the_pos,
               array_to_string(list_filter(toks, t -> length(t) > 4), '|')
                   AS long_toks,
               array_to_string(list_transform(toks[1:3], t -> upper(t)), '|')
                   AS head_upper,
               CAST(list_aggregate(list_transform(toks, t -> length(t)),
                                   'sum') AS BIGINT) AS total_chars,
               array_to_string(list_reverse(toks[1:3]), '|') AS head_rev,
               array_to_string(flatten([toks[1:2], toks[1:2]]), '|')
                   AS doubled_head
        FROM base
    """,
    tags=("scalar", "functions", "P8", "P9"),
    doc="Array/higher-order function battery: slice, distinct+sort, "
    "membership/position (1-based in both engines), filter/transform "
    "lambdas, fold (aggregate vs list_aggregate), reverse, flatten — "
    "the array surface behind the reference's match-list handling "
    "(index.js:429-470) pinned cross-engine. Arrays never cross the "
    "gate raw (the driver's canonicalization can't hash lists): every "
    "array result is array_join-serialized.",
)
def array_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
    head5 = F.slice("toks", 1, 5)
    return df.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.array_join(F.array_sort(F.array_distinct(head5)), "|").alias(
            "head_sorted"
        ),
        F.array_join(F.slice("toks", 2, 3), "|").alias("mid_slice"),
        F.array_contains("toks", "the").alias("has_the"),
        F.array_position("toks", "the").cast("int").alias("the_pos"),
        F.array_join(
            F.filter("toks", lambda t: F.length(t) > 4), "|"
        ).alias("long_toks"),
        F.array_join(
            F.transform(F.slice("toks", 1, 3), lambda t: F.upper(t)), "|"
        ).alias("head_upper"),
        F.aggregate(
            F.transform("toks", lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.array_join(F.reverse(F.slice("toks", 1, 3)), "|").alias("head_rev"),
        F.array_join(
            F.flatten(F.array(F.slice("toks", 1, 2), F.slice("toks", 1, 2))),
            "|",
        ).alias("doubled_head"),
    )


@register(
    "json_function_battery",
    oracle="""
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
               json_extract_string(props, '$.tag') AS tag,
               json_extract_string(props, '$.missing') AS absent,
               (json_extract(props, '$.k') IS NOT NULL) AS has_k,
               CAST(json_valid(props) AS BOOLEAN) AS is_valid,
               json_extract_string(props, '$.nested.deep') AS deep
        FROM events
        WHERE event_id < 3000
    """,
    tags=("scalar", "functions", "P2", "json"),
    doc="JSON path function battery: string extraction, numeric "
    "coercion via try_cast (ANSI-safe), missing-path null, existence "
    "probe, validity check, nested path — the reference's per-record "
    "JSON.parse surface (index.js:350-385) as JVM path expressions "
    "that never materialize a parsed tree per row.",
)
def json_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    p = F.col("props")
    return df.select(
        "event_id",
        F.get_json_object(p, "$.k").alias("k_str"),
        F.get_json_object(p, "$.k").try_cast("bigint").alias("k_num"),
        F.get_json_object(p, "$.tag").alias("tag"),
        F.get_json_object(p, "$.missing").alias("absent"),
        F.get_json_object(p, "$.k").isNotNull().alias("has_k"),
        # Spark has no json_valid; a NULL-propagating probe of the root
        # object is the same predicate for object-rooted documents.
        F.when(p.isNull(), F.lit(None).cast("boolean"))
        .otherwise(F.get_json_object(p, "$").isNotNull())
        .alias("is_valid"),
        F.get_json_object(p, "$.nested.deep").alias("deep"),
    )


@register(
    "conditional_bitwise_battery",
    oracle="""
        SELECT event_id,
               coalesce(value, -1.0) AS val_or_default,
               nullif(event_type, 'error') AS type_or_null,
               ifnull(user_id, -1) AS uid_or_default,
               CASE WHEN value IS NULL THEN 'missing'
                    WHEN value >= 0.5 THEN 'high' ELSE 'low' END AS band,
               (value IS DISTINCT FROM NULL) AS has_value,
               CAST(user_id & 255 AS BIGINT) AS uid_low8,
               CAST(user_id | 1 AS BIGINT) AS uid_odd,
               CAST(xor(user_id, event_id) AS BIGINT) AS uid_xor_eid,
               CAST(bit_count(user_id) AS INTEGER) AS uid_popcount,
               CAST(CASE WHEN user_id % 2 = 0 THEN user_id ELSE NULL END
                    AS BIGINT) AS even_only,
               greatest(value, 0.25, 0.0) AS val_floor,
               least(coalesce(value, 1e9), 0.75) AS val_cap
        FROM events
        WHERE event_id < 3000
    """,
    tags=("scalar", "functions", "P10", "F2"),
    doc="Conditional + bitwise battery: coalesce/nullif/ifnull, "
    "multi-arm CASE, IS DISTINCT FROM, and the integer bit surface "
    "(&, |, xor, popcount) — the null-guard and flag-packing idioms of "
    "index.js:167-190 pinned cross-engine, incl. greatest/least "
    "null-skipping semantics shared by both engines.",
)
def conditional_bitwise_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    v, u = F.col("value"), F.col("user_id")
    return df.select(
        "event_id",
        F.coalesce(v, F.lit(-1.0)).alias("val_or_default"),
        F.nullif("event_type", F.lit("error")).alias("type_or_null"),
        F.ifnull(u, F.lit(-1)).alias("uid_or_default"),
        F.when(v.isNull(), "missing")
        .when(v >= 0.5, "high")
        .otherwise("low")
        .alias("band"),
        v.isNotNull().alias("has_value"),
        u.bitwiseAND(F.lit(255)).alias("uid_low8"),
        u.bitwiseOR(F.lit(1)).alias("uid_odd"),
        u.bitwiseXOR(F.col("event_id")).alias("uid_xor_eid"),
        F.bit_count(u).alias("uid_popcount"),
        F.when(u % 2 == 0, u).cast("long").alias("even_only"),
        F.greatest(v, F.lit(0.25), F.lit(0.0)).alias("val_floor"),
        F.least(F.coalesce(v, F.lit(1e9)), F.lit(0.75)).alias("val_cap"),
    )


@register(
    "map_struct_function_battery",
    oracle="""
        WITH m AS (
            SELECT event_id, event_type, user_id,
                   MAP(['type', 'uid'],
                       [event_type, CAST(user_id AS VARCHAR)]) AS mp
            FROM events WHERE event_id < 2500
        )
        SELECT event_id,
               array_to_string(map_keys(mp), ',') AS keys_joined,
               array_to_string(map_values(mp), ',') AS vals_joined,
               element_at(mp, 'type')[1] AS type_val,
               element_at(mp, 'missing')[1] AS absent_val,
               CAST(len(map_keys(mp)) AS INTEGER) AS m_size,
               array_to_string(
                   map_keys(map_concat(mp, MAP(['extra'], ['1']))), ','
               ) AS concat_keys,
               to_json(struct_pack(id := event_id, kind := event_type))
                   AS struct_json,
               struct_pack(id := event_id, kind := event_type).kind
                   AS struct_field
        FROM m
    """,
    tags=("scalar", "functions", "P7", "P11"),
    doc="Map/struct function battery: construction (map from arrays, "
    "named struct), key/value extraction, missing-key null, size, "
    "concat, field access, and JSON serialization — the dynamic "
    "attribute-map surface of the reference's DynamoDB images "
    "(index.js:350-385) pinned cross-engine. Maps/structs never cross the gate raw: "
    "keys/values are array_join-serialized, structs go out as "
    "canonical JSON.",
)
def map_struct_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2500)
    mp = F.map_from_arrays(
        F.array(F.lit("type"), F.lit("uid")),
        F.array(F.col("event_type"), F.col("user_id").cast("string")),
    )
    st = F.struct(
        F.col("event_id").alias("id"), F.col("event_type").alias("kind")
    )
    return df.select(
        "event_id",
        F.array_join(F.map_keys(mp), ",").alias("keys_joined"),
        F.array_join(F.map_values(mp), ",").alias("vals_joined"),
        F.element_at(mp, "type").alias("type_val"),
        F.element_at(mp, "missing").alias("absent_val"),
        F.size(mp).alias("m_size"),
        F.array_join(
            F.map_keys(
                F.map_concat(mp, F.create_map(F.lit("extra"), F.lit("1")))
            ),
            ",",
        ).alias("concat_keys"),
        F.to_json(st).alias("struct_json"),
        st.getField("kind").alias("struct_field"),
    )


@register(
    "variant_json_shred",
    oracle="""
        WITH guarded AS (
            SELECT event_id,
                   CASE WHEN props IS NOT NULL AND json_valid(props)
                        THEN props END AS jp
            FROM events
            WHERE event_id < 4000
        )
        SELECT event_id,
               jp IS NOT NULL AS parsed_ok,
               TRY_CAST(json_extract_string(jp, '$.k') AS INTEGER) AS k,
               CASE WHEN json_extract_string(jp, '$.k') IS NOT NULL
                    THEN CASE json_type(jp, '$.k')
                         WHEN 'VARCHAR' THEN 'STRING'
                         WHEN 'UBIGINT' THEN 'BIGINT'
                         ELSE json_type(jp, '$.k') END
               END AS k_kind
        FROM guarded
        ORDER BY event_id
    """,
    tags=("scalar", "variant", "P2", "spark4"),
    doc="Spark 4 VARIANT shredding: semi-structured props parse once "
    "into the binary Variant encoding (try_parse_json — invalid rows "
    "yield NULL, the reference's fail-open JSON guard, index.js:152-166) "
    "and typed fields shred out via variant_get path extraction. Unlike "
    "per-field get_json_object (which re-parses the string per column), "
    "the Variant parse cost is paid once per row regardless of how many "
    "fields shred — the 100 TB semi-structured scan pattern.",
)
def variant_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_variant_get, not variant_get: a wrong-typed field (e.g.
    '{"k": "x"}') must shred to NULL, not kill the task with
    INVALID_VARIANT_CAST — the same fail-open rule as try_parse_json
    for unparseable rows. (Caught by the planted wrong-typed row in
    tests/test_round9_behavior_pipeline.py; variant_get crashed the
    whole job on data the testdata never contains.) k_kind reports the
    variant's actual JSON type — the oracle mirrors it via DuckDB
    json_type with VARCHAR->STRING spelling normalization."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    v = F.try_parse_json("props")
    kv = F.try_variant_get(v, "$.k", "variant")
    return (
        ev.select(
            "event_id",
            v.isNotNull().alias("parsed_ok"),
            F.try_variant_get(v, "$.k", "int").alias("k"),
            F.when(kv.isNotNull(), F.schema_of_variant(kv)).alias("k_kind"),
        )
        .orderBy("event_id")
    )
