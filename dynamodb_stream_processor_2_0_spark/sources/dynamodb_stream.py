"""DynamoDB-Streams-shaped source connector: parse the reference's
actual wire format into the engine's typed row.

The reference consumes Lambda events whose ``Records[]`` carry
``{eventID, eventName, dynamodb: {NewImage, OldImage}}`` where each
image is a map of attribute name -> tagged value ``{S | N | BOOL}``
and nested data is JSON-in-a-string (index.js:34-57, 143-164,
350-385). This module is the Spark-native connector for that format:
``from_json`` with a typed record schema, tagged-scalar extraction
with the reference's null/default semantics (``?.`` -> null-safe
struct access; ``parseInt(x ?? '0')`` -> coalesce(try_cast, 0)), and
``from_json`` again for the JSON-in-string nested fields.

At scale this is exactly how Kinesis/Kafka-carried DynamoDB stream
records are consumed: the JSON payload column comes off the bus, and
everything below is JVM-side expression work — no UDFs, codegen'd,
linear per record.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

# Tagged scalar: exactly the three tags the reference touches
# (index.js:352-380). Absent tags are null after from_json.
ATTR_SCHEMA = T.StructType(
    [
        T.StructField("S", T.StringType()),
        T.StructField("N", T.StringType()),
        T.StructField("BOOL", T.BooleanType()),
    ]
)

# The 11 attributes parse_new_image reads (index.js:350-385). A struct,
# not a map: an absent attribute is a null field (``?.``), a bare
# untagged value nulls only its own field, and a duplicate key keeps its
# last value, as JSON.parse does.
IMAGE_ATTRS = (
    "eventId", "guestId", "guest_name", "guest_email", "email_sent",
    "delivery_status", "total_matches", "best_similarity", "processed_at",
    "matched_images", "match_statistics",
)
IMAGE_SCHEMA = T.StructType([T.StructField(a, ATTR_SCHEMA) for a in IMAGE_ATTRS])

STREAM_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("eventID", T.StringType()),
        T.StructField("eventName", T.StringType()),
        T.StructField("eventSourceARN", T.StringType()),
        T.StructField(
            "dynamodb",
            T.StructType(
                [
                    T.StructField("NewImage", IMAGE_SCHEMA),
                    T.StructField("OldImage", IMAGE_SCHEMA),
                ]
            ),
        ),
    ]
)

# matched_images element shape (index.js:530-533).
MATCHED_IMAGES_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("pool_url", T.StringType()),
            T.StructField("pool_filename", T.StringType()),
            T.StructField("similarity_score", T.DoubleType()),
            T.StructField("match_confidence", T.DoubleType()),
        ]
    )
)

MATCH_STATS_SCHEMA = T.MapType(T.StringType(), T.StringType())


def attr_s(image: Column, name: str) -> Column:
    return image.getField(name).getField("S")


def attr_bool(image: Column, name: str) -> Column:
    return image.getField(name).getField("BOOL")


def attr_int(image: Column, name: str) -> Column:
    """parseInt(x?.N || '0') — N is a number-as-string."""
    return F.coalesce(image.getField(name).getField("N").try_cast("int"), F.lit(0))


def attr_double(image: Column, name: str) -> Column:
    """parseFloat(x?.N || '0')."""
    return F.coalesce(
        image.getField(name).getField("N").try_cast("double"), F.lit(0.0)
    )


def decode_records(df: DataFrame) -> DataFrame:
    """Wire JSON -> typed stream-record column ``rec``."""
    return df.withColumn("rec", F.from_json(F.col("record_json"), STREAM_RECORD_SCHEMA))


def parse_new_image(df: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """The S1+F1+F2+P1 head of the pipeline (index.js:143-164, 350-385):
    keep INSERT|MODIFY records with a NewImage, then project the tagged
    image into the fixed typed schema (absent attribute -> null, numeric
    default 0, JSON-in-string decoded with its own schema).

    Plan shape: ONE projection extracts every field, and the F1/F2
    filters run on the projected columns AFTER it. Filtering on
    ``rec.*`` first would give each predicate and each field its own
    ``from_json``, so the record would be re-parsed per expression
    (measured 8x slower at sf0.1 with map-typed images).
    """
    img = F.col("rec.dynamodb.NewImage")
    old = F.col("rec.dynamodb.OldImage")
    return (
        df.select(
            # transport-level columns a source wants carried through
            # (e.g. the Python data source's shard/chunk id)
            *[F.col(c) for c in extra_cols],
            F.col("rec.eventName").alias("_event_name"),
            img.isNotNull().alias("_has_image"),
            F.col("rec.eventID").alias("record_id"),
            F.col("rec.eventName").alias("event_name"),
            attr_s(img, "eventId").alias("event_id_s"),
            attr_s(img, "guestId").alias("guest_id"),
            attr_s(img, "guest_name").alias("guest_name"),
            F.lower(attr_s(img, "guest_email")).alias("guest_email"),
            attr_bool(img, "email_sent").alias("email_sent"),
            attr_s(img, "delivery_status").alias("delivery_status"),
            attr_int(img, "total_matches").alias("total_matches"),
            attr_double(img, "best_similarity").alias("best_similarity"),
            F.to_timestamp_ntz(
                attr_s(img, "processed_at"), F.lit("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
            ).alias("processed_at"),
            F.coalesce(
                F.from_json(attr_s(img, "matched_images"), MATCHED_IMAGES_SCHEMA),
                F.array().cast(MATCHED_IMAGES_SCHEMA),
            ).alias("matched_images"),
            F.coalesce(
                F.from_json(attr_s(img, "match_statistics"), MATCH_STATS_SCHEMA),
                F.create_map().cast(MATCH_STATS_SCHEMA),
            ).alias("match_statistics"),
            # OldImage is only consulted for MODIFY (index.js:187-188)
            F.when(
                F.col("rec.eventName") == "MODIFY", attr_int(old, "total_matches")
            ).alias("old_total_matches"),
        )
        .filter(F.col("_event_name").isin("INSERT", "MODIFY") & F.col("_has_image"))
        .drop("_event_name", "_has_image")
    )


def staged_wire(spark, sf_dir: str) -> DataFrame:
    """The synthetic events rendered in the wire format ONCE per
    (process, sf_dir) and staged to parquet — the connector's real
    input is bus/file-delivered wire records, so reading staged records
    is the honest parse-side workload (the encode is test scaffolding).
    Partitioned so the parse parallelizes regardless of source layout."""
    from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
    from dynamodb_stream_processor_2_0_spark.sources.formats import staged

    def write(path: str) -> None:
        events = load_table(spark, sf_dir, "events").repartition(
            spark.sparkContext.defaultParallelism
        )
        events_as_stream_json(events).write.mode("overwrite").parquet(path)

    return spark.read.parquet(staged("ddb_wire_", (sf_dir,), write))


def events_as_stream_json(events: DataFrame) -> DataFrame:
    """Adapter for tests/oracles: render the synthetic ``events`` table
    in the reference's wire format. purchase -> INSERT, error -> REMOVE
    (dropped by F1), everything else -> MODIFY with an OldImage.

    ``to_json`` omits null struct fields, so each tagged value renders
    as exactly one of {"S": ...} / {"N": ...} / {"BOOL": ...} — the
    DynamoDB encoding."""
    k = F.coalesce(
        F.expr("try_cast(get_json_object(props, '$.k') AS int)"), F.lit(0)
    )
    s = lambda c: F.struct(  # noqa: E731
        c.cast("string").alias("S"),
        F.lit(None).cast("string").alias("N"),
        F.lit(None).cast("boolean").alias("BOOL"),
    )
    n = lambda c: F.struct(  # noqa: E731
        F.lit(None).cast("string").alias("S"),
        c.cast("string").alias("N"),
        F.lit(None).cast("boolean").alias("BOOL"),
    )
    b = lambda c: F.struct(  # noqa: E731
        F.lit(None).cast("string").alias("S"),
        F.lit(None).cast("string").alias("N"),
        c.cast("boolean").alias("BOOL"),
    )
    matched = F.to_json(
        F.expr(
            "transform(sequence(1, 2), i -> named_struct("
            "'pool_url', concat('pool/img-', event_id, '-', i), "
            "'pool_filename', concat('img-', i, '.jpg'), "
            "'similarity_score', round(value / i, 2), "
            "'match_confidence', 0.5))"
        )
    )
    stats = F.to_json(
        F.create_map(
            F.lit("source"), F.lit("synthetic"), F.lit("version"), F.lit("2.0")
        )
    )
    new_image = F.create_map(
        F.lit("eventId"), s(F.col("event_id")),
        F.lit("guestId"), s(F.col("user_id")),
        F.lit("guest_name"), s(F.concat(F.lit("guest "), F.col("user_id"))),
        F.lit("guest_email"), s(F.concat(F.lit("U"), F.col("user_id"), F.lit("@example.org"))),
        F.lit("email_sent"), b(k % 7 == 0),
        F.lit("delivery_status"), s(F.when(k % 5 == 0, "delivered").otherwise("pending")),
        F.lit("total_matches"), n(k),
        F.lit("best_similarity"), n(F.col("value")),
        F.lit("processed_at"), s(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")),
        F.lit("matched_images"), s(matched),
        F.lit("match_statistics"), s(stats),
    )
    old_image = F.create_map(
        F.lit("total_matches"), n(k - 1),
    )
    event_name = (
        F.when(F.col("event_type") == "purchase", "INSERT")
        .when(F.col("event_type") == "error", "REMOVE")
        .otherwise("MODIFY")
    )
    record = F.struct(
        F.concat(F.lit("evt-"), F.col("event_id")).alias("eventID"),
        event_name.alias("eventName"),
        F.lit("arn:aws:dynamodb:local:0:table/face_match_results/stream").alias(
            "eventSourceARN"
        ),
        F.struct(
            new_image.alias("NewImage"),
            F.when(event_name == "MODIFY", old_image).alias("OldImage"),
        ).alias("dynamodb"),
    )
    return events.select(
        F.col("event_id"), F.to_json(record).alias("record_json")
    )
