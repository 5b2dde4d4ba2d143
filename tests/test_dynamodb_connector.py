"""Connector edge cases: the reference's ``?.``-semantics on the wire
format — absent attributes, absent images, REMOVE records, malformed
nested JSON (index.js:143-164, 350-385)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.sources import dynamodb_stream as DS


def _wire(spark, records):
    return spark.createDataFrame(
        [(r if isinstance(r, str) else json.dumps(r),) for r in records],
        "record_json string",
    )


@pytest.fixture(scope="module")
def parsed(spark):
    records = [
        # full INSERT
        {
            "eventID": "e1",
            "eventName": "INSERT",
            "dynamodb": {
                "NewImage": {
                    "eventId": {"S": "42"},
                    "guestId": {"S": "7"},
                    "guest_email": {"S": "A@B.COM"},
                    "email_sent": {"BOOL": True},
                    "total_matches": {"N": "3"},
                    "best_similarity": {"N": "0.91"},
                    "matched_images": {
                        "S": '[{"pool_url":"u1","pool_filename":"f1",'
                        '"similarity_score":0.9,"match_confidence":0.8}]'
                    },
                }
            },
        },
        # sparse MODIFY: most attributes absent; OldImage present
        {
            "eventID": "e2",
            "eventName": "MODIFY",
            "dynamodb": {
                "NewImage": {"eventId": {"S": "43"}},
                "OldImage": {"total_matches": {"N": "9"}},
            },
        },
        # REMOVE: dropped by F1
        {
            "eventID": "e3",
            "eventName": "REMOVE",
            "dynamodb": {"NewImage": {"eventId": {"S": "44"}}},
        },
        # MODIFY with no NewImage: dropped by F2
        {"eventID": "e4", "eventName": "MODIFY", "dynamodb": {}},
        # malformed nested JSON -> [] / {} defaults (index.js:378-379)
        {
            "eventID": "e5",
            "eventName": "INSERT",
            "dynamodb": {
                "NewImage": {
                    "eventId": {"S": "45"},
                    "total_matches": {"N": "not-a-number"},
                    "matched_images": {"S": "THIS IS NOT JSON"},
                    "match_statistics": {"S": "{broken"},
                }
            },
        },
        # untagged attribute value: only that attribute reads as absent
        {
            "eventID": "e6",
            "eventName": "INSERT",
            "dynamodb": {
                "NewImage": {"eventId": "46", "guestId": {"S": "8"}}
            },
        },
        # duplicate attribute key: the last value wins, as in JSON.parse
        '{"eventID": "e7", "eventName": "INSERT", "dynamodb": {"NewImage": '
        '{"eventId": {"S": "47"}, "guestId": {"S": "first"}, '
        '"guestId": {"S": "last"}}}}',
    ]
    df = DS.parse_new_image(DS.decode_records(_wire(spark, records)))
    return {r.record_id: r for r in df.collect()}


def test_f1_f2_filtering(parsed):
    assert set(parsed) == {"e1", "e2", "e5", "e6", "e7"}


def test_full_record(parsed):
    r = parsed["e1"]
    assert r.event_id_s == "42" and r.guest_id == "7"
    assert r.guest_email == "a@b.com"  # P3 lowercase
    assert r.email_sent is True
    assert r.total_matches == 3 and r.best_similarity == 0.91
    assert len(r.matched_images) == 1
    assert r.matched_images[0].pool_url == "u1"
    assert r.old_total_matches is None  # INSERT: no old image consulted


def test_sparse_record_defaults(parsed):
    r = parsed["e2"]
    assert r.event_id_s == "43"
    assert r.guest_id is None and r.guest_email is None  # ?. -> null
    assert r.email_sent is None
    assert r.total_matches == 0 and r.best_similarity == 0.0  # || '0'
    assert r.matched_images == [] and r.match_statistics == {}
    assert r.old_total_matches == 9  # MODIFY consults OldImage


def test_malformed_values_degrade_not_throw(parsed):
    r = parsed["e5"]
    assert r.total_matches == 0  # try_cast failure -> default
    assert r.matched_images == []  # JSON.parse failure -> []
    assert r.match_statistics == {}


def test_untagged_attribute_nulls_only_its_field(parsed):
    r = parsed["e6"]
    assert r.event_id_s is None and r.guest_id == "8"


def test_duplicate_attribute_key_keeps_last_value(parsed):
    r = parsed["e7"]
    assert r.event_id_s == "47" and r.guest_id == "last"


@pytest.mark.slow
def test_python_datasource_partitions_match_shards(spark, sf_dir):
    """The custom source must plan one reader task per shard dir and
    deliver every staged record exactly once."""
    from dynamodb_stream_processor_2_0_spark.sources import (
        python_datasource as PDS,
    )

    PDS.register_wire_datasource(spark)
    path = PDS.staged_wire_jsonl(spark, sf_dir, n_shards=8)
    wire = spark.read.format("dynamodb_stream_wire").option("path", path).load()
    assert wire.rdd.getNumPartitions() == 8
    from pyspark.sql import functions as F

    per_shard = {
        r.shard: r.n
        for r in wire.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_shard) == set(range(8))
    from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table

    assert sum(per_shard.values()) == load_table(spark, sf_dir, "events").count()


@pytest.mark.slow
def test_envelope_sink_manifest_hides_orphaned_staged_files(spark, tmp_path):
    """Two-phase commit: only manifest-listed files are readable; a
    staged orphan (failed/speculative task leftover) must not appear."""
    import json
    import os

    from dynamodb_stream_processor_2_0_spark.sources import (
        python_datasource as PDS,
    )

    PDS.register_wire_datasource(spark)
    out = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [("a-1", "{\"id\":1}"), ("b-2", "{\"id\":2}")],
        "dedup_id string, message_body string",
    )
    df.write.format("dynamodb_envelope_sink").mode("append").option(
        "path", out
    ).save()
    # plant an orphan AFTER the commit — a retried task's leftover
    orphan = os.path.join(out, "_staged", "part-99999-deadbeef.jsonl")
    with open(orphan, "w") as fh:
        fh.write(json.dumps({"dedup_id": "zz-9", "message_body": "{}"}) + "\n")
    landed = PDS.read_committed_envelopes(
        spark, out, "dedup_id string, message_body string"
    )
    got = sorted(r.dedup_id for r in landed.collect())
    assert got == ["a-1", "b-2"]  # orphan invisible


def test_wire_reader_pushdown_prunes_shard_partitions(spark, sf_dir):
    """pushFilters on the shard column must drop whole shard dirs at
    planning time (8 -> 3 for shard >= 5), fully consume the accepted
    predicate, and yield unsupported filters back to Spark."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, IsNotNull

    from dynamodb_stream_processor_2_0_spark.sources import (
        python_datasource as PDS,
    )

    PDS.register_wire_datasource(spark)
    path = PDS.staged_wire_jsonl(spark, sf_dir, n_shards=8)

    reader = PDS.DynamoDBWireReader({"path": path})
    assert len(reader.partitions()) == 8  # unfiltered baseline

    reader = PDS.DynamoDBWireReader({"path": path})
    residual = list(
        reader.pushFilters(
            [
                GreaterThanOrEqual(("shard",), 5),
                IsNotNull(("record_json",)),  # not shard: stays with Spark
            ]
        )
    )
    assert [type(f).__name__ for f in residual] == ["IsNotNull"]
    parts = reader.partitions()
    assert sorted(p.shard for p in parts) == [5, 6, 7]

    reader = PDS.DynamoDBWireReader({"path": path})
    list(reader.pushFilters([EqualTo(("shard",), 3)]))
    assert [p.shard for p in reader.partitions()] == [3]

    # end-to-end: the planned scan runs 3 tasks, and results match the
    # same read without pushdown. Each filter set gets its OWN load():
    # Spark caches the planned python scan inside the relation object,
    # so reusing one loaded DataFrame across different pushed-filter
    # sets can serve a stale partition list (the reader also
    # consume-and-clears its predicates defensively).
    def fresh():
        return (
            spark.read.format("dynamodb_stream_wire")
            .option("path", path)
            .load()
        )

    pruned = fresh().filter(F.col("shard") >= 5)
    assert pruned._jdf.rdd().getNumPartitions() == 3
    total = fresh().count()
    below = fresh().filter("shard < 5").count()
    assert pruned.count() == total - below
