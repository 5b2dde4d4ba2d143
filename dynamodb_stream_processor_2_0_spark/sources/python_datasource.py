"""First-class Spark 4 Python DataSource for the reference's wire
format: ``spark.read.format("dynamodb_stream_wire")``.

The reference's input is a Lambda event whose ``Records[]`` each carry
one DynamoDB stream record (index.js:34-43). This module packages that
ingest as a registerable Spark data source: shard directories become
``InputPartition``s (one reader task per shard, the Kinesis-shard
parallelism model), and each partition yields raw wire records. The
source intentionally emits the RAW ``record_json`` — typed projection
stays in the JVM expression layer (``dynamodb_stream.decode_records``
/ ``parse_new_image``), mirroring how real connectors split transport
from parsing, and keeping the per-row Python work to line IO only.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)


class WireShardPartition(InputPartition):
    def __init__(self, shard: int, files: list[str]):
        self.shard = shard
        self.files = files


class DynamoDBWireDataSource(DataSource):
    """Batch source over a staged wire directory laid out as
    ``<path>/shard=<i>/part-*.txt`` (one JSON wire record per line)."""

    @classmethod
    def name(cls) -> str:
        return "dynamodb_stream_wire"

    def schema(self) -> str:
        return "shard int, record_json string"

    def reader(self, schema) -> "DynamoDBWireReader":
        return DynamoDBWireReader(dict(self.options))


class DynamoDBWireReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("dynamodb_stream_wire: 'path' option is required")
        self.path = path
        # (op, value) comparisons on the shard column, accumulated by
        # pushFilters and enforced in partitions().
        self._shard_preds: list[tuple[str, int]] = []

    _SHARD_OPS = {
        "EqualTo": lambda s, v: s == v,
        "GreaterThan": lambda s, v: s > v,
        "GreaterThanOrEqual": lambda s, v: s >= v,
        "LessThan": lambda s, v: s < v,
        "LessThanOrEqual": lambda s, v: s <= v,
    }

    def pushFilters(self, filters):
        """Spark 4.1 Python DataSource filter pushdown: comparisons on
        the ``shard`` column prune whole shard directories at PLANNING
        time — the Python-source analog of hive-partition pruning
        (source_partitioned_pruning). The shard value is constant per
        partition, so an accepted predicate is FULLY enforced by
        pruning and is not returned for re-evaluation; everything else
        (e.g. record_json predicates) stays with Spark.

        Lifecycle care: Spark reuses ONE reader instance across every
        query built from the same loaded DataFrame, and only calls
        pushFilters when the plan HAS pushable filters — so predicates
        are (re)set here and CONSUMED by the next partitions() call
        (observed leak otherwise: a sibling unfiltered count silently
        inherited an earlier query's pruned shard set)."""
        self._shard_preds = []
        for f in filters:
            if (
                isinstance(
                    f,
                    (
                        EqualTo,
                        GreaterThan,
                        GreaterThanOrEqual,
                        LessThan,
                        LessThanOrEqual,
                    ),
                )
                and f.attribute == ("shard",)
                and isinstance(f.value, int)
            ):
                self._shard_preds.append((type(f).__name__, f.value))
            else:
                yield f


    def partitions(self) -> list[WireShardPartition]:
        """One InputPartition per shard directory — the planner sees the
        shard count, so reader parallelism == shard count regardless of
        file sizes (the stream-shard model, not the byte-split model).
        Shard predicates pushed via pushFilters() drop whole
        directories here, before any task is scheduled; they are
        consumed (cleared) so a later filterless plan over the same
        reader instance sees every shard again — Spark skips
        pushFilters entirely for such plans."""
        preds, self._shard_preds = self._shard_preds, []
        parts = []
        entries = sorted(os.listdir(self.path))
        has_shard_dirs = any(e.startswith("shard=") for e in entries)
        # A directory that exists, is non-empty, and has NO shard=* entry
        # (ignoring marker/hidden files) is a wrong path (e.g. a mistyped
        # sibling dir of unrelated files), not an empty dataset — fail
        # loudly instead of silently reading zero rows. A dir with only
        # _SUCCESS/dot markers, or with shard dirs that all get pruned,
        # is a legitimate zero-row read.
        if not has_shard_dirs and any(
            not e.startswith(("_", ".")) for e in entries
        ):
            raise ValueError(
                f"{self.path!r} is not a wire dataset: it contains files "
                "but no shard=* directories (wrong path?)"
            )
        for entry in entries:
            if not entry.startswith("shard="):
                continue
            shard_no = int(entry.split("=", 1)[1])
            if not all(self._SHARD_OPS[op](shard_no, v) for op, v in preds):
                continue
            shard_dir = os.path.join(self.path, entry)
            files = sorted(
                os.path.join(shard_dir, f)
                for f in os.listdir(shard_dir)
                if not f.startswith(("_", "."))
            )
            parts.append(WireShardPartition(int(entry.split("=", 1)[1]), files))
        if not parts:
            # Every shard pruned, or a legitimately EMPTY dataset wrote
            # no shard dirs at all (a wrong path still fails loudly:
            # os.listdir above raises on a missing directory). An EMPTY
            # partition list makes Spark invoke read(None) and the task
            # dies with an AttributeError — return one empty sentinel
            # partition so the plan legitimately yields zero rows
            # instead (tools/hostile_sweep.py degenerate/empty worlds).
            parts.append(WireShardPartition(-1, []))
        return parts

    def read(self, partition: WireShardPartition):
        for fpath in partition.files:
            with open(fpath, encoding="utf-8") as fh:
                for line in fh:
                    line = line.rstrip("\n")
                    if line:
                        yield (partition.shard, line)


_REGISTERED: set[int] = set()


def register_wire_datasource(spark) -> None:
    """Idempotent per-session registration. Also enables Python-source
    filter pushdown: DynamoDBWireReader implements pushFilters(), and
    Spark refuses to plan a pushFilters reader while
    spark.sql.python.filterPushdown.enabled is false — so the conf is
    part of registering the source, not a per-query concern.

    WORKER-IMPORTABILITY: ``spark.dataSource.register`` pickles the
    DataSource CLASS by reference (module.qualname), so Spark's Python
    planner/worker processes must import this package — which a
    session launched from another cwd cannot (they inherit the launch
    cwd, not the driver's sys.path inserts). Registering this module
    for BY-VALUE pickling with Spark's vendored cloudpickle makes the
    class definition travel inside the pickle instead; on a real
    cluster this is the difference between "works only with --py-files
    deployment" and "works from any client". Process-global and
    idempotent."""
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    sid = id(spark)
    if sid not in _REGISTERED:
        spark.dataSource.register(DynamoDBWireDataSource)
        spark.dataSource.register(DynamoDBWireReplayDataSource)
        spark.dataSource.register(DynamoDBEnvelopeSinkDataSource)
        _REGISTERED.add(sid)


def staged_wire_jsonl(spark, sf_dir: str, n_shards: int = 8) -> str:
    """Stage the synthetic events as sharded wire JSONL once per
    (process, sf_dir, n_shards): ``shard = event_id % n_shards`` models
    the stream's hash-partitioned shards; encode is test scaffolding,
    the source under test is the read path."""
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
    from dynamodb_stream_processor_2_0_spark.sources.dynamodb_stream import (
        events_as_stream_json,
    )
    from dynamodb_stream_processor_2_0_spark.sources.formats import staged

    def write(path: str) -> None:
        events = load_table(spark, sf_dir, "events")
        (
            events_as_stream_json(events)
            .withColumn("shard", (F.col("event_id") % n_shards).cast("int"))
            .select("shard", F.col("record_json").alias("value"))
            .repartition("shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .text(path)
        )

    return staged("ddb_wire_jsonl_", (sf_dir, n_shards), write)


class WireChunkPartition(InputPartition):
    def __init__(self, chunk: int, files: list[str]):
        self.chunk = chunk
        self.files = files


class DynamoDBWireReplayDataSource(DataSource):
    """Streaming source over a chunked wire directory
    (``<path>/chunk=<i>/part-*.txt``): each chunk is one micro-batch,
    offsets are chunk indexes — the reference's externally-batched
    Records[] delivery (index.js:34-43) as a custom Spark stream."""

    @classmethod
    def name(cls) -> str:
        return "dynamodb_stream_wire_replay"

    def schema(self) -> str:
        return "chunk int, record_json string"

    def streamReader(self, schema) -> "WireReplayStreamReader":
        return WireReplayStreamReader(dict(self.options))


class WireReplayStreamReader(DataSourceStreamReader):
    """Driver-side offset bookkeeping: latestOffset reports the highest
    staged chunk (availableNow polls it once and drains to it),
    partitions() maps an offset range to one InputPartition per chunk
    — so chunk boundaries survive as reader-task boundaries even when
    several chunks land in one micro-batch — and executors read the
    chunk files. Offsets are plain dicts, so checkpoint recovery
    replays any uncommitted chunk — at-least-once from the source,
    exactly-once downstream via the state layer."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError(
                "dynamodb_stream_wire_replay: 'path' option is required"
            )
        self.path = path
        self.chunks = []
        entries = sorted(os.listdir(path))
        # Same wrong-path convention as the batch reader's partitions():
        # a non-empty directory with NO chunk=* entries (ignoring
        # marker/hidden files) is a mistyped path, not an empty stream —
        # fail loudly instead of silently yielding zero micro-batches.
        # A dir with only _SUCCESS/dot markers is a legitimate empty
        # stream.
        if not any(e.startswith("chunk=") for e in entries) and any(
            not e.startswith(("_", ".")) for e in entries
        ):
            raise ValueError(
                f"{path!r} is not a wire replay dataset: it contains "
                "files but no chunk=* directories (wrong path?)"
            )
        for entry in entries:
            if entry.startswith("chunk="):
                d = os.path.join(path, entry)
                files = sorted(
                    os.path.join(d, f)
                    for f in os.listdir(d)
                    if not f.startswith(("_", "."))
                )
                self.chunks.append((int(entry.split("=", 1)[1]), files))
        self.chunks.sort()

    def initialOffset(self) -> dict:
        return {"chunk": 0}

    def latestOffset(self) -> dict:
        return {"chunk": len(self.chunks)}

    def partitions(self, start: dict, end: dict):
        return [
            WireChunkPartition(c, files)
            for c, files in self.chunks
            if start["chunk"] <= c < end["chunk"]
        ]

    def read(self, partition: WireChunkPartition):
        for fpath in partition.files:
            with open(fpath, encoding="utf-8") as fh:
                for line in fh:
                    line = line.rstrip("\n")
                    if line:
                        yield (partition.chunk, line)

    def commit(self, end: dict) -> None:
        pass


def staged_wire_chunks_jsonl(spark, sf_dir: str, chunks: int = 4) -> str:
    """Stage wire records as ts-ordered JSONL chunk dirs once per
    (process, sf_dir, chunks): chunk i holds the i-th global
    (ts, event_id) slice of streaming/replay.py's chunker, so replay
    order == event-time order."""
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
    from dynamodb_stream_processor_2_0_spark.sources.dynamodb_stream import (
        events_as_stream_json,
    )
    from dynamodb_stream_processor_2_0_spark.sources.formats import staged
    from dynamodb_stream_processor_2_0_spark.streaming.replay import (
        ts_ordered_chunks,
    )

    def write(path: str) -> None:
        ordered = ts_ordered_chunks(load_table(spark, sf_dir, "events"), chunks)
        wire = events_as_stream_json(ordered)  # (event_id, record_json)
        (
            wire.join(ordered.select("event_id", "chunk"), "event_id")
            .select("chunk", F.col("record_json").alias("value"))
            .write.mode("overwrite")
            .partitionBy("chunk")
            .text(path)
        )

    return staged("ddb_wire_chunks_", (sf_dir, chunks), write)


# ---------------------------------------------------------------------------
# Sink side: the reference's queue sink (index.js:570-611) as Python
# DataSource writers with a real two-phase commit protocol: executors
# stage files and return commit messages; only the driver's commit()
# publishes a manifest listing exactly the committed files. Orphaned
# staged files from retried/speculative tasks are never published —
# at-least-once task execution + manifest commit = exactly-once
# observed sink contents.
# ---------------------------------------------------------------------------

import json as _json
import uuid as _uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class EnvelopeCommitMessage(WriterCommitMessage):
    file: str
    n_rows: int


def _stage_rows(path: str, iterator) -> EnvelopeCommitMessage:
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    staged_dir = os.path.join(path, "_staged")
    os.makedirs(staged_dir, exist_ok=True)
    fname = os.path.join(staged_dir, f"part-{pid:05d}-{_uuid.uuid4().hex}.jsonl")
    n = 0
    with open(fname, "w", encoding="utf-8") as fh:
        for row in iterator:
            fh.write(_json.dumps(row.asDict(), sort_keys=True) + "\n")
            n += 1
    return EnvelopeCommitMessage(file=fname, n_rows=n)


def _publish_manifest(manifest_path: str, messages) -> None:
    """Atomic publish: write-then-rename, so readers see either the
    previous manifest or the complete new one (a retried epoch simply
    rewrites the same manifest path — idempotent)."""
    files = [m.file for m in messages if m is not None and m.n_rows >= 0]
    tmp = manifest_path + "." + _uuid.uuid4().hex
    with open(tmp, "w", encoding="utf-8") as fh:
        _json.dump({"files": sorted(files)}, fh)
    os.replace(tmp, manifest_path)


def _drop_staged(messages) -> None:
    for m in messages or []:
        if m is not None and os.path.exists(m.file):
            os.remove(m.file)


class DynamoDBEnvelopeSinkDataSource(DataSource):
    """``df.write.format("dynamodb_envelope_sink")`` — queue-sink
    envelopes with manifest-commit semantics (batch and streaming)."""

    @classmethod
    def name(cls) -> str:
        return "dynamodb_envelope_sink"

    def writer(self, schema, overwrite: bool) -> "EnvelopeBatchWriter":
        return EnvelopeBatchWriter(dict(self.options))

    def streamWriter(self, schema, overwrite: bool) -> "EnvelopeStreamWriter":
        return EnvelopeStreamWriter(dict(self.options))


class EnvelopeBatchWriter(DataSourceWriter):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("dynamodb_envelope_sink: 'path' option is required")
        self.path = path

    def write(self, iterator) -> EnvelopeCommitMessage:
        return _stage_rows(self.path, iterator)

    def commit(self, messages) -> None:
        _publish_manifest(os.path.join(self.path, "_MANIFEST.json"), messages)

    def abort(self, messages) -> None:
        _drop_staged(messages)


class EnvelopeStreamWriter(DataSourceStreamWriter):
    """One manifest per epoch: ``epoch=<id>.manifest.json``. A retried
    epoch republishes the same manifest path, so readers tallying
    manifest-listed files observe each epoch exactly once."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("dynamodb_envelope_sink: 'path' option is required")
        self.path = path

    def write(self, iterator) -> EnvelopeCommitMessage:
        return _stage_rows(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        _publish_manifest(
            os.path.join(self.path, f"epoch={batchId}.manifest.json"), messages
        )

    def abort(self, messages, batchId: int) -> None:
        _drop_staged(messages)


def read_committed_envelopes(spark, path: str, schema: str):
    """Read back exactly the committed files (batch ``_MANIFEST.json``
    plus any ``epoch=*.manifest.json``), ignoring staged orphans."""
    files: list[str] = []
    for entry in sorted(os.listdir(path)):
        if entry == "_MANIFEST.json" or (
            entry.startswith("epoch=") and entry.endswith(".manifest.json")
        ):
            with open(os.path.join(path, entry), encoding="utf-8") as fh:
                files.extend(_json.load(fh)["files"])
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)
