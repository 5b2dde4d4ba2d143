"""Round-10 hardening pins (the r9 ADVICE items).

Pins the three behavior changes this round made to operator-level
robustness conventions:

1. multimodal NULL convention — a NULL media payload now PROPAGATES
   NULL through every wide-form Pandas kernel (matching the
   arrow-digest kernel and the oracles' length(NULL)/md5(NULL)
   semantics) and emits ZERO rows from every long-form explode-style
   kernel (SQL explode-over-NULL semantics). Previously NULL was
   coerced to b"" and silently decoded as an empty payload.
2. kmeans ragged-vector hygiene — the canonical dimension is the MODAL
   positive vector length, so one corrupt over-long vector no longer
   drops every well-formed row.
3. wire datasource wrong-path detection — a directory that exists and
   is non-empty but contains no shard=* entries raises instead of
   silently reading zero rows; a marker-only directory is still a
   legitimate empty dataset.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from dynamodb_stream_processor_2_0_spark.operators import multimodal as mm
from dynamodb_stream_processor_2_0_spark.operators.clustering import (
    kmeans_assignments,
)
from dynamodb_stream_processor_2_0_spark.sources.python_datasource import (
    DynamoDBWireReader,
)


PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


@pytest.fixture(scope="module")
def media(spark):
    # doc 1: real payload (64 bytes -> 2 scene frames, 32 PCM samples);
    # doc 2: NULL payload; doc 3: EMPTY payload (a real value).
    return spark.createDataFrame(
        [
            (1, bytes(range(64))),
            (2, None),
            (3, b""),
        ],
        PAYLOAD_SCHEMA,
    )


def test_null_payload_decodes_to_null_metadata(media):
    rows = {r["doc_id"]: r for r in mm.decode_image_batch(media).collect()}
    assert rows[2]["n_bytes"] is None
    assert rows[2]["width"] is None and rows[2]["feature"] is None
    # empty payload is a VALUE: md5(b"") metadata, n_bytes = 0
    assert rows[3]["n_bytes"] == 0 and rows[3]["width"] is not None
    assert rows[1]["n_bytes"] == 64


def test_null_payload_resizes_to_null_image(media):
    rows = {r["doc_id"]: r for r in mm.resize_images(media, 8, 8).collect()}
    assert rows[2]["resized"] is None
    # width/height are the requested target (parameters), not metrics
    assert rows[2]["width"] == 8 and rows[2]["height"] == 8
    assert len(rows[1]["resized"]) == 64
    assert len(rows[3]["resized"]) == 64  # empty payload still fabricates


def test_null_payload_pcm_energy_is_null(media):
    rows = {r["doc_id"]: r for r in mm.pcm_window_energy(media).collect()}
    assert all(rows[2][c] is None for c in rows[2].asDict() if c != "doc_id")
    assert rows[3]["n_samples"] == 0 and rows[3]["total_energy"] == 0
    assert rows[1]["n_samples"] == 32 and rows[1]["total_energy"] > 0


def test_null_payload_scene_cut_is_null(media):
    rows = {r["doc_id"]: r for r in mm.scene_cut_detect(media).collect()}
    assert rows[2]["n_frames"] is None and rows[2]["n_cuts"] is None
    assert rows[3]["n_frames"] == 0  # empty payload: zero frames, not NULL
    assert rows[1]["n_frames"] == 2


def test_null_payload_vad_is_null(media):
    rows = {r["doc_id"]: r for r in mm.audio_vad_segments(media).collect()}
    assert rows[2]["n_windows"] is None and rows[2]["n_segments"] is None
    assert rows[3]["n_windows"] == 0
    assert rows[1]["n_windows"] == 2


def test_null_payload_longform_kernels_emit_zero_rows(media):
    for fn in (mm.sample_frames, mm.pcm_window_energies, mm.frame_signatures):
        ids = {r["doc_id"] for r in fn(media).collect()}
        assert 2 not in ids, fn.__name__
        assert 1 in ids, fn.__name__


def test_kmeans_modal_dim_survives_overlong_outlier(spark):
    # five well-formed dim-4 vectors + ONE corrupt dim-9 vector: the
    # modal-dim hygiene rule keeps the well-formed corpus and drops the
    # outlier (the old max-dim rule inverted this).
    rows = [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(1, 6)]
    rows.append((99, [0.5] * 9))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    clustered = {r["vec_id"] for r in kmeans_assignments(emb, k=2).collect()}
    assert clustered == {1, 2, 3, 4, 5}


def test_kmeans_modal_dim_tie_prefers_larger(spark):
    # 2 vectors of dim 3 vs 2 of dim 4: tie -> larger dim wins (pinned
    # so the rule is deterministic, not hash-order-dependent).
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [1.0, 0.0, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    clustered = {r["vec_id"] for r in kmeans_assignments(emb, k=2).collect()}
    assert clustered == {3, 4}


def test_wire_reader_rejects_non_dataset_dir(tmp_path):
    # non-empty directory without shard=* entries = wrong path -> loud
    wrong = tmp_path / "not_a_dataset"
    wrong.mkdir()
    (wrong / "unrelated.txt").write_text("hello\n")
    reader = DynamoDBWireReader({"path": str(wrong)})
    with pytest.raises(ValueError, match="no shard"):
        reader.partitions()


def test_wire_reader_accepts_marker_only_dir(tmp_path):
    # _SUCCESS / dotfile markers only = legitimately empty dataset ->
    # one zero-row sentinel partition, no error
    empty = tmp_path / "empty_dataset"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    (empty / ".hidden").write_text("")
    reader = DynamoDBWireReader({"path": str(empty)})
    parts = reader.partitions()
    assert len(parts) == 1 and parts[0].files == []


def test_wire_reader_missing_dir_still_raises(tmp_path):
    reader = DynamoDBWireReader({"path": str(tmp_path / "nope")})
    with pytest.raises(OSError):
        reader.partitions()
