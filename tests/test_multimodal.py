"""Multimodal plumbing tests: the Arrow/mapInPandas path is real; the
decode step is the injected deterministic fake (codec libs absent)."""

from __future__ import annotations

from dynamodb_stream_processor_2_0_spark.operators import multimodal as MM
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table


def test_decode_image_batch_schema_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    out = MM.decode_image_batch(MM.documents_as_binary(docs))
    assert out.schema == MM.IMAGE_META_SCHEMA
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 50
    r = next(iter(rows.values()))
    assert 64 <= r.width < 256 and 64 <= r.height < 256 and r.channels == 3
    assert len(r.feature) == 8 and all(0.0 <= v <= 1.0 for v in r.feature)
    # deterministic across runs
    rows2 = {r.doc_id: r for r in MM.decode_image_batch(MM.documents_as_binary(docs)).collect()}
    assert all(rows[k].feature == rows2[k].feature for k in rows)


def test_frame_sampling(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(10)
    frames = MM.sample_frames(MM.documents_as_binary(docs), chunk_bytes=32, every_nth=4)
    got = frames.collect()
    assert got, "expected at least one sampled frame"
    assert all(r.frame_idx % 4 == 0 for r in got)
    assert all(1 <= len(r.frame_bytes) <= 32 for r in got)
    # every sampled doc contributes its frame 0
    assert {r.doc_id for r in got if r.frame_idx == 0} == {r.doc_id for r in got}


def test_resize_images_batch_shape(spark, sf_dir):
    from dynamodb_stream_processor_2_0_spark.operators.multimodal import (
        documents_as_binary,
        resize_images,
    )
    from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table

    docs = documents_as_binary(load_table(spark, sf_dir, "documents")).limit(20)
    out = resize_images(docs, width=8, height=4).collect()
    assert len(out) == 20
    assert all(len(r.resized) == 32 for r in out)
    assert all(r.width == 8 and r.height == 4 for r in out)
    # deterministic: same payload -> same resized bytes
    again = {r.doc_id: bytes(r.resized) for r in resize_images(docs, 8, 4).collect()}
    assert all(bytes(r.resized) == again[r.doc_id] for r in out)
