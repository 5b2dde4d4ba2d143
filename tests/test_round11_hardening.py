"""Round-11 hardening pins (the r10 ADVICE items).

1. Multimodal oracle/kernel NULL ALIGNMENT — r10 made the kernels
   propagate NULL (wide-form -> NULL metrics, long-form -> zero rows),
   but several SQL oracles still COALESCEd NULL-payload metrics to
   0/-1 (audio VAD, scene cut, PCM energy), dropped the row entirely
   (resize's WHERE octet_length > 0 — which also dropped EMPTY
   payloads the kernel keeps), or emitted a constant where the kernel
   emits NULL (image decode's channels). The fixture has no NULL/empty
   texts, so the mismatch was LATENT. This file makes it non-latent:
   full driver-faithful oracle parity on a doctored documents table
   containing a NULL text, an empty text, and real texts.
2. PPR outdeg eager checkpoint — outdeg is not in seeds' lineage, so
   its lazy localCheckpoint materialized only inside the first power
   iteration (paying the groupBy the hoist exists to avoid); it now
   checkpoints eagerly. Pinned structurally (plan has no Aggregate
   under the iteration joins is hard to assert; we pin the cheap
   observable: the query still matches its oracle and the checkpoint
   call is eager).
3. Wire REPLAY stream reader wrong-path detection — mirrors the batch
   reader's convention: a non-empty dir with no chunk=* entries raises;
   a marker-only dir is a legitimate empty stream.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from dynamodb_stream_processor_2_0_spark.plans import registry
from dynamodb_stream_processor_2_0_spark.sources.catalog import TABLES
from tests.oracle_harness import compare_query


SF_SMALL = "/root/testdata/sf0.001"


_MM_PARITY_SPECS = [
    "multimodal_image_decode",
    "multimodal_frame_sample",
    "multimodal_resize_digest",
    "multimodal_arrow_digest",
    "multimodal_pcm_window_energy",
    "multimodal_scene_cut_detect",
    "multimodal_audio_vad_segments",
]


@pytest.fixture(scope="module")
def nulls_sf_dir(spark, tmp_path_factory) -> str:
    """A scale-factor dir whose documents table contains a NULL text,
    an EMPTY text, and a handful of real texts; every other table is
    the sf0.001 original (symlinked — read-only use)."""
    root = tmp_path_factory.mktemp("sf_nulltext")
    for name in TABLES:
        if name == "documents":
            continue
        (root / f"{name}.parquet").symlink_to(
            Path(SF_SMALL) / f"{name}.parquet"
        )
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .limit(8)
        .collect()
    )
    base = [tuple(r) for r in docs]
    schema = spark.read.parquet(f"{SF_SMALL}/documents.parquet").schema
    doctored = base + [
        (90001, None, "en", "synthetic", None),  # NULL payload
        (90002, "", "en", "synthetic", 0),  # EMPTY payload (real value)
    ]
    out = root / "documents.parquet"
    tmp_write = root / "_docs_out"
    spark.createDataFrame(doctored, schema).coalesce(1).write.parquet(
        str(tmp_write)
    )
    part = next(tmp_write.glob("part-*.parquet"))
    shutil.move(str(part), str(out))
    shutil.rmtree(tmp_write)
    return str(root)


@pytest.mark.parametrize("name", _MM_PARITY_SPECS)
def test_multimodal_oracle_parity_with_null_and_empty_payload(
    spark, nulls_sf_dir, name
):
    """The r10 ADVICE medium item, made non-latent: kernel and SQL
    oracle agree ROW FOR ROW (driver-faithful comparator) on a table
    containing NULL and empty payloads — NULL propagates on both
    sides, empty stays a real value on both sides."""
    registry._load()
    compare_query(spark, registry.REGISTRY[name], nulls_sf_dir)


def test_ppr_outdeg_checkpoint_is_eager():
    """Pin the eager outdeg checkpoint textually: seeds' lineage does
    not touch outdeg, so only eager=True hoists the groupBy out of the
    first power iteration (r10 ADVICE low item)."""
    import inspect

    from dynamodb_stream_processor_2_0_spark.plans import (
        queries_temporal_graph as qtg,
    )

    src = inspect.getsource(qtg.graph_personalized_pagerank)
    i = src.index("outdeg = (")
    block = src[i : i + 250]
    assert "localCheckpoint(eager=True)" in block, (
        "outdeg must checkpoint eagerly — it is not in seeds' lineage, "
        "so a lazy checkpoint defers the groupBy into iteration 1"
    )


def test_datasource_module_registered_for_by_value_pickling(spark):
    """spark.dataSource.register pickles the DataSource CLASS by
    reference (module.qualname), which dies in Spark's Python planner
    process whenever the session launches from a cwd that cannot
    import this package (found live in r11: the whole 5-query
    python-datasource family crashed from /tmp). The AST lint in
    test_worker_importability.py only sees nested FUNCTIONS, so this
    class-shaped hazard gets its own pin: registering the wire source
    must put its module on cloudpickle's by-value registry."""
    from pyspark import cloudpickle as cp

    from dynamodb_stream_processor_2_0_spark.sources import (
        python_datasource as PDS,
    )

    PDS.register_wire_datasource(spark)
    registry = {
        m if isinstance(m, str) else m.__name__
        for m in cp.list_registry_pickle_by_value()
    }
    assert PDS.__name__ in registry, (
        "python_datasource must be registered for by-value pickling — "
        "without it the DataSource classes pickle by reference and the "
        "planner worker needs the repo on its own sys.path"
    )


def test_wire_replay_stream_reader_rejects_wrong_path(tmp_path):
    from dynamodb_stream_processor_2_0_spark.sources.python_datasource import (
        WireReplayStreamReader,
    )

    wrong = tmp_path / "not_a_wire_dataset"
    wrong.mkdir()
    (wrong / "some_unrelated_file.txt").write_text("hello")
    with pytest.raises(ValueError, match="no chunk=.*directories"):
        WireReplayStreamReader({"path": str(wrong)})


def test_wire_replay_stream_reader_accepts_marker_only_dir(tmp_path):
    from dynamodb_stream_processor_2_0_spark.sources.python_datasource import (
        WireReplayStreamReader,
    )

    empty = tmp_path / "legit_empty_stream"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    r = WireReplayStreamReader({"path": str(empty)})
    assert r.chunks == []
    assert r.latestOffset() == {"chunk": 0}


def test_wire_replay_stream_reader_reads_chunk_dirs(tmp_path):
    from dynamodb_stream_processor_2_0_spark.sources.python_datasource import (
        WireReplayStreamReader,
    )

    root = tmp_path / "wire"
    (root / "chunk=0").mkdir(parents=True)
    (root / "chunk=0" / "a.jsonl").write_text("{}\n")
    r = WireReplayStreamReader({"path": str(root)})
    assert len(r.chunks) == 1 and r.latestOffset() == {"chunk": 1}
