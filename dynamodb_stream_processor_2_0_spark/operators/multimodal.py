"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``
stages (LLM-pipeline extension).

The decode step itself is STUBBED — image/audio codec libraries are not
in this environment — behind ``decoder=`` injection: production passes
a real codec (PIL/ffmpeg wrapper), tests pass the deterministic fake.
Everything around the stub is real and load-bearing: schemas, the Arrow
batch path, partition sizing, and the UDF signatures are exactly what a
100 TB media pipeline needs (binary payloads never shuffle more than
once; feature extraction is batched per Arrow chunk, not per row).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def _as_bytes(p) -> bytes | None:
    """NULL-tolerant payload coercion for the Pandas kernels: a NULL
    media payload stays None (never killing the Python worker with
    TypeError — tools/hostile_sweep.py nulls world), everything else
    is normalized to bytes.

    NULL convention (matches the SQL oracles and the arrow-digest
    kernel): wide-form per-document kernels emit NULL metric columns
    for a NULL payload (``length(NULL)``/``md5(NULL)`` semantics);
    long-form explode-style kernels emit zero rows for it (SQL
    ``explode`` over NULL semantics). An EMPTY payload (b"") is a
    real value and keeps its zero/empty metrics.

    WORKER-IMPORTABILITY: do NOT reference this from inside a
    mapInPandas/mapInArrow closure — cloudpickle pickles module-level
    functions BY REFERENCE, so the Python workers would need this
    package on their own sys.path, which a driver session launched
    from another cwd does not guarantee (the same rationale as the
    nested by-value decoder copies below). Each kernel defines the
    one-line by-value twin ``_ab`` locally instead; this module-level
    original stays as the documented convention + driver-side uses."""
    return None if p is None else bytes(p)


# one-line body every kernel copies locally (keep in sync):
#     _ab = lambda p: None if p is None else bytes(p)

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def fake_image_decode(payload: bytes) -> dict[str, Any]:
    """Deterministic stand-in decoder: derives plausible metadata and an
    8-dim feature vector purely from the payload bytes (md5-seeded), so
    tests exercise the full Arrow plumbing with stable outputs."""
    h = hashlib.md5(payload).digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "channels": 3,
        "feature": [round(b / 255.0, 6) for b in h[2:10]],
    }


def decode_image_batch(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    decoder: Callable[[bytes], dict[str, Any]] | None = None,
) -> DataFrame:
    """Binary payloads -> typed metadata + feature vector via
    ``mapInPandas`` (Arrow batches; one python call per batch, never per
    row).

    ``decoder=None`` uses a nested by-value copy of
    ``fake_image_decode``: a module-level default would be pickled by
    reference and the Python workers would need this package on their
    own sys.path — which the driver's harness (sys.path.insert in the
    driver process only) does not guarantee. A production codec hook
    passed explicitly must itself be importable on the workers.
    """
    if decoder is None:

        def decoder(payload: bytes) -> dict[str, Any]:
            # keep in sync with fake_image_decode (by-value twin)
            import hashlib as _hl

            h = _hl.md5(payload).digest()
            return {
                "width": 64 + h[0] % 192,
                "height": 64 + h[1] % 192,
                "channels": 3,
                "feature": [round(b / 255.0, 6) for b in h[2:10]],
            }

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        _ab = lambda p: None if p is None else bytes(p)  # by-value twin of _as_bytes

        for pdf in batches:
            raws = [_ab(p) for p in pdf[payload_col]]
            # NULL payload -> NULL metadata (wide-form convention)
            metas = [None if r is None else decoder(r) for r in raws]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": [None if r is None else len(r) for r in raws],
                    "width": [None if m is None else m["width"] for m in metas],
                    "height": [None if m is None else m["height"] for m in metas],
                    "channels": [
                        None if m is None else m["channels"] for m in metas
                    ],
                    "feature": [
                        None if m is None else m["feature"] for m in metas
                    ],
                }
            )

    return df.mapInPandas(run, IMAGE_META_SCHEMA)


def sample_frames(
    df: DataFrame,
    chunk_bytes: int = 32,
    every_nth: int = 4,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Video-style frame sampling: split each payload into fixed-size
    chunks ("frames") and keep every Nth — the partition-preserving
    explode a video pipeline does before per-frame decode."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        _ab = lambda p: None if p is None else bytes(p)  # by-value twin of _as_bytes

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = _ab(payload)
                if raw is None:  # NULL payload -> zero frames (long-form)
                    continue
                chunks = [
                    raw[i : i + chunk_bytes] for i in range(0, len(raw), chunk_bytes)
                ]
                for j in range(0, len(chunks), every_nth):
                    ids.append(int(doc_id))
                    idxs.append(j)
                    frames.append(chunks[j])
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_bytes": frames}
            )

    return df.mapInPandas(run, FRAME_SAMPLE_SCHEMA)


def documents_as_binary(df: DataFrame) -> DataFrame:
    """Adapter for tests/demos: treat document text bytes as an opaque
    media payload column."""
    return df.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def fake_image_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in resizer: (width*height) bytes derived by
    cycling the payload — stable output size and content so tests can
    assert the batch shape without a codec library."""
    if not payload:
        return bytes(width * height)
    reps = (width * height) // len(payload) + 1
    return (payload * reps)[: width * height]


def resize_images(
    df: DataFrame,
    width: int = 64,
    height: int = 64,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize stage via ``mapInPandas`` (Arrow batches). Production
    injects a real codec resizer (PIL/libvips wrapper); the plumbing —
    schema, batching, binary transport — is identical either way.

    ``resizer=None`` uses a nested by-value copy of
    ``fake_image_resize`` (same worker-importability rationale as
    ``decode_image_batch``)."""
    if resizer is None:

        def resizer(payload: bytes, w: int, h: int) -> bytes:
            # keep in sync with fake_image_resize (by-value twin)
            if not payload:
                return bytes(w * h)
            reps = (w * h) // len(payload) + 1
            return (payload * reps)[: w * h]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        _ab = lambda p: None if p is None else bytes(p)  # by-value twin of _as_bytes

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": [width] * len(pdf),
                    "height": [height] * len(pdf),
                    "resized": [
                        # NULL payload -> NULL output image (wide-form);
                        # width/height stay: they are the requested target,
                        # not a payload-derived metric.
                        None
                        if (raw := _ab(p)) is None
                        else resizer(raw, width, height)
                        for p in pdf[payload_col]
                    ],
                }
            )

    return df.mapInPandas(run, RESIZED_SCHEMA)


PCM_WINDOW_SCHEMA = (
    "doc_id long, n_samples long, n_windows long, total_energy long, "
    "peak_window long, peak_energy long"
)


def pcm_window_energy(
    df: DataFrame,
    window: int = 16,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Audio-modality plumbing with a REAL decode (no codec library
    needed): the binary payload is interpreted as little-endian int16
    PCM samples (numpy frombuffer — an actual zero-copy decode, not a
    fake), then windowed energy is computed per ``window`` samples:
    sum of squared samples as exact int64. Output per payload: sample/
    window counts, total energy, and the argmax window (ties to the
    smaller index).

    Arrow-batched mapInPandas; per-batch cost is one vectorized
    frombuffer + reshape + square-sum per payload — the same shape a
    production loudness/VAD feature pass has. A trailing odd byte is
    dropped (samples = first 2*(n//2) bytes); a trailing short window
    keeps its partial energy."""

    def run(batches):
        import numpy as np
        import pandas as pd

        _ab = lambda p: None if p is None else bytes(p)  # by-value twin of _as_bytes

        for pdf in batches:
            out = {
                "doc_id": pdf[id_col].astype("int64"),
                "n_samples": [],
                "n_windows": [],
                "total_energy": [],
                "peak_window": [],
                "peak_energy": [],
            }
            for p in pdf[payload_col]:
                raw = _ab(p)
                if raw is None:  # NULL payload -> NULL metrics (wide-form)
                    out["n_samples"].append(None)
                    out["n_windows"].append(None)
                    out["total_energy"].append(None)
                    out["peak_window"].append(None)
                    out["peak_energy"].append(None)
                    continue
                n = len(raw) // 2
                s = np.frombuffer(raw, dtype="<i2", count=n).astype(np.int64)
                sq = s * s
                n_win = -(-n // window) if n else 0
                energies = [
                    int(sq[w * window : (w + 1) * window].sum())
                    for w in range(n_win)
                ]
                peak = (
                    int(np.argmax(energies)) if energies else -1
                )
                out["n_samples"].append(n)
                out["n_windows"].append(n_win)
                out["total_energy"].append(int(sq.sum()))
                out["peak_window"].append(peak)
                out["peak_energy"].append(energies[peak] if energies else 0)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, PCM_WINDOW_SCHEMA)


def pcm_window_energies(
    df: DataFrame,
    window: int = 16,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-WINDOW energy rows (doc_id, w, energy) — the long-form twin
    of pcm_window_energy for downstream operators that need the whole
    energy series (peak picking, landmark fingerprints). Same decode
    conventions: little-endian int16, trailing odd byte dropped,
    trailing short window keeps its partial energy. Arrow-batched
    mapInPandas, one vectorized frombuffer + square-sum per payload."""

    def run(batches):
        import numpy as np
        import pandas as pd

        _ab = lambda p: None if p is None else bytes(p)  # by-value twin of _as_bytes

        for pdf in batches:
            ids, ws, es = [], [], []
            for did, p in zip(pdf[id_col].astype("int64"), pdf[payload_col]):
                raw = _ab(p)
                if raw is None:  # NULL payload -> zero rows (long-form)
                    continue
                n = len(raw) // 2
                s = np.frombuffer(raw, dtype="<i2", count=n).astype(np.int64)
                sq = s * s
                n_win = -(-n // window) if n else 0
                for w in range(n_win):
                    ids.append(int(did))
                    ws.append(w)
                    es.append(int(sq[w * window : (w + 1) * window].sum()))
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "w": pd.Series(ws, dtype="int64"),
                 "energy": pd.Series(es, dtype="int64")}
            )

    return df.mapInPandas(run, "doc_id long, w long, energy long")


def pcm_window_energy_oracle_sql(window: int = 16, table: str = "documents") -> str:
    """Byte-exact SQL twin: hex(encode(text)) exposes the payload bytes
    (UTF-8-multibyte safe); samples are little-endian int16 pairs.

    NULL convention (matches the kernel, wide-form): a NULL payload
    yields NULL metrics — the COALESCE fallbacks (0 / -1) apply only to
    real-but-empty payloads, guarded by ``h.h IS NULL``."""
    return f"""
        WITH hexed AS (
            SELECT doc_id, hex(encode(text)) AS h,
                   octet_length(encode(text)) // 2 AS n_samples
            FROM {table}
        ), samples AS (
            SELECT doc_id, u.i AS idx,
                   CAST(('0x' || substr(h, 4 * u.i + 1, 2)) AS BIGINT)
                   + 256 * CAST(('0x' || substr(h, 4 * u.i + 3, 2)) AS BIGINT)
                       AS raw
            FROM hexed, LATERAL unnest(range(0, n_samples)) AS u(i)
        ), signed AS (
            SELECT doc_id, idx,
                   CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s
            FROM samples
        ), wins AS (
            SELECT doc_id, idx // {window} AS w,
                   CAST(sum(s * s) AS BIGINT) AS energy
            FROM signed GROUP BY doc_id, idx // {window}
        ), peaks AS (
            SELECT doc_id, w AS peak_window, energy AS peak_energy
            FROM (
                SELECT doc_id, w, energy,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY energy DESC, w) AS rn
                FROM wins
            ) WHERE rn = 1
        )
        SELECT h.doc_id,
               h.n_samples,
               CASE WHEN h.h IS NULL THEN NULL ELSE
                   COALESCE((SELECT count(*) FROM wins x
                             WHERE x.doc_id = h.doc_id), 0) END AS n_windows,
               CASE WHEN h.h IS NULL THEN NULL ELSE
                   COALESCE((SELECT CAST(sum(energy) AS BIGINT) FROM wins x
                             WHERE x.doc_id = h.doc_id), 0) END AS total_energy,
               CASE WHEN h.h IS NULL THEN NULL ELSE
                   COALESCE(p.peak_window, -1) END AS peak_window,
               CASE WHEN h.h IS NULL THEN NULL ELSE
                   COALESCE(p.peak_energy, 0) END AS peak_energy
        FROM hexed h LEFT JOIN peaks p USING (doc_id)
    """


# --- scene-cut detection (round 6) -----------------------------------------

SCENE_CUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_cuts", T.LongType()),
        T.StructField("first_cut_idx", T.LongType()),
        T.StructField("mean_ham_milli", T.LongType()),
    ]
)

_SC_FRAME_BYTES = 32
_SC_BLOCKS = 8
_SC_CUT_BITS = 2  # Hamming > 2 of 8 signature bits => cut


def frame_signatures(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-FRAME signature rows (doc_id, frame_idx, sig, intensity) —
    the long-form twin of scene_cut_detect for downstream operators
    that need the whole frame series (shot segmentation, keyframe
    selection). Same conventions: fixed 32-byte frames (trailing
    partial dropped), 8-bit block-intensity signature with the
    cross-multiplied block_sum*8 > frame_total rule, intensity =
    exact byte sum."""

    def run(batches):
        import numpy as np
        import pandas as pd

        _ab = lambda p: None if p is None else bytes(p)  # by-value twin of _as_bytes

        for pdf in batches:
            ids, idxs, sigs, inten = [], [], [], []
            for did, p in zip(pdf[id_col].astype("int64"), pdf[payload_col]):
                raw = _ab(p)
                if raw is None:  # NULL payload -> zero rows (long-form)
                    continue
                n_f = len(raw) // _SC_FRAME_BYTES
                if n_f == 0:
                    continue
                arr = np.frombuffer(
                    raw, dtype=np.uint8, count=n_f * _SC_FRAME_BYTES
                ).astype(np.int64).reshape(n_f, _SC_FRAME_BYTES)
                blocks = arr.reshape(n_f, _SC_BLOCKS, -1).sum(axis=2)
                totals = arr.sum(axis=1)
                bits = (blocks * _SC_BLOCKS > totals[:, None]).astype(
                    np.int64
                )
                sig = (bits << np.arange(_SC_BLOCKS)).sum(axis=1)
                for i in range(n_f):
                    ids.append(int(did))
                    idxs.append(i)
                    sigs.append(int(sig[i]))
                    inten.append(int(totals[i]))
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "frame_idx": pd.Series(idxs, dtype="int64"),
                 "sig": pd.Series(sigs, dtype="int64"),
                 "intensity": pd.Series(inten, dtype="int64")}
            )

    return df.mapInPandas(
        run, "doc_id long, frame_idx long, sig long, intensity long"
    )


def scene_cut_detect(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Video scene-cut detection with a REAL decode (no codec library):
    each payload splits into fixed 32-byte frames (the frame_sample
    convention; a trailing partial frame is dropped), each frame gets
    an 8-bit block-intensity signature — bit b set iff the 4-byte
    block's sum exceeds the frame mean, cross-multiplied as
    block_sum * 8 > frame_total so no division happens — and a CUT is
    a consecutive-frame signature Hamming distance > 2. This is the
    shot-boundary pass of a video curation pipeline (dedup within a
    shot, sample across shots), exactly the same per-frame feature +
    temporal-difference shape production systems run, on exact
    integers so the SQL oracle re-derives every byte.

    Arrow-batched mapInPandas; per payload one frombuffer + reshape +
    block-sum + packbits + XOR/popcount — vectorized end to end."""

    def run(batches):
        import numpy as np
        import pandas as pd

        _ab = lambda p: None if p is None else bytes(p)  # by-value twin of _as_bytes

        popcount8 = np.array(
            [bin(x).count("1") for x in range(256)], dtype=np.int64
        )

        for pdf in batches:
            out = {
                "doc_id": pdf[id_col].astype("int64"),
                "n_frames": [],
                "n_cuts": [],
                "first_cut_idx": [],
                "mean_ham_milli": [],
            }
            for p in pdf[payload_col]:
                raw = _ab(p)
                if raw is None:  # NULL payload -> NULL metrics (wide-form)
                    out["n_frames"].append(None)
                    out["n_cuts"].append(None)
                    out["first_cut_idx"].append(None)
                    out["mean_ham_milli"].append(None)
                    continue
                n = len(raw) // _SC_FRAME_BYTES
                if n == 0:
                    out["n_frames"].append(0)
                    out["n_cuts"].append(0)
                    out["first_cut_idx"].append(-1)
                    out["mean_ham_milli"].append(0)
                    continue
                arr = np.frombuffer(
                    raw, dtype=np.uint8, count=n * _SC_FRAME_BYTES
                ).astype(np.int64).reshape(n, _SC_FRAME_BYTES)
                blocks = arr.reshape(
                    n, _SC_BLOCKS, _SC_FRAME_BYTES // _SC_BLOCKS
                ).sum(axis=2)
                totals = arr.sum(axis=1, keepdims=True)
                bits = (blocks * _SC_BLOCKS > totals).astype(np.int64)
                sigs = (bits << np.arange(_SC_BLOCKS)).sum(axis=1)
                if n == 1:
                    out["n_frames"].append(1)
                    out["n_cuts"].append(0)
                    out["first_cut_idx"].append(-1)
                    out["mean_ham_milli"].append(0)
                    continue
                ham = popcount8[(sigs[1:] ^ sigs[:-1]).astype(np.int64)]
                cuts = ham > _SC_CUT_BITS
                first = int(np.argmax(cuts)) + 1 if cuts.any() else -1
                out["n_frames"].append(int(n))
                out["n_cuts"].append(int(cuts.sum()))
                out["first_cut_idx"].append(first)
                out["mean_ham_milli"].append(
                    int(ham.sum()) * 1000 // (n - 1)
                )
            yield pd.DataFrame(out)

    return df.mapInPandas(run, SCENE_CUT_SCHEMA)


VAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_windows", T.LongType()),
        T.StructField("n_active", T.LongType()),
        T.StructField("n_segments", T.LongType()),
        T.StructField("longest_segment", T.LongType()),
        T.StructField("first_active", T.LongType()),
    ]
)


def audio_vad_segments(
    df: DataFrame,
    window: int = 16,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Voice-activity segmentation over the PCM energy windows: a
    window is ACTIVE iff its energy strictly beats the payload's mean
    window energy (cross-multiplied: energy * n_windows > total — no
    division), and segments are maximal runs of active windows — the
    silence-trim / utterance-split pass an audio curation pipeline
    runs after the loudness feature pass (pcm_window_energy shares the
    decode and windowing conventions: little-endian int16, trailing
    odd byte dropped, trailing short window keeps partial energy).

    Arrow-batched mapInPandas; per payload one frombuffer + reshape +
    square-sum + run-length scan, vectorized."""

    def run(batches):
        import numpy as np
        import pandas as pd

        _ab = lambda p: None if p is None else bytes(p)  # by-value twin of _as_bytes

        for pdf in batches:
            out = {
                "doc_id": pdf[id_col].astype("int64"),
                "n_windows": [],
                "n_active": [],
                "n_segments": [],
                "longest_segment": [],
                "first_active": [],
            }
            for p in pdf[payload_col]:
                raw = _ab(p)
                if raw is None:  # NULL payload -> NULL metrics (wide-form)
                    out["n_windows"].append(None)
                    out["n_active"].append(None)
                    out["n_segments"].append(None)
                    out["longest_segment"].append(None)
                    out["first_active"].append(None)
                    continue
                n = len(raw) // 2
                s = np.frombuffer(raw, dtype="<i2", count=n).astype(
                    np.int64
                )
                sq = s * s
                n_win = -(-n // window) if n else 0
                en = np.array(
                    [
                        int(sq[w * window : (w + 1) * window].sum())
                        for w in range(n_win)
                    ],
                    dtype=np.int64,
                )
                total = int(en.sum()) if n_win else 0
                act = en * n_win > total
                if act.any():
                    a = act.astype(np.int64)
                    starts = int(a[0]) + int(
                        ((a[1:] == 1) & (a[:-1] == 0)).sum()
                    )
                    # longest run of 1s: split on zeros
                    runs = np.diff(
                        np.flatnonzero(
                            np.concatenate(([1], np.diff(a) != 0, [1]))
                        )
                    )
                    vals = a[
                        np.flatnonzero(
                            np.concatenate(([1], np.diff(a) != 0))
                        )
                    ]
                    longest = int(runs[vals == 1].max())
                    first = int(np.argmax(act))
                else:
                    starts, longest, first = 0, 0, -1
                out["n_windows"].append(int(n_win))
                out["n_active"].append(int(act.sum()))
                out["n_segments"].append(starts)
                out["longest_segment"].append(longest)
                out["first_active"].append(first)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, VAD_SCHEMA)


def audio_vad_oracle_sql(window: int = 16, table: str = "documents") -> str:
    """Byte-exact SQL twin of audio_vad_segments: the pcm energy CTEs
    plus gaps-and-islands over the strictly-above-mean windows.

    NULL convention (matches the kernel, wide-form): NULL payload ->
    NULL metrics; 0 / -1 fallbacks apply only to real-but-empty
    payloads (``hx.h IS NULL`` guard)."""
    return f"""
        WITH hexed AS (
            SELECT doc_id, hex(encode(text)) AS h,
                   octet_length(encode(text)) // 2 AS n_samples
            FROM {table}
        ), samples AS (
            SELECT doc_id, u.i AS idx,
                   CAST(('0x' || substr(h, 4 * u.i + 1, 2)) AS BIGINT)
                   + 256 * CAST(('0x' || substr(h, 4 * u.i + 3, 2))
                                AS BIGINT) AS raw
            FROM hexed, LATERAL unnest(range(0, n_samples)) AS u(i)
        ), signed AS (
            SELECT doc_id, idx,
                   CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s
            FROM samples
        ), wins AS (
            SELECT doc_id, idx // {window} AS w,
                   CAST(sum(s * s) AS BIGINT) AS energy
            FROM signed GROUP BY doc_id, idx // {window}
        ), tot AS (
            SELECT doc_id, CAST(sum(energy) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS nw
            FROM wins GROUP BY doc_id
        ), act AS (
            SELECT w.doc_id, w.w
            FROM wins w JOIN tot t USING (doc_id)
            WHERE w.energy * t.nw > t.total
        ), isl AS (
            SELECT doc_id, w,
                   w - row_number() OVER (PARTITION BY doc_id ORDER BY w)
                       AS g
            FROM act
        ), seg AS (
            SELECT doc_id, g, CAST(count(*) AS BIGINT) AS len
            FROM isl GROUP BY doc_id, g
        ), per_doc AS (
            SELECT s.doc_id,
                   CAST(count(*) AS BIGINT) AS n_segments,
                   CAST(max(s.len) AS BIGINT) AS longest_segment,
                   CAST(sum(s.len) AS BIGINT) AS n_active
            FROM seg s GROUP BY s.doc_id
        ), firsts AS (
            SELECT doc_id, CAST(min(w) AS BIGINT) AS first_active
            FROM act GROUP BY doc_id
        )
        SELECT hx.doc_id,
               CASE WHEN hx.h IS NULL THEN NULL
                    ELSE COALESCE(t.nw, 0) END AS n_windows,
               CASE WHEN hx.h IS NULL THEN NULL
                    ELSE COALESCE(p.n_active, 0) END AS n_active,
               CASE WHEN hx.h IS NULL THEN NULL
                    ELSE COALESCE(p.n_segments, 0) END AS n_segments,
               CASE WHEN hx.h IS NULL THEN NULL
                    ELSE COALESCE(p.longest_segment, 0) END AS longest_segment,
               CASE WHEN hx.h IS NULL THEN NULL
                    ELSE COALESCE(f.first_active, -1) END AS first_active
        FROM hexed hx
        LEFT JOIN tot t USING (doc_id)
        LEFT JOIN per_doc p USING (doc_id)
        LEFT JOIN firsts f USING (doc_id)
        ORDER BY hx.doc_id
    """


def scene_cut_oracle_sql(table: str = "documents") -> str:
    """Byte-exact SQL twin of scene_cut_detect via hex(encode(text)).

    NULL convention (matches the kernel, wide-form): NULL payload ->
    NULL metrics; 0 / -1 fallbacks apply only to real-but-short
    payloads (``h.n_frames IS NULL`` guard)."""
    fb, nb = _SC_FRAME_BYTES, _SC_BLOCKS
    bpb = fb // nb
    return f"""
        WITH hexed AS (
            SELECT doc_id, hex(encode(text)) AS h,
                   octet_length(encode(text)) // {fb} AS n_frames
            FROM {table}
        ), bytes AS (
            SELECT doc_id, f.j AS frame, b.b AS blk,
                   CAST(('0x' || substr(h,
                       {2 * fb} * f.j + {2 * bpb} * b.b + 2 * k.k + 1, 2))
                       AS BIGINT) AS byte
            FROM hexed,
                 LATERAL unnest(range(0, n_frames)) AS f(j),
                 LATERAL unnest(range(0, {nb})) AS b(b),
                 LATERAL unnest(range(0, {bpb})) AS k(k)
        ), blocks AS (
            SELECT doc_id, frame, blk, CAST(sum(byte) AS BIGINT) AS bsum
            FROM bytes GROUP BY 1, 2, 3
        ), sigs AS (
            SELECT doc_id, frame,
                   CAST(sum(CASE WHEN bsum * {nb} > tot THEN 1 ELSE 0 END
                            << blk) AS BIGINT) AS sig
            FROM (
                SELECT doc_id, frame, blk, bsum,
                       sum(bsum) OVER (PARTITION BY doc_id, frame) AS tot
                FROM blocks
            ) GROUP BY doc_id, frame
        ), hams AS (
            SELECT doc_id, frame,
                   bit_count(xor(sig, lag(sig) OVER (
                       PARTITION BY doc_id ORDER BY frame))) AS ham
            FROM sigs
        )
        SELECT h.doc_id,
               CAST(h.n_frames AS BIGINT) AS n_frames,
               CAST(CASE WHEN h.n_frames IS NULL THEN NULL ELSE
                    COALESCE(sum(CASE WHEN m.ham > {_SC_CUT_BITS}
                                      THEN 1 ELSE 0 END), 0) END AS BIGINT)
                   AS n_cuts,
               CAST(CASE WHEN h.n_frames IS NULL THEN NULL ELSE
                    COALESCE(min(CASE WHEN m.ham > {_SC_CUT_BITS}
                                      THEN m.frame END), -1) END AS BIGINT)
                   AS first_cut_idx,
               CAST(CASE WHEN h.n_frames IS NULL THEN NULL
                    WHEN h.n_frames >= 2
                    THEN COALESCE(sum(m.ham), 0) * 1000 // (h.n_frames - 1)
                    ELSE 0 END AS BIGINT) AS mean_ham_milli
        FROM hexed h
        LEFT JOIN hams m ON m.doc_id = h.doc_id AND m.ham IS NOT NULL
        GROUP BY h.doc_id, h.n_frames
        ORDER BY h.doc_id
    """
