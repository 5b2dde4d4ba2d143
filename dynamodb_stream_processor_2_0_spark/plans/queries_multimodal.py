"""Multimodal column queries (LLM-pipeline extension): opaque binary
payloads processed by Arrow-batched ``mapInPandas`` stages.

The decode/resize hooks are injectable (``operators/multimodal.py``):
production passes a real codec, this environment uses the deterministic
md5-seeded fakes. Because the fakes derive everything from the payload
bytes, the DuckDB oracle can recompute the SAME metadata from the same
bytes in SQL — so the whole Arrow plumbing (schema, batching, UDF
signatures, per-row determinism) is hash-verified end to end, not just
smoke-tested.

Scale notes: binary payloads are the widest column in a media table —
each stage projects only (id, payload), never joins payloads, and emits
narrow typed rows, so payload bytes cross the wire exactly once per
stage. mapInPandas streams Arrow record batches: peak executor memory
is one batch of payloads, bounded by arrow.maxRecordsPerBatch x mean
payload size, independent of partition row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dynamodb_stream_processor_2_0_spark.operators import multimodal as MM
from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table

# DuckDB SQL for "byte k (0-based) of md5(payload) as an integer".
# DuckDB 1.0 has no md5(BLOB); md5(VARCHAR) hashes the string's UTF-8
# bytes, which ARE the payload bytes (payload := encode(text)), so
# md5(text) == md5 of the binary payload. md5 yields lowercase hex;
# byte k is digits (2k+1, 2k+2).
_HEXPOS = "strpos('0123456789abcdef', substr(md5(text), {d}, 1)) - 1"


def _md5_byte_sql(k: int) -> str:
    hi = _HEXPOS.format(d=2 * k + 1)
    lo = _HEXPOS.format(d=2 * k + 2)
    return f"(({hi}) * 16 + ({lo}))"


@register(
    "multimodal_image_decode",
    oracle=f"""
        WITH bin AS (
            SELECT doc_id, text, encode(text) AS payload FROM documents
        )
        SELECT doc_id,
               CAST(octet_length(payload) AS INTEGER) AS n_bytes,
               CAST(64 + {_md5_byte_sql(0)} % 192 AS INTEGER) AS width,
               CAST(64 + {_md5_byte_sql(1)} % 192 AS INTEGER) AS height,
               CAST(CASE WHEN payload IS NULL THEN NULL ELSE 3 END
                    AS INTEGER) AS channels,
               CAST({_md5_byte_sql(2)} AS INTEGER) AS f0_byte,
               CAST({_md5_byte_sql(9)} AS INTEGER) AS f7_byte
        FROM bin
    """,
    tags=("multimodal", "llm", "mapInPandas"),
    doc="Image decode stage: binary payload -> typed metadata + feature vector "
    "via Arrow-batched mapInPandas; the md5-seeded fake decoder lets the "
    "oracle recompute identical metadata from the same bytes in SQL.",
)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature vector is checked through its generating bytes
    (feature[i] == round(byte/255, 6), so byte == round(f*255)): the
    oracle stays in integer arithmetic and no cross-engine float
    rounding enters the hash."""
    docs = MM.documents_as_binary(load_table(spark, sf_dir, "documents"))
    decoded = MM.decode_image_batch(docs)
    return decoded.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        "channels",
        F.round(F.col("feature")[0] * 255).cast("int").alias("f0_byte"),
        F.round(F.col("feature")[7] * 255).cast("int").alias("f7_byte"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
        WITH bin AS (
            SELECT doc_id, encode(text) AS payload FROM documents
        ), sized AS (
            SELECT doc_id, payload,
                   CAST(ceil(octet_length(payload) / 32.0) AS BIGINT) AS n_chunks
            FROM bin
        ), idx AS (
            SELECT doc_id, payload,
                   unnest(range(0, n_chunks, 4)) AS frame_idx
            FROM sized
        )
        SELECT doc_id,
               CAST(frame_idx AS INTEGER) AS frame_idx,
               substr(hex(payload), CAST(frame_idx * 64 + 1 AS BIGINT), 64)
                   AS frame_hex
        FROM idx
    """,
    tags=("multimodal", "llm", "mapInPandas"),
    doc="Video-style frame sampling: payload split into 32-byte 'frames', every "
    "4th kept — the partition-preserving explode before per-frame decode; the "
    "oracle re-slices the same bytes (DuckDB 1.0 can't substr a BLOB, so both "
    "sides compare the hex encoding: 32 bytes == 64 hex chars).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = MM.documents_as_binary(load_table(spark, sf_dir, "documents"))
    frames = MM.sample_frames(docs, chunk_bytes=32, every_nth=4)
    return frames.select(
        "doc_id", "frame_idx", F.hex("frame_bytes").alias("frame_hex")
    )


@register(
    "multimodal_resize_digest",
    oracle="""
        WITH bin AS (
            SELECT doc_id, encode(text) AS payload FROM documents
        ), resized AS (
            -- NULL payload -> row kept with NULL resized bytes (wide-form
            -- kernel convention); EMPTY payload -> 4096 zero bytes (the
            -- resizer's bytes(w*h) branch). Both mirror resize_images.
            SELECT doc_id,
                   CASE WHEN payload IS NULL THEN NULL
                        WHEN octet_length(payload) = 0
                            THEN unhex(repeat('00', 4096))
                        ELSE unhex(substr(repeat(hex(payload),
                                       CAST(4096 // octet_length(payload) + 1
                                            AS INTEGER)),
                                1, 8192)) END AS rbytes
            FROM bin
        )
        SELECT doc_id, 64 AS width, 64 AS height,
               CAST(octet_length(rbytes) AS INTEGER) AS n_resized_bytes,
               md5(hex(rbytes)) AS resized_md5
        FROM resized
    """,
    tags=("multimodal", "llm", "mapInPandas"),
    doc="Resize stage: fixed 64x64 output per payload via mapInPandas; verified "
    "by byte length + a digest of the resized buffer (md5-of-hex, since "
    "DuckDB 1.0 md5 only takes VARCHAR; hex() is uppercase in both engines).",
)
def multimodal_resize_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emitting (length, md5) instead of the 4 KiB buffer keeps the
    verified result narrow — the full binary stays executor-side, the
    digest proves it byte-for-byte."""
    docs = MM.documents_as_binary(load_table(spark, sf_dir, "documents"))
    resized = MM.resize_images(docs, width=64, height=64)
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.octet_length("resized").alias("n_resized_bytes"),
        F.md5(F.hex("resized").cast("binary")).alias("resized_md5"),
    )


@register(
    "multimodal_arrow_digest",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents
        ORDER BY doc_id
    """,
    tags=("multimodal", "llm", "map-in-arrow"),
    doc="mapInArrow digest stage: content checksums over opaque binary "
    "payloads computed directly on Arrow RecordBatches — no pandas "
    "materialization at all, the lowest-overhead Python path (binary "
    "columns round-trip through pandas as per-row Python bytes objects; "
    "Arrow keeps them in contiguous buffers). The fixity-check stage of "
    "a media-ingest pipeline; map-only, payload bytes cross the wire "
    "once.",
)
def multimodal_arrow_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def digest(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        for batch in batches:
            payloads = batch.column("payload")
            # Hash straight off the Arrow (offsets, data) buffers: the
            # lengths come from the offsets vector and each md5 reads a
            # zero-copy memoryview slice of the shared data buffer — no
            # per-row as_py() bytes materialization. NULL payloads
            # digest to NULL (the oracle's md5(NULL)), masked off the
            # same offsets walk — a hard assert here killed the worker
            # on null rows (tools/hostile_sweep.py nulls world).
            off_dtype = (
                np.int64 if pa.types.is_large_binary(payloads.type) else np.int32
            )
            offsets = np.frombuffer(payloads.buffers()[1], dtype=off_dtype)[
                payloads.offset : payloads.offset + len(payloads) + 1
            ]
            data = memoryview(payloads.buffers()[2])
            valid = (
                payloads.is_valid().to_pylist()
                if payloads.null_count
                else [True] * len(payloads)
            )
            md5s = [
                hashlib.md5(data[offsets[i] : offsets[i + 1]]).hexdigest()
                if valid[i]
                else None
                for i in range(len(payloads))
            ]
            n_bytes = [
                int(offsets[i + 1] - offsets[i]) if valid[i] else None
                for i in range(len(payloads))
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pa.array(n_bytes, pa.int64()),
                    pa.array(md5s, pa.string()),
                ],
                ["doc_id", "n_bytes", "payload_md5"],
            )

    return (
        payload.mapInArrow(
            digest, "doc_id long, n_bytes long, payload_md5 string"
        )
        .orderBy("doc_id")
    )


@register(
    "multimodal_pcm_window_energy",
    oracle=MM.pcm_window_energy_oracle_sql(window=16),
    tags=("multimodal", "llm", "audio", "mapInPandas"),
    doc="Audio-modality stage with a REAL decode: payload bytes "
    "interpreted as little-endian int16 PCM (numpy frombuffer — "
    "zero-copy, no codec library), 16-sample windowed energy as exact "
    "int64 sums, per-payload peak-window argmax (ties to the smaller "
    "index). The oracle recomputes every sample byte-for-byte in SQL "
    "via hex(payload), so the Arrow plumbing AND the arithmetic are "
    "hash-verified, not smoke-tested.",
)
def multimodal_pcm_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The windowed-square-sum kernel is the loudness/VAD feature pass
    of an audio pipeline; integer-only outputs keep the gate exact."""
    docs = MM.documents_as_binary(load_table(spark, sf_dir, "documents"))
    return MM.pcm_window_energy(docs, window=16)


@register(
    "multimodal_scene_cut_detect",
    oracle=MM.scene_cut_oracle_sql(),
    tags=("multimodal", "llm", "video", "mapInPandas"),
    doc="Video shot-boundary detection with a REAL decode: payloads "
    "split into fixed 32-byte frames, each frame gets an 8-bit "
    "block-intensity signature (bit = block sum beats the frame "
    "mean, cross-multiplied — no division), and a cut is a "
    "consecutive-frame Hamming distance > 2 — the scene "
    "segmentation pass a video curation pipeline runs before "
    "within-shot dedup and cross-shot sampling (completing the "
    "video arm next to frame sampling and pHash near-dup). The "
    "kernel is one vectorized frombuffer/reshape/packbits/popcount "
    "per payload over Arrow batches; the oracle re-derives every "
    "byte from hex(payload), so the plumbing AND the arithmetic "
    "are hash-verified. Map-only: payload bytes cross the wire "
    "once, narrow typed rows come out.",
)
def multimodal_scene_cut_detect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = MM.documents_as_binary(load_table(spark, sf_dir, "documents"))
    return MM.scene_cut_detect(docs).orderBy("doc_id")


@register(
    "multimodal_audio_vad_segments",
    oracle=MM.audio_vad_oracle_sql(),
    tags=("multimodal", "llm", "audio", "mapInPandas"),
    doc="Voice-activity segmentation with a REAL decode: payloads "
    "decode as little-endian int16 PCM (the pcm_window_energy "
    "conventions), a window is active iff its energy strictly beats "
    "the payload mean (cross-multiplied, no division), and maximal "
    "active runs become segments — the silence-trim / utterance-"
    "split pass an audio curation pipeline runs before per-utterance "
    "dedup and transcription batching (completing the audio arm next "
    "to the loudness feature pass). Per payload: window/active "
    "counts, segment count, longest segment, first active index. "
    "The kernel is one vectorized frombuffer + square-sum + run-"
    "length scan per payload over Arrow batches; the oracle re-"
    "derives every byte from hex(payload) and the islands algebra in "
    "SQL, so plumbing AND arithmetic are hash-verified. Map-only: "
    "payload bytes cross the wire once.",
)
def multimodal_audio_vad_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = MM.documents_as_binary(load_table(spark, sf_dir, "documents"))
    return MM.audio_vad_segments(docs).orderBy("doc_id")


# --- audio landmark fingerprint matching --------------------------------------
#
# Shazam-style constellation matching (Wang 2003), integer-exact:
# windowed PCM energies -> local-maximum PEAKS (strictly beat both
# neighbors; missing neighbor counts as -1) -> LANDMARKS pairing each
# peak with peaks 1..8 windows ahead, hashed as (q(e1),
# q(e2), gap) with q = 4*bitlen + 2 fractional bits -> cross-payload matching on the DISTINCT landmark set
# (set semantics: a hash repeated within one payload counts once).
# The bitlen quantization is the robustness knob (amplitude drifts
# within a power of two keep the hash); the df<=50 stop-landmark cap
# bounds the posting-list join exactly like winnowing's stop
# fingerprints. Completes the audio arm: energy (feature), VAD
# (segmentation), landmarks (content identity / near-dup).

_ALF_WINDOW = 16
_ALF_ZONE = 8
_ALF_DF_CAP = 50
_ALF_MIN_SHARED = 3


def _alf_oracle() -> str:
    return f"""
        WITH hexed AS (
            SELECT doc_id, hex(encode(text)) AS h,
                   octet_length(encode(text)) // 2 AS n_samples
            FROM documents
        ), samples AS (
            SELECT doc_id, u.i AS idx,
                   CAST(('0x' || substr(h, 4 * u.i + 1, 2)) AS BIGINT)
                   + 256 * CAST(('0x' || substr(h, 4 * u.i + 3, 2))
                                AS BIGINT) AS raw
            FROM hexed, LATERAL unnest(range(0, n_samples)) AS u(i)
        ), signed AS (
            SELECT doc_id, idx,
                   CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END
                       AS s
            FROM samples
        ), wins AS (
            SELECT doc_id, idx // {_ALF_WINDOW} AS w,
                   CAST(sum(s * s) AS BIGINT) AS energy
            FROM signed GROUP BY doc_id, idx // {_ALF_WINDOW}
        ), nbr AS (
            SELECT doc_id, w, energy,
                   lag(energy) OVER (PARTITION BY doc_id ORDER BY w)
                       AS prev,
                   lead(energy) OVER (PARTITION BY doc_id ORDER BY w)
                       AS nxt
            FROM wins
        ), peaks AS (
            SELECT doc_id, w, energy
            FROM nbr
            WHERE energy > COALESCE(prev, -1)
              AND energy > COALESCE(nxt, -1)
        ), lms AS (
            SELECT a.doc_id,
                   ((length(bin(a.energy)) - 1) * 4
                    + (a.energy * 4 // (CAST(1 AS BIGINT)
                        << (length(bin(a.energy)) - 1))) - 4) * 10000
                   + ((length(bin(b.energy)) - 1) * 4
                    + (b.energy * 4 // (CAST(1 AS BIGINT)
                        << (length(bin(b.energy)) - 1))) - 4) * 100
                   + (b.w - a.w) AS lm
            FROM peaks a
            JOIN peaks b ON b.doc_id = a.doc_id
                        AND b.w > a.w AND b.w <= a.w + {_ALF_ZONE}
        ), lmset AS (
            SELECT DISTINCT doc_id, lm FROM lms
        ), kept AS (
            SELECT doc_id, lm FROM lmset
            WHERE lm IN (SELECT lm FROM lmset GROUP BY lm
                         HAVING count(*) <= {_ALF_DF_CAP})
        ), totals AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lm
            FROM kept GROUP BY doc_id
        ), pairs AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM kept x JOIN kept y
              ON y.lm = x.lm AND y.doc_id > x.doc_id
            GROUP BY x.doc_id, y.doc_id
            HAVING count(*) >= {_ALF_MIN_SHARED}
        )
        SELECT p.doc_a, p.doc_b, p.n_shared,
               ta.n_lm AS n_lm_a, tb.n_lm AS n_lm_b,
               CAST(1000 * p.n_shared // least(ta.n_lm, tb.n_lm)
                    AS BIGINT) AS overlap_permille
        FROM pairs p
        JOIN totals ta ON ta.doc_id = p.doc_a
        JOIN totals tb ON tb.doc_id = p.doc_b
        ORDER BY p.n_shared DESC, p.doc_a, p.doc_b
        LIMIT 25
    """


@register(
    "multimodal_audio_landmark_match",
    oracle=_alf_oracle(),
    tags=("multimodal", "llm", "audio", "dedup", "mapInPandas", "slow"),
    doc="Shazam-style audio landmark matching (Wang 2003) with a REAL "
    "decode: little-endian int16 PCM windows -> local-maximum energy "
    "peaks (strictly beat both neighbors) -> landmark hashes "
    "(q(e1), q(e2), window gap <= 8) with q = 4*bitlen(e) + 2 "
    "fractional bits -> payload pairs "
    "ranked by shared-landmark count. bitlen quantization gives "
    "amplitude robustness within a power of two; the df<=50 "
    "stop-landmark cap bounds the posting-list join exactly like "
    "winnowing's stop fingerprints — no hash's posting list can "
    "dominate a shuffle partition. The kernel reuses the "
    "pcm_window_energies long-form decode (one vectorized "
    "frombuffer + square-sum per payload over Arrow batches); "
    "everything after it is pure DataFrame algebra, and the oracle "
    "re-derives every sample byte from hex(payload). Completes the "
    "audio arm: energy features, VAD segmentation, and now content "
    "identity / near-dup matching.",
)
def multimodal_audio_landmark_match(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    docs = MM.documents_as_binary(load_table(spark, sf_dir, "documents"))
    wins = MM.pcm_window_energies(docs, window=_ALF_WINDOW)
    wseq = W.partitionBy("doc_id").orderBy("w")
    peaks = (
        wins.select(
            "doc_id",
            "w",
            "energy",
            F.lag("energy").over(wseq).alias("prev"),
            F.lead("energy").over(wseq).alias("nxt"),
        )
        .filter(
            (F.col("energy") > F.coalesce("prev", F.lit(-1)))
            & (F.col("energy") > F.coalesce("nxt", F.lit(-1)))
        )
        .select("doc_id", "w", "energy")
    )
    a = peaks.select(
        "doc_id",
        F.col("w").alias("wa"),
        F.col("energy").alias("ea"),
        F.explode(F.expr(f"sequence(1, {_ALF_ZONE})")).alias("g"),
    ).select("doc_id", "wa", "ea", (F.col("wa") + F.col("g")).alias("w"))
    lms = a.join(
        peaks.select("doc_id", "w", F.col("energy").alias("eb")),
        ["doc_id", "w"],
    ).select(
        "doc_id",
        F.expr(
            "((length(bin(ea)) - 1) * 4"
            " + (ea * 4 div shiftleft(CAST(1 AS BIGINT),"
            " length(bin(ea)) - 1)) - 4) * 10000"
            " + ((length(bin(eb)) - 1) * 4"
            " + (eb * 4 div shiftleft(CAST(1 AS BIGINT),"
            " length(bin(eb)) - 1)) - 4) * 100 + (w - wa)"
        ).alias("lm"),
    )
    lmset = lms.distinct()
    df_counts = lmset.groupBy("lm").agg(
        F.count(F.lit(1)).alias("df")
    )
    kept = (
        lmset.join(df_counts, "lm")
        .filter(F.col("df") <= _ALF_DF_CAP)
        .select("doc_id", "lm")
    )
    totals = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lm")
    )
    pairs = (
        kept.alias("x")
        .join(
            kept.alias("y"),
            (F.col("y.lm") == F.col("x.lm"))
            & (F.col("y.doc_id") > F.col("x.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _ALF_MIN_SHARED)
    )
    return (
        pairs.join(
            totals.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n_lm").alias("n_lm_a"),
            ),
            "doc_a",
        )
        .join(
            totals.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n_lm").alias("n_lm_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_lm_a",
            "n_lm_b",
            F.expr(
                "CAST(1000 * n_shared div least(n_lm_a, n_lm_b)"
                " AS BIGINT)"
            ).alias("overlap_permille"),
        )
        .orderBy(F.col("n_shared").desc(), "doc_a", "doc_b")
        .limit(25)
    )


# --- shot segmentation + keyframe selection -------------------------------------
#
# Composes the video arm end-to-end: per-frame signatures (the
# scene-cut kernel's long form) -> shot ids via a running sum of cut
# flags (consecutive-signature Hamming > 2, the scene_cut rule) ->
# one KEYFRAME per shot (max intensity, ties to the earliest frame).
# This is the representative-frame pass a video curation pipeline
# runs after shot boundary detection and before per-keyframe
# dedup/captioning; emitting one frame per shot is what turns a
# 100 TB video corpus into a trainable image set.


def _keyframe_oracle() -> str:
    return """
        WITH hexed AS (
            SELECT doc_id, hex(encode(text)) AS h,
                   octet_length(encode(text)) // 32 AS n_frames
            FROM documents
        ), bytes_ AS (
            SELECT doc_id, u.i // 32 AS frame_idx,
                   (u.i % 32) // 4 AS block_idx,
                   CAST(('0x' || substr(h, 2 * u.i + 1, 2)) AS BIGINT)
                       AS b
            FROM hexed,
                 LATERAL unnest(range(0, n_frames * 32)) AS u(i)
        ), blocks AS (
            SELECT doc_id, frame_idx, block_idx,
                   CAST(sum(b) AS BIGINT) AS bsum
            FROM bytes_ GROUP BY doc_id, frame_idx, block_idx
        ), frames_tot AS (
            SELECT doc_id, frame_idx,
                   CAST(sum(bsum) AS BIGINT) AS intensity
            FROM blocks GROUP BY doc_id, frame_idx
        ), frames AS (
            SELECT b.doc_id, b.frame_idx, t.intensity,
                   CAST(sum(CASE WHEN b.bsum * 8 > t.intensity
                            THEN CAST(2 ** b.block_idx AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS sig
            FROM blocks b
            JOIN frames_tot t
              ON t.doc_id = b.doc_id AND t.frame_idx = b.frame_idx
            GROUP BY b.doc_id, b.frame_idx, t.intensity
        ), marked AS (
            SELECT doc_id, frame_idx, sig, intensity,
                   CASE WHEN frame_idx > 0 AND bit_count(xor(sig,
                            lag(sig) OVER (PARTITION BY doc_id
                                           ORDER BY frame_idx))) > 2
                        THEN 1 ELSE 0 END AS is_cut
            FROM frames
        ), shots AS (
            SELECT doc_id, frame_idx, sig, intensity,
                   CAST(sum(is_cut) OVER (PARTITION BY doc_id
                        ORDER BY frame_idx
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS shot_id
            FROM marked
        )
        SELECT doc_id, shot_id,
               CAST(min(frame_idx) AS BIGINT) AS shot_start,
               CAST(count(*) AS BIGINT) AS shot_len,
               CAST(min(CASE WHEN intensity = mx THEN frame_idx END)
                    AS BIGINT) AS keyframe_idx,
               mx AS keyframe_intensity
        FROM (
            SELECT *, max(intensity) OVER (PARTITION BY doc_id, shot_id)
                       AS mx
            FROM shots
        )
        GROUP BY doc_id, shot_id, mx
        ORDER BY doc_id, shot_id
    """


@register(
    "multimodal_shot_keyframes",
    oracle=_keyframe_oracle(),
    tags=("multimodal", "llm", "video", "mapInPandas"),
    doc="Shot segmentation + keyframe selection, composing the video "
    "arm end-to-end: the scene-cut kernel's per-frame signatures "
    "(REAL decode — fixed 32-byte frames, 8-bit block-intensity "
    "signatures, cross-multiplied threshold), shot ids as a running "
    "sum of Hamming>2 cut flags, and one keyframe per shot by max "
    "intensity (ties to the earliest frame) — the representative-"
    "frame pass that turns a 100 TB video corpus into a trainable "
    "image set (frame_sample subsamples blindly; this picks "
    "boundary-aware representatives). The oracle re-derives every "
    "byte from hex(payload), so the Arrow kernel AND the windows "
    "are hash-verified. Map-only decode; shot algebra is two "
    "per-doc windows + one (doc, shot) rollup, all linear.",
)
def multimodal_shot_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = MM.documents_as_binary(load_table(spark, sf_dir, "documents"))
    frames = MM.frame_signatures(docs)
    wseq = W.partitionBy("doc_id").orderBy("frame_idx")
    marked = frames.select(
        "doc_id",
        "frame_idx",
        "sig",
        "intensity",
        F.lag("sig").over(wseq).alias("prev_sig"),
    ).select(
        "doc_id",
        "frame_idx",
        "sig",
        "intensity",
        F.when(
            (F.col("frame_idx") > 0)
            & (
                F.bit_count(
                    F.col("sig").bitwiseXOR(F.col("prev_sig"))
                )
                > 2
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_cut"),
    )
    shots = marked.select(
        "doc_id",
        "frame_idx",
        "intensity",
        F.sum("is_cut")
        .over(wseq.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("shot_id"),
    )
    wshot = W.partitionBy("doc_id", "shot_id")
    return (
        shots.select(
            "doc_id",
            "shot_id",
            "frame_idx",
            "intensity",
            F.max("intensity").over(wshot).alias("mx"),
        )
        .groupBy("doc_id", "shot_id", "mx")
        .agg(
            F.min("frame_idx").cast("long").alias("shot_start"),
            F.count(F.lit(1)).cast("long").alias("shot_len"),
            F.expr(
                "CAST(min(CASE WHEN intensity = mx THEN frame_idx END)"
                " AS BIGINT)"
            ).alias("keyframe_idx"),
        )
        .select(
            "doc_id",
            "shot_id",
            "shot_start",
            "shot_len",
            "keyframe_idx",
            F.col("mx").alias("keyframe_intensity"),
        )
        .orderBy("doc_id", "shot_id")
    )
