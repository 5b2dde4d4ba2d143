"""Planted batch twins for queries that plans/queries_streaming_batch.py
registers: each runs the registered streaming query and recomputes its
answer with a plain-Python loop.

- streaming_stream_join_e2e: the 1h-lookback purchase<-click interval
  join recomputed as a nested loop over planted events (boundary rows:
  a click exactly at the purchase ts, a click 75 minutes before).
- streaming_neardup_arrival_e2e: the arrival-order LSH dedup rule
  recomputed by a full plain-Python MinHash pipeline (hashlib md5
  shingle values, the md5-seeded universal hash family from the
  published spec in operators/dedup.py docstrings, band signatures) —
  the third implementation alongside the Spark operator and the DuckDB
  CTE oracle. The planted corpus includes an exact copy (all 6 bands
  collide — must flag), a one-word variant, an unrelated document, and
  a sub-shingle-length document (no bands -> never flags).

Both tests run the REGISTERED query — a real Structured Streaming
availableNow execution with state — and compare against the loop.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import pyarrow as pa
import pyarrow.parquet as pq

from tests import planted
from tests.planted import EVENTS


# --- stream-stream interval join ----------------------------------------------------
def test_streaming_stream_join_e2e_batch_twin(spark, tmp_path):
    planted.write(tmp_path, "events", EVENTS)
    got = {
        (r["purchase_id"], r["click_id"]): r
        for r in planted.run(spark, "streaming_stream_join_e2e", tmp_path)
    }

    ts = {r[0]: dt.datetime.fromisoformat(r[1]) for r in EVENTS}
    purchases = [r for r in EVENTS if r[3] == "purchase"]
    clicks = [r for r in EVENTS if r[3] == "click"]
    expected = {}
    for p in purchases:
        for c in clicks:
            if c[2] != p[2]:
                continue
            if ts[p[0]] - dt.timedelta(hours=1) <= ts[c[0]] <= ts[p[0]]:
                expected[(p[0], c[0])] = (p[2], ts[p[0]], ts[c[0]])
    assert set(got) == set(expected)
    for key, (uid, pts, cts) in expected.items():
        r = got[key]
        assert r["user_id"] == uid
        assert r["purchase_ts"] == pts and r["click_ts"] == cts
    # planted boundaries: the click AT the purchase timestamp joins
    # (event 4 @ purchase 3), the click 75 minutes earlier does not
    assert (3, 4) in expected and (3, 1) not in expected


# --- arrival-order LSH near-dup: full third MinHash implementation -------------------
_P = 4294967311  # smallest prime > 2^32 (operators/dedup.py spec)


def _coeffs(n):
    out = []
    for i in range(n):
        d = hashlib.md5(f"minhash:{i}".encode()).hexdigest()
        out.append(((int(d[:8], 16) >> 1) | 1, int(d[8:16], 16)))
    return out


def _band_sigs(text, num_hashes=12, band_size=2, k=3):
    """(band, sig) pairs for one document, from the published spec."""
    toks = text.split(" ")
    if len(toks) < k:
        return []
    shingles = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    vs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
    hs = [min((a * v + b) % _P for v in vs) for a, b in _coeffs(num_hashes)]
    sigs = []
    for band in range(num_hashes // band_size):
        joined = "|".join(
            str(hs[band * band_size + j]) for j in range(band_size)
        )
        sigs.append((band, hashlib.md5(joined.encode()).hexdigest()))
    return sigs


def test_streaming_neardup_arrival_e2e_batch_twin(spark, tmp_path):
    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near variant
        (2, "the quick brown fox jumps over the lazy dog"),  # exact copy of 0
        (3, "entirely different words about streaming state machines here"),
        (4, "too short"),  # < 3 tokens -> no shingles -> never flagged
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
                "lang": pa.array(["en"] * len(docs), pa.string()),
                "source": pa.array(["s"] * len(docs), pa.string()),
                "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        r["doc_id"]: r["is_neardup"]
        for r in planted.run(spark, "streaming_neardup_arrival_e2e", tmp_path)
    }

    # arrival rule: flagged iff some band bucket's first occupant has a
    # smaller doc_id (chunks replay in doc_id order, so arrival == id order)
    first_in_bucket = {}
    for doc_id, text in docs:
        for key in _band_sigs(text):
            first_in_bucket.setdefault(key, doc_id)
    expected = {
        doc_id: any(
            first_in_bucket[key] < doc_id for key in _band_sigs(text)
        )
        for doc_id, text in docs
    }
    assert got == expected
    assert expected[2] is True  # exact copy: all 6 bands collide
    assert expected[0] is False and expected[4] is False
