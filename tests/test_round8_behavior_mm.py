"""Round-8 behavior tests, batch 5: remaining multimodal decode
stages, CDC/snapshot state machines, time-series similarity, walks,
contrastive sampling, and the corpus mixture planners (COVERAGE.md
inventory class G).

Third implementations: hashlib for every md5-derived quantity (fake
decoder metadata, walk argmins, negative sampling, cleaning gates),
struct-unpacked int16 PCM + gaps-and-islands VAD, exact-integer
Pearson from BIGINT moments, sequential changelog/snapshot
maintenance, and Hamilton largest-remainder apportionment.
"""

from __future__ import annotations

import hashlib
import math
import struct

from tests import planted


# --- multimodal decode stages ----------------------------------------------------
def test_image_decode_md5_seeded_metadata(spark, tmp_path):
    docs = [(1, "an image payload", "en", "s"), (2, "另一个 payload", "en", "s")]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in planted.run(spark, "multimodal_image_decode", tmp_path)}
    for d, text, _, _ in docs:
        raw = text.encode("utf-8")
        h = hashlib.md5(raw).digest()
        r = rows[d]
        assert r["n_bytes"] == len(raw), d
        assert r["width"] == 64 + h[0] % 192, d
        assert r["height"] == 64 + h[1] % 192, d
        assert r["channels"] == 3
        assert r["f0_byte"] == h[2] and r["f7_byte"] == h[9], d


def test_frame_sample_every_fourth_chunk(spark, tmp_path):
    text = "x" * 270  # 270 bytes -> ceil(270/32) = 9 chunks -> frames 0,4,8
    planted.write(tmp_path, "documents", [(1, text, "en", "s")])
    rows = {r["frame_idx"]: r["frame_hex"]
            for r in planted.run(spark, "multimodal_frame_sample", tmp_path)}
    raw = text.encode("utf-8")
    expected = {}
    n_chunks = -(-len(raw) // 32)
    for idx in range(0, n_chunks, 4):
        expected[idx] = raw[idx * 32: (idx + 1) * 32].hex().upper()
    assert rows == expected
    assert set(rows) == {0, 4, 8}
    assert len(rows[8]) == 2 * (270 - 8 * 32)  # trailing short frame kept


def test_resize_digest_cycled_payload(spark, tmp_path):
    docs = [(1, "tile me", "en", "s"), (2, "y" * 5000, "en", "s")]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in planted.run(spark, "multimodal_resize_digest", tmp_path)}
    for d, text, _, _ in docs:
        raw = text.encode("utf-8")
        resized = (raw * (4096 // len(raw) + 1))[:4096]
        r = rows[d]
        assert (r["width"], r["height"]) == (64, 64)
        assert r["n_resized_bytes"] == 4096
        assert r["resized_md5"] == hashlib.md5(
            resized.hex().upper().encode()
        ).hexdigest(), d


def test_audio_vad_segments_islands(spark, tmp_path):
    # craft a payload whose 16-sample windows have a known loud/quiet
    # pattern: quiet windows of small bytes, loud windows of 'z' runs
    quiet = "\x01" * 32   # 16 samples of tiny amplitude
    loud = "zz" * 16      # 16 samples of large amplitude
    text = quiet + loud + loud + quiet + loud  # pattern: Q L L Q L
    planted.write(tmp_path, "documents", [(1, text, "en", "s")])
    (r,) = planted.run(spark, "multimodal_audio_vad_segments", tmp_path)

    raw = text.encode("utf-8")
    n = len(raw) // 2
    samples = struct.unpack(f"<{n}h", raw[: 2 * n])
    sq = [s * s for s in samples]
    n_win = -(-n // 16)
    energies = [sum(sq[w * 16: (w + 1) * 16]) for w in range(n_win)]
    total = sum(energies)
    active = [w for w in range(n_win) if energies[w] * n_win > total]
    segs = []
    for w in active:
        if segs and segs[-1][1] == w - 1:
            segs[-1][1] = w
        else:
            segs.append([w, w])
    assert r["n_windows"] == n_win
    assert r["n_active"] == len(active)
    assert r["n_segments"] == len(segs) == 2          # LL and L islands
    assert r["longest_segment"] == max(b - a + 1 for a, b in segs)
    assert r["first_active"] == active[0]


# --- snapshot / changelog state ----------------------------------------------------
def test_snapshot_diff_latest_wins_versions(spark, tmp_path):
    rows = [
        # user 1: latest at version A is event 1; version B adds event 2
        (1, "2024-01-01T00:00:00", 1, "view", 1.00),
        (2, "2024-01-10T00:00:00", 1, "purchase", 5.00),  # after cutoff
        # user 2: unchanged (only old events)
        (3, "2024-01-02T00:00:00", 2, "view", 2.00),
        # user 3: appears only after the cutoff -> added
        (4, "2024-01-10T00:00:00", 3, "view", 8.00),
        # user 4 pins max(ts): cutoff = 2024-01-10 - 2d = 2024-01-08
        (5, "2024-01-10T00:00:00", 4, "view", 0.50),
        (6, "2024-01-01T00:00:00", 4, "view", 0.25),
    ]
    planted.write(tmp_path, "events", rows)
    out = {r["user_id"]: r for r in planted.run(spark, "snapshot_diff_audit", tmp_path)}
    assert out[1]["status"] == "changed"
    assert (out[1]["a_event_id"], out[1]["b_event_id"]) == (1, 2)
    assert out[1]["cents_delta"] == 500 - 100
    assert out[2]["status"] == "unchanged" and out[2]["cents_delta"] == 0
    assert out[3]["status"] == "added"
    assert out[3]["a_event_id"] is None and out[3]["cents_delta"] == 800
    assert out[4]["status"] == "changed"    # latest flips 6 -> 5


def test_cdc_retraction_changelog_equals_snapshot(spark, tmp_path):
    # user state machine: each event moves the user to grp=event_type
    # with a new value; the changelog must equal the latest-row snapshot
    rows = [
        (1, "2024-01-01T00:00:00", 1, "pending", 1.00),
        (2, "2024-01-02T00:00:00", 1, "active", 2.00),
        (3, "2024-01-03T00:00:00", 1, "done", 3.00),
        (4, "2024-01-01T00:00:00", 2, "pending", 5.00),
        (5, "2024-01-02T00:00:00", 2, "active", 7.00),
        (6, "2024-01-01T00:00:00", 3, "active", 9.00),
    ]
    planted.write(tmp_path, "events", rows)
    out = {r["current_state"]: r for r in
           planted.run(spark, "cdc_retraction_aggregate", tmp_path)}
    # sequential state maintenance
    state: dict[int, tuple] = {}
    for _, _, u, grp, v in rows:
        state[u] = (grp, round(v * 100))
    expect: dict[str, list] = {}
    for grp, cents in state.values():
        e = expect.setdefault(grp, [0, 0])
        e[0] += 1
        e[1] += cents
    # only groups holding at least one CURRENT user appear (inner join)
    assert set(out) == set(expect)
    for grp, (n, cents) in expect.items():
        r = out[grp]
        assert r["n_users_changelog"] == n == r["n_users_snapshot"], grp
        assert r["sum_cents_changelog"] == cents == r["sum_cents_snapshot"]
        assert r["consistent"]


# --- exact-integer Pearson similarity ------------------------------------------------
def test_timeseries_similarity_exact_pearson(spark, tmp_path):
    # query user 1; user 10 perfectly correlated on shared days, user 11
    # anti-correlated, user 12 shares too few days (< 3) -> excluded
    day = lambda d: f"2024-01-{d:02d}T10:00:00"  # noqa: E731
    series = {
        1: {1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0},
        10: {1: 2.0, 2: 4.0, 3: 6.0, 4: 8.0},    # corr +1
        11: {1: 4.0, 2: 3.0, 3: 2.0, 4: 1.0},    # corr -1
        12: {1: 9.0, 2: 9.5},                    # only 2 shared days
    }
    rows = []
    eid = 0
    for u, sv in series.items():
        for d, v in sv.items():
            rows.append((eid, day(d), u, "view", v))
            eid += 1
    planted.write(tmp_path, "events", rows)
    out = [r for r in planted.run(spark, "timeseries_similarity_topk", tmp_path)
           if r["query_id"] == 1]
    out.sort(key=lambda r: r["rank"])
    assert [r["user_id"] for r in out] == [10, 11]
    assert abs(out[0]["corr"] - 1.0) < 1e-12
    assert abs(out[1]["corr"] + 1.0) < 1e-12
    assert out[0]["n_days"] == 4
    assert all(r["user_id"] != 12 for r in out)


# --- deterministic walks ----------------------------------------------------------------
def test_deterministic_walks_argmin_md5(spark, tmp_path):
    # small purchase graph; walkers start at customers 1..50 that exist
    edges = [(1, 1), (1, 2), (2, 1), (2, 3), (3, 2), (3, 3)]
    planted.purchase_graph(tmp_path, edges)
    out = {(r["end_type"], r["end_key"]): r["n_walkers"]
           for r in planted.run(spark, "graph_deterministic_walks", tmp_path)}

    adj: dict[int, list] = {}
    for c, s in edges:
        u, v = c * 2, s * 2 + 1
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    walkers = {n: n for n in adj if n % 2 == 0 and 1 <= n // 2 <= 50}
    for step in (1, 2, 3):
        for w in walkers:
            node = walkers[w]
            walkers[w] = min(
                sorted(set(adj[node])),
                key=lambda dst: (planted.md5(f"{node}|{step}|{dst}"), dst),
            )
    census: dict[tuple, int] = {}
    for node in walkers.values():
        key = ("customer" if node % 2 == 0 else "supplier", node // 2)
        census[key] = census.get(key, 0) + 1
    assert out == census
    assert sum(out.values()) == 3   # three walkers survive three steps


# --- contrastive sampling ------------------------------------------------------------------
def test_contrastive_pairs_planted_positives_and_negs(spark, tmp_path):
    # dense 0..5 doc-id space (negative sampling indexes it directly);
    # docs 0 and 1 identical -> the only positive pair
    docs = [
        (0, "alpha beta gamma delta epsilon", "en", "s"),
        (1, "alpha beta gamma delta epsilon", "en", "s"),
        (2, "one totally different body", "en", "s"),
        (3, "another separate document here", "en", "s"),
        (4, "fourth unrelated text content", "en", "s"),
        (5, "fifth standalone body of words", "en", "s"),
    ]
    planted.write(tmp_path, "documents", docs)
    out = planted.run(spark, "contrastive_pair_sample", tmp_path)
    pos = [(r["anchor_id"], r["other_id"]) for r in out if r["label"] == "pos"]
    assert pos == [(0, 1)]
    negs = {(r["anchor_id"], r["trial"]): r["other_id"]
            for r in out if r["label"] == "neg"}
    n = len(docs)
    for d in range(n):
        for trial in range(3):
            neg_id = int(planted.md5(f"neg:{d}:{trial}")[:8], 16) % n
            if neg_id == d or {d, neg_id} == {0, 1}:
                assert (d, trial) not in negs
            else:
                assert negs[(d, trial)] == neg_id, (d, trial)


# --- corpus mixture planners ------------------------------------------------------------------
def test_mixture_rebalance_rates(spark, tmp_path):
    # plant enough docs that the md5 'clean' gate keeps a known subset
    docs = []
    for i in range(60):
        docs.append((i, f"body {i}", "en", "big" if i < 45 else "small"))
    planted.write(tmp_path, "documents", docs)
    out = {r["source"]: r for r in
           planted.run(spark, "corpus_mixture_rebalance_plan", tmp_path)}

    kept = {}
    for i, _, _, src in docs:
        if int(planted.md5(f"clean:{i}")[:4], 16) % 10 != 0:
            kept[src] = kept.get(src, 0) + 1
    total, nsrc = sum(kept.values()), len(kept)
    for src, k in kept.items():
        r = out[src]
        assert r["n_kept"] == k, src
        assert r["share_micro"] == k * 1_000_000 // total
        assert r["target_micro"] == 1_000_000 // nsrc
        assert r["admit_rate_micro"] == min(
            1_000_000, (total // nsrc) * 1_000_000 // k
        )
    # the over-represented source is down-sampled; the small one admits all
    assert out["big"]["admit_rate_micro"] < 1_000_000
    assert out["small"]["admit_rate_micro"] == 1_000_000


def test_temperature_mixture_hamilton_apportionment(spark, tmp_path):
    sizes = {"a": (5, 40), "b": (3, 10), "c": (2, 90)}  # (docs, tokens/doc)
    docs = []
    i = 0
    for src, (nd, tok) in sizes.items():
        for _ in range(nd):
            docs.append((i, " ".join(["t"] * tok), "en", src))
            i += 1
    planted.write(tmp_path, "documents", docs)
    out = {r["source"]: r for r in
           planted.run(spark, "corpus_temperature_mixture_plan", tmp_path)}

    tokens = {src: nd * tok for src, (nd, tok) in sizes.items()}
    w = {src: math.floor(math.sqrt(t)) for src, t in tokens.items()}
    wsum, tsum, target = sum(w.values()), sum(tokens.values()), 1000
    base = {s: target * w[s] // wsum for s in w}
    rem = {s: target * w[s] % wsum for s in w}
    k = target - sum(base.values())
    order = sorted(w, key=lambda s: (-rem[s], s))
    alloc = {s: base[s] + (1 if order.index(s) < k else 0) for s in w}
    assert sum(alloc.values()) == target   # Hamilton sums exactly to N
    for src in sizes:
        r = out[src]
        assert r["tokens"] == tokens[src]
        assert r["share_before_milli"] == tokens[src] * 1000 // tsum
        assert r["alloc_docs"] == alloc[src], src
        assert r["share_after_milli"] == alloc[src] * 1000 // target
    # tempering property: the dominant-token source's share shrinks,
    # the smallest grows
    dominant = max(tokens, key=lambda s: tokens[s])
    smallest = min(tokens, key=lambda s: tokens[s])
    assert (out[dominant]["share_after_milli"]
            < out[dominant]["share_before_milli"])
    assert (out[smallest]["share_after_milli"]
            > out[smallest]["share_before_milli"])
