"""Round-8 behavior tests, batch 4: iterative graph ops, substring/
CDC dedup, UDF surfaces, DTW, Haar, winnowing, Z-order layout, random
projection, and the multimodal decode kernels (COVERAGE.md inventory
class G).

Third implementations: sequential k-core peeling, Sakoe-Chiba-banded
DTW dynamic programming, the Haar pairwise cascade, Morton bit
interleaving, winnowing window-min selection, CDC cut-point chunking
and struct-unpacked int16 PCM energy — all plain Python/hashlib,
independent of both engines.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json as _json
import struct

from tests import planted


# --- connected components: both registered names, one planted answer -------------
def test_cc_flood_and_star_agree_on_planted_clusters(spark, tmp_path):
    docs = (
        [(i, "alpha beta gamma delta epsilon", "en", "s") for i in (3, 5, 9)]
        + [(i, "zeta eta theta iota kappa", "en", "s") for i in (2, 8)]
    )
    planted.write(tmp_path, "documents", docs)
    assign = {r["doc_id"]: r["cluster_id"]
              for r in planted.run(spark, "dedup_cluster_assign", tmp_path)}
    star = {r["doc_id"]: r["cluster_id"]
            for r in planted.run(spark, "dedup_cluster_assign_star", tmp_path)}
    expected = {3: 3, 5: 3, 9: 3, 2: 2, 8: 2}  # min doc_id per cluster
    assert assign == expected
    assert star == expected


# --- token-window exact dedup -----------------------------------------------------
def test_token_window_exact_planted_spans(spark, tmp_path):
    W = 8
    copied = " ".join(f"c{i}" for i in range(12))      # 12 tokens
    unique_a = " ".join(f"a{i}" for i in range(6))
    docs = [
        (1, copied, "en", "s"),                         # fully duplicated
        (2, copied, "en", "s"),                         # its copy
        (3, f"{unique_a} {copied}", "en", "s"),         # 6 unique + 12 copied
        (4, "totally fresh words never repeated anywhere at all", "en", "s"),
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in
            planted.run(spark, "dedup_token_window_exact", tmp_path)}

    def windows(tokens):
        return [tuple(tokens[i: i + W]) for i in range(max(len(tokens) - W + 1, 0))] or []

    all_wins: dict[tuple, int] = {}
    toks = {d: t.lower().split() for d, t, _, _ in docs}
    for d, ts in toks.items():
        for w in windows(ts):
            all_wins[w] = all_wins.get(w, 0) + 1
    for d, ts in toks.items():
        wins = windows(ts)
        dup_positions = set()
        n_dup_windows = 0
        for i, w in enumerate(wins):
            if all_wins[w] > 1:
                n_dup_windows += 1
                dup_positions.update(range(i, i + W))
        r = rows[d]
        assert r["n_tokens"] == len(ts), d
        assert r["n_windows"] == len(wins) if wins else r["n_windows"] == 0
        assert r["n_dup_windows"] == n_dup_windows, d
        assert r["n_dup_tokens"] == len(dup_positions), d
        frac = len(dup_positions) / max(len(ts), 1)
        assert abs(r["dup_token_frac"] - frac) < 1e-12
        assert r["keep"] == (frac < 0.5), d
    assert not rows[1]["keep"] and not rows[2]["keep"]   # full copies dropped
    assert rows[4]["keep"]                               # fresh doc kept
    assert not rows[3]["keep"]                           # 12/18 duplicated


# --- content-defined chunking -------------------------------------------------------
def test_cdc_chunks_cut_points_hashlib(spark, tmp_path):
    MOD = 8

    def chunks(tokens):
        out, cur = [], [tokens[0]]
        for prev, tok in zip(tokens, tokens[1:]):
            if int(planted.md5(f"{prev}|{tok}")[:8], 16) % MOD == 0:
                out.append(" ".join(cur))
                cur = [tok]
            else:
                cur.append(tok)
        out.append(" ".join(cur))
        return out

    textA = " ".join(f"w{i}" for i in range(40))
    textB = " ".join(f"u{i}" for i in range(25))
    docs = [
        (1, textA, "en", "srcA"),
        (2, textA, "en", "srcA"),   # exact copy: every chunk globally dup
        (3, textB, "en", "srcB"),   # unique
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["source"]: r for r in planted.run(spark, "dedup_cdc_chunks", tmp_path)}

    ca, cb = chunks(textA.split()), chunks(textB.split())
    a = rows["srcA"]
    assert a["n_chunks"] == 2 * len(ca)
    assert a["uniq_in_source"] == len(set(ca))
    assert a["global_dup_chunks"] == 2 * len(ca)        # every chunk df=2
    assert a["chars_total"] == 2 * sum(len(c) for c in ca)
    assert a["chars_in_dup_chunks"] == a["chars_total"]
    b = rows["srcB"]
    assert b["n_chunks"] == len(cb) and b["global_dup_chunks"] == 0
    assert b["chars_in_dup_chunks"] == 0


# --- k-core ---------------------------------------------------------------------------
def test_kcore_planted_complete_bipartite(spark, tmp_path):
    # K(10,10): every node has degree 10 -> survives the k=10 peel;
    # a pendant pair and a degree-9 customer are peeled away.
    edges = [(c, s) for c in range(1, 11) for s in range(1, 11)]
    edges += [(11, 11)]                       # pendant pair: degrees 1
    edges += [(12, s) for s in range(1, 10)]  # degree 9 -> peeled
    planted.purchase_graph(tmp_path, edges)
    out = {(r["node_type"], r["node_key"]): r["core_degree"]
           for r in planted.run(spark, "graph_kcore_membership", tmp_path)}

    # sequential peeling on the doubled-id encoding
    adj: dict[int, set] = {}
    for c, s in edges:
        u, v = c * 2, s * 2 + 1
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    alive = dict(adj)
    while True:
        drop = [n for n, nbrs in alive.items() if len(nbrs) < 10]
        if not drop:
            break
        for n in drop:
            for nb in alive[n]:
                alive[nb].discard(n)
            del alive[n]
    expected = {
        ("customer" if n % 2 == 0 else "supplier", n // 2): len(nbrs)
        for n, nbrs in alive.items()
    }
    assert out == expected
    assert len(out) == 20 and all(d == 10 for d in out.values())
    assert ("customer", 12) not in out and ("supplier", 11) not in out


# --- sessionized funnel -----------------------------------------------------------------
def test_sessionized_funnel_strict_order_within_session(spark, tmp_path):
    t0 = dt.datetime.fromisoformat("2024-05-01T00:00:00")
    h = lambda hours: (t0 + dt.timedelta(hours=hours)).isoformat()  # noqa: E731
    rows = [
        # user 1, session 1: full funnel in order
        (1, h(0), 1, "view", 1.0), (2, h(1), 1, "click", 1.0),
        (3, h(2), 1, "purchase", 1.0),
        # user 1, session 2 (>12h later): view then purchase WITHOUT click
        (4, h(20), 1, "view", 1.0), (5, h(21), 1, "purchase", 1.0),
        # user 2, one session: click before view -> stalls at view stage
        (6, h(0), 2, "click", 1.0), (7, h(1), 2, "view", 1.0),
        # user 3: session with no view at all
        (8, h(0), 3, "purchase", 1.0),
    ]
    planted.write(tmp_path, "events", rows)
    (r,) = planted.run(spark, "events_sessionized_funnel", tmp_path)
    # sessions: u1 x2, u2 x1, u3 x1 = 4
    assert r["n_sessions"] == 4
    assert r["n_reached_view"] == 3         # u1 s1, u1 s2, u2
    assert r["n_view_then_click"] == 1      # only u1 s1
    assert r["n_full_funnel"] == 1
    assert abs(r["view_to_purchase"] - 1 / 3) < 1e-12


# --- UDF surfaces ------------------------------------------------------------------------
def test_udaf_weighted_value_planted_weights(spark, tmp_path):
    rows = [
        (1, "2024-01-01T10:00:00", 1, "view", 2.00, _json.dumps({"k": 3})),
        (2, "2024-01-01T10:00:00", 2, "view", 10.00, _json.dumps({"k": 1})),
        (3, "2024-01-01T10:00:00", 3, "view", 99.00, "{}"),          # k=0
        (4, "2024-01-01T10:00:00", 4, "click", 5.00, _json.dumps({"k": 0})),
    ]
    planted.write(tmp_path, "events", rows)
    out = {r["event_type"]: r for r in planted.run(spark, "udaf_weighted_value", tmp_path)}
    v = out["view"]
    # weighted mean = (200*3 + 1000*1 + 9900*0) / (100 * 4) = 4.00
    assert abs(v["weighted_value"] - (200 * 3 + 1000) / (100.0 * 4)) < 1e-12
    assert v["total_weight"] == 4 and v["n"] == 3
    c = out["click"]
    assert c["total_weight"] == 0
    assert abs(c["weighted_value"] - 0.0) < 1e-12  # den clamped to 1


def test_udtf_token_positions_sample_and_positions(spark, tmp_path):
    docs = [
        (20, "a  b", "en", "s"),      # double space: empty token at pos 1
        (40, "hello world", "en", "s"),
        (7, "never sampled", "en", "s"),   # doc_id % 20 != 0
    ]
    planted.write(tmp_path, "documents", docs)
    out = planted.run(spark, "udtf_token_positions", tmp_path)
    rows = {(r["doc_id"], r["pos"]): r for r in out}
    assert set(r["doc_id"] for r in out) == {20, 40}
    assert rows[(20, 0)]["token"] == "a" and rows[(20, 2)]["token"] == "b"
    assert (20, 1) not in rows                      # empty token filtered
    assert rows[(40, 0)]["token"] == "hello"
    assert rows[(40, 1)]["token_len"] == len("world")


def test_grouped_pandas_robust_outliers_median_mad(spark, tmp_path):
    rows = []
    eid = 0
    for v in (1.0, 1.0, 1.0, 1.0, 100.0):   # user 1: MAD 0, one wild point
        rows.append((eid, "2024-01-01T10:00:00", 1, "view", v)); eid += 1
    for v in (1.0, 2.0, 3.0, 4.0):          # user 2: even-count interpolation
        rows.append((eid, "2024-01-01T10:00:00", 2, "view", v)); eid += 1
    planted.write(tmp_path, "events", rows)
    out = {r["user_id"]: r for r in
           planted.run(spark, "grouped_pandas_robust_outliers", tmp_path)}
    u1 = out[1]
    assert u1["median_value"] == 1.0 and u1["mad"] == 0.0
    assert u1["n_outliers"] == 1 and u1["n_values"] == 5
    u2 = out[2]
    assert u2["median_value"] == 2.5     # lo + (hi - lo) * 0.5
    assert u2["mad"] == 1.0              # adev [1.5,.5,.5,1.5] -> .5+(1.5-.5)/2
    assert u2["n_outliers"] == 0


# --- DTW -----------------------------------------------------------------------------------
def test_dtw_banded_dp_sequential(spark, tmp_path):
    # weekly revenue curves: type b = type a shifted by one week —
    # exactly the alignment DTW absorbs and lockstep metrics cannot
    a_weeks = [10, 50, 10, 0]     # dollars, weeks 0..3 (then zeros to 16)
    b_weeks = [0, 10, 50, 10]
    rows = []
    eid = 0
    for tname, series in (("a", a_weeks), ("b", b_weeks)):
        for w, dollars in enumerate(series):
            day = dt.date(2024, 1, 1) + dt.timedelta(weeks=w)
            rows.append((eid, f"{day.isoformat()}T10:00:00", 1, tname,
                         float(dollars)))
            eid += 1
    planted.write(tmp_path, "events", rows)
    (r,) = planted.run(spark, "timeseries_dtw_weekly_similarity", tmp_path)

    n, band = 16, 4
    big = float("inf")
    sa = [c * 100 for c in a_weeks] + [0] * (n - len(a_weeks))
    sb = [c * 100 for c in b_weeks] + [0] * (n - len(b_weeks))
    cost = {}
    for i in range(1, n + 1):
        for j in range(1, n + 1):
            if abs(i - j) > band:
                continue
            delta = abs(sa[i - 1] - sb[j - 1])
            if i == 1 and j == 1:
                cost[(i, j)] = delta
            else:
                prev = min(
                    cost.get((i - 1, j), big),
                    cost.get((i, j - 1), big),
                    cost.get((i - 1, j - 1), big),
                )
                cost[(i, j)] = delta + prev
    expected = cost[(n, n)]
    assert (r["type_a"], r["type_b"], r["rank"]) == ("a", "b", 1)
    assert r["n_weeks"] == n
    assert r["dtw_cost_cents"] == expected
    assert r["per_cell_cents"] == expected // (2 * n - 1)
    # the one-week shift aligns perfectly except the boundary cells
    assert expected < sum(abs(x - y) for x, y in zip(sa, sb))  # beats lockstep


# --- Haar energy ------------------------------------------------------------------------------
def test_haar_energy_pairwise_cascade(spark, tmp_path):
    daily = [3, 7, 1, 1, 10, 2, 5, 5]  # dollars over 8 consecutive days
    rows = [(i, f"2024-01-{i + 1:02d}T10:00:00", 1, "view", float(v))
            for i, v in enumerate(daily)]
    planted.write(tmp_path, "events", rows)
    out = {r["level"]: r for r in planted.run(spark, "events_haar_energy", tmp_path)}

    x = [v * 100 for v in daily]
    for level in (1, 2, 3):
        pairs = [(x[2 * i], x[2 * i + 1]) for i in range(len(x) // 2)]
        details = [b - a for a, b in pairs]
        r = out[level]
        assert r["n_pairs"] == len(pairs), level
        assert r["energy"] == sum(d * d for d in details), level
        x = [a + b for a, b in pairs]


# --- Z-order layout ----------------------------------------------------------------------------
def test_zorder_layout_morton_recomputation(spark, tmp_path):
    # 128 orders over a 2D grid of (custkey, day) values
    orders = []
    ok = 0
    base = dt.date(1992, 1, 1)
    for cx in range(16):
        for dy in range(8):
            ok += 1
            day = base + dt.timedelta(days=dy * 37)
            orders.append((ok, cx * 11, "F", 1.0,
                           f"{day.isoformat()}T00:00:00", "X"))
    planted.write(tmp_path, "orders", orders)
    rows = {r["bucket"]: r for r in planted.run(spark, "zorder_layout_stats", tmp_path)}

    def morton(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    pts = []
    for okey, cust, _, _, od, _ in orders:
        x = cust % 65536
        y = (dt.date.fromisoformat(od[:10]) - base).days % 65536
        pts.append((morton(x, y), okey, x, y))
    pts.sort()
    n = len(pts)
    expected: dict[int, list] = {}
    for rnk, (_, _, x, y) in enumerate(pts, start=1):
        b = (rnk - 1) * 64 // n
        expected.setdefault(b, []).append((x, y))
    assert set(rows) == set(expected)
    for b, cell in expected.items():
        r = rows[b]
        xs, ys = [p[0] for p in cell], [p[1] for p in cell]
        assert r["n_rows"] == len(cell), b
        assert (r["min_x"], r["max_x"]) == (min(xs), max(xs)), b
        assert (r["min_y"], r["max_y"]) == (min(ys), max(ys)), b
        assert r["span_x"] == max(xs) - min(xs)
        assert r["span_y"] == max(ys) - min(ys)


# --- winnowing ----------------------------------------------------------------------------------
def _winnow_fps_python(text: str) -> set:
    """Schleimer/Wilkerson/Aiken selection exactly as shipped: 3-gram
    md5[:10] keys + position-descending tiebreak, window 4."""
    toks = [t for t in text.split(" ") if t != ""]
    ng = max(len(toks) - 2, 0)
    keys = {}
    for gpos in range(1, ng + 1):
        g = " ".join(toks[gpos - 1: gpos + 2])
        keys[gpos] = planted.md5(g)[:10] + str(9999999 - gpos).zfill(7)
    fps = set()
    hi = max(1, ng - 3)
    for s in range(1, hi + 1):
        members = [keys[p] for p in range(s, s + 4) if p in keys]
        if members:
            fps.add(min(members)[:10])
    return fps


def test_winnowing_selection_and_guarantee(spark, tmp_path):
    shared = " ".join(f"s{i}" for i in range(12))   # 12-token shared run
    docs = [
        (1, f"one unique opening here {shared}", "en", "s"),
        (2, f"{shared} completely different tail words", "en", "s"),
        (3, "disjoint content with no overlap at all whatsoever", "en", "s"),
    ]
    planted.write(tmp_path, "documents", docs)
    out = planted.run(spark, "text_winnowing_fingerprints", tmp_path)
    fps = {d: _winnow_fps_python(t) for d, t, _, _ in docs}
    shared_12 = len(fps[1] & fps[2])
    # the winnowing guarantee: a >= 6-token shared run shares >= 1 fp;
    # 12 shared tokens give several
    assert shared_12 >= 2
    rows = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert set(rows) == {(1, 2)}    # doc 3 never pairs
    r = rows[(1, 2)]
    assert r["shared_fps"] == shared_12
    assert r["fp_a"] == len(fps[1]) and r["fp_b"] == len(fps[2])
    assert r["rank"] == 1


# --- random projection recall ----------------------------------------------------------------
def test_random_projection_recall_recomputed(spark, tmp_path):
    import math
    import struct as _s

    from dynamodb_stream_processor_2_0_spark.operators.similarity import (
        hyperplane_signs,
    )

    def f32(x):
        return _s.unpack("f", _s.pack("f", x))[0]

    # deterministic pseudo-random 64-dim vectors from md5 bytes
    def vec(seed):
        h = hashlib.md5(f"rpvec:{seed}".encode()).digest() * 4
        return [f32((h[i] - 127.5) / 128.0) for i in range(64)]

    vecs = [(i, vec(i), 0) for i in range(24)]
    planted.write(tmp_path, "embeddings", vecs)
    out = {r["query_id"]: r for r in
           planted.run(spark, "embedding_random_projection", tmp_path)}

    planes = hyperplane_signs(num_planes=16, dim=64)
    data = {vid: v for vid, v, _ in vecs}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    def project(v):
        return [sum(p * x for p, x in zip(plane, v)) for plane in planes]

    proj = {vid: project(v) for vid, v in data.items()}
    for q in range(8):
        exact = sorted(
            ((vid, cos(data[q], v)) for vid, v in data.items() if vid != q),
            key=lambda kv: (-kv[1], kv[0]),
        )[:5]
        rp = sorted(
            ((vid, cos(proj[q], pv)) for vid, pv in proj.items() if vid != q),
            key=lambda kv: (-kv[1], kv[0]),
        )[:5]
        hit = len({v for v, _ in exact} & {v for v, _ in rp})
        r = out[q]
        assert r["n_exact"] == 5
        assert r["n_hit_rp"] == hit, q
        assert abs(r["recall_rp"] - hit / 5) < 1e-12


# --- hydrated semantic search -------------------------------------------------------------------
def test_semantic_search_hydration_consistency(spark, tmp_path):
    import math

    def unit(seed):
        h = hashlib.md5(f"ssvec:{seed}".encode()).digest() * 4
        v = [(h[i] - 127.5) / 128.0 for i in range(64)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    vecs = [(i, unit(i), 0) for i in range(16)]
    planted.write(tmp_path, "embeddings", vecs)
    planted.write(tmp_path, "documents", [(i, f"document number {i} body", "en", f"src{i % 3}")
         for i in range(16)])
    out = planted.run(spark, "semantic_search_hydrated", tmp_path)
    assert out, "LSH probe returned nothing on the planted corpus"
    for r in out:
        # hydration joined the RIGHT document row
        assert r["source"] == f"src{r['doc_id'] % 3}"
        assert r["n_chars"] == len(f"document number {r['doc_id']} body")
        assert r["doc_id"] != r["query_id"]       # self excluded upstream
        assert 1 <= r["rank"] <= 5
    per_q: dict[int, list] = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


# --- multimodal decode kernels --------------------------------------------------------------------
def test_arrow_digest_hashlib(spark, tmp_path):
    docs = [
        (1, "plain ascii payload", "en", "s"),
        (2, "bytes with ünïcödé", "en", "s"),   # multibyte UTF-8
        (3, "", "en", "s"),                     # empty payload
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in planted.run(spark, "multimodal_arrow_digest", tmp_path)}
    for d, text, _, _ in docs:
        raw = text.encode("utf-8")
        assert rows[d]["n_bytes"] == len(raw), d
        assert rows[d]["payload_md5"] == hashlib.md5(raw).hexdigest(), d


def test_pcm_window_energy_struct_unpack(spark, tmp_path):
    # texts chosen to exercise: odd byte count (dropped), short trailing
    # window (kept), multibyte chars
    docs = [
        (1, "abcdefgh" * 5, "en", "s"),     # 40 bytes = 20 samples
        (2, "xyz", "en", "s"),              # 3 bytes -> 1 sample
        (3, "", "en", "s"),                 # empty
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in
            planted.run(spark, "multimodal_pcm_window_energy", tmp_path)}
    for d, text, _, _ in docs:
        raw = text.encode("utf-8")
        n = len(raw) // 2
        samples = struct.unpack(f"<{n}h", raw[: 2 * n]) if n else ()
        sq = [s * s for s in samples]
        n_win = -(-n // 16) if n else 0
        energies = [sum(sq[w * 16: (w + 1) * 16]) for w in range(n_win)]
        peak = max(range(n_win), key=lambda w: (energies[w], -w)) if n_win else -1
        r = rows[d]
        assert r["n_samples"] == n, d
        assert r["n_windows"] == n_win, d
        assert r["total_energy"] == sum(sq), d
        assert r["peak_window"] == peak, d
        assert r["peak_energy"] == (energies[peak] if n_win else 0), d


def test_corpus_shuffle_interleave_round_robin(spark, tmp_path):
    """Closes the last parity-only gap: the md5 shuffle key order
    within each source and the (round, source, doc_id) global
    interleave are recomputed with hashlib + plain sorts."""
    docs = [(i, f"text {i}", "en", f"src{i % 3}") for i in range(1, 16)]
    planted.write(tmp_path, "documents", docs)
    out = {r["doc_id"]: r for r in planted.run(spark, "corpus_shuffle_interleave", tmp_path)}

    by_source: dict[str, list] = {}
    for d, _, _, src in docs:
        by_source.setdefault(src, []).append(d)
    pos = {}
    for src, ids in by_source.items():
        for p, d in enumerate(
            sorted(ids, key=lambda d: planted.md5(f"shuffle:{d}")), start=1
        ):
            pos[d] = p
    global_order = sorted(pos, key=lambda d: (pos[d], out[d]["source"], d))
    for gp, d in enumerate(global_order, start=1):
        r = out[d]
        assert r["shuffle_key"] == planted.md5(f"shuffle:{d}"), d
        assert r["pos_in_source"] == pos[d], d
        assert r["global_pos"] == gp, d
    # round-robin property: the first |sources| global positions are
    # one doc from EACH source (every source's rank-1 pick)
    first = {out[d]["source"] for d in global_order[: len(by_source)]}
    assert first == set(by_source)


def test_personalized_pagerank_integer_grid_sequential(spark, tmp_path):
    """Sequential RWR on the exact 1e12 integer mass grid: truncating
    divisions at every step (r//od, 17*contrib//20, teleport//n_seeds),
    3 iterations, seeds = customer nodes 2..8 — recomputed in plain
    Python dicts and compared rank-for-rank."""
    edges = [(1, 1), (2, 1), (3, 2), (4, 2), (5, 3), (1, 2), (6, 3)]
    planted.purchase_graph(tmp_path, edges)
    out = {r["rank"]: r for r in
           planted.run(spark, "graph_personalized_pagerank", tmp_path)}

    SCALE = 10**12
    adj: dict[int, set] = {}
    for c, s in edges:
        u, v = c * 2, s * 2 + 1
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    seeds = [n for n in adj if n % 2 == 0 and n <= 8]
    ns = len(seeds)
    rank = {n: (SCALE // ns if n in seeds else 0) for n in adj}
    od = {n: len(nbrs) for n, nbrs in adj.items()}
    for _ in range(3):
        contrib: dict[int, int] = {}
        for src, nbrs in adj.items():
            share = rank[src] // od[src]
            for dst in nbrs:
                contrib[dst] = contrib.get(dst, 0) + share
        rank = {
            n: ((SCALE * 3 // 20) // ns if n in seeds else 0)
            + (17 * contrib.get(n, 0)) // 20
            for n in adj
        }
    ranked = sorted(((n, r) for n, r in rank.items() if r > 0),
                    key=lambda kv: (-kv[1], kv[0]))[:20]
    assert len(out) == len(ranked)
    for pos, (node, mass) in enumerate(ranked, start=1):
        r = out[pos]
        assert r["node_type"] == ("customer" if node % 2 == 0 else "supplier")
        assert r["node_key"] == node // 2, pos
        assert r["ppr_micro"] == mass, pos
        assert r["is_seed"] == (node % 2 == 0 and node <= 8)
    # recommendation property: some non-seed node carries positive mass
    assert any(not r["is_seed"] for r in out.values())
