"""Round-8 behavior tests, batch 2: planted-fixture tests for the
text / dedup / similarity / temporal-window families that previously
had only twin-formula oracle parity (COVERAGE.md inventory class G).

Same device as batch 1 (tests/test_round8_behavior.py): tiny parquet
tables with production schemas in a tmp sf_dir drive the exact shipped
plan; expected answers are recomputed in sequential Python — hashlib
for the md5-derived orders/buckets, plain loops for windows and
funnels — a third implementation independent of both the Spark plan
and the DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import json as _json
import re

from tests import planted


# --- text statistics -----------------------------------------------------------
def test_token_stats_hand_counts(spark, tmp_path):
    planted.write(tmp_path, "documents", [
            (1, "the cat sat", "en", "s"),
            (2, "a1 b2, c-d", "en", "s"),
        ])
    rows = {r["doc_id"]: r for r in planted.run(spark, "text_token_stats", tmp_path)}
    # doc 1: 3 whitespace tokens, words [the, cat, sat]
    assert rows[1]["n_tokens"] == 3 and rows[1]["n_words"] == 3
    assert rows[1]["n_chars_measured"] == len("the cat sat")
    assert abs(rows[1]["chars_per_token"] - len("the cat sat") / 3) < 1e-12
    # doc 2: tokens [a1, b2,, c-d]; [a-z]+ runs: a, b, c, d
    assert rows[2]["n_tokens"] == 3 and rows[2]["n_words"] == 4


def test_langid_precedence_and_signals(spark, tmp_path):
    docs = [
        (1, "the a of cat", "en", "s"),       # en stopwords -> en
        (2, "el la de los que", "es", "s"),   # es wins (la also fr)
        (3, "der die das und ist", "de", "s"),
        (4, "le les et des mot", "fr", "s"),  # only fr stopwords
        (5, "café non ascii", "zh", "s"),  # non-ascii -> zh
        (6, "xyz qqq zzz", "en", "s"),        # no signal -> unknown
        (7, "the el", "en", "s"),             # tie en=1 es=1 -> en (precedence)
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in planted.run(spark, "text_langid_heuristic", tmp_path)}
    expect = {1: "en", 2: "es", 3: "de", 4: "fr", 5: "zh", 6: "unknown", 7: "en"}
    got = {d: rows[d]["predicted_lang"] for d in expect}
    assert got == expect

    # confusion matrix over the same fixture, recomputed by hand
    conf = {(r["actual_lang"], r["predicted_lang"]): r
            for r in planted.run(spark, "text_langid_confusion_matrix", tmp_path)}
    # actual 'en' docs: 1->en, 6->unknown, 7->en  => n_actual=3
    assert conf[("en", "en")]["n_docs"] == 2
    assert conf[("en", "unknown")]["n_docs"] == 1
    assert conf[("en", "en")]["n_actual"] == 3
    assert abs(conf[("en", "en")]["row_frac"] - 2 / 3) < 1e-12
    for actual in ("es", "de", "fr", "zh"):
        assert conf[(actual, actual)]["n_docs"] == 1
        assert conf[(actual, actual)]["row_frac"] == 1.0


def test_quality_score_formula(spark, tmp_path):
    text = "the cat of the hat. great!"
    planted.write(tmp_path, "documents", [(1, text, "en", "s")])
    (r,) = planted.run(spark, "text_quality_score", tmp_path)
    toks = text.split(" ")
    n_tokens = len(toks)
    n_stop = sum(1 for t in toks if t in ("the", "a", "of", "and", "to"))
    n_punct = sum(1 for ch in text if ch in ".,!?;:")
    n_chars = len(text)
    assert (r["n_tokens"], r["n_stop"], r["n_punct"]) == (n_tokens, n_stop, n_punct)
    expected = (
        (n_stop / n_tokens) * 0.5
        + (n_chars / (n_chars + 100.0)) * 0.4
        + (n_punct / n_tokens) * 0.1
    )
    assert abs(r["quality_score"] - expected) < 1e-12


def test_length_histogram_buckets_and_tail_cap(spark, tmp_path):
    docs = [
        (1, " ".join(["w"] * 10), "en", "s"),    # bucket 0
        (2, " ".join(["w"] * 49), "en", "s"),    # bucket 0 (49 // 50 = 0)
        (3, " ".join(["w"] * 50), "en", "s"),    # bucket 1
        (4, " ".join(["w"] * 700), "en", "s"),   # 14 -> capped at 9
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {(r["lang"], r["bucket"]): r
            for r in planted.run(spark, "text_length_histogram", tmp_path)}
    assert rows[("en", 0)]["n_docs"] == 2
    assert rows[("en", 0)]["total_tokens"] == 59
    assert rows[("en", 0)]["bucket_lo"] == 0
    assert rows[("en", 1)]["n_docs"] == 1 and rows[("en", 1)]["bucket_lo"] == 50
    assert rows[("en", 9)]["n_docs"] == 1 and rows[("en", 9)]["bucket_lo"] == 450
    assert rows[("en", 9)]["total_tokens"] == 700


def test_ngram_topk_counts_and_tiebreak(spark, tmp_path):
    # "x y z" 3 times (as 3 docs), "a b c" twice, "b c d" twice (from one
    # doc "a b c d" counted per occurrence + "b c d x"), rank ties broken
    # by gram ascending
    docs = [
        (1, "x y z", "en", "s"),
        (2, "x y z", "en", "s"),
        (3, "x y z", "en", "s"),
        (4, "a b c d", "en", "s"),   # grams: a b c, b c d
        (5, "a b c", "en", "s"),     # gram:  a b c
        (6, "b c d", "en", "s"),     # gram:  b c d
    ]
    planted.write(tmp_path, "documents", docs)
    rows = sorted(planted.run(spark, "text_ngram_topk", tmp_path),
                  key=lambda r: (-r["n"], r["gram"]))
    got = [(r["gram"], r["n"]) for r in rows]
    assert got == [("x y z", 3), ("a b c", 2), ("b c d", 2)]


def test_token_packing_running_offset(spark, tmp_path):
    # doc_id order within source; token counts chosen to span the 2048
    # boundary: cum_before = 0, 1000, 2000, 2100, 4148
    sizes = {1: 1000, 2: 1000, 3: 100, 4: 2048, 5: 1}
    docs = [(d, " ".join(["t"] * n), "en", "srcA") for d, n in sizes.items()]
    docs.append((9, " ".join(["t"] * 5000), "en", "srcB"))  # own partition
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in planted.run(spark, "text_token_packing", tmp_path)}
    cum = 0
    for d in sorted(sizes):
        assert rows[d]["pack_id"] == cum // 2048, d
        cum += sizes[d]
    assert rows[9]["pack_id"] == 0  # fresh offset per source


def test_benchmark_contamination_fractions(spark, tmp_path):
    docs = [
        (1, "w1 w2 w3 w4", "en", "src0"),       # benchmark
        (2, "w1 w2 w3 w4", "en", "src2"),       # fully contaminated: 2/2
        (3, "w1 w2 w3 zz", "en", "src2"),       # half: {w1 w2 w3} hits
        (4, "q1 q2 q3 q4", "en", "src2"),       # clean: 0/2
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in
            planted.run(spark, "text_benchmark_contamination", tmp_path)}
    assert set(rows) == {2, 3, 4}  # benchmark docs never scored
    assert (rows[2]["n_shingles"], rows[2]["n_contaminated"]) == (2, 2)
    assert rows[2]["contamination"] == 1.0
    assert (rows[3]["n_shingles"], rows[3]["n_contaminated"]) == (2, 1)
    assert rows[3]["contamination"] == 0.5
    assert (rows[4]["n_shingles"], rows[4]["n_contaminated"]) == (2, 0)


def test_line_dedup_clean_boilerplate_removal(spark, tmp_path):
    # "lines" are consecutive 3-token groups; the boilerplate line B is
    # shared by 3 docs (> 2 -> removed); line S by exactly 2 (kept)
    B = "cookie notice here"
    S = "shared pair line"
    docs = [
        (1, f"{B} u1 u1 u1", "en", "s"),
        (2, f"{B} {S} u2 u2 u2", "en", "s"),
        (3, f"{B}", "en", "s"),          # all lines removed
        (4, f"{S} u4 u4 u4", "en", "s"),
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in planted.run(spark, "text_line_dedup_clean", tmp_path)}
    assert (rows[1]["n_lines"], rows[1]["n_kept"], rows[1]["n_removed"]) == (2, 1, 1)
    assert rows[1]["clean_md5"] == planted.md5("u1 u1 u1")
    assert (rows[2]["n_lines"], rows[2]["n_kept"]) == (3, 2)
    assert rows[2]["clean_md5"] == planted.md5(f"{S} u2 u2 u2")
    assert (rows[3]["n_lines"], rows[3]["n_kept"]) == (1, 0)
    assert rows[3]["clean_md5"] == planted.md5("")
    assert rows[4]["n_kept"] == 2


def test_shard_manifest_sequential_recomputation(spark, tmp_path):
    sizes = {d: 500 + 100 * d for d in range(1, 9)}  # 600..1300 tokens
    docs = [(d, " ".join(["tok"] * n), "en", "s") for d, n in sizes.items()]
    planted.write(tmp_path, "documents", docs)
    rows = {r["shard_id"]: r for r in planted.run(spark, "corpus_shard_manifest", tmp_path)}

    order = sorted(sizes, key=lambda d: (planted.md5(f"shard:{d}"), d))
    cum = 0
    shards: dict[int, list] = {}
    for d in order:
        start = cum
        cum += sizes[d]
        sid = start // 2000
        s = shards.setdefault(sid, [0, 0, start, cum])
        s[0] += 1
        s[1] += sizes[d]
        s[2] = min(s[2], start)
        s[3] = max(s[3], cum)
    assert set(rows) == set(shards)
    for sid, (n_docs, n_tokens, start, end) in shards.items():
        r = rows[sid]
        assert (r["n_docs"], r["n_tokens"]) == (n_docs, n_tokens), sid
        assert (r["start_offset"], r["end_offset"]) == (start, end), sid


def test_quota_per_source_hash_order(spark, tmp_path):
    docs = [(d, f"text {d}", "en", "big") for d in range(1, 51)]
    docs += [(100 + d, f"text {100 + d}", "en", "small") for d in range(10)]
    planted.write(tmp_path, "documents", docs)
    out = planted.run(spark, "sample_quota_per_source", tmp_path)
    by_source: dict[str, list] = {}
    for r in out:
        by_source.setdefault(r["source"], []).append(r)
    big = sorted(by_source["big"], key=lambda r: r["pick_order"])
    assert len(big) == 40  # quota cap
    expected = sorted(range(1, 51), key=lambda d: (planted.md5(f"quota:{d}"), d))[:40]
    assert [r["doc_id"] for r in big] == expected
    assert [r["pick_order"] for r in big] == list(range(1, 41))
    assert len(by_source["small"]) == 10  # below quota: all picked


def test_stratified_sample_hash_threshold(spark, tmp_path):
    docs = [(d, f"text {d}", "en", "s") for d in range(1, 301)]
    planted.write(tmp_path, "documents", docs)
    out = {r["doc_id"] for r in planted.run(spark, "sample_stratified_documents", tmp_path)}
    expected = {
        d for d in range(1, 301)
        if int(planted.md5(f"sample:{d}")[:8], 16) % 100 < 10
    }
    assert out == expected and 0 < len(out) < 300


def test_doc_fingerprint_hashlib_recomputation(spark, tmp_path):
    docs = [
        (1, "  Hello   World  ", "en", "s"),
        (2, "hello world", "en", "s"),   # same normalized content
        (3, "different", "en", "s"),
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in planted.run(spark, "doc_fingerprint", tmp_path)}
    for d, text, _, _ in docs:
        fp = planted.md5(re.sub(r"\s+", " ", text.strip()).lower())
        assert rows[d]["fp"] == fp, d
        assert rows[d]["fp_bucket"] == int(fp[:8], 16)
    assert rows[1]["fp"] == rows[2]["fp"]  # normalization collapses


def test_multimodal_binary_meta_fields(spark, tmp_path):
    docs = [
        (1, "x" * 255, "en", "png_source"),
        (2, "y" * 256, "en", "mp4"),
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in planted.run(spark, "multimodal_binary_meta", tmp_path)}
    assert rows[1]["n_bytes"] == 255 and rows[1]["size_class"] == "small"
    assert rows[2]["n_bytes"] == 256 and rows[2]["size_class"] == "large"
    assert rows[1]["magic_hex"] == "png_"[:4].encode().hex()
    assert rows[2]["magic_hex"] == "mp4".encode().hex()  # shorter source


# --- dedup / graph --------------------------------------------------------------
def test_exact_dedup_planted_copies(spark, tmp_path):
    docs = [
        (5, "same text", "en", "s"),
        (3, "same text", "en", "s"),
        (9, "same text", "en", "s"),
        (7, "unique", "en", "s"),
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["keep_id"]: r["n_copies"]
            for r in planted.run(spark, "dedup_exact_documents", tmp_path)}
    assert rows == {3: 3, 7: 1}


def test_ngram_jaccard_hand_overlap(spark, tmp_path):
    # only doc_id % 10 == 0 enters the sample
    docs = [
        (10, "a b c d", "en", "s"),   # shingles {a b c, b c d}
        (20, "a b c x", "en", "s"),   # shingles {a b c, b c x}
        (30, "p q r s", "en", "s"),   # disjoint
        (11, "a b c d", "en", "s"),   # excluded by the sample predicate
    ]
    planted.write(tmp_path, "documents", docs)
    out = planted.run(spark, "dedup_ngram_jaccard", tmp_path)
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"], r["n_inter"]) == (10, 20, 1)
    assert abs(r["jaccard"] - 1 / 3) < 1e-12


def test_cluster_size_report_planted_clusters(spark, tmp_path):
    # identical texts share every minhash signature -> guaranteed LSH
    # candidate pairs -> one CC per text; singletons never clustered
    docs = (
        [(i, "alpha beta gamma delta epsilon", "en", "s") for i in (1, 2, 3)]
        + [(i, "zeta eta theta iota kappa", "en", "s") for i in (4, 5)]
        + [(6, "lonely unique document text here", "en", "s")]
    )
    planted.write(tmp_path, "documents", docs)
    rows = {r["cluster_size"]: r
            for r in planted.run(spark, "dedup_cluster_size_report", tmp_path)}
    assert rows[3]["n_clusters"] == 1 and rows[3]["n_docs"] == 3
    assert rows[3]["n_removable"] == 2
    assert rows[2]["n_clusters"] == 1 and rows[2]["n_removable"] == 1
    assert 1 not in rows  # unclustered docs don't report


def test_triangle_enumerate_planted_clique(spark, tmp_path):
    docs = (
        [(i, "alpha beta gamma delta epsilon", "en", "s") for i in (1, 2, 3)]
        + [(i, "zeta eta theta iota kappa", "en", "s") for i in (8, 9)]  # edge, no triangle
    )
    planted.write(tmp_path, "documents", docs)
    out = planted.run(spark, "graph_triangle_enumerate", tmp_path)
    assert [(r["doc_x"], r["doc_y"], r["doc_z"]) for r in out] == [(1, 2, 3)]


def test_count_min_overestimate_axiom(spark, tmp_path):
    # heavy hitter user 1 (x50) among 20 singleton users: CM never
    # underestimates, and the heavy hitter is estimated exactly at the
    # top (no count in any of its cells can exceed total)
    rows = []
    eid = 0
    for _ in range(50):
        rows.append((eid, "2024-01-01T10:00:00", 1, "view", 1.0))
        eid += 1
    for u in range(2, 22):
        rows.append((eid, "2024-01-01T11:00:00", u, "view", 1.0))
        eid += 1
    planted.write(tmp_path, "events", rows)
    out = {r["user_id"]: r for r in planted.run(spark, "sketch_count_min", tmp_path)}
    true = {"1": 50, **{str(u): 1 for u in range(2, 22)}}
    assert {u: r["true_count"] for u, r in out.items()} == true
    for u, r in out.items():
        assert r["cms_estimate"] >= r["true_count"], u
        assert r["cms_estimate"] <= 70  # never exceeds the stream length
    assert out["1"]["cms_estimate"] >= 50


# --- similarity ------------------------------------------------------------------
def test_cosine_topk_planted_geometry(spark, tmp_path):
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),   # query
        (10, [2.0, 0.0, 0.0, 0.0], 0),  # parallel -> cosine 1
        (11, [1.0, 1.0, 0.0, 0.0], 0),  # 45 deg -> 0.7071
        (12, [0.0, 1.0, 0.0, 0.0], 0),  # orthogonal -> 0
        (13, [-1.0, 0.0, 0.0, 0.0], 0),  # opposite -> -1
    ]
    planted.write(tmp_path, "embeddings", vecs)
    out = [r for r in planted.run(spark, "embedding_cosine_topk", tmp_path)
           if r["query_id"] == 1]
    out.sort(key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in out] == [10, 11, 12, 13]
    assert out[0]["cosine"] == 1.0
    assert abs(out[1]["cosine"] - 2 ** -0.5) < 1e-12
    assert out[2]["cosine"] == 0.0 and out[3]["cosine"] == -1.0


def test_label_centroids_hand_means(spark, tmp_path):
    vecs = [
        (1, [1.0, 3.0], 0),
        (2, [3.0, 5.0], 0),
        (3, [10.0, 20.0], 1),
    ]
    planted.write(tmp_path, "embeddings", vecs)
    rows = {(r["label"], r["dim"]): r
            for r in planted.run(spark, "embedding_label_centroids", tmp_path)}
    assert rows[(0, 1)]["centroid_v"] == 2.0   # dims are 1-indexed
    assert rows[(0, 2)]["centroid_v"] == 4.0
    assert rows[(1, 1)]["centroid_v"] == 10.0
    assert rows[(0, 1)]["n_vectors"] == 2 and rows[(1, 2)]["n_vectors"] == 1


def test_vector_hygiene_audit(spark, tmp_path):
    vecs = [
        (1, [3.0, 4.0], 0),        # norm 5
        (2, [0.0, 0.0], 0),        # zero vector
        (3, [1.0, 0.0], 1),
        (4, [1.0, 0.0, 0.0], 1),   # ragged: 3 dims in a 2-dim label
    ]
    planted.write(tmp_path, "embeddings", vecs)
    rows = {r["label"]: r for r in planted.run(spark, "embedding_vector_hygiene", tmp_path)}
    assert rows[0]["n_vectors"] == 2
    assert (rows[0]["min_dims"], rows[0]["max_dims"]) == (2, 2)
    assert rows[0]["mean_norm"] == 2.5
    assert rows[0]["n_zero"] == 1 and rows[0]["n_nonfinite"] == 0
    assert (rows[1]["min_dims"], rows[1]["max_dims"]) == (2, 3)  # ragged caught


def test_covariance_stats_perfect_correlation(spark, tmp_path):
    xs = [0.01, 0.02, 0.04]
    vecs = [(i, [x, 2 * x], 0) for i, x in enumerate(xs, start=1)]
    planted.write(tmp_path, "embeddings", vecs)
    rows = {(r["dim_i"], r["dim_j"]): r
            for r in planted.run(spark, "embedding_covariance_stats", tmp_path)}
    Q = 100000000.0
    n = len(xs)

    def q(vals):
        return sum(round(v * Q) for v in vals)

    def e(qsum):
        return qsum / Q / n

    ys = [2 * x for x in xs]
    var_x = e(q([x * x for x in xs])) - e(q(xs)) ** 2
    cov_xy = e(q([x * y for x, y in zip(xs, ys)])) - e(q(xs)) * e(q(ys))
    assert abs(rows[(1, 1)]["cov"] - var_x) < 1e-12
    assert abs(rows[(1, 2)]["cov"] - cov_xy) < 1e-12
    assert abs(rows[(1, 2)]["corr"] - 1.0) < 1e-9   # y = 2x exactly
    assert abs(rows[(2, 2)]["cov"] - 4 * var_x) < 1e-12
    assert set(rows) == {(1, 1), (1, 2), (2, 2)}    # upper triangle only


# --- temporal / window batch twins ------------------------------------------------
def test_tumbling_daily_window_boundaries(spark, tmp_path):
    rows = [
        (1, "2024-05-01T00:00:00", 1, "view", 1.50),   # inclusive start
        (2, "2024-05-01T23:59:59", 2, "view", 2.25),
        (3, "2024-05-02T00:00:00", 3, "view", 4.00),   # next window
        (4, "2024-05-02T12:00:00", 4, "click", 8.00),
    ]
    planted.write(tmp_path, "events", rows)
    out = {(r["win_start"].date().isoformat(), r["event_type"]): r
           for r in planted.run(spark, "window_tumbling_daily", tmp_path)}
    r = out[("2024-05-01", "view")]
    assert r["n_events"] == 2 and r["sum_value"] == 3.75
    assert (r["win_end"] - r["win_start"]) == dt.timedelta(days=1)
    assert out[("2024-05-02", "view")]["n_events"] == 1
    assert out[("2024-05-02", "click")]["sum_value"] == 8.0


def test_funnel_stage_ordering(spark, tmp_path):
    t = lambda h: f"2024-05-01T{h:02d}:00:00"  # noqa: E731
    rows = [
        # user 1: view -> click -> purchase
        (1, t(1), 1, "view", 1.0), (2, t(2), 1, "click", 1.0),
        (3, t(3), 1, "purchase", 1.0),
        # user 2: view -> click only
        (4, t(1), 2, "view", 1.0), (5, t(2), 2, "click", 1.0),
        # user 3: view only
        (6, t(1), 3, "view", 1.0),
        # user 4: click BEFORE view -> stage stays 'viewed'
        (7, t(1), 4, "click", 1.0), (8, t(2), 4, "view", 1.0),
        # user 5: purchase before click -> 'clicked' (no purchase after)
        (9, t(1), 5, "view", 1.0), (10, t(2), 5, "purchase", 1.0),
        (11, t(3), 5, "click", 1.0),
        # user 6: no view at all -> not in the funnel
        (12, t(1), 6, "purchase", 1.0),
    ]
    planted.write(tmp_path, "events", rows)
    out = {r["user_id"]: r["funnel_stage"] for r in planted.run(spark, "events_funnel", tmp_path)}
    assert out == {1: "purchased", 2: "clicked", 3: "viewed",
                   4: "viewed", 5: "clicked"}


def test_asof_join_latest_at_or_before(spark, tmp_path):
    planted.write(tmp_path, "orders", [
            (1, 7, "F", 10.00, "2024-01-01T00:00:00", "X"),
            (2, 7, "F", 20.00, "2024-01-05T00:00:00", "X"),
            (3, 7, "F", 5.00, "2024-01-05T00:00:00", "X"),  # same-date tie -> max 20
            (4, 8, "F", 99.00, "2024-06-01T00:00:00", "X"),
        ])
    planted.write(tmp_path, "events", [
            (1, "2024-01-03T12:00:00", 7, "view", 1.0),   # -> Jan 1 @ 10
            (2, "2024-01-05T00:00:00", 7, "view", 1.0),   # at-or-before -> Jan 5 @ 20
            (3, "2023-12-01T00:00:00", 7, "view", 1.0),   # before any order -> null
            (4, "2024-01-02T00:00:00", 8, "view", 1.0),   # own orders only -> null
        ])
    rows = {r["event_id"]: r for r in planted.run(spark, "asof_join_last_order", tmp_path)}
    assert rows[1]["last_order_date"].date().isoformat() == "2024-01-01"
    assert rows[1]["last_order_price"] == 10.0
    assert rows[2]["last_order_date"].date().isoformat() == "2024-01-05"
    assert rows[2]["last_order_price"] == 20.0   # tie deduped to max
    assert rows[3]["last_order_date"] is None
    assert rows[4]["last_order_date"] is None    # no cross-user leakage


def test_twap_held_value_weights(spark, tmp_path):
    t0 = dt.datetime.fromisoformat("2024-05-01T00:00:00")
    rows = [
        (1, t0.isoformat(), 7, "view", 1.00),                      # held 100 s
        (2, (t0 + dt.timedelta(seconds=100)).isoformat(), 7, "view", 3.00),  # held 100 s
        (3, (t0 + dt.timedelta(seconds=200)).isoformat(), 7, "view", 9.00),  # last: no span
        # user 8: duplicate timestamp -> zero-duration span filtered
        (4, t0.isoformat(), 8, "view", 5.00),
        (5, t0.isoformat(), 8, "view", 6.00),
        (6, (t0 + dt.timedelta(seconds=50)).isoformat(), 8, "view", 7.00),
    ]
    planted.write(tmp_path, "events", rows)
    out = {r["user_id"]: r for r in planted.run(spark, "timeseries_twap_per_user", tmp_path)}
    assert out[7]["n_spans"] == 2 and out[7]["total_s"] == 200
    assert abs(out[7]["twap"] - 2.0) < 1e-12     # (100*100 + 300*100)/200/100
    assert out[8]["n_spans"] == 1 and out[8]["total_s"] == 50
    assert abs(out[8]["twap"] - 6.0) < 1e-12     # the dup-ts span dropped


def test_time_to_convert_percentiles(spark, tmp_path):
    t0 = dt.datetime.fromisoformat("2024-05-01T00:00:00")
    gaps = {1: 100, 2: 200, 3: 300, 4: 400}
    rows = []
    eid = 0
    for u, g in gaps.items():
        rows.append((eid, t0.isoformat(), u, "view", 1.0)); eid += 1
        rows.append((eid, (t0 + dt.timedelta(seconds=g)).isoformat(), u, "purchase", 1.0)); eid += 1
    # user 5: purchase BEFORE first view -> never converts
    rows.append((eid, t0.isoformat(), 5, "purchase", 1.0)); eid += 1
    rows.append((eid, (t0 + dt.timedelta(seconds=10)).isoformat(), 5, "view", 1.0)); eid += 1
    planted.write(tmp_path, "events", rows)
    (r,) = planted.run(spark, "events_time_to_convert", tmp_path)

    def q_interp(sorted_vals, p):
        h = p * (len(sorted_vals) - 1)
        lo = int(h)
        hi = min(lo + 1, len(sorted_vals) - 1)
        return sorted_vals[lo] + (h - lo) * (sorted_vals[hi] - sorted_vals[lo])

    sv = sorted(gaps.values())
    assert r["n_converted"] == 4
    assert (r["min_s"], r["max_s"]) == (100, 400)
    assert abs(r["p50_s"] - q_interp(sv, 0.5)) < 1e-9
    assert abs(r["p90_s"] - q_interp(sv, 0.9)) < 1e-9


# --- D-class hardening: ops with mild derived arithmetic get real tests ------
def test_interarrival_log2_buckets(spark, tmp_path):
    t0 = dt.datetime.fromisoformat("2024-05-01T00:00:00")
    gaps = [0, 1, 2, 3, 7, 8, 600]  # includes the zero gap and 2^k edges
    rows = [(0, t0.isoformat(), 7, "view", 1.0)]
    t = t0
    for i, g in enumerate(gaps, start=1):
        t = t + dt.timedelta(seconds=g)
        rows.append((i, t.isoformat(), 7, "view", 1.0))
    planted.write(tmp_path, "events", rows)
    out = {r["log2_bucket"]: r for r in
           planted.run(spark, "events_interarrival_histogram", tmp_path)}

    def bucket(g):
        return len(bin(g)[2:]) if g > 0 else 1  # length of binary repr; bin(0)='0'

    expect: dict[int, list] = {}
    for g in gaps:
        e = expect.setdefault(bucket(g), [0, 10**9, -1])
        e[0] += 1
        e[1] = min(e[1], g)
        e[2] = max(e[2], g)
    assert set(out) == set(expect)
    for b, (n, lo, hi) in expect.items():
        r = out[b]
        assert (r["n_gaps"], r["min_gap_s"], r["max_gap_s"]) == (n, lo, hi), b
    # boundary sanity: gaps 0 and 1 share bucket 1; 2,3 -> 2; 7 -> 3; 8 -> 4
    assert out[1]["n_gaps"] == 2 and out[2]["n_gaps"] == 2
    assert out[3]["max_gap_s"] == 7 and out[4]["min_gap_s"] == 8


def test_yoy_revenue_growth_deltas(spark, tmp_path):
    # one nation table row + customers + orders in three years
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    _pq.write_table(_pa.table({
        "n_nationkey": _pa.array([0, 1], _pa.int32()),
        "n_name": _pa.array(["AAA", "BBB"], _pa.string()),
        "n_regionkey": _pa.array([0, 0], _pa.int32()),
    }), str(tmp_path / "nation.parquet"))
    _pq.write_table(_pa.table({
        "c_custkey": _pa.array([1, 2], _pa.int64()),
        "c_name": _pa.array(["c1", "c2"], _pa.string()),
        "c_nationkey": _pa.array([0, 1], _pa.int32()),
        "c_acctbal": _pa.array([0.0, 0.0], _pa.float64()),
        "c_mktsegment": _pa.array(["SEG", "SEG"], _pa.string()),
    }), str(tmp_path / "customer.parquet"))
    planted.write(tmp_path, "orders", [
        (1, 1, "F", 10.00, "1994-06-01T00:00:00", "X"),
        (2, 1, "F", 25.00, "1995-06-01T00:00:00", "X"),
        (3, 1, "F", 15.00, "1996-06-01T00:00:00", "X"),
        (4, 2, "F", 40.00, "1995-06-01T00:00:00", "X"),
    ])
    rows = {(r["nation"], r["yr"]): r for r in
            planted.run(spark, "yoy_revenue_growth", tmp_path)}
    a94, a95, a96 = rows[("AAA", 1994)], rows[("AAA", 1995)], rows[("AAA", 1996)]
    assert a94["prev_cents"] is None and a94["delta_cents"] is None
    assert a95["delta_cents"] == 2500 - 1000
    assert a96["delta_cents"] == 1500 - 2500      # negative delta
    assert rows[("BBB", 1995)]["prev_cents"] is None


def test_retention_cohort_presence_matrix(spark, tmp_path):
    # Mondays anchor weeks; users across two cohorts with return gaps
    plan = {  # user -> list of week offsets from 2024-01-01 (Mon)
        1: [0, 0, 2],      # cohort W0, two events in W0 (distinct'd), back in W2
        2: [0, 1],         # cohort W0
        3: [1],            # cohort W1, never returns
    }
    rows = []
    eid = 0
    t0 = dt.date.fromisoformat("2024-01-01")
    for u, weeks in plan.items():
        for w in weeks:
            day = t0 + dt.timedelta(weeks=w, days=2)
            rows.append((eid, f"{day.isoformat()}T09:00:00", u, "view", 1.0))
            eid += 1
    planted.write(tmp_path, "events", rows)
    out = {(r["cohort_week"], r["week_offset"]): r["n_active_users"]
           for r in planted.run(spark, "events_retention_cohort", tmp_path)}
    assert out == {
        ("2024-01-01", 0): 2,   # users 1, 2 active in their cohort week
        ("2024-01-01", 1): 1,   # user 2
        ("2024-01-01", 2): 1,   # user 1 returns
        ("2024-01-08", 0): 1,   # user 3
    }


def test_rfm_ntile_arithmetic_uneven_n(spark, tmp_path):
    """n = 10 customers: ntile(4) gives buckets of 3,3,2,2 — exercises
    the hand-implemented bucket arithmetic (first n%4 buckets take
    n//4+1 rows) against a sequential ntile recomputation."""
    orders = []
    ok = 0
    # customer k: k orders of k dollars, last order on day k -> all
    # three metrics sort in custkey order (distinct values, no ties)
    for k in range(1, 11):
        for j in range(k):
            ok += 1
            orders.append((ok, k, "F", float(k),
                           f"1995-01-{k:02d}T00:00:00", "X"))
    planted.write(tmp_path, "orders", orders)
    out = {(r["r_score"], r["f_score"], r["m_score"]): r["n_customers"]
           for r in planted.run(spark, "rfm_customer_segments", tmp_path)}

    def ntile4(rank, n):
        big, small = n // 4 + 1, n // 4
        cut = (n % 4) * big
        if rank <= cut:
            return (rank - 1) // big + 1
        return n % 4 + (rank - 1 - cut) // small + 1

    # all three metrics rank customers identically (1..10), so every
    # customer's cell is (t, t, t) with t = ntile4(rank)
    expect: dict[tuple, int] = {}
    for rank in range(1, 11):
        t = ntile4(rank, 10)
        expect[(t, t, t)] = expect.get((t, t, t), 0) + 1
    assert out == expect
    assert expect == {(1, 1, 1): 3, (2, 2, 2): 3, (3, 3, 3): 2, (4, 4, 4): 2}


def test_f3_null_pass_three_valued_logic(spark, tmp_path):
    """The reference's F3/F4 semantics (index.js:167-184): a record
    whose flag is ABSENT must PASS the negated filter — SQL's default
    3VL would silently drop it (NOT(NULL OR ...) = NULL = drop). The
    planted corpus pins every branch: divisible-by-10 drop,
    divisible-by-13 drop, other-value pass, null/absent PASS."""
    rows = [
        (1, "2024-01-01T00:00:00", 1, "view", 1.0, _json.dumps({"k": 20})),   # drop (%10)
        (2, "2024-01-01T00:00:00", 2, "view", 1.0, _json.dumps({"k": 26})),   # drop (%13)
        (3, "2024-01-01T00:00:00", 3, "view", 1.0, _json.dumps({"k": 7})),    # pass
        (4, "2024-01-01T00:00:00", 4, "view", 1.0, "{}"),                     # absent -> PASS
        (5, "2024-01-01T00:00:00", 5, "view", 1.0, _json.dumps({"k": "x"})),  # uncastable -> PASS
        (6, "2024-01-01T00:00:00", 6, "view", 1.0, _json.dumps({"k": 0})),    # 0 % 10 == 0 -> drop
    ]
    planted.write(tmp_path, "events", rows)
    out = {r["event_id"]: r["k_raw"] for r in planted.run(spark, "f3_null_pass_filter", tmp_path)}
    assert set(out) == {3, 4, 5}
    assert out[3] == 7 and out[4] is None and out[5] is None


def test_d5_first_occurrence_tiebreak(spark, tmp_path):
    """First-claim-wins on (user, type): ties on ts break by event_id —
    the deterministic claim order the reference's conditional write
    enforces (index.js:457-477)."""
    rows = [
        (9, "2024-01-01T00:00:00", 1, "view", 1.0),   # same ts as event 4 ...
        (4, "2024-01-01T00:00:00", 1, "view", 1.0),   # ... smaller id WINS
        (5, "2024-01-02T00:00:00", 1, "view", 1.0),   # later: loses
        (6, "2024-01-01T00:00:00", 1, "click", 1.0),  # other type: own winner
        (7, "2023-12-31T00:00:00", 2, "view", 1.0),   # other user
    ]
    planted.write(tmp_path, "events", rows)
    out = {(r["user_id"], r["event_type"]): r["event_id"]
           for r in planted.run(spark, "d5_first_occurrence_dedup", tmp_path)}
    assert out == {(1, "view"): 4, (1, "click"): 6, (2, "view"): 7}


def test_cdc_upsert_latest_wins_tiebreak(spark, tmp_path):
    """Latest-wins compaction: ties on ts break by HIGHEST event_id
    (DESC, DESC) and the superseded version count is carried."""
    rows = [
        (1, "2024-01-01T00:00:00", 1, "pending", 1.00),
        (2, "2024-01-03T00:00:00", 1, "active", 2.00),    # same ts as 3 ...
        (3, "2024-01-03T00:00:00", 1, "done", 4.00),      # ... higher id WINS
        (4, "2024-01-05T00:00:00", 2, "active", 8.00),
    ]
    planted.write(tmp_path, "events", rows)
    out = {r["user_id"]: r for r in planted.run(spark, "cdc_upsert_compaction", tmp_path)}
    assert out[1]["last_event_type"] == "done"
    assert out[1]["last_value_cents"] == 400
    assert out[1]["n_versions"] == 3
    assert out[1]["last_ts_iso"] == "2024-01-03T00:00:00"
    assert out[2]["n_versions"] == 1
