"""Round-8 behavior tests, batch 6: the ANN family variants (sign-LSH,
multi-probe, IVF, banded near-dup, PQ-ADC, Matryoshka, hard-negative
mining, SemDeDup) and the last text-family gaps (BPE merge induction,
DSIR importance, curation pipelines, filter-ensemble kappa).

Third implementations recompute bucketing/probing/quantization with
hashlib + plain Python over the SAME public md5-derived hyperplanes
(operators.similarity.hyperplane_signs — a shared constant, not shared
logic): bucket selection, 1-bit probe expansion, ADC table lookups,
prefix-dim rankings, sequential BPE merges, and hashed-unigram LLR are
all re-derived from scratch.
"""

from __future__ import annotations

import math
import re

from tests import planted


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def _bucket(v, planes):
    code = 0
    for p, plane in enumerate(planes):
        if sum(s * x for s, x in zip(plane, v)) > 0:
            code |= 1 << p
    return code


# --- sign-LSH single probe ----------------------------------------------------------
def test_ann_lsh_bucket_selection(spark, tmp_path):
    from dynamodb_stream_processor_2_0_spark.operators.similarity import (
        hyperplane_signs,
    )

    vecs = planted.corpus()
    planted.write(tmp_path, "embeddings", vecs)
    out = {}
    for r in planted.run(spark, "embedding_ann_lsh", tmp_path):
        out.setdefault(r["query_id"], []).append(r)
    planes = hyperplane_signs(num_planes=6, dim=64)
    data = {vid: v for vid, v, _ in vecs}
    buckets = {vid: _bucket(v, planes) for vid, v in data.items()}
    for q in range(8):
        cands = [vid for vid in data
                 if vid != q and buckets[vid] == buckets[q]]
        expected = sorted(
            ((vid, _cos(data[q], data[vid])) for vid in cands),
            key=lambda kv: (-kv[1], kv[0]),
        )[:5]
        got = sorted(out.get(q, []), key=lambda r: r["rank"])
        assert [r["neighbor_id"] for r in got] == [vid for vid, _ in expected], q
        for r, (_, c) in zip(got, expected):
            assert abs(r["cosine"] - c) < 1e-9


def test_ann_multiprobe_one_bit_expansion(spark, tmp_path):
    from dynamodb_stream_processor_2_0_spark.operators.similarity import (
        hyperplane_signs,
    )

    vecs = planted.corpus()
    planted.write(tmp_path, "embeddings", vecs)
    out = {}
    for r in planted.run(spark, "embedding_ann_multiprobe", tmp_path):
        out.setdefault(r["query_id"], []).append(r)
    planes = hyperplane_signs(num_planes=6, dim=64)
    data = {vid: v for vid, v, _ in vecs}
    buckets = {vid: _bucket(v, planes) for vid, v in data.items()}
    total_single = total_multi = 0
    for q in range(8):
        probes = {buckets[q]} | {buckets[q] ^ (1 << b) for b in range(6)}
        cands = [vid for vid in data if vid != q and buckets[vid] in probes]
        expected = sorted(
            ((vid, _cos(data[q], data[vid])) for vid in cands),
            key=lambda kv: (-kv[1], kv[0]),
        )[:5]
        got = sorted(out.get(q, []), key=lambda r: r["rank"])
        assert [r["neighbor_id"] for r in got] == [vid for vid, _ in expected], q
        total_multi += len(got)
        total_single += sum(1 for vid in data
                            if vid != q and buckets[vid] == buckets[q])
    # the probe expansion is the point: strictly more candidates reachable
    assert total_multi >= total_single


# --- IVF nProbe=1 ----------------------------------------------------------------------
def test_ann_ivf_probe_cell_and_in_cell_ranking(spark, tmp_path):
    # two well-separated cells so centroid assignment is unambiguous:
    # label 0 vectors near +e1, label 1 vectors near -e1
    def cell_vec(seed, sign):
        base = planted.mvec(f"ivf:{seed}")
        out = [sign * 1.0] + [x / 8 for x in base[1:]]
        return [planted.f32(x) for x in out]

    vecs = []
    for i in range(8):                      # queries: 4 per side
        vecs.append((i, cell_vec(i, 1.0 if i % 2 == 0 else -1.0), i % 2))
    for i in range(8, 20):                  # inverted lists
        vecs.append((i, cell_vec(i, 1.0 if i % 2 == 0 else -1.0), i % 2))
    planted.write(tmp_path, "embeddings", vecs)
    out = {}
    for r in planted.run(spark, "embedding_ann_ivf", tmp_path):
        out.setdefault(r["query_id"], []).append(r)
    data = {vid: v for vid, v, _ in vecs}
    labels = {vid: lab for vid, _, lab in vecs}
    for q in range(8):
        # nProbe=1 lands in the query's own (well-separated) cell
        cell = labels[q]
        cands = [vid for vid in data if vid != q and labels[vid] == cell]
        expected = sorted(
            ((vid, _cos(data[q], data[vid])) for vid in cands),
            key=lambda kv: (-kv[1], kv[0]),
        )[:5]
        got = sorted(out[q], key=lambda r: r["rank"])
        assert [r["neighbor_id"] for r in got] == [vid for vid, _ in expected], q
        assert all(labels[r["neighbor_id"]] == cell for r in got)


# --- banded near-dup ----------------------------------------------------------------------
def test_embedding_near_dup_banded_verify(spark, tmp_path):
    from dynamodb_stream_processor_2_0_spark.operators.similarity import (
        hyperplane_signs,
    )

    base = planted.mvec("neardup:base")
    near = [planted.f32(x * 0.9 + 0.1 * y) for x, y in zip(base, planted.mvec("neardup:noise"))]
    vecs = [(1, base, 0), (2, base, 0), (3, near, 0)]
    vecs += [(10 + i, planted.mvec(f"neardup:far{i}"), 0) for i in range(6)]
    planted.write(tmp_path, "embeddings", vecs)
    out = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in planted.run(spark, "dedup_embedding_near", tmp_path)}

    planes = hyperplane_signs(num_planes=12, dim=64)
    data = {vid: v for vid, v, _ in vecs}
    codes = {
        vid: (_bucket(v, planes[:6]), _bucket(v, planes[6:]))
        for vid, v in data.items()
    }
    expected = {}
    ids = sorted(data)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if (codes[a][0] == codes[b][0] or codes[a][1] == codes[b][1]):
                c = _cos(data[a], data[b])
                if c >= 0.42:
                    expected[(a, b)] = c
    assert set(out) == set(expected)
    for k, c in expected.items():
        assert abs(out[k] - c) < 1e-9, k
    assert (1, 2) in out and out[(1, 2)] == 1.0   # exact copies always pair


# --- SemDeDup property ------------------------------------------------------------------------
def test_semantic_dedup_exact_copies_collapse(spark, tmp_path):
    copies = planted.mvec("semdedup:dup")
    vecs = [(1, copies, 0), (2, copies, 0), (3, copies, 0)]
    vecs += [(10 + i, planted.mvec(f"semdedup:solo{i}"), 0) for i in range(9)]
    planted.write(tmp_path, "embeddings", vecs)
    rows = {r["vec_id"]: r for r in planted.run(spark, "semantic_dedup_kmeans", tmp_path)}
    # identical vectors assign identically -> same cluster, mutual near
    assert rows[1]["cluster"] == rows[2]["cluster"] == rows[3]["cluster"]
    for vid in (1, 2, 3):
        assert rows[vid]["n_near"] >= 2
    assert rows[1]["keep"] and not rows[2]["keep"] and not rows[3]["keep"]
    # solo vectors: md5-random directions sit far below the 0.42 bar
    for vid in range(10, 19):
        assert rows[vid]["keep"], vid


# --- PQ-ADC -------------------------------------------------------------------------------------
def test_pq_adc_table_lookup_recomputation(spark, tmp_path):
    vecs = planted.corpus(24)
    planted.write(tmp_path, "embeddings", vecs)
    out = {}
    for r in planted.run(spark, "embedding_pq_adc_topk", tmp_path):
        out.setdefault(r["query_id"], []).append(r)

    data = {vid: [math.floor(x * 1000) for x in v] for vid, v, _ in vecs}

    def block(v, b):
        return v[b * 16: (b + 1) * 16]

    codebook = {b: {code: block(data[8 + code], b) for code in range(8)}
                for b in range(4)}

    def assign(vid):
        # per block: nearest codebook entry, ties to smaller code
        return [
            min(range(8), key=lambda c: (
                sum((x - y) ** 2
                    for x, y in zip(block(data[vid], b), codebook[b][c])), c))
            for b in range(4)
        ]

    codes = {vid: assign(vid) for vid in data if vid >= 8}
    for q in range(8):
        qd = {
            (b, c): sum((x - y) ** 2
                        for x, y in zip(block(data[q], b), codebook[b][c]))
            for b in range(4) for c in range(8)
        }
        scored = sorted(
            ((vid, sum(qd[(b, codes[vid][b])] for b in range(4)))
             for vid in codes),
            key=lambda kv: (kv[1], kv[0]),
        )[:10]
        got = sorted(out[q], key=lambda r: r["rank"])
        assert [(r["cand_id"], r["adc_dist"]) for r in got] == scored, q


# --- Matryoshka truncation recall ------------------------------------------------------------------
def test_matryoshka_prefix_recall_recomputed(spark, tmp_path):
    vecs = planted.corpus(24)
    planted.write(tmp_path, "embeddings", vecs)
    out = {r["dims"]: r for r in
           planted.run(spark, "embedding_matryoshka_recall", tmp_path)}

    data = {vid: [math.floor(x * 1000) for x in v] for vid, v, _ in vecs}
    queries = [vid for vid in data if vid < 8]
    cands = [vid for vid in data if vid >= 8]

    def topk(q, d):
        scored = sorted(
            ((c, sum(a * b for a, b in zip(data[q][:d], data[c][:d])))
             for c in cands),
            key=lambda kv: (-kv[1], kv[0]),
        )
        return {c for c, _ in scored[:5]}

    full = {q: topk(q, 64) for q in queries}
    for d in (8, 16, 32, 64):
        hits = sum(len(topk(q, d) & full[q]) for q in queries)
        r = out[d]
        assert r["n_hits"] == hits, d
        assert r["recall_permille"] == hits * 1000 // (5 * len(queries)), d
    assert out[64]["recall_permille"] == 1000   # full width trivially perfect


# --- hard-negative mining -----------------------------------------------------------------------
def test_hard_negative_excludes_positives(spark, tmp_path):
    from dynamodb_stream_processor_2_0_spark.operators.similarity import (
        hyperplane_signs,
    )

    # query 1 has an exact copy (a POSITIVE — must be excluded) and
    # plenty of ordinary candidates
    base = planted.mvec("hn:base")
    vecs = [(1, base, 0), (2, base, 0)]
    vecs += [(10 + i, planted.mvec(f"hn:cand{i}"), 0) for i in range(12)]
    planted.write(tmp_path, "embeddings", vecs)
    out = {}
    for r in planted.run(spark, "embedding_hard_negative_mine", tmp_path):
        out.setdefault(r["query_id"], []).append(r)

    planes = hyperplane_signs(num_planes=6, dim=64)
    data = {vid: v for vid, v, _ in vecs}
    buckets = {vid: _bucket(v, planes) for vid, v in data.items()}
    # the copy shares query 1's bucket, tops its ANN list by cosine 1.0,
    # and is a near-dup positive -> must NOT appear among its negatives
    assert buckets[1] == buckets[2]
    got1 = out.get(1, [])
    assert all(r["neighbor_id"] != 2 for r in got1)
    for q, rows in out.items():
        ranks = sorted(r["hn_rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        cosines = [r["cosine"] for r in sorted(rows, key=lambda r: r["hn_rank"])]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["cosine"] < 0.42 or r["neighbor_id"] != 2 for r in rows)


# --- BPE merge induction ------------------------------------------------------------------------
def test_bpe_merge_induction_sequential(spark, tmp_path):
    docs = [
        (1, "low low low lower lowest", "en", "s"),
        (2, "low lower newer new", "en", "s"),
    ]
    planted.write(tmp_path, "documents", docs)
    out = {r["round"]: r for r in planted.run(spark, "bpe_merge_induction", tmp_path)}

    words: dict[tuple, int] = {}
    for _, text, _, _ in docs:
        for w in re.split(r"\s+", text.lower()):
            if w:
                words[tuple(w)] = words.get(tuple(w), 0) + 1

    def one_round(words):
        pairs: dict[tuple, int] = {}
        for syms, freq in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freq
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merged: dict[tuple, int] = {}
        for syms, freq in words.items():
            outw = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    outw.append(a + b)
                    i += 2
                else:
                    outw.append(syms[i])
                    i += 1
            key = tuple(outw)
            merged[key] = merged.get(key, 0) + freq
        return merged, (a, b, cnt)

    for rnd in (1, 2):
        words, (a, b, cnt) = one_round(words)
        types = {s for syms in words for s in syms}
        total = sum(len(syms) * f for syms, f in words.items())
        r = out[rnd]
        assert (r["merged_left"], r["merged_right"]) == (a, b), rnd
        assert r["pair_count"] == cnt, rnd
        assert r["n_symbol_types_after"] == len(types), rnd
        assert r["n_symbols_total_after"] == total, rnd


# --- DSIR importance ----------------------------------------------------------------------------
def test_dsir_hashed_llr_recomputation(spark, tmp_path):
    docs = [
        (1, "the cat sat on the mat", "en", "web"),
        (2, "el gato y la alfombra aqui", "es", "web"),
        (3, "the dog ran to the park", "en", "books"),
        (4, "ein hund lief zum park heute", "de", "books"),
    ]
    planted.write(tmp_path, "documents", docs)
    out = {(r["source"], r["lang"]): r
           for r in planted.run(spark, "text_dsir_importance", tmp_path)}

    B = 256
    feat = []  # (doc_id, lang, source, bucket)
    for d, text, lang, src in docs:
        for tok in text.split(" "):
            feat.append((d, lang, src, int(planted.md5(tok)[:8], 16) % B))
    src_d: dict[int, int] = {}
    tgt_d: dict[int, int] = {}
    for _, lang, _, bkt in feat:
        src_d[bkt] = src_d.get(bkt, 0) + 1
        if lang == "en":
            tgt_d[bkt] = tgt_d.get(bkt, 0) + 1
    s_tot = sum(src_d.values()) + B
    t_tot = sum(tgt_d.values()) + B

    def llr_bits(bkt):
        num = (tgt_d.get(bkt, 0) + 1) * s_tot
        den = (src_d[bkt] + 1) * t_tot
        if num >= den:
            return (num // den).bit_length() - 1
        return -((den // num).bit_length() - 1)

    per_doc: dict[int, int] = {}
    for d, _, _, bkt in feat:
        per_doc[d] = per_doc.get(d, 0) + llr_bits(bkt)
    expect: dict[tuple, list] = {}
    for d, text, lang, src in docs:
        e = expect.setdefault((src, lang), [0, 0, 0])
        e[0] += 1
        e[1] += per_doc[d]
        e[2] += 1 if per_doc[d] > 0 else 0
    assert set(out) == set(expect)
    for key, (n, s, t) in expect.items():
        r = out[key]
        assert (r["n_docs"], r["sum_llr_bits"], r["n_target_like"]) == (n, s, t), key


# --- curation pipelines ------------------------------------------------------------------------
def test_curation_pipeline_v1_full_recomputation(spark, tmp_path):
    long_good = ("the cat and the dog of a to " * 3).strip()  # stopword-rich
    docs = [
        (1, long_good, "en", "s"),
        (2, long_good, "en", "s"),                        # exact dup of 1
        (3, "short text", "en", "s"),                     # < 15 tokens
        (4, " ".join(f"z{i}" for i in range(20)), "en", "s"),  # low quality
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in planted.run(spark, "corpus_curation_pipeline", tmp_path)}

    seen: dict[str, int] = {}
    for d, text, _, _ in docs:
        toks = text.split(" ")
        n_tokens = len(toks)
        n_stop = sum(1 for t in toks if t in ("the", "a", "of", "and", "to"))
        n_punct = sum(1 for ch in text if ch in ".,!?;:")
        n_chars = len(text)
        q = ((n_stop / n_tokens) * 0.5
             + (n_chars / (n_chars + 100.0)) * 0.4
             + (n_punct / n_tokens) * 0.1)
        fp = planted.md5(re.sub(r"\s+", " ", text.strip()).lower())
        seen[fp] = seen.get(fp, 0) + 1
        if seen[fp] > 1:
            disp = "dropped_duplicate"
        elif n_tokens < 15:
            disp = "dropped_short"
        elif q < 0.30:
            disp = "dropped_low_quality"
        else:
            disp = "kept"
        r = rows[d]
        assert r["n_tokens"] == n_tokens, d
        assert abs(r["quality_score"] - q) < 1e-12, d
        assert r["disposition"] == disp, d
    assert rows[1]["disposition"] == "kept"
    assert rows[2]["disposition"] == "dropped_duplicate"
    assert rows[3]["disposition"] == "dropped_short"
    assert rows[4]["disposition"] == "dropped_low_quality"


def test_curation_pipeline_v2_composes_registered_stages(spark, tmp_path):
    """The capstone's ledger must agree row-by-row with the REGISTERED
    component operators run on the same fixture (survivorship,
    classifier, token-window), and the split must be the md5 bucket
    rule — a composition cross-check; each component has its own
    planted tests elsewhere in this suite."""
    docs = (
        [(i, "alpha beta gamma delta epsilon zeta eta theta", "en", "s")
         for i in (1, 2)]                       # exact dups
        + [(5, " ".join(f"w{i}" for i in range(30)), "en", "s"),
           (6, " ".join(f"v{i}" for i in range(30)), "en", "s")]
    )
    planted.write(tmp_path, "documents", docs)
    ledger = {r["doc_id"]: r for r in
              planted.run(spark, "corpus_curation_pipeline_v2", tmp_path)}
    surv = {r["doc_id"]: r for r in
            planted.run(spark, "dedup_survivorship_canonical", tmp_path)}
    clf = {r["doc_id"]: r for r in
           planted.run(spark, "quality_classifier_score", tmp_path)}
    tw = {r["doc_id"]: r for r in
          planted.run(spark, "dedup_token_window_exact", tmp_path)}
    exact_seen: dict[str, int] = {}
    for d, text, _, _ in sorted(docs):
        fp = planted.md5(text)
        exact_seen.setdefault(fp, d)
    for d, text, _, _ in docs:
        r = ledger[d]
        if planted.md5(text) in exact_seen and exact_seen[planted.md5(text)] != d:
            expect = "dropped_exact_dup"
        elif not surv[d]["is_canonical"]:
            expect = "dropped_near_dup"
        elif clf[d]["score_sum"] < 0:
            expect = "dropped_classifier"
        elif tw[d]["dup_token_frac"] >= 0.5:
            expect = "dropped_substring_dup"
        else:
            expect = "kept"
        assert r["disposition"] == expect, d
        if expect == "kept":
            bucket = int(planted.md5(text)[:8], 16) % 100
            split = "train" if bucket < 80 else ("val" if bucket < 90 else "test")
            assert r["split"] == split, d
        else:
            assert r["split"] is None, d


# --- filter-ensemble kappa arithmetic ---------------------------------------------------------
def test_filter_ensemble_kappa_arithmetic(spark, tmp_path):
    """Verifies the agreement/kappa ARITHMETIC: the three filters' keep
    decisions are taken from their registered (separately behavior-
    tested) operators, then po/pe/kappa are recomputed in plain Python
    integers from those decisions and compared to the ensemble op.
    Includes repetitive docs (gopher drops) so at least one pair is
    non-degenerate, and relies on the den=0 guard for any degenerate
    pair (the guard this test's first run flushed out as a twin
    divide-by-zero crash in both engines)."""
    docs = [(i, " ".join(f"w{i}x{j} the of and" for j in range(8)), "en", "s")
            for i in range(7)]
    # highly repetitive docs: the Gopher repetition gate drops these
    docs += [(10 + i, ("spam " * 40).strip(), "en", "s") for i in range(3)]
    planted.write(tmp_path, "documents", docs)
    from dynamodb_stream_processor_2_0_spark.plans import registry

    registry._load()
    keeps = {}
    for key, qname, col in (
        ("clf", "quality_classifier_score", "keep"),
        ("lm", "text_lm_surprisal_score", "keep"),
        ("gop", "text_gopher_repetition", "gopher_keep"),
    ):
        keeps[key] = {
            r["doc_id"]: int(r[col])
            for r in registry.REGISTRY[qname].fn(spark, str(tmp_path)).collect()
        }
    out = {r["pair"]: r for r in
           planted.run(spark, "text_filter_ensemble_agreement", tmp_path)}
    ids = sorted(keeps["clf"])
    n = len(ids)
    for pair, x, y in (("classifier|lm", "clf", "lm"),
                       ("classifier|gopher", "clf", "gop"),
                       ("lm|gopher", "lm", "gop")):
        a = sum(keeps[x][d] for d in ids)
        b = sum(keeps[y][d] for d in ids)
        agree = sum(1 for d in ids if keeps[x][d] == keeps[y][d])
        r = out[pair]
        assert r["n_docs"] == n and r["n_agree"] == agree, pair
        assert r["po_micro"] == agree * 1_000_000 // n
        assert r["pe_micro"] == (a * b + (n - a) * (n - b)) * 1_000_000 // (n * n)
        num = agree * n - a * b - (n - a) * (n - b)
        den = n * n - a * b - (n - a) * (n - b)
        if den == 0:
            assert r["kappa_micro"] == 0, pair   # degenerate marginals
        else:
            sign = 1 if num >= 0 else -1
            assert r["kappa_micro"] == sign * (abs(num) * 1_000_000 // den), pair
