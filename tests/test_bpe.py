"""BPE merge induction (operators/bpe.py): greedy left-to-right
non-overlap, tie-breaking, and frequency weighting."""

from __future__ import annotations

import pytest

from dynamodb_stream_processor_2_0_spark.operators.bpe import (
    bpe_induction,
    bpe_round,
    words_with_freq,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_nonoverlapping_left_to_right_merge(spark):
    # 'aaaa' with top pair (a,a) must merge positions 1-2 and 3-4
    # (2 merges), never 2-3: syms become [aa, aa]
    words = words_with_freq(_docs(spark, ["aaaa aaaa ab"]))
    merged, (a, b, cnt) = bpe_round(words)
    assert (a, b) == ("a", "a")
    syms = {r["word"]: r["syms"] for r in merged.collect()}
    assert syms["aaaa"] == ["aa", "aa"]
    assert syms["ab"] == ["a", "b"]


def test_odd_run_keeps_trailing_symbol(spark):
    # 'aaa': runs of 2 matching positions -> merge first only: [aa, a]
    words = words_with_freq(_docs(spark, ["aaa aaa aaa xy"]))
    merged, (a, b, _) = bpe_round(words)
    assert (a, b) == ("a", "a")
    syms = {r["word"]: r["syms"] for r in merged.collect()}
    assert syms["aaa"] == ["aa", "a"]


def test_frequency_weighting_and_tiebreak(spark):
    # pair (b,c) appears once in a word occurring 3 times; pair (x,y)
    # once in a word occurring twice -> (b,c) wins on weight
    words = words_with_freq(_docs(spark, ["bc bc bc xy xy"]))
    _, (a, b, cnt) = bpe_round(words)
    assert (a, b, cnt) == ("b", "c", 3)


def test_induction_rounds_shrink_total_symbols(spark):
    docs = _docs(spark, ["the the the then there here zz"])
    df = bpe_induction(spark, docs, rounds=2)
    rows = {r["round"]: r for r in df.collect()}
    assert rows[1]["n_symbols_total_after"] > rows[2]["n_symbols_total_after"]
    # round 1 must merge (h,e) or (t,h) (both appear 5x); tie-break
    # lexicographic on the pair -> (h,e)
    assert (rows[1]["merged_left"], rows[1]["merged_right"]) == ("h", "e")


def _ref_round(word_freqs):
    """Pure-Python reference BPE round: returns (top_pair, merged)."""
    from collections import Counter

    counts = Counter()
    for word, (freq, syms) in word_freqs.items():
        for i in range(len(syms) - 1):
            counts[(syms[i], syms[i + 1])] += freq
    # max count, then lexicographically smallest pair
    top_cnt = max(counts.values())
    top = min(p for p, c in counts.items() if c == top_cnt)
    a, b = top
    merged = {}
    for word, (freq, syms) in word_freqs.items():
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        merged[word] = (freq, out)
    return (a, b, top_cnt), merged


@pytest.mark.slow
def test_random_corpora_match_pure_python_reference(spark):
    import random

    rng = random.Random(42)
    for trial in range(4):
        vocab = [
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 7)))
            for _ in range(12)
        ]
        text = " ".join(rng.choice(vocab) for _ in range(60))
        docs = _docs(spark, [text])
        words = words_with_freq(docs)
        ref_in = {
            r["word"]: (r["freq"], list(r["syms"])) for r in words.collect()
        }
        (ra, rb, rcnt), ref_merged = _ref_round(ref_in)
        got, (a, b, cnt) = bpe_round(words)
        assert (a, b, cnt) == (ra, rb, rcnt), f"trial {trial}: pair mismatch"
        got_syms = {r["word"]: list(r["syms"]) for r in got.collect()}
        for word, (freq, syms) in ref_merged.items():
            assert got_syms[word] == syms, (
                f"trial {trial} word {word!r}: {got_syms[word]} != {syms}"
            )
