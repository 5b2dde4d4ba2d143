"""Both arms of ``connected_components`` (driver union-find at the default
gate, the distributed large-star/small-star loop forced with
``small_graph_threshold=0``) must label identically: min reachable id
per component."""

from __future__ import annotations

import pytest

from dynamodb_stream_processor_2_0_spark.operators.dedup import connected_components


def _mixed_shapes():
    # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), isolate pair
    # 20-21, and a star 30-{31,32,33}; ids deliberately non-contiguous
    edges = [
        (2, 1),
        (2, 3),
        (3, 4),
        (10, 11),
        (11, 12),
        (10, 12),
        (20, 21),
        (31, 30),
        (32, 30),
        (30, 33),
    ]
    want = {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30, 33: 30,
    }
    return edges, want


def _long_chain():
    # a 200-node chain (diameter 199: the worst case for any
    # propagate-one-hop-per-round scheme), two 5-cliques and one
    # separate edge
    chain = range(1000, 1200)
    cliques = (range(7000, 7005), range(8000, 8005))
    edges = [(i, i + 1) for i in chain[:-1]]
    edges += [(a, b) for c in cliques for a in c for b in c if a < b]
    edges += [(9000, 9001)]
    want = {i: 1000 for i in chain}
    want.update({n: c[0] for c in cliques for n in c})
    want.update({9000: 9000, 9001: 9000})
    return edges, want


@pytest.mark.parametrize(
    "graph",
    [
        pytest.param(_mixed_shapes, id="mixed_shapes", marks=pytest.mark.slow),
        pytest.param(_long_chain, id="long_chain", marks=pytest.mark.slow),
    ],
)
def test_union_find_and_star_loop_agree(spark, graph):
    edges, want = graph()
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")

    def labels(df):
        return {r.doc_id: r.cluster_id for r in df.collect()}

    assert labels(connected_components(pairs)) == want
    assert labels(connected_components(pairs, small_graph_threshold=0)) == want
