"""Concurrent query execution on one SparkSession.

Round-3 ADVICE flagged a fixed temp-view name in the recursive chain
walk that would collide under concurrent execution (fixed with
uuid-suffixed views). This locks the property in: a mixed batch of
queries — including two invocations of the chain walk and the
temp-staging source queries — runs on parallel threads against the
shared session and every result equals its sequential run.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from dynamodb_stream_processor_2_0_spark.plans import registry

_NAMES = [
    "recursive_order_chain_walk",
    "recursive_order_chain_walk",  # self-collision is the reported bug
    "q1_pricing_summary",
    "pipeline_disposition_summary",
    "source_python_datasource",
    "dedup_minhash_lsh",
    "text_lm_surprisal_score",
    "bloom_filter_dedup_prefilter",
]


def _canon(df):
    return sorted(
        tuple(str(v) for v in row)
        for row in df.toPandas()[sorted(df.columns)].itertuples(index=False)
    )


@pytest.mark.slow
def test_concurrent_queries_match_sequential(spark, sf_dir):
    sequential = {
        n: _canon(registry.get(n).fn(spark, sf_dir)) for n in set(_NAMES)
    }
    with ThreadPoolExecutor(max_workers=len(_NAMES)) as pool:
        futures = [
            pool.submit(lambda n=n: (n, _canon(registry.get(n).fn(spark, sf_dir))))
            for n in _NAMES
        ]
        for fut in futures:
            name, got = fut.result(timeout=300)
            assert got == sequential[name], f"{name} diverged under concurrency"
