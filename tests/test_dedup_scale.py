"""Duplication-factor behavior of the containment dedup: the operator
collapses byte-identical texts before the inverted-index join and
expands member pairs afterwards — the result must stay oracle-identical
on a corpus where every document has exact copies (the workload that
made the pre-collapse plan quadratic: 10 copies = ~100x posting-list
pairs, measured 12.6x wall in the 10x scale experiment)."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.plans import registry
from tests.oracle_harness import compare_query

TABLES_TO_LINK = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "embeddings",
)


@pytest.mark.slow
def test_shingle_containment_on_duplicated_corpus(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="dupdocs_")
    tmp = tempfile.mkdtemp(prefix="dupwrite_")
    try:
        for t in TABLES_TO_LINK:
            os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        dup = docs
        for i in range(1, 4):
            dup = dup.union(
                docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10**7))
            )
        # single file: the DuckDB side of the harness reads a file path
        dup.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], f"{d}/documents.parquet")
        compare_query(spark, registry.get("dedup_shingle_containment"), d)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.slow
def test_prefix_filter_jaccard_on_duplicated_corpus(spark, sf_dir):
    """Same duplication workload for the PPJoin-style prefix filter:
    its collapse gate (byte-identical reps + within-group expansion,
    queries_dedup.py) must stay oracle-identical — including after the
    round-5 array-intersect verification rewrite."""
    d = tempfile.mkdtemp(prefix="dupdocs_pf_")
    tmp = tempfile.mkdtemp(prefix="dupwrite_pf_")
    try:
        for t in TABLES_TO_LINK:
            os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        dup = docs
        for i in range(1, 4):
            dup = dup.union(
                docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10**7))
            )
        dup.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], f"{d}/documents.parquet")
        # 4x duplication crosses the exact-copy collapse gate
        compare_query(spark, registry.get("dedup_prefix_filter_jaccard"), d)
        # the digest dedup is 0-row on the pristine corpus; the
        # duplicated corpus proves its non-empty path (every group
        # has 4 copies and bytes_saved = 3x payload)
        compare_query(spark, registry.get("multimodal_dedup_by_digest"), d)
        # same for the perceptual-hash near-dup (exact copies land at
        # hamming 0 through the banded pipeline)
        compare_query(spark, registry.get("multimodal_phash_near_dup"), d)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
