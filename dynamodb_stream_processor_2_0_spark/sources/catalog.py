"""Batch sources: the driver-provided parquet tables.

Reference analog: S1/S2 (index.js:34-101, 107-141) read from a DynamoDB
stream + table; here every source is a columnar parquet scan so Catalyst
gets predicate pushdown and column pruning for free. At 100 TB the same
code path applies — `spark.read.parquet` over a partitioned object-store
layout; nothing below assumes local files.

A local parquet file's inferred schema is memoized by the file's
identity (path, size, mtime), so only its first load runs Spark's
schema-inference job; directories and remote paths still infer on
every load.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Columns that MAY be written as parquet TIMESTAMP(NANOS) — Spark
# rejects those by default (PARQUET_TYPE_ILLEGAL when the read is set
# up); only then we read them as raw nanos (legacy conf) and rebuild a
# timestamp ourselves. Datasets written with TIMESTAMP(MICROS) read
# natively as TIMESTAMP_NTZ and leave the session conf untouched; the
# check is on the actual read-back type, not the dataset vintage.
_NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# (path, st_size, st_mtime_ns) of a local parquet file -> (the schema
# Spark inferred for it, the nanos columns that surfaced as BIGINT).
# A plain `spark.read.parquet` runs one schema-inference job per call,
# about 0.1 s each on a 4-core host; a read with the memoized schema
# plans with no job. perfbench batch_analytics (sf0.1, local[4]):
# plans.build_jobs 2.33 -> 0 per call. The nanos columns come from the
# inferred schema, not from whether the first read raised, so a file
# first loaded with nanosAsLong already set still sets it on later hits.
_SCHEMA_MEMO: dict[tuple[str, int, int], tuple[T.StructType, tuple[str, ...]]] = {}


def _nanos_long_to_ts_ntz(col: str) -> F.Column:
    """Nanos-since-epoch (BIGINT) -> TIMESTAMP_NTZ, truncated to micros.

    Built from epoch + an exact day-time interval so the result is
    independent of the session time zone (DuckDB reads the same file as
    a naive timestamp truncated to micros — bit-identical parity).
    ``div`` keeps the arithmetic integral: nanos ~1.7e18 overflows the
    53-bit mantissa if it ever touches a double.
    """
    return F.expr(
        f"make_timestamp_ntz(1970, 1, 1, 0, 0, 0) + "
        f"make_dt_interval(0, 0, 0, CAST({col} div 1000 AS DECIMAL(26,6)) / 1000000)"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table; filters/projections push down."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    nanos_cols = _NANOS_TS_COLUMNS.get(name, ())
    path = f"{sf_dir}/{name}.parquet"
    key = None
    if os.path.isfile(path):  # directories and URIs infer on every load
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
    memo = _SCHEMA_MEMO.get(key) if key else None
    if memo is None:
        try:
            df = spark.read.parquet(path)
        except AnalysisException as exc:
            if not nanos_cols or exc.getCondition() != "PARQUET_TYPE_ILLEGAL":
                raise
            # Stays set: the scan reads the conf again when it executes,
            # after this function has returned the lazy DataFrame.
            spark.conf.set(_NANOS_AS_LONG, "true")
            df = spark.read.parquet(path)
        # Only nanos columns surface as BIGINT under nanosAsLong; a
        # micros file already reads as TIMESTAMP_NTZ and passes through.
        schema = df.schema
        nanos = tuple(c for c in nanos_cols if isinstance(schema[c].dataType, T.LongType))
        if key:
            _SCHEMA_MEMO[key] = (schema, nanos)
    else:
        schema, nanos = memo
        if nanos:
            spark.conf.set(_NANOS_AS_LONG, "true")
        df = spark.read.schema(schema).parquet(path)
    for col in nanos:
        df = df.withColumn(col, _nanos_long_to_ts_ntz(col))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
