"""Batch sources: the driver-provided parquet tables.

Reference analog: S1/S2 (index.js:34-101, 107-141) read from a DynamoDB
stream + table; here every source is a columnar parquet scan so Catalyst
gets predicate pushdown and column pruning for free. At 100 TB the same
code path applies — `spark.read.parquet` over a partitioned object-store
layout; nothing below assumes local files.
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
    try:
        df = spark.read.parquet(path)
    except AnalysisException as exc:
        if not nanos_cols or exc.getCondition() != "PARQUET_TYPE_ILLEGAL":
            raise
        # Stays set: the scan reads the conf again when it executes,
        # after this function has returned the lazy DataFrame.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    for col in nanos_cols:
        # Only nanos columns surface as BIGINT under nanosAsLong; a
        # micros file already reads as TIMESTAMP_NTZ and passes through.
        if isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(col, _nanos_long_to_ts_ntz(col))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
