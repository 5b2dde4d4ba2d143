"""Differential harness mirroring the driver's correctness gate.

The driver (CORRECTNESS_r{N}.json) compares the Spark result and the
DuckDB oracle at the *pandas* level: Spark via ``toPandas()`` (decimals
stay ``decimal.Decimal`` objects), DuckDB via ``.df()`` (decimals are
converted to float64, HUGEINT to float64), then canonicalizes by
stringifying cells.  That means:

- a Decimal output column only matches its float64 twin when every
  value's string forms coincide (``Decimal('1.50')`` vs ``1.5`` fails);
- list/array-typed output columns crash the canonicalization outright
  (``unhashable type: 'list'`` in pandas ``sort_values``).

Round 1 shipped a scale-normalizing comparator and 14 queries passed
locally while failing the driver.  This version is driver-faithful and
additionally *lints* the output schema: any query emitting a decimal,
int-beyond-int64, or nested (array/map/struct) column fails loudly with
instructions to cast at the output boundary.  Engine rule: aggregate in
exact decimal internally, cast to DOUBLE/BIGINT in the final select —
on BOTH the Spark plan and the oracle SQL.
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from dynamodb_stream_processor_2_0_spark.sources.catalog import TABLES

_NESTED = (list, tuple, dict, np.ndarray)


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _lint_spark_schema(name: str, sdf) -> None:
    """Reject output types the driver's canonicalization mishandles."""
    from pyspark.sql import types as T

    for f in sdf.schema.fields:
        t = f.dataType
        if isinstance(t, T.DecimalType):
            raise AssertionError(
                f"{name}: output column {f.name!r} is {t.simpleString()} — "
                "the driver stringifies Spark Decimals but DuckDB->pandas "
                "yields float64; cast to double (or bigint) in the final "
                "select on BOTH sides"
            )
        if isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
            raise AssertionError(
                f"{name}: output column {f.name!r} is {t.simpleString()} — "
                "nested values crash the driver's pandas canonicalization; "
                "flatten to scalar columns or serialize to a JSON string"
            )


def _lint_frame(name: str, df: pd.DataFrame, side: str) -> None:
    """Reject object cells (Decimal / nested) that diverge across engines."""
    for col in df.columns:
        if df[col].dtype != object:
            continue
        s = df[col].dropna()
        if s.empty:
            continue
        v = s.iloc[0]
        if isinstance(v, Decimal):
            raise AssertionError(
                f"{name}: {side} column {col!r} holds Decimal values — "
                "cast to DOUBLE/BIGINT at the output boundary on both sides"
            )
        if isinstance(v, _NESTED):
            raise AssertionError(
                f"{name}: {side} column {col!r} holds nested values "
                f"({type(v).__name__}) — flatten or serialize to JSON string"
            )


def _cell(v) -> str:
    """Canonical string for one cell, emulating the driver's stringify."""
    if v is None or v is pd.NaT:
        return "\x00null"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, pd.Timestamp):
        return str(v.to_pydatetime().replace(tzinfo=None))
    try:
        if pd.isna(v):
            return "\x00null"
    except (TypeError, ValueError):
        pass
    return str(v)


def _canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(_cell(row[c]) for c in cols)
        for row in df.to_dict("records")
    ]
    rows.sort()
    return rows


def fetch_spark(spark, spec, sf_dir: str) -> pd.DataFrame:
    """Run the Spark plan to pandas the way the driver does (logical
    types kept: decimals stay ``Decimal``)."""
    sdf = spec.fn(spark, sf_dir)
    _lint_spark_schema(spec.name, sdf)
    return sdf.toPandas()


def fetch_oracle(spec, sf_dir: str) -> pd.DataFrame:
    """Run the DuckDB oracle to pandas (decimals decay to float64)."""
    con = duckdb_connect(sf_dir)
    try:
        return con.execute(spec.oracle).df()
    finally:
        con.close()


def compare_frames(
    name: str, spdf: pd.DataFrame, ddf: pd.DataFrame, limit_diff: int = 5
) -> None:
    """Assert a Spark frame and an oracle frame are identical under the
    driver's canonicalization (order-insensitive, column-name sorted,
    stringified cells)."""
    _lint_frame(name, spdf, "spark")
    _lint_frame(name, ddf, "oracle")

    assert sorted(spdf.columns) == sorted(ddf.columns), (
        f"{name}: column mismatch spark={sorted(spdf.columns)} "
        f"duckdb={sorted(ddf.columns)}"
    )
    assert len(spdf) == len(ddf), (
        f"{name}: row count mismatch spark={len(spdf)} duckdb={len(ddf)}"
    )
    sn = _canon(spdf)
    dn = _canon(ddf)
    if sn != dn:
        cols = sorted(spdf.columns)
        diffs = []
        for a, b in zip(sn, dn):
            if a != b:
                cell_diffs = [
                    (c, x, y) for c, x, y in zip(cols, a, b) if x != y
                ]
                diffs.append(cell_diffs)
                if len(diffs) >= limit_diff:
                    break
        dset = set(dn)
        sset = set(sn)
        only_s = [r for r in sn if r not in dset][:limit_diff]
        only_d = [r for r in dn if r not in sset][:limit_diff]
        raise AssertionError(
            f"{name}: value mismatch\n"
            f"first per-cell diffs (col, spark, duckdb): {diffs}\n"
            f"spark-only rows: {only_s}\nduckdb-only rows: {only_d}"
        )


def compare_query(spark, spec, sf_dir: str, limit_diff: int = 5) -> None:
    """Assert the Spark result and DuckDB oracle result of ``spec`` are
    identical under the driver's canonicalization."""
    spdf = fetch_spark(spark, spec, sf_dir)
    compare_frames(spec.name, spdf, fetch_oracle(spec, sf_dir), limit_diff)
