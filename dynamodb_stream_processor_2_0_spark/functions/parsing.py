"""Scalar parse/projection helpers (reference: parseDynamoDBRecord and
friends, index.js:350-385, 528-579).

All JVM-side built-ins — no Python UDFs — so they stay inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

ISO_FORMAT = "yyyy-MM-dd'T'HH:mm:ss"


def json_int(col: str | Column, path: str) -> Column:
    """P2/P4: JSON field -> int with default (parseInt(x ?? '0'),
    index.js:367-368). try_cast keeps ANSI mode from failing the task on
    malformed payloads."""
    c = F.col(col) if isinstance(col, str) else col
    extracted = F.get_json_object(c, path)
    return F.coalesce(extracted.try_cast("int"), F.lit(0))


def json_double(col: str | Column, path: str) -> Column:
    """P2/P4: JSON field -> double with default (parseFloat, index.js:369-372)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.get_json_object(c, path).try_cast("double"), F.lit(0.0))


def iso_timestamp(col: str | Column) -> Column:
    """P6: ISO-8601 second-precision formatting (toISOString analog,
    index.js:99, 335)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, ISO_FORMAT)


def dedup_id(key: Column, email_like: Column) -> Column:
    """D5 sink dedup id: `${eventId}-${email.toLowerCase()}`
    (index.js:572)."""
    return F.concat_ws("-", key, F.lower(email_like))

