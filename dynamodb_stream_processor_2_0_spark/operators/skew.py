"""Skew-mitigation utilities: salted two-phase aggregation and a
salted replicate-join.

The reference's per-key processing never faces skew (one Lambda row at
a time); a 100 TB Spark run does — a hot key (bot user, empty-string
dedup key, null join key) concentrates a reducer. AQE's skew-join
handles sort-merge cases at runtime; these helpers cover the two
patterns AQE does not: hot-key hash AGGREGATION (phase 1 spreads a key
over ``n_salts`` reducers and phase 2 merges the partials — correct for
any algebraic aggregate) and broadcast-averse joins where the small
side is replicated per salt instead of shuffled.

The salt is ``pmod(hash(id), n)`` — deterministic, so retried tasks
re-produce identical partitions (required for exactly-once sinks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, entropy_col: str, n_salts: int) -> DataFrame:
    """Deterministic salt in [0, n_salts) derived from a high-entropy
    column (row id, payload hash) — NOT from the hot key itself."""
    return df.withColumn(SALT_COL, F.pmod(F.xxhash64(F.col(entropy_col)), F.lit(n_salts)))


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    entropy_col: str,
    n_salts: int,
    partial: dict[str, Column],
    final: dict[str, Column],
) -> DataFrame:
    """Two-phase aggregation: groupBy(keys + salt) computes ``partial``
    (each a map-side-combinable aggregate), then groupBy(keys) merges
    with ``final`` (expressions over the partial column names). A hot
    key's rows land on ``n_salts`` reducers in phase 1; phase 2 only
    sees ``n_salts`` rows per key."""
    phase1 = (
        with_salt(df, entropy_col, n_salts)
        .groupBy(*keys, SALT_COL)
        .agg(*[c.alias(name) for name, c in partial.items()])
    )
    return phase1.groupBy(*keys).agg(*[c.alias(name) for name, c in final.items()])


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    entropy_col: str,
    n_salts: int,
) -> DataFrame:
    """Skew-resistant equi-join: the big side is salted, the small side
    replicated once per salt value, and the join key becomes
    (on, salt) — a hot key's rows now spread over ``n_salts`` tasks.
    Use when the small side is too big to broadcast and AQE's
    skew-split can't kick in (e.g. forced shuffle-hash)."""
    salted_big = with_salt(big, entropy_col, n_salts)
    replicated = small.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn(SALT_COL, F.col(SALT_COL).cast("bigint"))
    return salted_big.join(replicated, [on, SALT_COL]).drop(SALT_COL)
