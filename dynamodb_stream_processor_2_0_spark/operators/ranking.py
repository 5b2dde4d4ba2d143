"""Scalable total-order ranking.

``F.row_number().over(Window.orderBy(...))`` with no PARTITION BY moves
every row to ONE task (Spark itself warns "this can cause serious
performance degradation") — a non-starter at 100 TB. ``global_rank``
produces the identical rank with no single-point bottleneck:

1. range-repartition on the order keys (parallel sampled sort — the
   same machinery as ``df.orderBy``), so partition i holds a contiguous
   key range and every row of partition i orders before partition i+1;
2. rank locally within each partition (window PARTITION BY the
   partition id — parallel);
3. add the total row count of preceding partitions: the per-partition
   counts are one row per partition, so the cumulative offset is a
   triangular self-join over ~``shuffle.partitions`` rows, broadcast
   back onto the data.

Consistency: the locally-ranked data is pinned with ``localCheckpoint``
BEFORE the offset side is derived from it. Without the pin, the offset
subtree is a column-pruned copy of the data subtree — not plan-identical,
so exchange reuse is NOT guaranteed, and when it fails the range
exchange executes twice with independently SAMPLED boundaries: local
ranks from boundary set A get offsets computed from boundary set B, and
the "rank" stops being a permutation (observed: 15000 rows, 14726
distinct ranks — plan-shape dependent, e.g. under toPandas/collect and
localCheckpoint consumers, while simple aggregates happened to reuse).
The checkpoint is one materialization of data that a global sort was
about to shuffle anyway — the boundaries, pids, and local ranks are
frozen and every consumer reads the same bytes.

The result is deterministic for ANY boundary placement as long as the
order key is total (callers must include a unique tiebreaker — same
rule as every ORDER BY feeding a rank in this engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "global_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = 1-based rank of the row under the total
    order ``order_cols``, computed without a single-partition window.
    ``order_cols`` must be a total order (include a unique tiebreaker)
    for the rank to be well-defined."""
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    local = (
        ranged.withColumn("_gr_pid", F.spark_partition_id())
        .withColumn(
            "_gr_local",
            F.row_number().over(W.partitionBy("_gr_pid").orderBy(*order_cols)),
        )
        # Pin boundaries/pids/local ranks before fanning out to the
        # offset subtree (see module docstring: sampled range boundaries
        # must not be re-drawn per consumer).
        .localCheckpoint()
    )
    counts = local.groupBy("_gr_pid").agg(F.count(F.lit(1)).alias("_gr_n"))
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (
        a.join(b, F.col("b._gr_pid") < F.col("a._gr_pid"), "left")
        .groupBy(F.col("a._gr_pid").alias("_gr_pid"))
        .agg(F.coalesce(F.sum("b._gr_n"), F.lit(0)).alias("_gr_offset"))
    )
    return (
        local.join(F.broadcast(offsets), "_gr_pid")
        .withColumn(out_col, (F.col("_gr_local") + F.col("_gr_offset")).cast("long"))
        .drop("_gr_pid", "_gr_local", "_gr_offset")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """Append ``out_col`` = inclusive prefix sum of ``value_col`` under
    the total order ``order_cols`` — the distributed scan primitive
    (shard/byte-offset assignment, cumulative budgets) — with the same
    no-single-task shape as ``global_rank``: range exchange, per-
    partition window, broadcast per-partition totals; the locally-
    scanned data is pinned before the offset subtree derives from it
    (same boundary-consistency argument as global_rank)."""
    return global_running_sums(df, order_cols, [(value_col, out_col)])


def global_running_sums(
    df: DataFrame,
    order_cols: list[str],
    value_out_cols: list[tuple[str, str]],
) -> DataFrame:
    """``global_running_sum`` over SEVERAL value columns in ONE pass:
    one range exchange, one per-partition scan, one pinned
    materialization, one broadcast offset table carrying every
    column's per-partition totals. Callers that need k prefix sums
    under the same total order (e.g. cumulative row count AND
    cumulative positives for a CDF/split-finder) would otherwise pay
    k sequential exchanges over data already sorted the right way.
    ``value_out_cols`` is ``[(value_col, out_col), ...]``."""
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    scan = (
        W.partitionBy("_gs_pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = ranged.withColumn("_gs_pid", F.spark_partition_id())
    for i, (vcol, _) in enumerate(value_out_cols):
        local = local.withColumn(f"_gs_local_{i}", F.sum(vcol).over(scan))
    local = local.localCheckpoint()
    totals = local.groupBy("_gs_pid").agg(
        *[
            F.sum(vcol).alias(f"_gs_t_{i}")
            for i, (vcol, _) in enumerate(value_out_cols)
        ]
    )
    a, b = totals.alias("a"), totals.alias("b")
    offsets = (
        a.join(b, F.col("b._gs_pid") < F.col("a._gs_pid"), "left")
        .groupBy(F.col("a._gs_pid").alias("_gs_pid"))
        .agg(
            *[
                F.coalesce(F.sum(f"b._gs_t_{i}"), F.lit(0)).alias(f"_gs_offset_{i}")
                for i in range(len(value_out_cols))
            ]
        )
    )
    out = local.join(F.broadcast(offsets), "_gs_pid")
    for i, (_, ocol) in enumerate(value_out_cols):
        out = out.withColumn(ocol, F.col(f"_gs_local_{i}") + F.col(f"_gs_offset_{i}"))
    return out.drop(
        "_gs_pid",
        *[f"_gs_local_{i}" for i in range(len(value_out_cols))],
        *[f"_gs_offset_{i}" for i in range(len(value_out_cols))],
    )
