"""Advanced scale-pattern queries: runtime-filter joins, exact and
approximate distributional aggregates, null-safe join semantics, and
sub-document (paragraph-level) dedup.

These extend the reference's surface (SURVEY.md §2.7 verified these
absent) with the patterns a 100 TB training-data pipeline needs: a
broadcast bitmap semi-join is the manual form of the runtime row-group
filter, exact/approx percentile pins cross-engine distributional
semantics, and paragraph-level dedup is the sub-document analog of the
reference's per-record dedup guard (index.js:107-141).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table


@register(
    "bitmap_semi_join_runtime_filter",
    oracle="""
        SELECT c.c_mktsegment,
               count(*) AS n_customers,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_acctbal
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
        )
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
    tags=("relational", "join", "scale", "D3"),
    doc="Broadcast bitmap semi-join: the dim-side key set is packed into "
    "a (bucket -> 64-bit mask) bitmap (64x smaller than a broadcast key "
    "set), and the fact side is filtered with one broadcast-hash-join + "
    "bit test. Same pattern as the reference's existence probe "
    "(checkEmailJobExists, index.js:107-141) but expressed as a "
    "runtime filter that scales to 1e9 dim keys (~2 MB/1e6 keys).",
)
def bitmap_semi_join_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    # Dense integer keys: bucket = key >> 6, mask bit = key & 63. The
    # bitmap agg is map-side combinable (bit_or), so the shuffle moves
    # at most |distinct buckets| longs regardless of orders row count.
    dim_bits = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.shiftright("o_custkey", 6).alias("bucket"),
            F.expr("shiftleft(1L, int(o_custkey % 64))").alias("bit"),
        )
        .groupBy("bucket")
        .agg(F.bit_or("bit").alias("mask"))
    )
    probed = customer.join(
        F.broadcast(dim_bits),
        F.shiftright(F.col("c_custkey"), 6) == F.col("bucket"),
        "inner",
    ).filter(
        F.col("mask").bitwiseAND(F.expr("shiftleft(1L, int(c_custkey % 64))")) != 0
    )
    return (
        probed.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_exact_percentiles",
    oracle="""
        SELECT event_type,
               CAST(quantile_cont(value, 0.25) AS DOUBLE) AS p25,
               CAST(quantile_cont(value, 0.50) AS DOUBLE) AS p50,
               CAST(quantile_cont(value, 0.75) AS DOUBLE) AS p75,
               count(value) AS n_values
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("aggregation", "A1", "llm"),
    doc="Exact interpolated percentiles per group (linear interpolation "
    "at rank p*(n-1), the quantile_cont definition both engines share). "
    "Exact percentile is a full-sort-per-group operator; the scale path "
    "for 100 TB is approx_stats_scale_path's KLL/GK sketch — this query "
    "pins the exact semantics the sketch approximates.",
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.percentile("value", 0.25).alias("p25"),
            F.percentile("value", 0.50).alias("p50"),
            F.percentile("value", 0.75).alias("p75"),
            F.count("value").alias("n_values"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_hll_accuracy_pinned",
    oracle="""
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS hll_within_5pct
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("aggregation", "A1", "scale"),
    doc="HyperLogLog++ approximate distinct with the accuracy claim "
    "inside the gate: the query outputs the exact count AND a boolean "
    "asserting the HLL estimate (rsd=2%) landed within 5% of it. HLL is "
    "deterministic and merge-associative (register-max), so the flag is "
    "stable across partitionings — at 100 TB the approx path is one "
    "map-side-combinable pass vs the exact path's two-stage shuffle.",
)
def agg_hll_accuracy_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # Exact side via the Expand-free two-stage distinct; approx side via
    # HLL in the same second stage (merging per-(type,user) partials
    # over-counts nothing because user_id is already unique per group).
    per_user = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.count_if(F.col("user_id").isNotNull()).alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("_hll"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_hll") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("hll_within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "nullsafe_join_dispositions",
    oracle="""
        WITH keyed AS (
            SELECT nullif(event_type, 'error') AS k, value FROM events
        ), dim AS (
            SELECT k, count(*) AS n_dim FROM keyed GROUP BY k
        )
        SELECT coalesce(e.k, '<null>') AS k_disp,
               count(*) AS n_rows,
               max(d.n_dim) AS n_dim,
               count(e.value) AS n_values
        FROM keyed e
        JOIN dim d ON e.k IS NOT DISTINCT FROM d.k
        GROUP BY coalesce(e.k, '<null>')
        ORDER BY k_disp
    """,
    tags=("relational", "join", "F2"),
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match each other instead of dropping, mirroring the reference's "
    "treatment of absent attributes as first-class values "
    "(index.js:167-190 null guards). A plain equi-join silently loses "
    "the NULL partition; the null-safe form keeps it and still plans as "
    "a hash join on the coalesced key.",
)
def nullsafe_join_dispositions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        F.nullif("event_type", F.lit("error")).alias("k"), "value"
    )
    dim = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("n_dim"))
    joined = keyed.alias("e").join(
        F.broadcast(dim).alias("d"), F.col("e.k").eqNullSafe(F.col("d.k")), "inner"
    )
    return (
        joined.groupBy(F.coalesce(F.col("e.k"), F.lit("<null>")).alias("k_disp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("d.n_dim").alias("n_dim"),
            F.count("e.value").alias("n_values"),
        )
        .orderBy("k_disp")
    )


@register(
    "dedup_paragraph_exact",
    oracle="""
        WITH sents AS (
            SELECT doc_id, unnest(string_split(text, '. ')) AS sent
            FROM documents
        ), counted AS (
            SELECT sent, count(*) AS n_global FROM sents GROUP BY sent
        )
        SELECT s.doc_id,
               count(*) AS n_sents,
               CAST(count_if(c.n_global > 1) AS BIGINT) AS n_dup_sents,
               CAST(count_if(c.n_global > 1) AS DOUBLE) / count(*)
                   AS dup_frac
        FROM sents s JOIN counted c ON s.sent = c.sent
        GROUP BY s.doc_id
        ORDER BY s.doc_id
    """,
    tags=("dedup", "text", "llm", "D5"),
    doc="Sub-document (sentence/paragraph-level) exact dedup: explode "
    "units, count global occurrences, score each doc by its duplicated "
    "fraction — the unit-level analog of the reference's record-level "
    "dedup guard (index.js:107-141). Scale shape: two shuffles on the "
    "unit hash; at 100 TB the join key would be xxhash64(sent) to keep "
    "shuffle rows narrow instead of shipping full sentence strings.",
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sents = docs.select(
        "doc_id", F.explode(F.split("text", r"\. ")).alias("sent")
    )
    counted = sents.groupBy("sent").agg(F.count(F.lit(1)).alias("n_global"))
    return (
        sents.join(counted, "sent")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sents"),
            F.count_if(F.col("n_global") > 1).alias("n_dup_sents"),
            (
                F.count_if(F.col("n_global") > 1).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "table_integrity_checksum",
    oracle="""
        WITH h AS (
            SELECT bit_xor(CAST('0x' || substr(md5(concat_ws('|',
                       CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
                       event_type)), 1, 15) AS BIGINT)) AS checksum,
                   count(*) AS n_rows
            FROM events
        ), h2 AS (
            SELECT bit_xor(CAST('0x' || substr(md5(concat_ws('|',
                       CAST(o_orderkey AS VARCHAR), o_orderstatus,
                       o_orderpriority)), 1, 15) AS BIGINT))
                       AS checksum,
                   count(*) AS n_rows
            FROM orders
        )
        SELECT 'events' AS table_name, n_rows, checksum FROM h
        UNION ALL
        SELECT 'orders' AS table_name, n_rows, checksum FROM h2
        ORDER BY table_name
    """,
    tags=("quality", "aggregation", "scale", "A1"),
    doc="Distributed table checksum: bit_xor of a per-row content hash "
    "(md5 prefix as int) — order- and partition-independent, one "
    "map-side-combinable pass, so two clusters (or two engine versions) "
    "can certify a 100 TB table equal with 16 bytes of exchange. The "
    "job-level integrity analog of the reference's per-record "
    "verification (index.js:124-141).",
)
def table_integrity_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    def table_sum(df, cols, name):
        row_hash = F.conv(
            F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10
        ).cast("long")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(row_hash).alias("checksum"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "checksum")

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return table_sum(
        events,
        [
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
        ],
        "events",
    ).unionAll(
        table_sum(
            orders,
            [
                F.col("o_orderkey").cast("string"),
                F.col("o_orderstatus"),
                F.col("o_orderpriority"),
            ],
            "orders",
        )
    ).orderBy("table_name")


@register(
    "data_quality_profile",
    oracle="""
        SELECT event_type,
               count(*) AS n_rows,
               CAST(count(*) - count(user_id) AS BIGINT) AS null_users,
               CAST(count(*) - count(value) AS BIGINT) AS null_values,
               CAST(count(*) - count(props) AS BIGINT) AS null_props,
               CAST(min(value) AS DOUBLE) AS min_value,
               CAST(max(value) AS DOUBLE) AS max_value,
               CAST(count_if(value < 0) AS BIGINT) AS n_negative,
               CAST(count_if(length(props) > 0
                             AND json_valid(props) = FALSE) AS BIGINT)
                   AS n_corrupt_json
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("quality", "aggregation", "F7", "E1"),
    doc="Data-quality profile: per-partition-key null rates, value "
    "ranges, constraint violations (negative values), and corrupt-JSON "
    "counts in one pass — the batch form of the reference's per-record "
    "required-field validation and error tallying (index.js:167-190, "
    "617-656). One map-side-combinable aggregation; at 100 TB this is "
    "the pre-flight gate a pipeline runs before committing a snapshot.",
)
def data_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    return (
        events.groupBy("event_type")
        .agg(
            n.alias("n_rows"),
            (n - F.count("user_id")).alias("null_users"),
            (n - F.count("value")).alias("null_values"),
            (n - F.count("props")).alias("null_props"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count_if(F.col("value") < 0).alias("n_negative"),
            F.count_if(
                (F.length("props") > 0)
                & F.get_json_object("props", "$").isNull()
            ).alias("n_corrupt_json"),
        )
        .orderBy("event_type")
    )


@register(
    "sql_scripting_coverage_walk",
    oracle="""
        WITH hist AS (
            SELECT length(bin(CAST(floor(o_totalprice) AS BIGINT))) AS b,
                   count(*) AS c
            FROM orders GROUP BY b
        ), t AS (SELECT sum(c) AS total FROM hist),
        ks AS (SELECT unnest(range(1, 64)) AS k),
        cov AS (
            SELECT k,
                   (SELECT COALESCE(sum(c), 0) FROM hist WHERE b <= k) AS c
            FROM ks
        )
        SELECT k, CAST(power(2, k) AS DOUBLE) AS threshold,
               CAST(c AS DOUBLE) / total AS coverage
        FROM cov, t
        WHERE c * 100 >= total * 95
        ORDER BY k LIMIT 1
    """,
    tags=("sql-api", "scripting"),
    doc="Spark 4 SQL scripting (BEGIN/DECLARE/SET/WHILE): a procedural "
    "doubling-threshold walk that finds the smallest power-of-two price "
    "cap covering >= 95% of orders (strict p < 2^k rule) — control "
    "flow the declarative dialect can't express in one statement. The "
    "distributed work is ONE scan: a <= 64-row log2 histogram "
    "(bucketed by length(bin(floor(price))) — pure integer bit-length, "
    "no log2() whose libm rounding could flip a bucket at exact powers "
    "of two), collected and re-registered as a local relation; the "
    "WHILE loop BISECTS over that in-memory histogram (6 iterations "
    "for the 63-bucket range instead of a linear walk's ~19 — each "
    "scripting statement is a driver-scheduled job, so iteration "
    "count, not data size, is the loop's cost), making loop cost "
    "independent of corpus size (an earlier version re-counted the "
    "full table per iteration: 19 scans, 6.3 s at sf0.1 and a "
    "non-starter at 100 TB). The oracle proves bisection-exit == "
    "min-k because cumulative coverage is monotone in k. SQL "
    "scripting is on by default in Spark 4.1, so no session conf is "
    "touched.",
)
def sql_scripting_coverage_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # One distributed job: log2-bucket histogram, <= 64 rows. p < 2^k
    # iff bit_length(floor(p)) <= k — exact integer arithmetic.
    hist = (
        orders.select(
            F.length(
                F.bin(F.floor("o_totalprice").cast("long"))
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    spark.createDataFrame(hist, "b int, c long").createOrReplaceTempView(
        "order_price_hist"
    )
    return spark.sql(
        """
        BEGIN
          DECLARE lo INT DEFAULT 1;
          DECLARE hi INT DEFAULT 63;
          DECLARE mid INT;
          DECLARE total BIGINT;
          DECLARE cov BIGINT DEFAULT 0;
          SET total = (SELECT sum(c) FROM order_price_hist);
          WHILE lo < hi DO
            SET mid = (lo + hi) DIV 2;
            SET cov = (SELECT COALESCE(sum(c), 0)
                       FROM order_price_hist WHERE b <= mid);
            IF cov * 100 >= total * 95 THEN
              SET hi = mid;
            ELSE
              SET lo = mid + 1;
            END IF;
          END WHILE;
          SET cov = (SELECT COALESCE(sum(c), 0)
                     FROM order_price_hist WHERE b <= lo);
          SELECT lo AS k, CAST(power(2, lo) AS DOUBLE) AS threshold,
                 CAST(cov AS DOUBLE) / total AS coverage;
        END
        """
    )


def _interleave_sql(x: str, y: str) -> str:
    """Morton (Z-order) bit interleave: x in even bit positions, y in
    odd — identical << >> & operator semantics in Spark SQL and DuckDB."""
    terms = []
    for b in range(16):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


@register(
    "zorder_layout_stats",
    oracle=f"""
        WITH keyed AS (
            SELECT o_orderkey,
                   o_custkey % 65536 AS x,
                   CAST(datediff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT)
                       % 65536 AS y
            FROM orders
        ), zed AS (
            SELECT o_orderkey, x, y,
                   {_interleave_sql("x", "y")} AS z
            FROM keyed
        ), ranked AS (
            SELECT x, y,
                   ROW_NUMBER() OVER (ORDER BY z, o_orderkey) AS rnk,
                   count(*) OVER () AS n
            FROM zed
        ), bucketed AS (
            SELECT ((rnk - 1) * 64) // n AS bucket, x, y FROM ranked
        )
        SELECT bucket, count(*) AS n_rows,
               min(x) AS min_x, max(x) AS max_x,
               min(y) AS min_y, max(y) AS max_y,
               max(x) - min(x) AS span_x,
               max(y) - min(y) AS span_y
        FROM bucketed GROUP BY bucket
        ORDER BY bucket
    """,
    tags=("layout", "zorder", "scale", "data-ops"),
    doc="Z-order (Morton-curve) layout planning: interleave the bits of "
    "two filter dimensions (customer, order-day), split the curve into "
    "64 equal file-sized buckets, and report each bucket's min/max span "
    "per dimension — the file-skipping statistics a Delta/Iceberg "
    "OPTIMIZE ZORDER write would produce. Narrow spans on BOTH "
    "dimensions are what let a scan prune files for predicates on "
    "EITHER column; a single-column sort gives narrow spans on one "
    "dimension and full-range spans on the other.",
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curve split uses the range-partitioned global_rank (no
    single-task window — the same scalable total-order machinery as
    corpus_shuffle_interleave); the bucket stats are one map-side-
    combined groupBy over 64 keys. At 100 TB this IS the write path of
    a z-ordered table: range-partition by z, write per partition,
    collect footer min/max."""
    from dynamodb_stream_processor_2_0_spark.operators.ranking import global_rank

    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).alias("x"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
            .cast("long")
            % 65536
        ).alias("y"),
    )
    zed = keyed.withColumn("z", F.expr(_interleave_sql("x", "y")))
    ranked = global_rank(zed, ["z", "o_orderkey"], out_col="rnk")
    n = ranked.count()
    bucketed = ranked.withColumn(
        "bucket", F.expr(f"((rnk - 1) * 64) div {n}L")
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            (F.max("x") - F.min("x")).alias("span_x"),
            (F.max("y") - F.min("y")).alias("span_y"),
        )
        .orderBy("bucket")
    )


@register(
    "sketch_reaggregate_rollup",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS day
            FROM events GROUP BY 1, 2
        )
        SELECT e.event_type,
               (SELECT count(*) FROM daily d
                WHERE d.event_type = e.event_type) AS n_days,
               count(DISTINCT e.user_id) AS exact_users,
               TRUE AS sketch_within_5pct
        FROM events e
        GROUP BY e.event_type
        ORDER BY e.event_type
    """,
    tags=("aggregation", "sketch", "scale", "A1"),
    doc="Re-aggregatable distinct sketches (Apache DataSketches HLL via "
    "Spark's hll_sketch_agg/hll_union_agg): per-(type, day) binary "
    "sketches are built once, then MERGED across days per type and "
    "estimated — the pre-aggregated-cube pattern that answers "
    "arbitrary-range distinct questions at 100 TB without rescanning "
    "raw events. The estimate's 5%-accuracy claim sits inside the "
    "oracle gate next to the exact count, so the sketch path is "
    "regression-tested, not trusted.",
)
def sketch_reaggregate_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two shuffles: the daily sketch build (map-side combinable —
    sketches merge associatively) and the per-type union of |days|
    sketch blobs (a few KB each). The exact arm exists for the gate;
    production reads ONLY the daily sketch table."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    rolled = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        rolled.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("_est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("sketch_within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "drift_chisquare_by_type",
    oracle="""
        WITH halved AS (
            SELECT event_type,
                   CAST(datediff('day', DATE '1992-01-01', CAST(ts AS DATE))
                        % 2 AS INTEGER) AS half,
                   least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bucket
            FROM events
        ), cnt AS (
            SELECT event_type, bucket,
                   count(*) FILTER (WHERE half = 0) AS n1,
                   count(*) FILTER (WHERE half = 1) AS n2
            FROM halved GROUP BY event_type, bucket
        ), tot AS (
            SELECT event_type, sum(n1) AS s1, sum(n2) AS s2
            FROM cnt GROUP BY event_type
        ), contrib AS (
            SELECT c.event_type, c.bucket,
                   CASE WHEN c.n1 > 0 AND t.s1 > 0 AND t.s2 > 0 THEN
                       CAST(POWER(CAST(c.n2 * t.s1 - c.n1 * t.s2 AS DOUBLE), 2)
                            AS DOUBLE)
                       / (CAST(c.n1 AS DOUBLE) * CAST(t.s2 AS DOUBLE)
                          * CAST(t.s1 AS DOUBLE))
                   ELSE 0.0 END AS chi2_term
            FROM cnt c JOIN tot t USING (event_type)
        )
        SELECT event_type,
               count(*) AS n_buckets,
               CAST(sum(CAST(round(chi2_term * 100000000.0) AS BIGINT))
                    AS DOUBLE) / 100000000.0 AS chi2
        FROM contrib
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("aggregation", "drift", "stats", "llm", "A1"),
    doc="Distribution-drift detection per event type: value histograms "
    "of alternating days (even vs odd day index — a tz-free A/B split "
    "that doubles as a null test) compared with a chi-square statistic. Per-bucket terms use only exact integer "
    "cross-products and exactly-rounded double division (no log/exp, "
    "unlike PSI/KL), and the final sum rides the 1e-8 integer grid "
    "(the covariance-stats trick), so the statistic is bit-identical "
    "regardless of shuffle order — drift monitoring a gate can check.",
)
def drift_chisquare_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two map-side-combined shuffles (bucket counts, per-type totals)
    and a broadcast-size join back — histogram compare never touches
    raw rows twice. The split key is DATE arithmetic (timezone-free on
    TIMESTAMP_NTZ in both engines); a timestamp-midpoint split was
    measured fragile (interval halving differs at microsecond grain).
    At 100 TB this runs per ingest batch against the trailing
    reference window."""
    events = load_table(spark, sf_dir, "events")
    halved = events.select(
        "event_type",
        (
            F.datediff(F.to_date("ts"), F.lit("1992-01-01").cast("date")) % 2
        ).alias("half"),
        F.least(
            F.floor(F.col("value") / 50.0).cast("long"), F.lit(9).cast("long")
        ).alias("bucket"),
    )
    cnt = halved.groupBy("event_type", "bucket").agg(
        F.count_if(F.col("half") == 0).alias("n1"),
        F.count_if(F.col("half") == 1).alias("n2"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("n1").alias("s1"), F.sum("n2").alias("s2")
    )
    term = F.when(
        (F.col("n1") > 0) & (F.col("s1") > 0) & (F.col("s2") > 0),
        F.pow(
            (F.col("n2") * F.col("s1") - F.col("n1") * F.col("s2")).cast(
                "double"
            ),
            2,
        )
        / (
            F.col("n1").cast("double")
            * F.col("s2").cast("double")
            * F.col("s1").cast("double")
        ),
    ).otherwise(0.0)
    return (
        cnt.join(F.broadcast(tot), "event_type")
        .select("event_type", "bucket", term.alias("chi2_term"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            (
                F.sum(
                    F.round(F.col("chi2_term") * 100000000.0).cast("long")
                ).cast("double")
                / 100000000.0
            ).alias("chi2"),
        )
        .orderBy("event_type")
    )


@register(
    "zorder_vs_linear_skipping",
    oracle=f"""
        WITH keyed AS (
            SELECT o_orderkey,
                   o_custkey % 65536 AS x,
                   CAST(datediff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT)
                       % 65536 AS y
            FROM orders
        ), zed AS (
            SELECT o_orderkey, x, y,
                   {_interleave_sql("x", "y")} AS z
            FROM keyed
        ), rz AS (
            SELECT x, y, ROW_NUMBER() OVER (ORDER BY z, o_orderkey) AS rnk,
                   count(*) OVER () AS n
            FROM zed
        ), rx AS (
            SELECT x, y, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS rnk,
                   count(*) OVER () AS n
            FROM zed
        ), stats AS (
            SELECT 'zorder' AS layout, ((rnk - 1) * 64) // n AS bucket,
                   min(x) AS min_x, max(x) AS max_x,
                   min(y) AS min_y, max(y) AS max_y
            FROM rz GROUP BY 1, 2
            UNION ALL
            SELECT 'linear_x' AS layout, ((rnk - 1) * 64) // n AS bucket,
                   min(x), max(x), min(y), max(y)
            FROM rx GROUP BY 1, 2
        )
        SELECT layout,
               count(*) AS n_buckets,
               CAST(sum(max_x - min_x) AS DOUBLE) / count(*) AS mean_span_x,
               CAST(sum(max_y - min_y) AS DOUBLE) / count(*) AS mean_span_y,
               count(*) FILTER (WHERE min_x <= 700 AND 700 <= max_x)
                   AS buckets_hit_x700,
               count(*) FILTER (WHERE min_y <= 1200 AND 1200 <= max_y)
                   AS buckets_hit_y1200
        FROM stats
        GROUP BY layout
        ORDER BY layout
    """,
    tags=("layout", "zorder", "scale", "data-ops", "eval"),
    doc="Z-order vs single-column-sort layout, the skipping claim "
    "PROVEN in-query: both layouts split into 64 file-sized buckets "
    "and the summary reports mean per-dimension span plus how many "
    "buckets a point predicate on EITHER dimension would have to read. "
    "linear_x gives near-zero x-spans but full-range y-spans (a y "
    "predicate reads every file); z-order pays a moderate x-span to "
    "make both dimensions skippable — the measured trade behind "
    "OPTIMIZE ZORDER.",
)
def zorder_vs_linear_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two global_rank passes (range exchange + window each) and one
    64x2-key groupBy; both layouts share the keyed/interleaved scan
    subtree."""
    from dynamodb_stream_processor_2_0_spark.operators.ranking import global_rank

    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).alias("x"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1992-01-01").cast("date"),
            ).cast("long")
            % 65536
        ).alias("y"),
    )
    zed = keyed.withColumn("z", F.expr(_interleave_sql("x", "y"))).localCheckpoint()
    n = zed.count()

    def bucketed(df, order_cols, layout):
        ranked = global_rank(df, order_cols, out_col="rnk")
        return (
            ranked.withColumn("bucket", F.expr(f"((rnk - 1) * 64) div {n}L"))
            .groupBy("bucket")
            .agg(
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
                F.min("y").alias("min_y"),
                F.max("y").alias("max_y"),
            )
            .withColumn("layout", F.lit(layout))
        )

    stats = bucketed(zed, ["z", "o_orderkey"], "zorder").unionByName(
        bucketed(zed, ["x", "o_orderkey"], "linear_x")
    )
    return (
        stats.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            (
                F.sum(F.col("max_x") - F.col("min_x")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_span_x"),
            (
                F.sum(F.col("max_y") - F.col("min_y")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_span_y"),
            F.count_if(
                (F.col("min_x") <= 700) & (F.lit(700) <= F.col("max_x"))
            ).alias("buckets_hit_x700"),
            F.count_if(
                (F.col("min_y") <= 1200) & (F.lit(1200) <= F.col("max_y"))
            ).alias("buckets_hit_y1200"),
        )
        .orderBy("layout")
    )


@register(
    "agg_winsorized_stats",
    oracle="""
        WITH bounds AS (
            SELECT event_type,
                   CAST(quantile_cont(value, 0.05) AS DOUBLE) AS lo,
                   CAST(quantile_cont(value, 0.95) AS DOUBLE) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               count(*) AS n_events,
               count(*) FILTER (WHERE e.value < b.lo OR e.value > b.hi)
                   AS n_clamped,
               CAST(sum(CAST(least(greatest(e.value, b.lo), b.hi)
                             AS DECIMAL(18,6))) AS DOUBLE) AS winsorized_sum,
               CAST(sum(CAST(least(greatest(e.value, b.lo), b.hi)
                             AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                   AS winsorized_mean
        FROM events e JOIN bounds b USING (event_type)
        GROUP BY e.event_type
        ORDER BY e.event_type
    """,
    tags=("aggregation", "robust", "llm", "A1"),
    doc="Winsorized (p5/p95-clamped) per-group statistics — the robust "
    "preprocessing step that keeps a handful of outliers from owning a "
    "mean. Exact interpolated quantiles feed an exact DECIMAL clamp "
    "sum, so the robust mean is order-independent and gate-checkable; "
    "at 100 TB the quantile arm swaps for the KLL sketch while the "
    "clamp pass is unchanged.",
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two shuffles: the per-group quantiles (sort-per-group, the exact
    arm) and the clamp aggregation; bounds are a 5-row broadcast."""
    events = load_table(spark, sf_dir, "events")
    bounds = events.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("lo"),
        F.percentile("value", 0.95).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        events.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_if(
                (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
            ).alias("n_clamped"),
            F.sum(clamped.cast("decimal(18,6)"))
            .cast("double")
            .alias("winsorized_sum"),
            (
                F.sum(clamped.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


@register(
    "timeseries_twap_per_user",
    oracle="""
        WITH spans AS (
            SELECT user_id,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   (epoch_us(lead(ts) OVER w) - epoch_us(ts)) // 1000000
                       AS dur_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               count(*) AS n_spans,
               CAST(sum(dur_s) AS BIGINT) AS total_s,
               CAST(sum(cents * dur_s) AS DOUBLE)
                   / CAST(sum(dur_s) AS DOUBLE) / 100.0 AS twap
        FROM spans
        WHERE dur_s IS NOT NULL AND dur_s > 0
        GROUP BY user_id
    """,
    tags=("timeseries", "twap", "A1"),
    doc="Time-weighted average price/value per user (TWAP): each "
    "event's value holds until the next event; weights are exact "
    "BIGINT microsecond durations from the event-time lead, the "
    "weighted sum is an exact integer product sum, and only the final "
    "division runs in double — the standard financial/telemetry "
    "aggregate made order-independent and gate-checkable. Durations "
    "are whole seconds from TIMESTAMP_NTZ interval arithmetic — "
    "calendar-free, so no DST-crossing span can diverge between a "
    "tz-pinned session and the oracle's epoch view (the epoch_us "
    "formulation was replaced for exactly that hazard).",
)
def timeseries_twap_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on user_id (the lead window); the aggregation reuses
    the same partitioning — no second exchange."""
    events = load_table(spark, sf_dir, "events")
    spans = events.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        # NTZ interval cast: whole seconds, calendar-free (no DST
        # dependence); truncation == DuckDB's floor for positive spans.
        F.expr("CAST(lead(ts) OVER (PARTITION BY user_id "
               "ORDER BY ts, event_id) - ts AS LONG)").alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull() & (F.col("dur_s") > 0))
    return spans.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("dur_s").alias("total_s"),
        (
            F.sum(F.col("cents") * F.col("dur_s")).cast("double")
            / F.sum("dur_s").cast("double")
            / F.lit(100.0)
        ).alias("twap"),
    )


@register(
    "pii_pseudonymize_consistent",
    oracle="""
        WITH surro AS (
            SELECT c_custkey,
                   'cust_' || substr(md5('name:' || c_name), 1, 12)
                       AS name_token,
                   'geo_' || substr(md5('nation:' ||
                       CAST(c_nationkey AS VARCHAR)), 1, 8) AS geo_token,
                   c_mktsegment
            FROM customer
        ), joined AS (
            SELECT s.name_token, s.geo_token, s.c_mktsegment,
                   count(o.o_orderkey) AS n_orders,
                   CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS revenue_cents
            FROM surro s
            LEFT JOIN orders o ON o.o_custkey = s.c_custkey
            GROUP BY s.name_token, s.geo_token, s.c_mktsegment
        )
        SELECT name_token, geo_token, c_mktsegment, n_orders,
               COALESCE(revenue_cents, 0) AS revenue_cents
        FROM joined
    """,
    tags=("data-ops", "privacy", "P5", "P3"),
    doc="Join-preserving PII pseudonymization: names replaced by "
    "salted-md5 surrogate tokens and nation generalized to a geo token (deterministic — the same identity "
    "always maps to the same token, so cross-table analytics still "
    "aggregate correctly) and the per-customer order rollup is "
    "computed THROUGH the pseudonymized table, proving the analytics "
    "survive tokenization. The governance step every shared/exported "
    "dataset needs; the reference's key-building concat (index.js:572) "
    "is the same surrogate pattern without the privacy intent.",
)
def pii_pseudonymize_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only tokenization; the rollup join keys on the ORIGINAL
    numeric custkey (surrogates never enter a shuffle key, so the plan
    is the plain dim join)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    surro = customer.select(
        "c_custkey",
        F.concat(
            F.lit("cust_"),
            F.substring(F.md5(F.concat(F.lit("name:"), F.col("c_name"))), 1, 12),
        ).alias("name_token"),
        F.concat(
            F.lit("geo_"),
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("nation:"), F.col("c_nationkey").cast("string")
                    )
                ),
                1,
                8,
            ),
        ).alias("geo_token"),
        "c_mktsegment",
    )
    return (
        surro.join(orders, surro["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("name_token", "geo_token", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
                F.lit(0).cast("long"),
            ).alias("revenue_cents"),
        )
    )


@register(
    "data_contract_check",
    oracle="""
        WITH checks AS (
            SELECT 'o_totalprice_positive' AS rule_id,
                   count(*) AS n_checked,
                   count(*) FILTER (WHERE o_totalprice <= 0) AS n_violations
            FROM orders
            UNION ALL
            SELECT 'o_orderdate_in_range',
                   count(*),
                   count(*) FILTER (
                       WHERE o_orderdate < TIMESTAMP '1992-01-01 00:00:00'
                          OR o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus_in_domain',
                   count(*),
                   count(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
            FROM orders
            UNION ALL
            SELECT 'o_custkey_fk_resolves',
                   count(*),
                   count(*) FILTER (WHERE c.c_custkey IS NULL)
            FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
            UNION ALL
            SELECT 'o_orderkey_unique',
                   (SELECT count(*) FROM orders),
                   (SELECT count(*) FROM orders)
                   - (SELECT count(DISTINCT o_orderkey) FROM orders)
        )
        SELECT rule_id, n_checked, n_violations,
               n_violations = 0 AS passed
        FROM checks
        ORDER BY rule_id
    """,
    tags=("data-ops", "integrity", "contract", "F7", "E1"),
    doc="Declarative data-contract validation (the dbt-tests shape): "
    "range, domain, referential, and uniqueness rules evaluated in one "
    "pass each, reported as a per-rule ledger (checked / violations / "
    "passed) instead of failing the load — the dataset-level form of "
    "the reference's tag-don't-drop record validation "
    "(validateMatchResult, index.js:387-398). New rules are one UNION "
    "branch; each is a scan-local aggregate except the FK probe "
    "(broadcast dim anti-pattern check).",
)
def data_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each rule is a single aggregate over its scan; the FK rule
    broadcasts the customer key set. Output is bounded (one row per
    rule), so the ledger is free to publish every batch."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    def rule(rule_id, df, violated):
        return df.agg(
            F.lit(rule_id).alias("rule_id"),
            F.count(F.lit(1)).alias("n_checked"),
            F.count_if(violated).alias("n_violations"),
        )

    fk = orders.join(
        F.broadcast(customer.select("c_custkey")),
        orders["o_custkey"] == customer["c_custkey"],
        "left",
    )
    uniq = orders.agg(
        F.lit("o_orderkey_unique").alias("rule_id"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias(
            "n_violations"
        ),
    )
    checks = (
        rule("o_totalprice_positive", orders, F.col("o_totalprice") <= 0)
        .unionByName(
            rule(
                "o_orderdate_in_range",
                orders,
                (F.col("o_orderdate") < "1992-01-01")
                | (F.col("o_orderdate") >= "1999-01-01"),
            )
        )
        .unionByName(
            rule(
                "o_orderstatus_in_domain",
                orders,
                ~F.col("o_orderstatus").isin("F", "O", "P"),
            )
        )
        .unionByName(
            rule("o_custkey_fk_resolves", fk, F.col("c_custkey").isNull())
        )
        .unionByName(uniq)
    )
    return checks.select(
        "rule_id",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("rule_id")


@register(
    "rolling_7d_active_users",
    oracle="""
        WITH days AS (
            SELECT DISTINCT date_trunc('day', ts) AS day FROM events
        ), du AS (
            SELECT DISTINCT date_trunc('day', ts) AS day, user_id
            FROM events
        )
        SELECT CAST(CAST(d.day AS DATE) AS VARCHAR) AS day,
               count(DISTINCT u.day) AS n_days_in_window,
               count(DISTINCT u.user_id) AS exact_active_7d,
               TRUE AS sketch_within_5pct
        FROM days d
        JOIN du u
          ON u.day <= d.day AND u.day > d.day - INTERVAL 7 DAY
        GROUP BY d.day
        ORDER BY day
    """,
    tags=("aggregation", "sketch", "window", "scale", "A1"),
    doc="Rolling 7-day active users, the sliding-DISTINCT problem: "
    "window frames cannot hold a DISTINCT, so the scale path keeps ONE "
    "DataSketches HLL per day and unions the 7 sketches per window "
    "(mergeable state, ~KB per day regardless of user count); the "
    "exact arm exists for the gate, which also pins the sketch's "
    "5%-accuracy claim per window. At 100 TB the daily sketch table "
    "is the only thing retained.",
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily sketches: one map-side-combinable pass. The 7-day union is
    a range join of the (tiny) day spine against |days| sketch rows —
    never against raw events; the exact arm pays the events-x-7 range
    join only at gate scale."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    spine = daily.select(F.col("day").alias("d"))
    rolled = (
        spine.join(
            daily,
            (F.col("day") <= F.col("d"))
            & (F.col("day") > F.col("d") - F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_days_in_window"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
        )
    )
    du = events.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    exact = (
        spine.join(
            du,
            (F.col("day") <= F.col("d"))
            & (F.col("day") > F.col("d") - F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("exact_active_7d"))
    )
    return (
        rolled.join(exact, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_days_in_window",
            "exact_active_7d",
            (
                F.abs(F.col("_est") - F.col("exact_active_7d"))
                <= 0.05 * F.col("exact_active_7d")
            ).alias("sketch_within_5pct"),
        )
        .orderBy("day")
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
        WITH days AS (
            SELECT DISTINCT date_trunc('day', ts) AS day FROM events
        ), du AS (
            SELECT DISTINCT date_trunc('day', ts) AS day, user_id
            FROM events
        ), dau AS (
            SELECT day, count(*) AS dau FROM du GROUP BY day
        ), wau AS (
            SELECT d.day, count(DISTINCT u.user_id) AS wau
            FROM days d
            JOIN du u ON u.day <= d.day AND u.day > d.day - INTERVAL 7 DAY
            GROUP BY d.day
        )
        SELECT CAST(CAST(d.day AS DATE) AS VARCHAR) AS day,
               dau.dau, wau.wau,
               CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
        FROM days d JOIN dau USING (day) JOIN wau ON wau.day = d.day
        ORDER BY day
    """,
    tags=("aggregation", "engagement", "window", "A1"),
    doc="DAU/WAU stickiness per day — the engagement ratio product "
    "teams track: daily distinct users over trailing-7-day distinct "
    "users (both exact; one exactly-rounded division). The WAU arm is "
    "the same day-spine range join as rolling_7d_active_users, whose "
    "sketch path replaces the exact arm at 100 TB.",
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (day, user) pairs computed once and reused by both
    arms; the spine range join touches |days| x |daily users| rows,
    never raw events twice."""
    events = load_table(spark, sf_dir, "events")
    du = events.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct().localCheckpoint()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    spine = du.select(F.col("day").alias("d")).distinct()
    wau = (
        spine.join(
            du,
            (F.col("day") <= F.col("d"))
            & (F.col("day") > F.col("d") - F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["day"] == wau["d"])
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "events_error_spike_detection",
    oracle="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day,
                   count(*) AS n_total,
                   count(*) FILTER (WHERE event_type = 'error') AS n_errors
            FROM events GROUP BY 1
        ), trailed AS (
            SELECT a.day, a.n_total, a.n_errors,
                   CAST(sum(b.n_total) AS BIGINT) AS trail_total,
                   CAST(sum(b.n_errors) AS BIGINT) AS trail_errors
            FROM daily a
            LEFT JOIN daily b
              ON b.day < a.day AND b.day >= a.day - INTERVAL 7 DAY
            GROUP BY a.day, a.n_total, a.n_errors
        )
        SELECT CAST(CAST(day AS DATE) AS VARCHAR) AS day,
               n_total, n_errors,
               COALESCE(trail_total, 0) AS trail_total,
               COALESCE(trail_errors, 0) AS trail_errors,
               COALESCE(trail_total, 0) > 0
               AND n_errors * COALESCE(trail_total, 0)
                   > 2 * n_total * COALESCE(trail_errors, 0) AS is_spike
        FROM trailed
        ORDER BY day
    """,
    tags=("aggregation", "monitoring", "window", "A1", "E1"),
    doc="Error-spike detection per day: today's error rate compared to "
    "the trailing-7-day rate (window of days, not rows of events) "
    "entirely by INTEGER cross-multiplication — e*T > 2*t*E — so the "
    "alerting decision is bit-exact with no float rate anywhere; the "
    "operational companion to the reference's error counters "
    "(index.js:42-49, 617-656) with memory instead of per-batch "
    "amnesia. The trailing window is a DATE-RANGE self-join over the "
    "days table (calendar semantics, gap-day safe — and no global "
    "partition-less window, per the engine-wide plan lint).",
)
def events_error_spike_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One daily rollup shuffle, then a date-range self-join over the
    |days|-row daily table — tiny at any corpus scale, and it keeps
    the engine-wide no-partition-less-window rule intact (the lint
    rejected the ROWS-frame form)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
    )
    a = daily.alias("a")
    b = daily.alias("b")
    trailed = (
        a.join(
            b,
            (F.col("b.day") < F.col("a.day"))
            & (F.col("b.day") >= F.col("a.day") - F.expr("INTERVAL 7 DAYS")),
            "left",
        )
        .groupBy(F.col("a.day"), F.col("a.n_total"), F.col("a.n_errors"))
        .agg(
            F.sum("b.n_total").alias("trail_total"),
            F.sum("b.n_errors").alias("trail_errors"),
        )
        .select(
            F.col("a.day").alias("day"),
            F.col("a.n_total").alias("n_total"),
            F.col("a.n_errors").alias("n_errors"),
            "trail_total",
            "trail_errors",
        )
    )
    tt = F.coalesce("trail_total", F.lit(0))
    te = F.coalesce("trail_errors", F.lit(0))
    return trailed.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_total",
        "n_errors",
        tt.alias("trail_total"),
        te.alias("trail_errors"),
        ((tt > 0) & (F.col("n_errors") * tt > 2 * F.col("n_total") * te)).alias(
            "is_spike"
        ),
    ).orderBy("day")


@register(
    "bloom_filter_dedup_prefilter",
    oracle="""
        WITH delivered AS (
            SELECT DISTINCT o_custkey AS key FROM orders
            WHERE o_orderpriority = '1-URGENT'
        ), positions AS (
            SELECT key, h,
                   CAST('0x' || substr(md5('bf' || CAST(h AS VARCHAR)
                        || ':' || CAST(key AS VARCHAR)), 1, 12) AS BIGINT)
                       % 131072 AS pos
            FROM delivered, (SELECT unnest([1, 2]) AS h)
        ), bloom AS (
            SELECT pos // 32 AS word,
                   bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS mask
            FROM positions GROUP BY pos // 32
        ), probe AS (
            SELECT c_custkey,
                   CAST('0x' || substr(md5('bf1:'
                        || CAST(c_custkey AS VARCHAR)), 1, 12) AS BIGINT)
                       % 131072 AS p1,
                   CAST('0x' || substr(md5('bf2:'
                        || CAST(c_custkey AS VARCHAR)), 1, 12) AS BIGINT)
                       % 131072 AS p2
            FROM customer
        ), probed AS (
            SELECT p.c_custkey,
                   COALESCE((b1.mask >> CAST(p.p1 % 32 AS INT)) & 1, 0) = 1
                   AND COALESCE((b2.mask >> CAST(p.p2 % 32 AS INT)) & 1, 0) = 1
                       AS bloom_hit,
                   EXISTS (SELECT 1 FROM delivered d
                           WHERE d.key = p.c_custkey) AS delivered
            FROM probe p
            LEFT JOIN bloom b1 ON b1.word = p.p1 // 32
            LEFT JOIN bloom b2 ON b2.word = p.p2 // 32
        )
        SELECT bloom_hit, delivered,
               count(*) AS n_customers,
               min(c_custkey) AS min_key, max(c_custkey) AS max_key
        FROM probed
        GROUP BY bloom_hit, delivered
        ORDER BY bloom_hit, delivered
    """,
    tags=("relational", "join", "scale", "dedup", "E4", "D3"),
    doc="Bloom-filter dedup pre-filter: the delivered-key set is packed "
    "into a 128 Kbit / k=2 Bloom bitmap (md5-derived positions, 32-bit "
    "words, bit_or aggregation - map-side combinable, so the build "
    "shuffles at most 4096 longs no matter how many keys). The probe "
    "side tests membership with two broadcast-hash-joins against the "
    "4096-row word table - ZERO shuffle of the probed stream - and "
    "classifies every key as (bloom_hit, actually-delivered), so the "
    "query itself audits the false-positive band. This is the "
    "arbitrary-key companion to bitmap_semi_join_runtime_filter (which "
    "needs dense ints) and the scale form of the reference's fail-open "
    "dedup lookup (checkEmailJobExists, index.js:107-141): at 100 TB "
    "only bloom-hit survivors reach the exact anti-join, and a Bloom "
    "miss can never be a false negative, so fail-open semantics hold.",
)
def bloom_filter_dedup_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    n_bits = 131072  # 2^17 bits -> 4096 x 32-bit words, 16 KiB broadcast
    delivered = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )

    def position(prefix: str, key):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), key.cast("string"))), 1, 12),
            16,
            10,
        ).cast("long") % n_bits

    positions = delivered.select(
        F.explode(
            F.array(position("bf1:", F.col("key")), position("bf2:", F.col("key")))
        ).alias("pos")
    )
    bloom = positions.groupBy(F.expr("pos div 32").alias("word")).agg(
        F.bit_or(F.expr("shiftleft(1L, int(pos % 32))")).alias("mask")
    )

    probe = customer.select(
        "c_custkey",
        position("bf1:", F.col("c_custkey")).alias("p1"),
        position("bf2:", F.col("c_custkey")).alias("p2"),
    )
    b1 = bloom.select(F.col("word").alias("w1"), F.col("mask").alias("m1"))
    b2 = bloom.select(F.col("word").alias("w2"), F.col("mask").alias("m2"))
    hit1 = F.coalesce(F.expr("shiftright(m1, int(p1 % 32)) & 1"), F.lit(0)) == 1
    hit2 = F.coalesce(F.expr("shiftright(m2, int(p2 % 32)) & 1"), F.lit(0)) == 1
    probed = (
        probe.join(F.broadcast(b1), F.col("w1") == F.expr("p1 div 32"), "left")
        .join(F.broadcast(b2), F.col("w2") == F.expr("p2 div 32"), "left")
        .withColumn("bloom_hit", hit1 & hit2)
        # Exact audit arm: at 100 TB this anti/semi-join runs only on
        # bloom-hit survivors; here it runs on all rows so the query
        # certifies the (bloom_hit, delivered) confusion counts.
        .join(
            F.broadcast(delivered.withColumn("delivered", F.lit(True))),
            F.col("key") == F.col("c_custkey"),
            "left",
        )
        .select(
            "c_custkey", "bloom_hit", F.coalesce("delivered", F.lit(False)).alias("delivered")
        )
    )
    return (
        probed.groupBy("bloom_hit", "delivered")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .orderBy("bloom_hit", "delivered")
    )


@register(
    "aqp_sampled_sum_estimate",
    oracle="""
        WITH base AS (
            SELECT o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST('0x' || substr(md5('aqp:' ||
                        CAST(o_orderkey AS VARCHAR)), 1, 4) AS BIGINT) < 6554
                       AS in_sample
            FROM orders
        )
        SELECT o_orderpriority,
               count(*) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS exact_cents,
               CAST(count(*) FILTER (WHERE in_sample) AS BIGINT)
                   AS n_sampled,
               CAST(coalesce(sum(cents) FILTER (WHERE in_sample), 0) * 10
                    AS BIGINT) AS estimate_cents,
               CAST(abs(coalesce(sum(cents) FILTER (WHERE in_sample), 0) * 10
                        - sum(cents)) * 10000 // sum(cents) AS BIGINT)
                   AS err_bps
        FROM base
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("aggregation", "sampling", "scale", "A1"),
    doc="Approximate query processing over a deterministic 10% sample "
    "(the BlinkDB pattern): membership is md5-threshold on the row key "
    "- reproducible across engines, runs, and cluster sizes, unlike "
    "rand()-based TABLESAMPLE - so the sampled estimate itself is "
    "oracle-checkable, and the same query carries the exact arm plus "
    "the realized error in integer basis points. At 100 TB the sample "
    "membership predicate evaluates in the scan (one pass, 10% of rows "
    "survive into the agg), turning a full-table rollup into a 10x "
    "cheaper scan with a quantified error column; both arms here share "
    "one scan + one shuffle because the sample is a FILTER clause, not "
    "a second read. Integer cross-multiplication keeps err_bps exact "
    "(no float division).",
)
def aqp_sampled_sum_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("aqp:"), F.col("o_orderkey").cast("string"))),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            < 6554
        ).alias("in_sample"),
    )
    agg = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("exact_cents"),
        F.count_if(F.col("in_sample")).alias("n_sampled"),
        (F.coalesce(F.sum(F.when(F.col("in_sample"), F.col("cents"))), F.lit(0)) * 10)
        .cast("long")
        .alias("estimate_cents"),
    )
    return agg.select(
        "o_orderpriority",
        "n_rows",
        "exact_cents",
        "n_sampled",
        "estimate_cents",
        F.expr(
            "cast(abs(estimate_cents - exact_cents) * 10000 div exact_cents as bigint)"
        ).alias("err_bps"),
    ).orderBy("o_orderpriority")


@register(
    "events_trend_slope_by_type",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   datediff('day', DATE '2024-01-01',
                            CAST(date_trunc('day', ts) AS DATE)) AS x,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS y
            FROM events
            GROUP BY 1, 2
        ), m AS (
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM daily GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_days,
               CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
               CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
               CAST(CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END
                    * (abs(n * sxy - sx * sy) * 100
                       // (n * sxx - sx * sx)) AS BIGINT)
                   AS slope_cents_per_day_x100,
               n * sxy - sx * sy > 0 AS trending_up
        FROM m
        WHERE n >= 2
        ORDER BY event_type
    """,
    tags=("aggregation", "timeseries", "A1", "analytics"),
    doc="Per-group least-squares trend slope on the exact integer grid: "
    "daily revenue (cents) regressed on day index, slope = "
    "(n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) carried as an exact integer "
    "rational plus a sign-extracted scaled quotient (the same "
    "floor-vs-truncate guard as the kappa op — Spark div truncates, "
    "DuckDB // floors, and slopes go negative). Trend detection is the "
    "time-directional statistic the reference's per-batch counters "
    "can't see (index.js:42-92); everything reduces to one daily "
    "rollup plus a 5-sum moment aggregate, both map-side-combinable — "
    "two shuffles total, output one row per type at any scale.",
)
def events_trend_slope_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("x"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = "(n * sxy - sx * sy)"
    den = "(n * sxx - sx * sx)"
    return (
        m.filter(F.col("n") >= 2)
        .selectExpr(
            "event_type",
            "cast(n AS bigint) AS n_days",
            f"cast({num} AS bigint) AS slope_num",
            f"cast({den} AS bigint) AS slope_den",
            f"cast((CASE WHEN {num} >= 0 THEN 1 ELSE -1 END)"
            f" * (abs({num}) * 100 div {den}) AS bigint)"
            " AS slope_cents_per_day_x100",
            f"{num} > 0 AS trending_up",
        )
        .orderBy("event_type")
    )


@register(
    "events_cusum_shift_detect",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   count(*) AS c
            FROM events GROUP BY 1, 2
        ), m AS (
            SELECT event_type, count(*) AS nd, CAST(sum(c) AS BIGINT) AS tot
            FROM daily GROUP BY event_type
        ), dev AS (
            SELECT d.event_type, d.day,
                   CAST(d.c AS BIGINT) AS c,
                   m.nd * d.c - m.tot AS dev_scaled
            FROM daily d JOIN m USING (event_type)
        ), pre AS (
            SELECT event_type, day, c,
                   CAST(sum(dev_scaled) OVER w AS BIGINT) AS p
            FROM dev
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING)
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day, c,
               CAST(p - least(CAST(0 AS BIGINT), min(p) OVER w2) AS BIGINT)
                   AS cusum_scaled
        FROM pre
        WINDOW w2 AS (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING)
        ORDER BY event_type, day
    """,
    tags=("timeseries", "analytics", "A1", "streaming-twin"),
    doc="CUSUM level-shift detection per event type, exact-integer: "
    "the classic recursive s_i = max(0, s_{i-1} + dev_i) is re-"
    "expressed CLOSED-FORM as prefix_i - min(0, running-min of "
    "prefixes) — algebraically identical, but a window expression "
    "instead of a sequential loop, so it runs as two stacked "
    "partitioned windows (one shuffle on event_type) rather than a "
    "driver-side scan. Deviations are scaled by n_days (dev = n*c - "
    "total) to stay on the integer grid — no mean, no floats. The "
    "sequential-analysis upgrade of events_error_spike_detection's "
    "fixed trailing window: CUSUM accumulates evidence of a "
    "persistent shift, catching drifts a point-in-time rate compare "
    "misses.",
)
def events_cusum_shift_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("c").cast("long").alias("tot")
    )
    dev = daily.join(m, "event_type").select(
        "event_type",
        "day",
        F.col("c").cast("long").alias("c"),
        (F.col("nd") * F.col("c") - F.col("tot")).alias("dev_scaled"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = dev.withColumn("p", F.sum("dev_scaled").over(w).cast("long"))
    return pre.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "c",
        (
            F.col("p")
            - F.least(F.lit(0).cast("long"), F.min("p").over(w))
        )
        .cast("long")
        .alias("cusum_scaled"),
    ).orderBy("event_type", "day")


# Benford first-digit expectations, round(log10(1+1/d) * 1e6): computed
# once offline so BOTH engines compare against the same integer
# constants (summing to exactly 1e6) — log10 never runs in-query.
_BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def _benford_values_sql() -> str:
    return ", ".join(f"({d}, {m})" for d, m in _BENFORD_MICRO.items())


@register(
    "orders_benford_digit_audit",
    oracle=f"""
        WITH digits AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                               AS VARCHAR), 1, 1) AS INT) AS d,
                   count(*) AS obs
            FROM orders
            WHERE o_totalprice >= 1
            GROUP BY 1
        ), exp_t(d, exp_micro) AS (
            VALUES {_benford_values_sql()}
        ), tot AS (
            SELECT CAST(sum(obs) AS BIGINT) AS n FROM digits
        )
        SELECT e.d AS first_digit,
               CAST(COALESCE(g.obs, 0) AS BIGINT) AS n_obs,
               CAST(COALESCE(g.obs, 0) * 1000000 // t.n AS BIGINT)
                   AS obs_micro,
               CAST(e.exp_micro AS BIGINT) AS exp_micro,
               CAST(floor(
                    CAST(COALESCE(g.obs, 0) * 1000000 - t.n * e.exp_micro
                         AS DECIMAL(38,0))
                    * (COALESCE(g.obs, 0) * 1000000 - t.n * e.exp_micro)
                    / (CAST(t.n AS DECIMAL(38,0)) * t.n * e.exp_micro))
                    AS BIGINT) AS chi2_term_micro
        FROM exp_t e
        LEFT JOIN digits g ON g.d = e.d
        CROSS JOIN tot t
        ORDER BY e.d
    """,
    tags=("quality", "aggregation", "analytics", "A1"),
    doc="Benford first-digit audit (the classic fabricated-data / "
    "corruption detector): observed leading-digit distribution of "
    "order totals vs the Benford expectation, with the per-digit "
    "chi-square contribution — all on the exact integer micro-grid. "
    "log10 never executes in-query: the nine expectations are "
    "precomputed integer constants (summing to exactly 1e6) shared by "
    "both engines, so there is no libm in the comparison path. One "
    "map-side-combinable digit rollup + a broadcast 9-row expectation "
    "table + a broadcast 1-row total — audit cost is one scan at any "
    "corpus size. Extends the data-quality family "
    "(data_quality_profile, drift_chisquare_by_type) with a "
    "distribution-shape audit that needs no baseline snapshot.",
)
def orders_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digits = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            )
            .cast("int")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    exp_t = spark.createDataFrame(
        sorted(_BENFORD_MICRO.items()), "d int, exp_micro long"
    )
    tot = digits.agg(F.sum("obs").cast("long").alias("n"))
    # dev^2 reaches ~4e21 already at sf0.1 (150k orders) — far past
    # int64 — so the chi-square term is computed in DECIMAL(38,0) on
    # both engines (exact integer arithmetic to ~1e38, i.e. n ~ 1e16).
    dev = "(coalesce(obs, 0) * 1000000 - n * exp_micro)"
    return (
        exp_t.join(digits, "d", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "d AS first_digit",
            "cast(coalesce(obs, 0) AS bigint) AS n_obs",
            "cast(coalesce(obs, 0) * 1000000 div n AS bigint) AS obs_micro",
            "cast(exp_micro AS bigint) AS exp_micro",
            f"cast(cast({dev} AS decimal(38,0)) * {dev}"
            f" div (cast(n AS decimal(38,0)) * n * exp_micro) AS bigint)"
            " AS chi2_term_micro",
        )
        .orderBy("first_digit")
    )


@register(
    "customer_weighted_median_balance",
    oracle="""
        WITH rev AS (
            SELECT o_custkey,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS w
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT c.c_mktsegment,
                   CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal,
                   r.w,
                   sum(r.w) OVER (
                       PARTITION BY c.c_mktsegment
                       ORDER BY round(c.c_acctbal * 100), c.c_custkey
                       ROWS UNBOUNDED PRECEDING
                   ) AS cum,
                   sum(r.w) OVER (PARTITION BY c.c_mktsegment) AS tot
            FROM customer c JOIN rev r ON r.o_custkey = c.c_custkey
        )
        SELECT c_mktsegment,
               CAST(min(bal) AS BIGINT) AS weighted_median_bal_cents,
               CAST(min(tot) AS BIGINT) AS total_weight_cents
        FROM ranked
        WHERE 2 * cum >= tot
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    tags=("aggregation", "analytics", "A1"),
    doc="Exact weighted median (revenue-weighted customer balance per "
    "segment): the first balance, in (balance, custkey) order, whose "
    "running revenue weight reaches half the segment total — the "
    "cumulative-distribution definition computed with one partitioned "
    "window over exact integer cents, no expansion of weights into "
    "rows (the naive form repeats each customer w times — unrunnable "
    "at any scale) and no interpolation ambiguity for the oracle to "
    "disagree on. min(bal) over qualifying rows IS the first "
    "qualifying row because cum is monotone in the sort order. "
    "Weighted quantiles are the robust-aggregation workhorse plain "
    "percentile_cont can't express.",
)
def customer_weighted_median_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("w")
    )
    joined = customer.join(rev, customer["c_custkey"] == rev["o_custkey"]).select(
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
        "c_custkey",
        "w",
    )
    wc = (
        Window.partitionBy("c_mktsegment")
        .orderBy("bal", "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("c_mktsegment")
    ranked = joined.select(
        "c_mktsegment",
        "bal",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("tot"),
    )
    return (
        ranked.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("c_mktsegment")
        .agg(
            F.min("bal").cast("long").alias("weighted_median_bal_cents"),
            F.min("tot").cast("long").alias("total_weight_cents"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "events_ks_distribution_shift",
    oracle="""
        WITH vals AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS v,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s1,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS s2
            FROM events
            WHERE event_type IN ('purchase', 'view')
        ), tot AS (
            SELECT CAST(sum(s1) AS BIGINT) AS n1,
                   CAST(sum(s2) AS BIGINT) AS n2
            FROM vals
        ), dedup AS (
            SELECT v, CAST(sum(s1) AS BIGINT) AS c1,
                   CAST(sum(s2) AS BIGINT) AS c2
            FROM vals GROUP BY v
        ), cdf AS (
            SELECT v,
                   sum(c1) OVER (ORDER BY v
                                 ROWS UNBOUNDED PRECEDING) AS cum1,
                   sum(c2) OVER (ORDER BY v
                                 ROWS UNBOUNDED PRECEDING) AS cum2
            FROM dedup
        )
        , d AS (
            SELECT t.n1, t.n2,
                   CAST(max(abs(t.n2 * c.cum1 - t.n1 * c.cum2)) AS BIGINT)
                       AS d_scaled
            FROM cdf c CROSS JOIN tot t
            GROUP BY t.n1, t.n2
        )
        SELECT n1, n2, d_scaled,
               CAST(d_scaled * 1000000 // (n1 * n2) AS BIGINT) AS d_micro,
               CAST(d_scaled AS DECIMAL(38,0)) * d_scaled * 1000000
                   > CAST(1844772 AS DECIMAL(38,0)) * (n1 + n2) * n1 * n2
                   AS reject_5pct
        FROM d
    """,
    tags=("aggregation", "analytics", "quality", "drift"),
    doc="Two-sample Kolmogorov-Smirnov test (purchase vs view value "
    "distributions), exact-integer end to end: D = max |F1 - F2| is "
    "computed as max |n2*cum1 - n1*cum2| over the merged value grid — "
    "cross-multiplied so no CDF division ever happens — and the 5% "
    "rejection rule D > c(a)*sqrt((n1+n2)/(n1*n2)) is squared and "
    "cross-multiplied into d_scaled^2 * 1e6 > c2_micro * (n1+n2) * "
    "n1 * n2 with c2_micro = round(1.358224^2 * 1e6) = 1844772 — no "
    "sqrt, no division, evaluated in DECIMAL(38,0) (exact to "
    "n1*n2 ~ 1e16, i.e. ~1e8 rows per side; past that, compare on "
    "the pre-divided d_micro instead). KS "
    "complements drift_chisquare_by_type: continuous values, no "
    "binning choice, sensitive to any CDF divergence. One value "
    "rollup + one ordered prefix window over DISTINCT values + a "
    "1-row broadcast of (n1, n2).",
)
def events_ks_distribution_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged-value CDF needs a GLOBAL ordered prefix sum — the
    one shape the engine lint forbids as a single-task window. It
    rides the distributed prefix-sum primitive instead
    (ranking.global_running_sum: range exchange + per-partition window
    + broadcast offsets), with both samples' counters PACKED into one
    long (c1 * 2^32 + c2) so a single scan carries both CDFs — exact
    while each side holds < 2^31 rows, the same breakpoint as 32-bit
    ids, and the unpack is two integer ops."""
    from dynamodb_stream_processor_2_0_spark.operators.ranking import (
        global_running_sum,
    )

    events = load_table(spark, sf_dir, "events")
    vals = events.filter(F.col("event_type").isin("purchase", "view")).select(
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("s1"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("s2"),
    )
    dedup_v = vals.groupBy("v").agg(
        F.sum("s1").cast("long").alias("c1"), F.sum("s2").cast("long").alias("c2")
    )
    tot = vals.agg(
        F.sum("s1").cast("long").alias("n1"), F.sum("s2").cast("long").alias("n2")
    )
    packed = dedup_v.withColumn(
        "packed", F.col("c1") * F.lit(4294967296).cast("long") + F.col("c2")
    )
    cdf = global_running_sum(packed, ["v"], "packed", out_col="cum_packed").select(
        "v",
        F.expr("cum_packed div 4294967296").alias("cum1"),
        F.expr("cum_packed % 4294967296").alias("cum2"),
    )
    return (
        cdf.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.max(F.abs(F.col("n2") * F.col("cum1") - F.col("n1") * F.col("cum2")))
            .cast("long")
            .alias("d_scaled")
        )
        .selectExpr(
            "n1",
            "n2",
            "d_scaled",
            "cast(CASE WHEN n1 * n2 = 0 THEN NULL"
            " ELSE d_scaled * 1000000 div (n1 * n2) END AS bigint) AS d_micro",
            "cast(d_scaled AS decimal(38,0)) * d_scaled * 1000000"
            " > cast(1844772 AS decimal(38,0)) * (n1 + n2) * n1 * n2"
            " AS reject_5pct",
        )
    )


@register(
    "orders_pareto_skyline",
    oracle="""
        WITH pts AS (
            SELECT o_orderpriority AS prio,
                   datediff('day', DATE '1992-01-01',
                            CAST(o_orderdate AS DATE)) AS x,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   o_orderkey
            FROM orders
        ), tested AS (
            SELECT prio, x, cents, o_orderkey,
                   max(cents) OVER (
                       PARTITION BY prio ORDER BY x
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS m_before,
                   max(cents) OVER (PARTITION BY prio, x) AS m_same_day
            FROM pts
        )
        SELECT prio, CAST(x AS BIGINT) AS day_no, cents,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(min(o_orderkey) AS BIGINT) AS min_orderkey
        FROM tested
        WHERE (m_before IS NULL OR m_before < cents)
          AND m_same_day = cents
        GROUP BY prio, x, cents
        ORDER BY prio, day_no
    """,
    tags=("relational", "analytics", "skyline", "scale"),
    doc="Skyline (Pareto-front) operator per order priority: the orders "
    "not dominated on (earlier date, higher price) — dominance tested "
    "with two windows (strictly-earlier running max via a RANGE frame "
    "on the integer day number + a same-day max), no quadratic NOT "
    "EXISTS. The Spark plan uses the textbook DISTRIBUTED skyline "
    "shape: a salted local pass first computes each (priority, salt) "
    "partition's Pareto candidates — sound because a globally "
    "non-dominated point is non-dominated in every subset — then the "
    "same test merges the tiny survivor fronts per priority, so no "
    "window ever sees more than one salt cell of raw data and the "
    "merge input is |skyline|-sized. Equal (day, price) points tie "
    "(neither dominates), grouped into one skyline row with a count. "
    "The classic preference-query operator (Borzsony et al., ICDE "
    "2001) the relational closure otherwise lacks.",
)
def orders_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )

    def skyline_pass(df, part_cols):
        wb = (
            Window.partitionBy(*part_cols)
            .orderBy("x")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        ws = Window.partitionBy(*part_cols, "x")
        return (
            df.withColumn("m_before", F.max("cents").over(wb))
            .withColumn("m_same", F.max("cents").over(ws))
            .filter(
                (F.col("m_before").isNull() | (F.col("m_before") < F.col("cents")))
                & (F.col("m_same") == F.col("cents"))
            )
            .drop("m_before", "m_same")
        )

    local = skyline_pass(
        pts.withColumn("salt", F.pmod(F.hash("o_orderkey"), F.lit(64))),
        ["prio", "salt"],
    ).drop("salt")
    merged = skyline_pass(local, ["prio"])
    return (
        merged.groupBy("prio", "x", "cents")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").alias("min_orderkey"),
        )
        .select(
            "prio",
            F.col("x").cast("long").alias("day_no"),
            "cents",
            "n_orders",
            "min_orderkey",
        )
        .orderBy("prio", "day_no")
    )


@register(
    "orders_seasonality_index",
    oracle="""
        WITH monthly AS (
            SELECT CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS mon,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents,
                   count(*) AS n_orders
            FROM orders GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(cents) AS BIGINT) AS tot_cents,
                   CAST(count(*) AS BIGINT) AS n_months
            FROM monthly
        )
        SELECT m.mon AS month,
               CAST(m.n_orders AS BIGINT) AS n_orders,
               m.cents,
               CAST(m.cents * t.n_months * 1000 // t.tot_cents AS BIGINT)
                   AS seasonality_permille,
               m.cents * t.n_months * 2 > t.tot_cents * 3 AS is_peak
        FROM monthly m CROSS JOIN tot t
        ORDER BY month
    """,
    tags=("aggregation", "timeseries", "analytics", "A1"),
    doc="Seasonality index per calendar month: month revenue relative "
    "to the all-months average, as an exact per-mille integer "
    "(cents * n_months * 1000 div total — the ratio-to-moving-average "
    "decomposition's seasonal factor, computed without a single "
    "division by the mean), plus a 1.5x peak flag by integer "
    "cross-multiplication. One 12-row rollup + a broadcast 1-row "
    "total; the calendar profile the trend/CUSUM family factors out.",
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(F.month("o_orderdate").alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    tot = monthly.agg(
        F.sum("cents").cast("long").alias("tot_cents"),
        F.count(F.lit(1)).cast("long").alias("n_months"),
    )
    return (
        monthly.crossJoin(F.broadcast(tot))
        .selectExpr(
            "month",
            "cast(n_orders AS bigint) AS n_orders",
            "cents",
            "cast(cents * n_months * 1000 div tot_cents AS bigint)"
            " AS seasonality_permille",
            "cents * n_months * 2 > tot_cents * 3 AS is_peak",
        )
        .orderBy("month")
    )


@register(
    "events_bot_regularity_score",
    oracle="""
        WITH gaps AS (
            SELECT user_id,
                   floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) AS d
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            QUALIFY lag(ts) OVER w IS NOT NULL
        ), m AS (
            SELECT user_id,
                   count(*) AS n,
                   CAST(sum(d) AS BIGINT) AS sd,
                   CAST(sum(d * d) AS BIGINT) AS sdd
            FROM gaps GROUP BY user_id
            HAVING count(*) >= 5 AND sum(d) > 0
        )
        SELECT user_id,
               CAST(n AS BIGINT) AS n_gaps,
               CAST(sd // n AS BIGINT) AS mean_gap_s,
               CAST(floor((CAST(n AS DECIMAL(38,0)) * sdd - CAST(sd AS
                    DECIMAL(38,0)) * sd) * 1000
                    / (CAST(sd AS DECIMAL(38,0)) * sd)) AS BIGINT)
                   AS cv2_milli,
               CAST(floor((CAST(n AS DECIMAL(38,0)) * sdd - CAST(sd AS
                    DECIMAL(38,0)) * sd) * 1000
                    / (CAST(sd AS DECIMAL(38,0)) * sd)) AS BIGINT) < 100
                   AS is_machine_regular
        FROM m
        ORDER BY user_id
    """,
    tags=("timeseries", "analytics", "quality", "F10"),
    doc="Bot/automation detection by interarrival regularity: a human's "
    "event gaps are bursty (squared coefficient of variation ~ 1 for "
    "Poisson arrivals, higher with sessions); a scheduled client's "
    "gaps are nearly constant (CV^2 ~ 0). CV^2 = (n*Sum(d^2) - "
    "(Sum d)^2) / (Sum d)^2 needs no mean and no float: computed in "
    "DECIMAL(38,0) (n*Sum(d^2) overflows int64 once a user has ~1e4 "
    "gaps at week-scale seconds) with the quotient FLOORED before the "
    "BIGINT cast — DuckDB's // on DECIMAL returns the full quotient "
    "and a bare cast would round-half-up, the off-by-one the Benford "
    "fix documented. One lag window + one moment aggregate per user; "
    "the behavioral upgrade of the reference's static blocklist "
    "(F10, index.js:433-439) to evidence-based flagging.",
)
def events_bot_regularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select(
            "user_id",
            "event_id",
            "ts",
            F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
            .cast("long")
            .alias("es"),
        )
        .withColumn("prev_es", F.lag("es").over(w))
        .filter(F.col("prev_es").isNotNull())
        .select("user_id", (F.col("es") - F.col("prev_es")).alias("d"))
    )
    m = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("d").cast("long").alias("sd"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        )
        .filter((F.col("n") >= 5) & (F.col("sd") > 0))
    )
    cv2 = (
        "cast(floor((cast(n AS decimal(38,0)) * sdd"
        " - cast(sd AS decimal(38,0)) * sd) * 1000"
        " / (cast(sd AS decimal(38,0)) * sd)) AS bigint)"
    )
    return m.selectExpr(
        "user_id",
        "cast(n AS bigint) AS n_gaps",
        "cast(sd div n AS bigint) AS mean_gap_s",
        f"{cv2} AS cv2_milli",
        f"{cv2} < 100 AS is_machine_regular",
    ).orderBy("user_id")
