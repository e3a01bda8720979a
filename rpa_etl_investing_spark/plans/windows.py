"""Window-function queries (SURVEY §2.5 W1-W3).

The reference's flagship query is a flat global top-10
(``/root/reference/main.py:155``); its README even describes a
per-sector top-k that the code never implements (``README.md:49``).
These queries supply that surface: ranking, analytic lag/lead, and
frame-spec running/sliding aggregates.

Every window ORDER BY carries a unique tie-breaker key so results are
a deterministic function of the data (SURVEY §7.4); frame sums over
doubles accumulate in DECIMAL for order-independent exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from rpa_etl_investing_spark.catalog import tbl
from rpa_etl_investing_spark.plans.registry import register


@register(
    "window_topk_per_group",
    oracle="""
    SELECT nation, customer, acctbal, rn
    FROM (
      SELECT n.n_name AS nation, c.c_name AS customer, c.c_acctbal AS acctbal,
             ROW_NUMBER() OVER (PARTITION BY n.n_name
                                ORDER BY c.c_acctbal DESC, c.c_custkey) AS rn
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
    WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: top-k within each group — the per-sector top-10 the reference's
    README describes (``README.md:49``) but ``main.py:149-157`` flattens.

    Scale shape: a single shuffle, on the window partition key."""
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    w = W.partitionBy("nation").orderBy(F.desc("acctbal"), F.asc("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_name").alias("customer"),
            F.col("c_acctbal").alias("acctbal"),
            "c_custkey",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("c_custkey")
    )


@register(
    "window_rank_dense",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority,
           RANK()       OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS rnk,
           DENSE_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS drnk
    FROM orders
    """,
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: rank/dense_rank — tie-tolerant ranking (rank values depend only
    on the ordering key values, so ties stay deterministic)."""
    w = W.partitionBy("o_orderstatus").orderBy("o_orderpriority")
    return tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           LAG(o_totalprice)  OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           o_totalprice - LAG(o_totalprice) OVER w AS delta_vs_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: lag/lead — the day-over-day ``variacao`` view of the
    reference's append-only snapshots (``main.py:44``)."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return tbl(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.col("o_totalprice") - prev).alias("delta_vs_prev"),
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: running aggregate with an explicit ROWS frame."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return tbl(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
        F.count("*").over(w).alias("running_n"),
    )


@register(
    "window_sliding_avg",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) OVER w AS DOUBLE)
             / COUNT(*) OVER w AS sliding_avg_price,
           COUNT(*) OVER w AS window_n
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
                 ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    """,
)
def window_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: sliding-frame moving average (decimal-exact numerator).

    (orderkey, linenumber) is NOT unique in the fixture, so the ROWS
    frame's content would be engine-order-dependent under a sort-key
    tie; ordering additionally by the aggregated column makes any
    remaining tied rows interchangeable for the frame sum — the
    tie-hardening rule for ROWS frames over non-unique keys."""
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(-5, W.currentRow)
    )
    return tbl(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        (
            F.sum(F.col("l_extendedprice").cast("decimal(27,2)")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("sliding_avg_price"),
        F.count("*").over(w).alias("window_n"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           COUNT(*) OVER (ORDER BY o_totalprice
                          RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: RANGE frame over a numeric ordering key (value-based frame —
    count of orders within $10k below each price).

    Scale note: an unpartitioned window is single-partition by
    construction (Spark warns accordingly) — fine for this W3 frame-spec
    demo, a hazard on a 100 TB fact. The scale form of this exact
    computation is a range-join against bucketed price boundaries or a
    two-pass histogram (bucket counts + intra-bucket scan), both
    key-partitioned; global-window queries in this registry exist to
    cover the frame-spec surface, not as the recommended big-table
    plan."""
    # bounded-window: deliberate single-partition frame-spec demo (see docstring)
    w = W.orderBy("o_totalprice").rangeBetween(-10000, W.currentRow)
    return tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.count("*").over(w).alias("n_within_10k"),
    )


@register(
    "window_ntile_first_last",
    oracle="""
    SELECT c_custkey, c_acctbal,
           NTILE(4) OVER w AS quartile,
           FIRST_VALUE(c_custkey) OVER w AS richest_key,
           LAST_VALUE(c_custkey) OVER (ORDER BY c_acctbal DESC, c_custkey
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING) AS poorest_key
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_ntile_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W3: ntile bucketing + first_value/last_value with a full frame.

    Scale note: global ntile/first/last requires a total order →
    single-partition window (see window_range_frame). At 100 TB the same
    answer comes from quantile boundaries (approx_percentile or the
    exact power-sum percentiles in plans/aggregates.py) broadcast and
    mapped — one pass, no global sort; this query covers the W1/W3
    function surface."""
    # bounded-window: deliberate single-partition frame-spec demo (see docstring)
    w = W.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return tbl(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.first("c_custkey").over(w).alias("richest_key"),
        F.last("c_custkey").over(w_full).alias("poorest_key"),
    )


@register(
    "window_percent_rank_cume",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           PERCENT_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
             AS pct_rank,
           CUME_DIST() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
             AS cume
    FROM supplier
    """,
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: relative-position analytics — percent_rank / cume_dist per
    nation (total order via the key tie-break keeps both engines exact)."""
    w = W.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return tbl(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )
