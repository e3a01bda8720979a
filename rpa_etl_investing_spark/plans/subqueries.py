"""Subquery surface — EXISTS / NOT EXISTS / correlated scalar / IN.

The reference's only subquery-shaped logic is the first-row existence
probe driving insert-if-absent (``/root/reference/main.py:124-135``,
SURVEY §2.2 P6). This module generalizes that probe into the full
relational subquery surface at TPC-H complexity (Q4/Q17/Q22 shapes,
adapted to the fixture columns).

Spark-first mapping: correlated EXISTS/IN compile to left-semi joins,
NOT EXISTS to left-anti, and correlated scalar aggregates to an
explicit pre-aggregation joined back on the correlation key — the same
rewrites Catalyst itself applies to SQL-text subqueries
(RewritePredicateSubquery / RewriteCorrelatedScalarSubquery). At 100 TB
the per-key pre-aggregate shuffles once on the correlation key and the
back-join reuses that partitioning; uncorrelated scalars are one-row
broadcasts, never a driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rpa_etl_investing_spark.catalog import bind_sql, maybe_broadcast, plain_sql, tbl
from rpa_etl_investing_spark.plans.aggregates import davg, dsum
from rpa_etl_investing_spark.plans.registry import register


@register(
    "subquery_exists_late_returns",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_returnflag = 'R'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def subquery_exists_late_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS counting orders (per priority)
    that had a returned item shipped >60 days after the order date.

    The correlated EXISTS is a **left-semi join** whose condition mixes
    the correlation key with a cross-table predicate — one shuffle on
    the order key; the semi join emits each order at most once, so no
    post-join dedup is needed.
    """
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = tbl(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(
            l,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate > F.date_add(o.o_orderdate, 60)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "subquery_scalar_per_part_avg",
    oracle="""
    SELECT (CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n_small
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#13'
      AND l.l_quantity < 0.5 * (
        SELECT (CAST(CAST(SUM(CAST(l2.l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0)
               / COUNT(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey)
    """,
)
def subquery_scalar_per_part_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery — revenue from
    line items under half their part's average quantity.

    The per-part average materializes once as a grouped aggregate keyed
    by the correlation key, then joins back; the aggregate output is
    already partitioned on ``l_partkey``, so the back-join reuses that
    exchange instead of re-shuffling. The average accumulates in DECIMAL
    on both engines so the 0.5×avg comparison is bit-identical.
    """
    l = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    per_part = l.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        davg("l_quantity", 2).alias("avg_qty")
    )
    return (
        l.join(maybe_broadcast(p, "part"), l.l_partkey == p.p_partkey)
        .join(per_part, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            dsum("l_extendedprice", 2).alias("sum_price"),
            F.count("*").alias("n_small"),
        )
    )


@register(
    "subquery_not_exists_dormant",
    oracle="""
    SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
           (CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT (CAST(CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0)
               / COUNT(c2.c_acctbal)
        FROM customer c2 WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def subquery_not_exists_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders — an uncorrelated scalar subquery plus a correlated
    NOT EXISTS.

    The scalar average is a one-row aggregate **broadcast** into the
    filter (no driver collect, so the plan stays lazy and
    cluster-side); NOT EXISTS is a left-anti join against the
    date-pruned orders scan.
    """
    c = tbl(spark, sf_dir, "customer")
    recent = tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(davg("c_acctbal", 2).alias("avg_bal"))
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cust"),
            dsum("c_acctbal", 2).alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


_IN_SUBQUERY_SQL = """
    SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM {part} p
    WHERE p.p_partkey IN (
        SELECT l.l_partkey FROM {lineitem} l WHERE l.l_quantity >= 49)
    GROUP BY p.p_brand
    ORDER BY p.p_brand
"""


@register("subquery_in_bulk_parts", oracle=plain_sql(_IN_SUBQUERY_SQL))
def subquery_in_bulk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery via the SQL front-end: parts that ever shipped in
    near-max quantity, counted per brand. Submitted as literal SQL so
    Catalyst's RewritePredicateSubquery turns the IN into a left-semi
    join (no distinct materialization, no driver-side value list).
    """
    return bind_sql(spark, sf_dir, _IN_SUBQUERY_SQL)


_NOT_IN_SUBQUERY_SQL = """
    SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM {part} p
    WHERE p.p_partkey NOT IN (
        SELECT l.l_partkey FROM {lineitem} l WHERE l.l_quantity >= 49)
    GROUP BY p.p_brand
    ORDER BY p.p_brand
"""


@register("subquery_not_in_null_aware", oracle=plain_sql(_NOT_IN_SUBQUERY_SQL))
def subquery_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a subquery — the complement of
    ``subquery_in_bulk_parts``: parts that NEVER shipped in near-max
    quantity, counted per brand.

    NOT IN is not the same as NOT EXISTS: its three-valued-logic
    contract says one NULL in the subquery empties the whole result, so
    Catalyst plans a **null-aware anti join** (BroadcastHashJoin with
    ``isNullAwareAntiJoin=true``) rather than a plain left-anti —
    exercised here through the SQL front-end because the DataFrame API
    has no NOT IN form. At scale the subquery side is aggregated to its
    distinct keys and broadcast; if it outgrows the broadcast threshold
    Spark falls back to a single-key-partitioned plan, which is the
    documented cost of NOT IN semantics — prefer NOT EXISTS
    (``subquery_not_exists_dormant``) when nulls are impossible.
    """
    return bind_sql(spark, sf_dir, _NOT_IN_SUBQUERY_SQL)
