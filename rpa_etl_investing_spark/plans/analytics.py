"""Composite analytic queries — the flagship query's operator set
(joins + conjunctive filters + aggregation + top-k,
``/root/reference/main.py:149-157``) composed at TPC-H-benchmark
complexity over the fixture star schema. These are the shapes a user of
the reference's star schema would actually run once their data grew.

Plan expectations at scale: dimension sides broadcast, fact-to-fact
joins shuffle on the join key once, aggregates are partial+final, top-k
is TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rpa_etl_investing_spark.catalog import bind_sql, maybe_broadcast, plain_sql, tbl
from rpa_etl_investing_spark.plans.aggregates import dsum
from rpa_etl_investing_spark.plans.registry import register


@register(
    "analytics_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           (CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0)
             AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15'
      AND l.l_shipdate > TIMESTAMP '1997-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def analytics_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: two fact joins + selective dim filter + grouped
    revenue + top-k with total-order tie-break.

    Scale shape: the selective dimension filter runs first, the two fact
    joins shuffle once each, and the top-k is take-ordered."""
    c = tbl(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    l = tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "analytics_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           (CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0)
             AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def analytics_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five-way join (two fact-fact shuffles, three
    broadcast dims) + region filter + grouped revenue."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == o.o_orderkey)
        .join(
            maybe_broadcast(s, "supplier"),
            (F.col("l_suppkey") == s.s_suppkey)
            & (F.col("c_nationkey") == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(revenue, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


@register(
    "analytics_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           (CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0)
             AS revenue,
           n.n_name AS nation
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def analytics_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = tbl(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = tbl(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(dsum(revenue, 4).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "nation")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "analytics_disjunctive_join",
    oracle="""
    SELECT (CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def analytics_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: equi-join with an OR-of-ANDs residual mixing
    both sides' columns. The equi-key keeps the join hash-based
    (broadcast here — part is a dim); the disjunction is a post-join
    residual filter, not a fallback to nested-loop. Single-side
    conjuncts (brand/size) are still pushed into the part scan as one
    derived OR predicate."""
    l = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part")
    cond = (
        (
            (p.p_brand == "Brand#12")
            & p.p_size.between(1, 15)
            & l.l_quantity.between(1, 11)
        )
        | (
            (p.p_brand == "Brand#23")
            & p.p_size.between(1, 25)
            & l.l_quantity.between(10, 20)
        )
        | (
            (p.p_brand == "Brand#34")
            & p.p_size.between(1, 35)
            & l.l_quantity.between(20, 30)
        )
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(maybe_broadcast(p, "part"), (p.p_partkey == l.l_partkey) & cond)
        .agg(
            dsum(revenue, 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_FLAGSHIP_SQL = """
    SELECT s.s_name AS nome, n.n_name AS pais, r.r_name AS regiao, s.s_acctbal AS maxima
    FROM {supplier} s
    JOIN {nation} n ON s.s_nationkey = n.n_nationkey
    JOIN {region} r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'AMERICA') AND s.s_acctbal > 0
    ORDER BY maxima DESC, nome
    LIMIT 10
"""


@register("sql_frontend_flagship", oracle=plain_sql(_FLAGSHIP_SQL))
def sql_frontend_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front-end: the flagship query shape (dim joins +
    IN-filter + top-k, ``main.py:149-157``) submitted as literal SQL via
    ``spark.sql`` with each table bound for this call only — proving
    the engine's second entry point produces plans identical to the
    DataFrame API."""
    return bind_sql(spark, sf_dir, _FLAGSHIP_SQL)


@register(
    "profile_table_stats",
    oracle="""
    SELECT 
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(l_orderkey) AS BIGINT) AS nn_orderkey,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nd_orderkey,
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS nd_returnflag,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
           MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_qty
    FROM lineitem
    """,
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass (the pipeline-health companion to ETL reject
    metrics): row/null/distinct counts and min-max ranges in ONE scan —
    at 100 TB you profile with a single aggregate job, never per-column
    jobs."""
    l = tbl(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        F.count("l_orderkey").alias("nn_orderkey"),
        F.countDistinct("l_orderkey").alias("nd_orderkey"),
        F.countDistinct("l_returnflag").alias("nd_returnflag"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("nulls_qty"),
    )


@register(
    "analytics_order_count_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def analytics_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed 0, 1, 2, … orders —
    an OUTER join (zero-order customers must survive) under a join-side
    predicate, then an aggregate OF an aggregate.

    Scale notes: the ON-clause predicate on the orders side of a LEFT
    join is equivalent to pre-filtering orders, so it pushes into the
    scan; the first aggregate shuffles on c_custkey (reusing the join
    exchange), and the second groupBy's key space is tiny (distinct
    order counts), so its shuffle is a few bytes per partition — the
    classic distribution-histogram two-phase shape."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "analytics_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def analytics_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with the maximum quarterly
    revenue — an aggregate reused twice (per-supplier revenue AND its
    global max) joined against itself on the max.

    The revenue relation is computed once; the global max is a one-row
    aggregate broadcast into the filter (never a driver collect). The
    max-equality comparison happens on the exact DECIMAL accumulation —
    casting to DOUBLE first could merge near-ties — and only the final
    projection casts for output."""
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = tbl(spark, sf_dir, "supplier")
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(27,4)"
            )
        ).alias("total_rev")
    )
    max_rev = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        s.join(rev, s.s_suppkey == F.col("supplier_no"))
        .join(F.broadcast(max_rev))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "analytics_large_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           (CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(27,2))) > 250)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def analytics_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind bulk orders — an IN-subquery
    whose subquery is itself a grouped HAVING aggregate, feeding a
    three-way join and a re-aggregation.

    The HAVING aggregate shuffles lineitem once on l_orderkey; its
    survivor set is small (bulk orders are rare), so the IN becomes a
    semi join that prunes orders early, before the fact-fact join. The
    outer aggregate reuses the o_orderkey partitioning. Top-k is
    TakeOrderedAndProject."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders")
    l = tbl(spark, sf_dir, "lineitem")
    bulk = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(27,2)")).alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    o_bulk = o.join(bulk, o.o_orderkey == bulk.l_orderkey, "left_semi")
    return (
        c.join(o_bulk, c.c_custkey == o_bulk.o_custkey)
        .join(l, F.col("o_orderkey") == l.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(27,2)")).cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "analytics_lone_blamed_supplier",
    oracle="""
    WITH l1 AS (SELECT * FROM lineitem WHERE l_returnflag = 'R')
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def analytics_lone_blamed_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for a returned item
    on finished multi-supplier orders — a correlated EXISTS **and** a
    correlated NOT EXISTS against the same fact table, with a non-equi
    residual (different supplier) on top of the orderkey equi-key.

    Both subqueries become hash joins on l_orderkey (semi then anti)
    with the supplier-inequality as a residual — three passes over
    lineitem that all share one orderkey partitioning, so AQE plans a
    single exchange reused across the semi, the anti, and the orders
    join."""
    l = tbl(spark, sf_dir, "lineitem")
    l1 = l.filter(F.col("l_returnflag") == "R")
    s = tbl(spark, sf_dir, "supplier")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l2 = l.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2"))
    l3 = l1.select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"))
    blamed = (
        l1.join(
            l2,
            (l1.l_orderkey == F.col("k2")) & (l1.l_suppkey != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        blamed.join(maybe_broadcast(s, "supplier"), F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "analytics_nation_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(YEAR(l.l_shipdate) AS BIGINT) AS l_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4)) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
           AND n2.n_name IN ('NATION_5','NATION_6','NATION_7','NATION_8'))
          OR (n1.n_name IN ('NATION_5','NATION_6','NATION_7','NATION_8')
           AND n2.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01') t
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def analytics_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nation GROUPS by
    ship year — a five-way join whose selective predicate is an OR
    ACROSS two different dimension joins (either direction of the pair),
    so it can't be pushed into a single scan; it lands as a residual
    after both nation joins while the date range still pushes into the
    lineitem scan."""
    s = tbl(spark, sf_dir, "supplier")
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    n1 = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    grp_a = ["NATION_1", "NATION_2", "NATION_3", "NATION_4"]
    grp_b = ["NATION_5", "NATION_6", "NATION_7", "NATION_8"]
    pair = (
        F.col("supp_nation").isin(grp_a) & F.col("cust_nation").isin(grp_b)
    ) | (F.col("supp_nation").isin(grp_b) & F.col("cust_nation").isin(grp_a))
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(27,4)"
    )
    return (
        s.join(l, s.s_suppkey == l.l_suppkey)
        .join(o, o.o_orderkey == F.col("l_orderkey"))
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(volume).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "analytics_market_share",
    oracle="""
    WITH flat AS (
      SELECT CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4)) AS volume,
             n1.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO')
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(27,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           CAST(SUM(volume) AS DOUBLE) AS total_volume
    FROM flat
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def analytics_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional promo-part revenue
    per order year — an eight-way star join feeding a conditional-sum /
    total-sum ratio per group. Both sums accumulate in DECIMAL and cast
    to DOUBLE before the single division, so the ratio is bit-identical
    cross-engine.

    Scale shape: every dimension of the eight-way join is broadcast into
    the fact."""
    p = tbl(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    l = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    n2 = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(27,4)"
    )
    zero = F.lit(0).cast("decimal(27,4)")
    flat = (
        l.join(maybe_broadcast(p, "part"), F.col("p_partkey") == l.l_partkey)
        .join(maybe_broadcast(s, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, o.o_orderkey == F.col("l_orderkey"))
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    return (
        flat.groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)
                ).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share"),
            F.sum("volume").cast("double").alias("total_volume"),
        )
        .orderBy("o_year")
    )


@register(
    "analytics_promo_revenue",
    oracle="""
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))
                         ELSE CAST(0 AS DECIMAL(27,4)) END) AS DOUBLE) * 100.0
             / (CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0)
             AS promo_revenue_pct,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def analytics_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo share of one month's revenue — the
    conditional-aggregation ratio (CASE inside SUM) over a fact-dim
    join, a single global aggregate with no grouping key."""
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = tbl(spark, sf_dir, "part")
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(27,4)"
    )
    zero = F.lit(0).cast("decimal(27,4)")
    return l.join(maybe_broadcast(p, "part"), l.l_partkey == p.p_partkey).agg(
        (
            F.sum(F.when(F.col("p_type") == "PROMO", volume).otherwise(zero)).cast(
                "double"
            )
            * F.lit(100.0)
            / F.sum(volume).cast("double")
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n_items"),
    )


@register(
    "analytics_top_nations_by_balance",
    oracle="""
    SELECT n.n_name AS nation,
           (CAST(CAST(SUM(CAST(s.s_acctbal AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total_bal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    HAVING SUM(CAST(s.s_acctbal AS DECIMAL(27,2))) > (
      SELECT SUM(CAST(s2.s_acctbal AS DECIMAL(27,2))) * CAST(0.04 AS DECIMAL(3,2))
      FROM supplier s2)
    ORDER BY total_bal DESC, nation
    """,
)
def analytics_top_nations_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose aggregate exceeds a fraction of the
    GLOBAL aggregate — a HAVING against an uncorrelated scalar subquery.
    The global total is a one-row aggregate broadcast into the
    post-aggregation filter; the comparison happens entirely in DECIMAL
    (including the 0.04 fraction as an exact decimal literal), so the
    threshold can't wobble in the last float bits."""
    import decimal

    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    bal = F.col("s_acctbal").cast("decimal(27,2)")
    glob = s.agg(
        (F.sum(bal) * F.lit(decimal.Decimal("0.04"))).alias("threshold")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(bal).alias("dec_bal"))
        .join(F.broadcast(glob))
        .filter(F.col("dec_bal") > F.col("threshold"))
        .select("nation", F.col("dec_bal").cast("double").alias("total_bal"))
        .orderBy(F.desc("total_bal"), F.asc("nation"))
    )


@register(
    "analytics_retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, DATE_TRUNC('day', MIN(ts)) AS cohort_day
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS active_day
      FROM events)
    SELECT f.cohort_day,
           CAST(DATE_DIFF('day', f.cohort_day, a.active_day) AS BIGINT)
             AS days_since,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM first_seen f
    JOIN activity a ON a.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def analytics_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by the day they first
    appeared, counted on each subsequent day they were active — the
    canonical event-analytics rollup (day granularity because the
    fixture's event stream spans days; the month form is the same plan).

    Scale shape: first-seen is one per-user aggregate, activity is one
    distinct over (user, day); both shuffle on user_id and the join
    reuses that partitioning, so the whole matrix costs two hash
    aggregates and one co-partitioned join regardless of event volume.
    Day arithmetic is integer datediff, no interval floats."""
    ev = tbl(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("active_day")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("active_day"), F.col("cohort_day"))
            .cast("long")
            .alias("days_since"),
        )
        .agg(F.count("*").alias("n_active_users"))
        .orderBy("cohort_day", "days_since")
    )


@register(
    "analytics_event_funnel",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS vt FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS ct FROM events e
          JOIN v ON v.user_id = e.user_id AND e.ts > v.vt
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS pt FROM events e
          JOIN c ON c.user_id = e.user_id AND e.ts > c.ct
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_viewed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_clicked_after_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchased_after_click
    """,
)
def analytics_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: first view → first click strictly
    after it → first purchase strictly after that, counted per stage —
    sequential event-pattern matching expressed as three chained
    per-user aggregates (no per-row state machine).

    Each stage is a groupBy(user_id) min over a semi-filtered join with
    the previous stage's timestamps — all three reuse one user_id
    partitioning; the final counts are one-row aggregates combined by a
    broadcast cross join (never a driver collect)."""
    ev = tbl(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vt"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    nv = v.agg(F.count("*").alias("n_viewed"))
    nc = c.agg(F.count("*").alias("n_clicked_after_view"))
    np_ = p.agg(F.count("*").alias("n_purchased_after_click"))
    return nv.join(F.broadcast(nc)).join(F.broadcast(np_))


@register(
    "analytics_forecast_revenue",
    oracle="""
    SELECT (CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(27,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0)
             AS revenue_increase,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= CAST(0.05 AS DOUBLE)
      AND l_discount <= CAST(0.07 AS DOUBLE)
      AND l_quantity < 24
    """,
)
def analytics_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the forecasting-revenue-change scan-aggregate —
    three range predicates, no join, one global sum. Every predicate
    pushes into the parquet scan (shipdate, discount, quantity are all
    plain comparisons), so at 100 TB this reads only row groups whose
    min/max stats survive the filters; the discount bounds are spelled
    as DOUBLE casts on both engines so the literal parses to identical
    bits."""
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(27,4)"))
        .cast("double")
        .alias("revenue_increase"),
        F.count("*").alias("n_lines"),
    )


@register(
    "analytics_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           (CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0) AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%an%'
    GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def analytics_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit by supplier nation and order year for a
    part-name pattern; fixture has no partsupp, so profit is the
    discounted revenue term). Plan shape: the selective p_name LIKE
    prunes parts FIRST and broadcasts; supplier/nation broadcast; the
    only big-big join is lineitem⋈orders on the orderkey. The year comes
    off the order date after the join — no date functions below the
    fact join, so pushdown stays intact."""
    l = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_name").like("%an%"))
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    o = tbl(spark, sf_dir, "orders")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(27,4)"
    )
    return (
        l.join(maybe_broadcast(p, "part"), l.l_partkey == p.p_partkey)
        .join(maybe_broadcast(s, "supplier"), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(
            ((F.sum(profit) * 10000).cast("bigint").cast("double") / 10000.0)
            .alias("profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "analytics_parts_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#17'
      AND p.p_size IN (2, 5, 11, 29, 42, 50)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def analytics_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part descriptor,
    excluding a complained-about supplier set (fixture has no partsupp;
    lineitem is the part-supplier bridge). The NOT IN subquery has a
    non-nullable key, so it plans as a broadcast anti join — never a
    per-row subquery; COUNT(DISTINCT) expands to the standard two-level
    aggregate."""
    l = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#17")
        & F.col("p_size").isin(2, 5, 11, 29, 42, 50)
    )
    bad = (
        tbl(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%7"))
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        l.join(maybe_broadcast(bad, "supplier"), "l_suppkey", "left_anti")
        .join(maybe_broadcast(p, "part"), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "analytics_dormant_rich_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT (CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) / COUNT(*) AS ab
      FROM customer WHERE c_acctbal > 0)
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           (CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total_bal
    FROM customer c CROSS JOIN avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def analytics_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balances
    and no orders at all, grouped by nation (fixture has no phone
    column, so nationkey stands in for the country code). Three classic
    pieces in one plan: an uncorrelated scalar average riding in as a
    1-row broadcast cross join (decimal-exact sum/count, identical
    division on both engines), a NOT EXISTS anti join against the
    orders keys, and a final grouped aggregate."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    bal = F.col("c_acctbal").cast("decimal(27,2)")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg((F.sum(bal).cast("double") / F.count(F.lit(1))).alias("ab"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_custs"),
            F.sum(bal).cast("double").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "analytics_late_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def analytics_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders in one quarter
    that have at least one late line, counted per priority. The fixture
    has no l_commitdate/l_receiptdate (TESTDATA.md), so "late" is
    re-expressed as shipped >60 days after the order date — same
    correlated-EXISTS-with-non-equi-residual shape.

    Scale notes: the EXISTS plans as a LEFT SEMI hash join on
    l_orderkey with the date inequality as a residual, never a per-row
    subquery; the quarter filter pushes to the orders scan so the semi
    join's build side is one quarter of orders, and the final group-by
    has 5 keys (bytes per partition)."""
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "analytics_lateness_priority_matrix",
    oracle="""
    SELECT CASE WHEN l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
                THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY ship_bucket
    ORDER BY ship_bucket
    """,
)
def analytics_lateness_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / order priority): one fact-fact
    join, then conditional aggregation — two SUM(CASE WHEN …) counters
    per group. The fixture has no l_shipmode, so the grouping key is a
    derived lateness bucket (shipped ≥90 days after order date = SLOW),
    preserving the derived-key + conditional-sum shape.

    Scale notes: the year filter pushes to the lineitem scan; the join
    shuffles both facts on orderkey once; both CASE counters fold into
    ONE partial+final aggregate pass (not one pass per counter), and
    the final group key space is 2 rows."""
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .withColumn(
            "ship_bucket",
            F.when(
                F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
                F.lit("SLOW"),
            ).otherwise(F.lit("FAST")),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


@register(
    "analytics_small_qty_revenue",
    oracle="""
    SELECT (CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) / 7.0
             AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND l.l_quantity < (
        SELECT 0.2 * (SUM(l2.l_quantity) / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
)
def analytics_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue lost if
    orders below 20%% of a part's average quantity were not filled —
    a correlated scalar AVG subquery decorrelated into a per-part
    aggregate joined back on partkey.

    Scale notes: the brand filter broadcasts a tiny part-key set into
    BOTH the threshold aggregate and the revenue side, so only that
    brand's lineitems are ever aggregated; the avg-threshold join keys
    on l_partkey (high cardinality — parallel); quantities are whole
    numbers, so the double sum is exact and the 0.2×(sum/count)
    threshold is bit-identical to the oracle's."""
    pk = (
        tbl(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    li = tbl(spark, sf_dir, "lineitem").join(
        maybe_broadcast(pk, "part"), F.col("l_partkey") == F.col("p_partkey")
    )
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.2 * (F.sum("l_quantity") / F.count(F.lit(1)))).alias("qty_cut")
    )
    return (
        li.join(thresholds, li.l_partkey == thresholds.t_partkey)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg((dsum("l_extendedprice", 2) / 7.0).alias("avg_yearly"))
    )


@register(
    "analytics_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    pc AS (
      SELECT c.l_partkey, c.unit_cost, s.s_name, s.s_acctbal, n.n_name
      FROM cost c
      JOIN part p ON p.p_partkey = c.l_partkey
        AND p.p_type = 'STANDARD' AND p.p_size <= 10
      JOIN supplier s ON s.s_suppkey = c.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'),
    w AS (
      SELECT *, MIN(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
      FROM pc)
    SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, unit_cost
    FROM w WHERE unit_cost = min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def analytics_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    the European supplier(s) offering it at the lowest unit cost — the
    classic correlated MIN subquery, decorrelated to a per-part window
    minimum. The fixture has no partsupp (TESTDATA.md), so lineitem is
    the part-supplier bridge and unit cost is MIN(extendedprice/qty)
    per (part, supplier).

    Scale notes: the (part, supplier) cost aggregate is the only big
    shuffle; part-filter and region-filtered supplier dims broadcast
    into it. The per-part MIN uses a window keyed on l_partkey (high
    cardinality — parallel), not a self-join back to a grouped
    aggregate, so no second shuffle of the cost table beyond the
    window's own partkey exchange. Ties (multiple suppliers at the
    min) all survive, matching SQL."""
    from pyspark.sql.window import Window

    l = tbl(spark, sf_dir, "lineitem")
    cost = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    p = (
        tbl(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
        .select("p_partkey")
    )
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = (
        tbl(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pc = cost.join(maybe_broadcast(p, "part"), cost.l_partkey == F.col("p_partkey")).join(
        maybe_broadcast(s, "supplier"), cost.l_suppkey == F.col("s_suppkey")
    )
    w = Window.partitionBy("l_partkey")
    return (
        pc.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "unit_cost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "analytics_excess_supply_candidates",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
      AND s.s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 45)
    ORDER BY s.s_name
    """,
)
def analytics_excess_supply_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers in one
    region who moved a large volume of a targeted part family in one
    year — the doubly-nested IN (part-name subquery inside a
    grouped-HAVING subquery inside a supplier IN) re-expressed over the
    lineitem bridge (no partsupp in the fixture, TESTDATA.md).

    Scale notes: inner-to-outer, each IN becomes a (broadcast-able)
    semi join, never a per-row subquery: the part-name key set
    broadcasts into the lineitem scan (with the year filter pushed
    down), the (supplier, part) volume aggregate shuffles once on a
    high-cardinality compound key, and the surviving supplier-key set
    is tiny — broadcast semi-joined against the region-filtered
    supplier dim."""
    p = (
        tbl(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    movers = (
        l.join(maybe_broadcast(p, "part"), l.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 45)
        .select("l_suppkey")
    )
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = (
        tbl(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    )
    return (
        s.join(maybe_broadcast(movers, "lineitem"), s.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "graph_nation_pagerank",
    oracle="""
    WITH nodes AS (SELECT n_nationkey AS node FROM nation),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    edges AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM edges GROUP BY src),
    ew AS (SELECT e.src, e.dst, e.w, o.wout FROM edges e JOIN outw o ON e.src = o.src),
    r0 AS (SELECT node, CAST(1000000000 // n AS BIGINT) AS rank_q
           FROM nodes CROSS JOIN nn),
    c1 AS (SELECT ew.dst AS node,
                  CAST(SUM((r.rank_q * ew.w) // ew.wout) AS BIGINT) AS s
           FROM r0 r JOIN ew ON r.node = ew.src GROUP BY 1),
    r1 AS (SELECT nodes.node,
                  CAST(3000000000 // (20 * n)
                       + (17 * COALESCE(c1.s, 0)) // 20 AS BIGINT) AS rank_q
           FROM nodes LEFT JOIN c1 ON nodes.node = c1.node CROSS JOIN nn),
    c2 AS (SELECT ew.dst AS node,
                  CAST(SUM((r.rank_q * ew.w) // ew.wout) AS BIGINT) AS s
           FROM r1 r JOIN ew ON r.node = ew.src GROUP BY 1),
    r2 AS (SELECT nodes.node,
                  CAST(3000000000 // (20 * n)
                       + (17 * COALESCE(c2.s, 0)) // 20 AS BIGINT) AS rank_q
           FROM nodes LEFT JOIN c2 ON nodes.node = c2.node CROSS JOIN nn),
    c3 AS (SELECT ew.dst AS node,
                  CAST(SUM((r.rank_q * ew.w) // ew.wout) AS BIGINT) AS s
           FROM r2 r JOIN ew ON r.node = ew.src GROUP BY 1),
    r3 AS (SELECT nodes.node,
                  CAST(3000000000 // (20 * n)
                       + (17 * COALESCE(c3.s, 0)) // 20 AS BIGINT) AS rank_q
           FROM nodes LEFT JOIN c3 ON nodes.node = c3.node CROSS JOIN nn)
    SELECT n.n_name AS nation, r3.rank_q, r3.rank_q / 1e9 AS rank
    FROM r3 JOIN nation n ON r3.node = n.n_nationkey
    """,
)
def graph_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph: edge (supplier nation →
    customer nation) weighted by lineitem count, three damped (0.85)
    power iterations on the 1e-9 integer rank grid
    (operators/graph.py pagerank — all-BIGINT recurrence, so the rank
    vector is bit-identical to the oracle's unrolled iterations).

    Scale shape: the fact-sized work is the one edge aggregation
    (orders⋈customer shuffles on the key once; supplier and nation are
    broadcast); every iteration after that joins a 25-row rank vector
    to a ≤625-row edge list — the iterative phase runs on the
    aggregated graph, never rescanning the fact, and the loop is
    unrolled into the plan with no driver-side state.

    The aggregated edge list is checkpointed once, so each unrolled
    iteration reads that checkpoint's scan plus broadcast scalars."""
    from rpa_etl_investing_spark.operators.graph import pagerank

    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(maybe_broadcast(s, "supplier"), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    nodes = n.select(F.col("n_nationkey").alias("node"))
    ranks = pagerank(nodes, edges, iters=3)
    return ranks.join(F.broadcast(n), ranks.node == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        "rank_q",
        (F.col("rank_q") / F.lit(1e9)).alias("rank"),
    )


@register(
    "analytics_event_pattern",
    oracle="""
    WITH coded AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'v'
                  WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                  ELSE 'e' END AS code
      FROM events),
    seqs AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             STRING_AGG(code, '' ORDER BY ts, event_id) AS seq
      FROM coded GROUP BY user_id)
    SELECT user_id, n_events,
           regexp_matches(seq, 'cv+p') AS matched,
           CASE WHEN regexp_matches(seq, 'cv+p')
                THEN regexp_extract(seq, 'cv+p') ELSE '' END AS first_match
    FROM seqs
    """,
)
def analytics_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match (the MATCH_RECOGNIZE
    shape): per user, did a click → one-or-more views → purchase run
    occur consecutively? Events compress to one-char codes, the
    per-user timeline becomes a string (``array_sort`` over the
    collected (ts, event_id, code) structs — collect order never
    matters), and the pattern is a plain regex both engines evaluate
    greedily.

    Scale shape: ONE shuffle on user_id; the per-key sequence
    materializes in the aggregation buffer — the standard CEP
    assumption (per-entity history fits memory; at 100 TB you'd bound
    it with a session window first, exactly what stream_session_window
    provides). Text of size O(events-per-user), never the corpus."""
    ev = tbl(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seqs = (
        ev.select("user_id", "ts", "event_id", code.alias("code"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "code"))),
                    lambda x: x["code"],
                ),
                "",
            ).alias("seq"),
        )
    )
    matched = F.col("seq").rlike("cv+p")
    return seqs.select(
        "user_id",
        "n_events",
        matched.alias("matched"),
        F.when(matched, F.regexp_extract("seq", "cv+p", 0))
        .otherwise("")
        .alias("first_match"),
    )


@register(
    "profile_psi_drift",
    oracle="""
    WITH r AS (
      SELECT n_chars AS v, doc_id % 2 = 0 AS is_a,
             ROW_NUMBER() OVER (ORDER BY n_chars) AS rn,
             COUNT(*) OVER () AS n
      FROM documents),
    th AS (
      SELECT
        MAX(CASE WHEN rn = CAST(FLOOR(0.2 * (n - 1)) AS BIGINT) + 1 THEN v END) AS t20,
        MAX(CASE WHEN rn = CAST(FLOOR(0.4 * (n - 1)) AS BIGINT) + 1 THEN v END) AS t40,
        MAX(CASE WHEN rn = CAST(FLOOR(0.6 * (n - 1)) AS BIGINT) + 1 THEN v END) AS t60,
        MAX(CASE WHEN rn = CAST(FLOOR(0.8 * (n - 1)) AS BIGINT) + 1 THEN v END) AS t80
      FROM r),
    binned AS (
      SELECT CAST((CASE WHEN v >= t20 THEN 1 ELSE 0 END)
                + (CASE WHEN v >= t40 THEN 1 ELSE 0 END)
                + (CASE WHEN v >= t60 THEN 1 ELSE 0 END)
                + (CASE WHEN v >= t80 THEN 1 ELSE 0 END) AS INT) AS bin,
             is_a
      FROM r CROSS JOIN th),
    counts AS (
      SELECT bin,
             CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS a,
             CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS b
      FROM binned GROUP BY bin),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
            FROM counts)
    SELECT bin, a, b,
           CASE WHEN a > 0 AND b > 0
                THEN (a * nb - b * na)
                     * CAST(FLOOR(1e6 * LN(CAST(a * nb AS DOUBLE)
                                           / CAST(b * na AS DOUBLE)) + 0.5)
                            AS BIGINT)
                ELSE 0 END AS contrib_q,
           CASE WHEN a > 0 AND b > 0
                THEN (a * nb - b * na)
                     * CAST(FLOOR(1e6 * LN(CAST(a * nb AS DOUBLE)
                                           / CAST(b * na AS DOUBLE)) + 0.5)
                            AS BIGINT) / (1e6 * na * nb)
                ELSE 0.0 END AS psi_part
    FROM counts CROSS JOIN tot
    """,
)
def profile_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: split the corpus into
    cohorts A/B (even/odd doc_id — the stand-in for yesterday's batch
    vs today's), bin doc length by the EXACT combined quintiles from
    the sharded selection (operators/prefix.py — no global sort), and
    compute each bin's PSI contribution (p−q)·ln(p/q) in integer form:
    the sign/magnitude term (a·Nb − b·Na) is exact BIGINT, and the only
    transcendental, ln of a ratio of exact integers, quantizes to the
    1e-6 grid. This is the drift gate an ML data pipeline runs before
    admitting a new batch; thresholds and totals all ride as 1-row
    broadcasts, one aggregate over the corpus."""
    from rpa_etl_investing_spark.operators.prefix import exact_quantiles

    docs = tbl(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("v"), (F.col("doc_id") % 2 == 0).alias("is_a")
    )
    th = exact_quantiles(
        docs, "v", {"t20": 0.2, "t40": 0.4, "t60": 0.6, "t80": 0.8}
    )
    binned = docs.crossJoin(F.broadcast(th)).select(
        (
            (F.col("v") >= F.col("t20")).cast("int")
            + (F.col("v") >= F.col("t40")).cast("int")
            + (F.col("v") >= F.col("t60")).cast("int")
            + (F.col("v") >= F.col("t80")).cast("int")
        ).alias("bin"),
        "is_a",
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("is_a"), 1)).cast("bigint").alias("a"),
        F.count(F.when(~F.col("is_a"), 1)).cast("bigint").alias("b"),
    )
    tot = counts.agg(
        F.sum("a").cast("bigint").alias("na"), F.sum("b").cast("bigint").alias("nb")
    )
    j = counts.crossJoin(F.broadcast(tot))
    diff = F.col("a") * F.col("nb") - F.col("b") * F.col("na")
    qln = F.floor(
        F.lit(1e6)
        * F.log(
            (F.col("a") * F.col("nb")).cast("double")
            / (F.col("b") * F.col("na")).cast("double")
        )
        + F.lit(0.5)
    ).cast("bigint")
    ok = (F.col("a") > 0) & (F.col("b") > 0)
    contrib = F.when(ok, diff * qln).otherwise(F.lit(0)).cast("bigint")
    return j.select(
        "bin",
        "a",
        "b",
        contrib.alias("contrib_q"),
        F.when(ok, contrib / (F.lit(1e6) * F.col("na") * F.col("nb")))
        .otherwise(F.lit(0.0))
        .alias("psi_part"),
    )


@register(
    "analytics_attribution_last_touch",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'purchase'),
    touches AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      FROM events WHERE event_type IN ('click', 'view', 'signup')),
    attributed AS (
      SELECT p.event_id, p.value,
             (SELECT t.event_type FROM touches t
              WHERE t.user_id = p.user_id AND t.ts <= p.ts
              ORDER BY t.ts DESC, t.event_type DESC LIMIT 1) AS channel
      FROM purchases p)
    SELECT COALESCE(channel, 'organic') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           (CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0) AS attributed_revenue
    FROM attributed
    GROUP BY 1
    """,
)
def analytics_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase's revenue is
    credited to the user's most recent preceding touch (click/view/
    signup), falling back to 'organic' when nothing precedes it. The
    mechanism is the backward as-of join (operators/asof.py — ONE
    merge-scan shuffle on user_id, no range cross-join); ties at the
    same timestamp break deterministically on the greater event_type
    string, matching the oracle's correlated ORDER BY.

    Scale shape: two filtered projections of the fact union into the
    single as-of pass, then a tiny channel rollup — attribution at
    100 TB is exactly one key shuffle."""
    from rpa_etl_investing_spark.operators.asof import asof_join
    from rpa_etl_investing_spark.plans.aggregates import dsum

    ev = tbl(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touches = (
        ev.filter(F.col("event_type").isin("click", "view", "signup"))
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("channel"))
    )
    j = asof_join(
        purchases, touches, key="user_id", ts="ts", value_cols=["channel"]
    )
    return j.groupBy(
        F.coalesce(F.col("channel_asof"), F.lit("organic")).alias("channel")
    ).agg(
        F.count("*").cast("bigint").alias("n_purchases"),
        dsum("value", 6).alias("attributed_revenue"),
    )


@register(
    "analytics_chi_square",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS seg, o.o_orderstatus AS status,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    rt AS (SELECT seg, CAST(SUM(obs) AS BIGINT) AS r FROM cells GROUP BY seg),
    ct AS (SELECT status, CAST(SUM(obs) AS BIGINT) AS c FROM cells GROUP BY status),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS total FROM cells)
    SELECT cells.seg, cells.status, cells.obs, rt.r AS row_total, ct.c AS col_total,
           CAST(rt.r * ct.c AS DOUBLE) / total AS expected,
           CAST(cells.obs * total - rt.r * ct.c AS DOUBLE)
             * CAST(cells.obs * total - rt.r * ct.c AS DOUBLE)
             / (CAST(rt.r AS DOUBLE) * ct.c * total) AS chi2_contrib
    FROM cells JOIN rt USING (seg) JOIN ct USING (status) CROSS JOIN n
    """,
)
def analytics_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence scan between two categorical dimensions
    (market segment × order status): per-cell observed counts, marginal
    totals, expected counts, and the χ² contribution
    ``(o·N − r·c)² / (r·c·N)`` — the dependence-screening companion to
    the PSI drift monitor (``profile_psi_drift``). The deviation
    ``o·N − r·c`` is an exact BIGINT before the (deterministic) double
    square-and-divide, so both engines compute identical cells.

    Scale shape: one fact join + hash aggregate produces the cell
    table; marginals re-aggregate the CELLS (seg×status rows, not the
    fact) and ride back as broadcast joins — χ² over any two dimensions
    costs one fact pass."""
    orders = tbl(spark, sf_dir, "orders")
    cust = tbl(spark, sf_dir, "customer")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(F.count("*").cast("bigint").alias("obs"))
    )
    rt = cells.groupBy("seg").agg(F.sum("obs").cast("bigint").alias("r"))
    ct = cells.groupBy("status").agg(F.sum("obs").cast("bigint").alias("c"))
    n = cells.agg(F.sum("obs").cast("bigint").alias("total"))
    j = (
        cells.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "status")
        .crossJoin(F.broadcast(n))
    )
    dev = (F.col("obs") * F.col("total") - F.col("r") * F.col("c")).cast("double")
    return j.select(
        "seg",
        "status",
        "obs",
        F.col("r").alias("row_total"),
        F.col("c").alias("col_total"),
        ((F.col("r") * F.col("c")).cast("double") / F.col("total")).alias("expected"),
        (
            dev * dev / (F.col("r").cast("double") * F.col("c") * F.col("total"))
        ).alias("chi2_contrib"),
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH dir_edges AS MATERIALIZED (
      -- MATERIALIZED (r8, verdict item #7): without it DuckDB inlines
      -- this 4-way fact join into each of the three `und` references in
      -- `tri`, re-running it 3x and spilling ~19 GB at sf1; pinned, the
      -- edge list collapses to <=n^2 rows once and the triangle join is
      -- trivial.
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM dir_edges WHERE src <> dst),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM und e1
      JOIN und e2 ON e2.u = e1.v
      JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
    per_node AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY node)
    SELECT n.n_name AS nation, p.n_triangles
    FROM per_node p JOIN nation n ON p.node = n.n_nationkey
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting on the undirected nation trade graph —
    the clustering-structure companion to PageRank (``J8``). Canonical
    ordered-edge enumeration (u<v) guarantees each triangle a<b<c is
    produced exactly once by the two-hop join ``(a,b)⋈(b,c)⋈(a,c)``,
    then node participation is a union + hash count.

    Scale shape: the fact collapses to the distinct edge list first
    (same one-pass aggregation as PageRank); the triangle join runs on
    edges only — the standard distributed formulation where the
    ordered-edge orientation bounds the join fan-out by the smaller
    degree side (Suri & Vassilvitskii, WWW'11)."""
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    dir_edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(maybe_broadcast(s, "supplier"), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.lit(1).alias("_one"))
    )
    und = (
        dir_edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    per_node = nodes.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )
    return per_node.join(F.broadcast(n), per_node.node == n.n_nationkey).select(
        F.col("n_name").alias("nation"), "n_triangles"
    )


@register(
    "profile_rank_sum_test",
    oracle="""
    WITH pop AS (
      SELECT n_chars AS v, doc_id % 2 = 0 AS is_a FROM documents),
    vc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM pop GROUP BY v),
    rk AS (
      SELECT v, cnt,
             2 * (CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) - cnt)
               + cnt + 1 AS a2
      FROM vc),
    joined AS (
      SELECT p.is_a, r.a2 FROM pop p JOIN rk r ON p.v = r.v),
    counts AS (
      SELECT CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS na,
             CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN is_a THEN a2 ELSE 0 END) AS BIGINT) AS r2a
      FROM joined),
    ties AS (
      SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term FROM vc)
    SELECT na, nb, r2a,
           r2a - na * (na + 1) AS u2,
           tie_term,
           CAST(FLOOR(1e6 *
             (CAST(r2a - na * (na + 1) AS DOUBLE) / 2 - CAST(na * nb AS DOUBLE) / 2)
             / SQRT(CAST(na AS DOUBLE) * nb / 12 *
                    ((na + nb + 1) - CAST(tie_term AS DOUBLE)
                      / ((na + nb) * (na + nb - 1))))
             + 0.5) AS BIGINT) AS z_q
    FROM counts CROSS JOIN ties
    """,
)
def profile_rank_sum_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between the A/B cohorts (even/odd
    doc_id) on document length — the nonparametric significance test
    completing the drift toolkit (PSI measures magnitude,
    ``analytics_chi_square`` categorical dependence, this one ordinal
    shift). Tie-averaged ranks come from the distinct-value domain as
    integers (2·avg_rank), so the rank sum and the doubled U statistic
    are exact BIGINTs; the z-score applies the tie-corrected variance
    with only correctly-rounded IEEE ops, quantized to 1e-6.

    Scale shape: identical to the Spearman query — one per-value count,
    one tiny domain window, one broadcast join back, one aggregate;
    the fact is never sorted."""
    from pyspark.sql.window import Window as W

    pop = tbl(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("v"), (F.col("doc_id") % 2 == 0).alias("is_a")
    )
    vc = pop.groupBy("v").agg(F.count("*").cast("bigint").alias("cnt"))
    # bounded-window: distinct value domain of the profiled measure
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    rk = vc.select(
        "v",
        "cnt",
        (
            F.lit(2) * (F.sum("cnt").over(w).cast("bigint") - F.col("cnt"))
            + F.col("cnt")
            + F.lit(1)
        ).alias("a2"),
    )
    joined = pop.join(F.broadcast(rk.select("v", "a2")), "v")
    counts = joined.agg(
        F.count(F.when(F.col("is_a"), 1)).cast("bigint").alias("na"),
        F.count(F.when(~F.col("is_a"), 1)).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("is_a"), F.col("a2")).otherwise(0))
        .cast("bigint")
        .alias("r2a"),
    )
    ties = vc.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("tie_term")
    )
    j = counts.crossJoin(F.broadcast(ties))
    u2 = F.col("r2a") - F.col("na") * (F.col("na") + 1)
    n = F.col("na") + F.col("nb")
    z = (
        u2.cast("double") / 2 - (F.col("na") * F.col("nb")).cast("double") / 2
    ) / F.sqrt(
        F.col("na").cast("double") * F.col("nb") / 12
        * ((n + 1) - F.col("tie_term").cast("double") / (n * (n - 1)))
    )
    return j.select(
        "na",
        "nb",
        "r2a",
        u2.alias("u2"),
        "tie_term",
        F.floor(F.lit(1e6) * z + F.lit(0.5)).cast("bigint").alias("z_q"),
    )


@register(
    "profile_ks_test",
    oracle="""
    WITH pop AS (
      SELECT n_chars AS v, doc_id % 2 = 0 AS is_a FROM documents),
    vc AS (
      SELECT v,
             CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS ca,
             CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS cb
      FROM pop GROUP BY v),
    cum AS (
      SELECT v,
             CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
             CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
      FROM vc),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM vc),
    gaps AS (
      SELECT ABS(cuma * nb - cumb * na) AS gap_num FROM cum CROSS JOIN tot)
    SELECT t.na, t.nb,
           CAST(MAX(g.gap_num) AS BIGINT) AS d_num,
           CAST(MAX(g.gap_num) AS DOUBLE) / (t.na * t.nb) AS d_stat
    FROM gaps g CROSS JOIN tot t
    GROUP BY t.na, t.nb
    """,
)
def profile_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the A/B cohorts
    on document length — the supremum CDF gap, computed EXACTLY:
    ``D = max |cumA·nB − cumB·nA| / (nA·nB)`` keeps the numerator an
    integer over the distinct-value domain, so the max is bit-exact and
    only the final division is floating point. Third leg of the drift
    toolkit: PSI (binned magnitude), Mann-Whitney (ordinal shift), KS
    (worst-case distributional gap).

    Scale shape: per-value cohort counts (one aggregate over the fact),
    a cumsum window over the DISTINCT domain (hundreds of rows, not the
    corpus), totals as a 1-row broadcast, and a max."""
    from pyspark.sql.window import Window as W

    pop = tbl(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("v"), (F.col("doc_id") % 2 == 0).alias("is_a")
    )
    vc = pop.groupBy("v").agg(
        F.count(F.when(F.col("is_a"), 1)).cast("bigint").alias("ca"),
        F.count(F.when(~F.col("is_a"), 1)).cast("bigint").alias("cb"),
    )
    # bounded-window: distinct value domain of the profiled measure
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = vc.select(
        F.sum("ca").over(w).cast("bigint").alias("cuma"),
        F.sum("cb").over(w).cast("bigint").alias("cumb"),
    )
    tot = vc.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "na",
        "nb",
        F.abs(
            F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
        ).alias("gap_num"),
    )
    return gaps.groupBy("na", "nb").agg(
        F.max("gap_num").cast("bigint").alias("d_num"),
        (
            F.max("gap_num").cast("double") / (F.col("na") * F.col("nb"))
        ).alias("d_stat"),
    )


@register(
    "analytics_rfm_features",
    oracle="""
    WITH maxd AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS dmax FROM events),
    base AS (
      SELECT user_id,
             CAST(DATE_DIFF('day', MAX(CAST(ts AS TIMESTAMP)),
                            (SELECT dmax FROM maxd)) AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             (CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0) AS monetary
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id),
    rr AS (
      SELECT user_id, recency_days, frequency, monetary,
             ROW_NUMBER() OVER (ORDER BY frequency, user_id) AS rn_f,
             ROW_NUMBER() OVER (ORDER BY monetary, user_id) AS rn_m,
             ROW_NUMBER() OVER (ORDER BY recency_days DESC, user_id) AS rn_r,
             COUNT(*) OVER () AS n
      FROM base)
    SELECT user_id, recency_days, frequency, monetary,
           CAST(1 + (5 * (rn_r - 1)) // n AS BIGINT) AS r_score,
           CAST(1 + (5 * (rn_f - 1)) // n AS BIGINT) AS f_score,
           CAST(1 + (5 * (rn_m - 1)) // n AS BIGINT) AS m_score
    FROM rr
    """,
)
def analytics_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM feature engineering — the classic per-entity feature-store
    build: recency (days since last purchase, against the corpus max
    timestamp as a broadcast scalar), frequency, and exact-decimal
    monetary value, each mapped to a 1-5 quintile score by equi-depth
    ranking (``1 + 5·(rank−1) div n`` — pure integers, deterministic
    user_id tie-breaks, recency ranked descending so fresher = higher).

    Scale shape: one purchase aggregate per user, then ranking over the
    PER-USER table — one row per entity, but the entity dimension
    itself is unbounded, so each of the three rankings rides the
    SHARDED row_number (operators/prefix.py; value-range shards on the
    ranked measure, negated for the descending recency rank, user_id
    tie-breaks in-shard) and joins back on user_id — no
    single-partition sort at any entity count (r10: was three global
    row_number windows). n rides as a 1-row broadcast instead of an
    unpartitioned count window."""
    from rpa_etl_investing_spark.operators.prefix import (
        sharded_row_number,
        with_value_range_shard,
    )

    ev = tbl(spark, sf_dir, "events")
    maxd = ev.agg(F.max("ts").alias("dmax"))
    base = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "user_id",
            F.datediff(F.col("dmax"), F.col("last_ts"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    nrow = base.agg(F.count("*").cast("bigint").alias("_n"))
    score = lambda rn: (F.lit(1) + F.expr(f"(5 * ({rn} - 1)) div _n")).cast("bigint")

    def rank_by(value_col: str, out: str, desc: bool = False) -> DataFrame:
        v = base.select("user_id", F.col(value_col).alias("_v"))
        if desc:
            v = v.select("user_id", (-F.col("_v")).alias("_v"))
        return sharded_row_number(
            with_value_range_shard(v, "_v"), [], ["_v", "user_id"], out
        ).select("user_id", out)

    rr = (
        base.join(rank_by("frequency", "rn_f"), "user_id")
        .join(rank_by("monetary", "rn_m"), "user_id")
        .join(rank_by("recency_days", "rn_r", desc=True), "user_id")
        .crossJoin(F.broadcast(nrow))
    )
    return rr.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        score("rn_r").alias("r_score"),
        score("rn_f").alias("f_score"),
        score("rn_m").alias("m_score"),
    )


@register(
    "analytics_target_encoding",
    oracle="""
    WITH agg AS (
      SELECT o_orderpriority,
             (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS s,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY o_orderpriority)
    SELECT o.o_orderkey, o.o_orderpriority,
           CASE WHEN a.c > 1
                THEN (a.s - o.o_totalprice) / (a.c - 1) END AS loo_mean_price
    FROM orders o JOIN agg a ON o.o_orderpriority = a.o_orderpriority
    """,
)
def analytics_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    feature: each order's priority is encoded as the mean total price
    of all OTHER orders sharing that priority
    (``(Σ_cat − x_i)/(n_cat − 1)``). Category aggregates compute once
    (exact decimal sums) and broadcast back; the per-row exclusion is
    arithmetic, so no self-join and no per-row re-aggregation —
    encoding any number of categorical columns stays one aggregate +
    one broadcast join each over the fact. Singleton categories encode
    NULL rather than leaking their own target."""
    orders = tbl(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(27,2)")).cast("double").alias("s"),
        F.count("*").cast("bigint").alias("c"),
    )
    j = orders.join(F.broadcast(agg), "o_orderpriority")
    return j.select(
        "o_orderkey",
        "o_orderpriority",
        F.when(
            F.col("c") > 1,
            (F.col("s") - F.col("o_totalprice")) / (F.col("c") - 1),
        ).alias("loo_mean_price"),
    )


@register(
    "analytics_markov_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS prev_type
      FROM events),
    cells AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type),
    rowt AS (
      SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from
      FROM cells GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, c.n, r.n_from,
           CAST(c.n AS DOUBLE) / r.n_from AS p
    FROM cells c JOIN rowt r ON c.prev_type = r.prev_type
    """,
)
def analytics_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    timelines — the user-journey model behind next-action prediction
    and funnel leak detection. One lag window per user (deterministic
    (ts, event_id) ordering), one (from, to) hash aggregate; row totals
    re-aggregate the 25-cell matrix, never the fact, and transition
    probabilities divide two exact counts."""
    from pyspark.sql.window import Window as W

    ev = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    cells = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    rowt = cells.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("n_from")
    )
    return cells.join(F.broadcast(rowt), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        "n_from",
        (F.col("n").cast("double") / F.col("n_from")).alias("p"),
    )


@register(
    "graph_nation_reach",
    oracle="""
    WITH RECURSIVE flow AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(27,2))) AS DECIMAL(27,2))
               AS flow
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(flow) AS DECIMAL(27,2)) AS t FROM flow),
    edges AS (
      SELECT src, dst FROM flow CROSS JOIN tot
      WHERE src <> dst AND flow * 625 > t),
    hops(node, d) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT e.dst, h.d + 1
      FROM hops h JOIN edges e ON e.src = h.node
      WHERE h.d < 4)
    SELECT h.node AS nationkey, n.n_name AS nation,
           CAST(MIN(h.d) AS INT) AS hops
    FROM hops h JOIN nation n ON h.node = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def graph_nation_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest hops over the *thresholded* nation trade
    graph: keep only supply edges whose exact-decimal quantity flow
    exceeds the mean pair flow (``flow * 625 > total`` — 625 = 25²
    nation pairs, the integer-product form of "above average" so no
    division touches the compare), then BFS from nation 0 with the
    unrolled frontier expansion (operators/graph.py bfs_hops). The
    oracle replays the identical bounded expansion as a recursive CTE —
    Spark's unrolled min-hop lattice must agree exactly.

    Scale shape: the fact-sized work is one (src, dst) aggregation
    (joins keyed on orderkey/custkey, supplier broadcast); the BFS
    iterates on the ≤625-row aggregated edge list, persisted once, and
    every hop is a keyed join + min-aggregate with no driver state."""
    from rpa_etl_investing_spark.operators.graph import bfs_hops

    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    flow = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(maybe_broadcast(s, "supplier"), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(27,2)"))
            .cast("decimal(27,2)")
            .alias("flow")
        )
    )
    tot = flow.agg(F.sum("flow").cast("decimal(27,2)").alias("t"))
    edges = (
        flow.crossJoin(F.broadcast(tot))
        .filter((F.col("src") != F.col("dst")) & (F.col("flow") * 625 > F.col("t")))
        .select("src", "dst")
    )
    d = bfs_hops(edges, source=0, max_hops=4)
    return d.join(F.broadcast(n), d.node == n.n_nationkey).select(
        F.col("node").alias("nationkey"),
        F.col("n_name").alias("nation"),
        "hops",
    )


@register(
    "analytics_robust_zscore",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS priority, o_totalprice AS v FROM orders),
    r AS (
      SELECT priority, v,
             ROW_NUMBER() OVER (PARTITION BY priority ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM v),
    med AS (
      SELECT priority, v AS med FROM r
      WHERE rn = CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1),
    d AS (
      SELECT v.priority, v.v, m.med, ABS(v.v - m.med) AS dev
      FROM v JOIN med m ON v.priority = m.priority),
    r2 AS (
      SELECT priority, dev,
             ROW_NUMBER() OVER (PARTITION BY priority ORDER BY dev) AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM d),
    mad AS (
      SELECT priority, dev AS mad FROM r2
      WHERE rn = CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1)
    SELECT d.priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(d.med) AS med,
           MAX(a.mad) AS mad,
           CAST(SUM(CASE WHEN d.dev > 4.4478 * a.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           MAX(d.dev) AS max_dev
    FROM d JOIN mad a ON d.priority = a.priority
    GROUP BY d.priority
    """,
)
def analytics_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier scan of order totals per priority —
    the anomaly gate that, unlike the mean/stddev z-score, a single
    fat-finger row cannot poison. Both order statistics are the exact
    discrete median (k = floor(0.5·(n−1)) + 1) computed by the
    SHARDED two-pass selection (operators/prefix.py exact_quantiles —
    no per-group sort, no collect), the second pass running on the
    |v − med| derived column. The 3σ-equivalent cut is the single
    literal 4.4478 (= 3 × 1.4826 pre-folded, so engines cannot
    associate the product differently).

    Scale shape: two selection passes + one final aggregate, all
    keyed on the group column; the only ordered windows run inside
    value-range shards (~1/n_shards of a group) or over the
    constant-sized (groups × shards) count frame. The 2-column fact
    projection is re-scanned by each pass rather than checkpointed — at
    100 TB a pruned parquet rescan is cheaper than materializing a
    fact-sized relation (the small aggregated medians DO ride
    broadcast)."""
    from rpa_etl_investing_spark.operators.prefix import exact_quantiles

    v = tbl(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("v"),
    )
    med = exact_quantiles(v, "v", {"med": 0.5}, group_cols=["priority"])
    d = v.join(med, "priority").withColumn("dev", F.abs(F.col("v") - F.col("med")))
    mad = exact_quantiles(d, "dev", {"mad": 0.5}, group_cols=["priority"])
    j = d.join(mad, "priority")
    return j.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("med").alias("med"),
        F.max("mad").alias("mad"),
        F.sum(
            F.when(F.col("dev") > F.lit(4.4478) * F.col("mad"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers"),
        F.max("dev").alias("max_dev"),
    )


@register(
    "analytics_pareto_frontier",
    oracle="""
    SELECT p.p_partkey, p.p_brand, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_brand = p.p_brand
        AND q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    """,
)
def analytics_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier (skyline) of parts on (cheaper price,
    larger size): a part survives iff no brand-mate strictly dominates
    it. The oracle states the definition as a quadratic NOT EXISTS;
    the Spark plan is the LINEAR sweep — collapse to one row per
    (brand, price) with the price's max size, take the *strict* prefix
    max of size over cheaper prices (sharded two-level running max,
    operators/prefix.py sharded_running_max), and keep rows that beat
    it while matching their own price's max.

    Scale shape: one (brand, price) aggregate, one sharded prefix-max
    whose ordered windows only ever see a price-range shard, and a
    keyed join back — no self-join, no quadratic candidate set,
    no global sort. Price/size compares are exact (parquet doubles
    compared, never recomputed)."""
    from rpa_etl_investing_spark.operators.prefix import (
        sharded_running_max,
        with_value_range_shard,
    )

    p = tbl(spark, sf_dir, "part")
    pp = p.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("pmax")
    )
    sharded = with_value_range_shard(pp, "p_retailprice", n_shards=16)
    m = sharded_running_max(
        sharded, ["p_brand"], ["p_retailprice"], "pmax", "best_cheaper",
        strict=True,
    ).select("p_brand", "p_retailprice", "pmax", "best_cheaper")
    return (
        p.join(m, ["p_brand", "p_retailprice"])
        .filter(
            (F.col("p_size") == F.col("pmax"))
            & (
                F.col("best_cheaper").isNull()
                | (F.col("p_size") > F.col("best_cheaper"))
            )
        )
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
    )


@register(
    "analytics_woe_binning",
    oracle="""
    WITH v AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS good
      FROM orders),
    r AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
             COUNT(*) OVER () AS n
      FROM v),
    cuts AS (
      SELECT MAX(CASE WHEN rn = CAST(FLOOR(0.1 * (n - 1)) AS BIGINT) + 1 THEN v END) AS c1,
             MAX(CASE WHEN rn = CAST(FLOOR(0.2 * (n - 1)) AS BIGINT) + 1 THEN v END) AS c2,
             MAX(CASE WHEN rn = CAST(FLOOR(0.3 * (n - 1)) AS BIGINT) + 1 THEN v END) AS c3,
             MAX(CASE WHEN rn = CAST(FLOOR(0.4 * (n - 1)) AS BIGINT) + 1 THEN v END) AS c4,
             MAX(CASE WHEN rn = CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1 THEN v END) AS c5,
             MAX(CASE WHEN rn = CAST(FLOOR(0.6 * (n - 1)) AS BIGINT) + 1 THEN v END) AS c6,
             MAX(CASE WHEN rn = CAST(FLOOR(0.7 * (n - 1)) AS BIGINT) + 1 THEN v END) AS c7,
             MAX(CASE WHEN rn = CAST(FLOOR(0.8 * (n - 1)) AS BIGINT) + 1 THEN v END) AS c8,
             MAX(CASE WHEN rn = CAST(FLOOR(0.9 * (n - 1)) AS BIGINT) + 1 THEN v END) AS c9
      FROM r),
    binned AS (
      SELECT CAST((v.v > c.c1)::INT + (v.v > c.c2)::INT + (v.v > c.c3)::INT
                + (v.v > c.c4)::INT + (v.v > c.c5)::INT + (v.v > c.c6)::INT
                + (v.v > c.c7)::INT + (v.v > c.c8)::INT + (v.v > c.c9)::INT
                AS INT) AS bin,
             v.good
      FROM v CROSS JOIN cuts c),
    g AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(good) AS BIGINT) AS n_good,
             CAST(SUM(1 - good) AS BIGINT) AS n_bad
      FROM binned GROUP BY bin),
    t AS (
      SELECT CAST(SUM(n_good) AS BIGINT) AS tg,
             CAST(SUM(n_bad) AS BIGINT) AS tb
      FROM g)
    SELECT g.bin, g.n, g.n_good, g.n_bad,
           CASE WHEN g.n_good > 0 AND g.n_bad > 0
                THEN CAST(FLOOR(1e6 * LN((g.n_good * t.tb) / (g.n_bad * t.tg))
                                + 0.5) AS BIGINT) END AS woe_q,
           CASE WHEN g.n_good > 0 AND g.n_bad > 0
                THEN CAST(FLOOR(1e6 * LN((g.n_good * t.tb) / (g.n_bad * t.tg))
                                + 0.5) AS BIGINT) / 1e6 END AS woe
    FROM g CROSS JOIN t
    """,
)
def analytics_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence feature discretization: equi-depth decile
    bins of order value (exact type-1 quantile cut points — the
    sharded selection of operators/prefix.py, NOT a global ntile
    window), then per-bin ``WoE = ln(good-share / bad-share)`` against
    the finished-order label. The credit-scoring / feature-engineering
    classic, with every count exact and the single ln per bin
    quantized on the 1e-6 grid (its argument is one division of exact
    BIGINT products, so both engines feed ln the identical double).

    Scale shape: the cut points come from the two-pass sharded
    selection (no global sort, no single-task ntile); they ride in as
    a 1-row broadcast; binning is a map-side expression and the rest
    is one 10-group aggregate. The oracle derives identical cuts via
    ROW_NUMBER with the same k = floor(q·(n−1))+1 rule."""
    from rpa_etl_investing_spark.operators.prefix import exact_quantiles

    v = tbl(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("good"),
    )
    cuts = exact_quantiles(
        v, "v", {f"c{i}": i / 10.0 for i in range(1, 10)}
    )
    bin_expr = sum(
        (F.col("v") > F.col(f"c{i}")).cast("int") for i in range(1, 10)
    ).cast("int")
    binned = v.crossJoin(F.broadcast(cuts)).select(
        bin_expr.alias("bin"), "good"
    )
    g = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("good").cast("bigint").alias("n_good"),
        F.sum(F.lit(1) - F.col("good")).cast("bigint").alias("n_bad"),
    )
    t = g.agg(
        F.sum("n_good").cast("bigint").alias("tg"),
        F.sum("n_bad").cast("bigint").alias("tb"),
    )
    ok = (F.col("n_good") > 0) & (F.col("n_bad") > 0)
    woe_q = F.floor(
        F.lit(1e6)
        * F.log(
            (F.col("n_good") * F.col("tb")) / (F.col("n_bad") * F.col("tg"))
        )
        + F.lit(0.5)
    ).cast("bigint")
    return g.crossJoin(F.broadcast(t)).select(
        "bin",
        "n",
        "n_good",
        "n_bad",
        F.when(ok, woe_q).alias("woe_q"),
        F.when(ok, woe_q / F.lit(1e6)).alias("woe"),
    )


@register(
    "profile_key_skew",
    oracle="""
    WITH c AS (
      SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1),
    r AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt) AS rn,
             COUNT(*) OVER () AS nk
      FROM c),
    qs AS (
      SELECT MAX(CASE WHEN rn = CAST(FLOOR(0.5 * (nk - 1)) AS BIGINT) + 1
                      THEN cnt END) AS p50,
             MAX(CASE WHEN rn = CAST(FLOOR(0.9 * (nk - 1)) AS BIGINT) + 1
                      THEN cnt END) AS p90,
             MAX(CASE WHEN rn = CAST(FLOOR(0.99 * (nk - 1)) AS BIGINT) + 1
                      THEN cnt END) AS p99
      FROM r),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM c)
    SELECT a.n_keys, a.total, a.max_cnt, q.p50, q.p90, q.p99,
           CAST(FLOOR(1e6 * a.max_cnt / (a.total / a.n_keys) + 0.5)
                AS BIGINT) AS skew_ratio_q,
           CAST(FLOOR(1e6 * a.max_cnt / a.total + 0.5) AS BIGINT)
             AS top1_share_q
    FROM agg a CROSS JOIN qs q
    """,
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profiler — the diagnostic a planner consults
    before choosing salting (operators/skew.py) or AQE skew-join for a
    key: per-key row counts reduced to one row of distribution facts
    (key count, total, max, exact p50/p90/p99 of the per-key counts,
    max-to-mean skew ratio, top-1 share). The count percentiles use
    the SHARDED exact selection over the per-key count table
    (operators/prefix.py), so profiling a billion-key fact never
    sorts or collects the counts.

    Scale shape: one (key) hash-aggregate over the fact, then all
    statistics run on the per-key table (rows = |keys|, not |fact|);
    both quantized divisions divide exact BIGINTs in IEEE doubles, the
    same on any engine."""
    from rpa_etl_investing_spark.operators.prefix import exact_quantiles

    # checkpoint the per-key count table (rows = |keys|, a huge reduction
    # from the fact): the quantile selection and the summary aggregate
    # both read it repeatedly
    c = (
        tbl(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("k"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    qs = exact_quantiles(c, "cnt", {"p50": 0.5, "p90": 0.9, "p99": 0.99})
    agg = c.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    return agg.crossJoin(F.broadcast(qs)).select(
        "n_keys",
        "total",
        "max_cnt",
        F.col("p50").cast("bigint").alias("p50"),
        F.col("p90").cast("bigint").alias("p90"),
        F.col("p99").cast("bigint").alias("p99"),
        F.floor(
            F.lit(1e6) * F.col("max_cnt") / (F.col("total") / F.col("n_keys"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("skew_ratio_q"),
        F.floor(F.lit(1e6) * F.col("max_cnt") / F.col("total") + F.lit(0.5))
        .cast("bigint")
        .alias("top1_share_q"),
    )


@register(
    "analytics_ab_proportion_test",
    oracle="""
    WITH per_user AS (
      SELECT user_id % 2 AS variant, user_id,
             CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                         > SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS BIGINT) AS conv
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(conv) AS BIGINT) AS c
      FROM per_user GROUP BY variant),
    w AS (
      SELECT CAST(MAX(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n1,
             CAST(MAX(CASE WHEN variant = 0 THEN c END) AS BIGINT) AS c1,
             CAST(MAX(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n2,
             CAST(MAX(CASE WHEN variant = 1 THEN c END) AS BIGINT) AS c2
      FROM g),
    d AS (
      SELECT *, c1 * n2 - c2 * n1 AS dd, c1 + c2 AS cc, n1 + n2 AS nn
      FROM w)
    SELECT n1, c1, n2, c2,
           CASE WHEN cc > 0 AND cc < nn THEN
             (CAST(dd AS DOUBLE) * dd * nn)
               / (CAST(n1 AS DOUBLE) * n2 * cc * (nn - cc)) END
             AS z_squared,
           CAST(dd AS DECIMAL(38,0)) * dd * nn * 10000
             > CAST(38416 AS DECIMAL(38,0)) * n1 * n2 * cc * (nn - cc)
             AS significant
    FROM d
    """,
)
def analytics_ab_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between the two hash-assigned experiment
    arms (user_id parity) on a per-user conversion flag (here: more
    purchases than clicks — a metric with genuine variance at every
    fixture scale): the A/B readout every event pipeline ends in. The significance verdict is the
    EXACT integer inequality ``d²·N·10⁴ > 38416·n₁·n₂·c·(N−c)``
    (z² > 1.96², cross-multiplied so no division, no sqrt, no float
    compare — the vwap-anomaly device), evaluated in DECIMAL(38,0) on
    both engines; z² itself is reported as the identically-associated
    double ratio.

    Scale shape: one (variant, user) aggregate — partial+final, keyed
    on the natural user axis — then a 2-row pivot and pure scalar
    arithmetic; nothing downstream of the first aggregate scales with
    the event count."""
    ev = tbl(spark, sf_dir, "events")
    per_user = ev.groupBy(
        (F.col("user_id") % 2).alias("variant"), "user_id"
    ).agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        )
        .cast("bigint")
        .alias("conv")
    )
    g = per_user.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("c"),
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).cast("bigint").alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("c"))).cast("bigint").alias("c1"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).cast("bigint").alias("n2"),
        F.max(F.when(F.col("variant") == 1, F.col("c"))).cast("bigint").alias("c2"),
    )
    n1, c1, n2, c2 = F.col("n1"), F.col("c1"), F.col("n2"), F.col("c2")
    dd = (c1 * n2 - c2 * n1).alias("dd")
    d = w.select("n1", "c1", "n2", "c2", dd,
                 (c1 + c2).alias("cc"), (n1 + n2).alias("nn"))
    ddc, cc, nn = F.col("dd"), F.col("cc"), F.col("nn")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return d.select(
        "n1", "c1", "n2", "c2",
        F.when(
            (cc > 0) & (cc < nn),
            (ddc.cast("double") * ddc * nn)
            / (n1.cast("double") * n2 * cc * (nn - cc)),
        ).alias("z_squared"),
        (
            dec(ddc) * ddc * nn * 10000 > dec(F.lit(38416)) * n1 * n2 * cc * (nn - cc)
        ).alias("significant"),
    )


_KCORE_ORACLE = """
    WITH flow AS MATERIALIZED (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(27,2))) AS DECIMAL(27,2))
               AS flow
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    tot AS MATERIALIZED (SELECT CAST(SUM(flow) AS DECIMAL(27,2)) AS t FROM flow),
    edges AS MATERIALIZED (
      SELECT src, dst FROM flow CROSS JOIN tot
      WHERE src <> dst AND flow * 625 > t),
    e0 AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    d1 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM e0 GROUP BY src),
    k1 AS MATERIALIZED (SELECT node FROM d1 WHERE deg >= 3),
    e1 AS MATERIALIZED (SELECT s.src, s.dst FROM e0 s
             JOIN k1 a ON s.src = a.node
             JOIN k1 b ON s.dst = b.node),
    d2 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM e1 GROUP BY src),
    k2 AS MATERIALIZED (SELECT node FROM d2 WHERE deg >= 3),
    e2 AS MATERIALIZED (SELECT s.src, s.dst FROM e1 s
             JOIN k2 a ON s.src = a.node
             JOIN k2 b ON s.dst = b.node),
    d3 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM e2 GROUP BY src),
    k3 AS MATERIALIZED (SELECT node FROM d3 WHERE deg >= 3),
    e3 AS MATERIALIZED (SELECT s.src, s.dst FROM e2 s
             JOIN k3 a ON s.src = a.node
             JOIN k3 b ON s.dst = b.node),
    d4 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM e3 GROUP BY src),
    k4 AS MATERIALIZED (SELECT node FROM d4 WHERE deg >= 3),
    e4 AS MATERIALIZED (SELECT s.src, s.dst FROM e3 s
             JOIN k4 a ON s.src = a.node
             JOIN k4 b ON s.dst = b.node)
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM e4 GROUP BY src
    ORDER BY node
"""


@register("graph_kcore", oracle=_KCORE_ORACLE)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 gen: bounded k-core peeling (k=3, 4 unrolled rounds) over the
    symmetrized thresholded nation trade graph — the cohesion filter
    that strips low-degree periphery until only the mutually-dense core
    remains (the entity-graph "who trades with enough partners that
    ALSO trade with enough partners" question). Operator:
    operators/graph.py `kcore_peel`; each round is one degree hash
    aggregate + two endpoint semi joins, loop unrolled into the plan,
    no driver state. The oracle replays the identical 4 rounds as
    unrolled CTEs, and convergence at 4 rounds on this graph is
    asserted in tests (round 5 ≡ round 4), so the bounded unroll IS the
    fixpoint here. Edge construction reuses the graph_nation_reach
    threshold (flow·625 > total, division-free above-average cut)."""
    from rpa_etl_investing_spark.operators.graph import kcore_peel

    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    s = tbl(spark, sf_dir, "supplier")
    flow = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(maybe_broadcast(s, "supplier"), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(27,2)"))
            .cast("decimal(27,2)")
            .alias("flow")
        )
    )
    tot = flow.agg(F.sum("flow").cast("decimal(27,2)").alias("t"))
    edges = (
        flow.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("src") != F.col("dst")) & (F.col("flow") * 625 > F.col("t"))
        )
        .select("src", "dst")
    )
    return kcore_peel(edges, k=3, rounds=4).orderBy("node")


@register(
    "profile_benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM d GROUP BY digit)
    SELECT digit, n_obs,
           CAST(FLOOR(1e10 * (n_obs / n) + 0.5) AS BIGINT) AS share_obs_q,
           CAST(FLOOR(1e10 * LOG10(1.0 + 1.0 / digit) + 0.5) AS BIGINT)
             AS share_exp_q,
           CAST(FLOOR(1e10 * (n_obs / n) + 0.5)
                - FLOOR(1e10 * LOG10(1.0 + 1.0 / digit) + 0.5)
                AS BIGINT) AS deviation_q
    FROM obs CROSS JOIN tot
    ORDER BY digit
    """,
)
def profile_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 gen: Benford first-digit audit — the classic fabricated-data
    screen (Newcomb 1881 / Benford 1938; real multiplicative-process
    amounts follow P(d) = log10(1 + 1/d), fabricated ones usually
    don't). One 9-key hash aggregate over the fact; the observed and
    expected shares are quantized to the 1e-10 grid (the log10 is
    evaluated once per digit — 9 values) and compared as exact BIGINTs,
    so the deviation column is integer arithmetic. The 1-row total
    rides as a broadcast scalar. At 100 TB this is one map-side-combined
    aggregate over a single column — the cheapest possible fraud
    screen."""
    o = tbl(spark, sf_dir, "orders")
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    tot = d.agg(F.count("*").cast("bigint").alias("n"))
    obs = d.groupBy("digit").agg(F.count("*").cast("bigint").alias("n_obs"))
    share_obs = F.floor(
        F.lit(1e10) * (F.col("n_obs") / F.col("n")) + F.lit(0.5)
    ).cast("bigint")
    share_exp = F.floor(
        F.lit(1e10) * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
        + F.lit(0.5)
    ).cast("bigint")
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            share_obs.alias("share_obs_q"),
            share_exp.alias("share_exp_q"),
            (share_obs - share_exp).cast("bigint").alias("deviation_q"),
        )
        .orderBy("digit")
    )


@register(
    "analytics_kaplan_meier",
    oracle="""
    WITH it AS (
      SELECT DATE_DIFF('day', o.o_orderdate, l.l_shipdate) AS dur
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    obs AS (
      SELECT CASE WHEN dur <= 90 THEN dur ELSE 90 END AS t,
             CASE WHEN dur <= 90 THEN 1 ELSE 0 END AS ev
      FROM it),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM obs),
    g AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
                 CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
          FROM obs GROUP BY t),
    r AS (
      SELECT t, d, c,
             n - COALESCE(SUM(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM g CROSS JOIN tot),
    s AS (
      SELECT t, d, c, CAST(n_risk AS BIGINT) AS n_risk,
             SUM(CASE WHEN d > 0 THEN
                   CAST(FLOOR(1e6 * LN(1.0 - d / CAST(n_risk AS DOUBLE)) - 0.5)
                        AS BIGINT)
                 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS ln_surv_q
      FROM r)
    SELECT t, n_risk, d AS d_events, c AS c_censored,
           CAST(ln_surv_q AS BIGINT) AS ln_surv_q
    FROM s
    ORDER BY t
    """,
)
def analytics_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 gen: Kaplan-Meier survival estimator (Kaplan & Meier 1958)
    over order→ship latency with administrative right-censoring at 90
    days (items still unshipped at the 90-day follow-up horizon are
    censored, not events — dropping them would bias the curve, the
    exact mistake KM exists to fix). Output per distinct duration day:
    at-risk count, events, censored, and the log-survival
    Σ ln(1 − d/n) accumulated as exact BIGINTs on the 1e-6 ln-grid
    (each ln quantized once per row; ln(1−d/n) < 0 so the grid uses
    FLOOR(x − 0.5) — round-half-away symmetric with the positive-side
    convention; no cross-engine exp/product ever runs).

    Scale shape: the fact-sized work is one (duration) hash aggregate
    after the keyed order join; every window after that runs on the
    duration-day table, whose cardinality is bounded by the follow-up
    horizon (≤ 91 rows REGARDLESS of corpus size) — the windows are on
    a bounded relation by construction, the same argument as the
    shard-summary frames in operators/prefix.py."""
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    it = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff("l_shipdate", "o_orderdate").alias("dur")
    )
    obs = it.select(
        F.when(F.col("dur") <= 90, F.col("dur")).otherwise(F.lit(90)).alias("t"),
        F.when(F.col("dur") <= 90, F.lit(1)).otherwise(F.lit(0)).alias("ev"),
    )
    tot = obs.agg(F.count("*").cast("bigint").alias("n"))
    g = obs.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        (F.count("*") - F.sum("ev")).cast("bigint").alias("c"),
    )
    w_prev = (
        # bounded-window: <=91 duration-day rows (follow-up horizon)
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    # bounded-window: <=91 duration-day rows (follow-up horizon)
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = g.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        (
            F.col("n")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).cast("bigint"),
    )
    ln_term = F.when(
        F.col("d") > 0,
        F.floor(
            F.lit(1e6)
            * F.log(F.lit(1.0) - F.col("d") / F.col("n_risk").cast("double"))
            - F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    s = r.withColumn("ln_surv_q", F.sum(ln_term).over(w_cum).cast("bigint"))
    return s.select(
        "t",
        "n_risk",
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        "ln_surv_q",
    ).orderBy("t")


@register(
    "profile_column_entropy",
    oracle="""
    WITH c AS (
      SELECT col, val, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
        UNION ALL
        SELECT 'o_orderpriority' AS col, o_orderpriority AS val FROM orders)
      GROUP BY col, val),
    t AS (SELECT col, CAST(SUM(n) AS BIGINT) AS tot,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct
          FROM c GROUP BY col)
    SELECT c.col, n_distinct,
           CAST((-CAST(SUM(n * CAST(FLOOR(1e6 * LN(CAST(n AS DOUBLE) / tot)
                                            - 0.5) AS BIGINT)) AS BIGINT))
                // tot AS BIGINT) AS entropy_q
    FROM c JOIN t ON c.col = t.col
    GROUP BY c.col, t.n_distinct, t.tot
    ORDER BY c.col
    """,
)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-profiling gen: per-column Shannon entropy — the one-number
    "how informative is this column" profile (key candidates score
    high, near-constant columns near 0) that drives index/partition
    choices and data-drift baselines. Σ p·ln p accumulated as exact
    BIGINTs: each distinct value's ln(n/tot) is quantized ONCE to the
    1e-6 grid (FLOOR(x−0.5): the arguments are < 1 so every ln is
    negative — same symmetric convention as the Kaplan-Meier terms),
    then the weighted sum and the final integer division by −tot stay
    in BIGINT.

    Scale shape: one stacked unpivot pass over the fact, one
    (col, val) hash aggregate with map-side combine (cardinality =
    Σ distinct per column), one per-col total broadcast. Entropy of
    high-cardinality columns costs exactly the distinct count, never a
    sort."""
    o = tbl(spark, sf_dir, "orders")
    c = (
        o.select(
            F.explode(
                F.create_map(
                    F.lit("o_orderstatus"),
                    F.col("o_orderstatus"),
                    F.lit("o_orderpriority"),
                    F.col("o_orderpriority"),
                )
            ).alias("col", "val")
        )
        .groupBy("col", "val")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    t = c.groupBy("col").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    lnq = F.floor(
        F.lit(1e6) * F.log(F.col("n").cast("double") / F.col("tot"))
        - F.lit(0.5)
    ).cast("bigint")
    return (
        c.join(F.broadcast(t), "col")
        .groupBy("col", "n_distinct", "tot")
        .agg(F.sum(F.col("n") * lnq).cast("bigint").alias("_s"))
        .withColumn("entropy_q", F.expr("CAST((-_s) div tot AS BIGINT)"))
        .select("col", "n_distinct", "entropy_q")
        .orderBy("col")
    )


@register(
    "analytics_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i FROM rev),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM r)
    SELECT n, sx,
           CAST(FLOOR(1e9 * (2.0 * six - (n + 1.0) * sx) / (n * CAST(sx AS DOUBLE))
                      + 0.5) AS BIGINT) AS gini_q
    FROM s
    """,
)
def analytics_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-gen: exact Gini coefficient of customer revenue — the
    one-number concentration profile (0 = uniform, →1 = one whale)
    behind "what share of revenue do the top customers carry".
    Identity: G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx), i the ascending
    rank — every term an exact BIGINT (revenue accumulates in integer
    cents), one final IEEE division quantized to the 1e-9 grid.

    Scale shape: the rank over the per-customer revenue table comes
    from the SHARDED running count (value-range shards on x, ties keyed
    by custkey never cross shards) — no global sort task even when the
    customer dimension is billions of rows; the three sums fold to a
    1-row frame."""
    from rpa_etl_investing_spark.operators.prefix import (
        sharded_row_number,
        with_value_range_shard,
    )

    o = tbl(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("x")
    )
    ranked = sharded_row_number(
        with_value_range_shard(rev, "x"), [], ["x", "o_custkey"], "i"
    )
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("six"),
    )
    return s.select(
        "n",
        "sx",
        F.floor(
            F.lit(1e9)
            * (2.0 * F.col("six") - (F.col("n") + F.lit(1.0)) * F.col("sx"))
            / (F.col("n") * F.col("sx").cast("double"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("gini_q"),
    )


@register(
    "agg_grouped_ols",
    oracle="""
    WITH d AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS DECIMAL(20,2)) AS x,
             CAST(l_extendedprice AS DECIMAL(20,2)) AS y
      FROM lineitem),
    s AS (
      SELECT flag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DECIMAL(38,2)) AS sx,
             CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(x * x) AS DECIMAL(38,4)) AS sxx,
             CAST(SUM(x * y) AS DECIMAL(38,4)) AS sxy
      FROM d GROUP BY flag)
    SELECT flag, n,
           CAST(FLOOR(1e6 * ((n * CAST(sxy AS DOUBLE) -
                              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                             (n * CAST(sxx AS DOUBLE) -
                              CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                      + 0.5) AS BIGINT) AS slope_q
    FROM s
    ORDER BY flag
    """,
)
def agg_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 gen: PER-GROUP closed-form OLS (price-per-quantity slope per
    return flag) — the grouped twin of agg_ols_regression: one hash
    aggregate produces each group's exact DECIMAL power sums (count,
    Σx, Σy, Σx², Σxy), and the slope is one deterministic IEEE
    evaluation of the closed form per GROUP row, quantized to 1e-6.
    No per-group iteration, no ML library, group count bounds the
    post-aggregate work — the pattern that fits a million segment
    regressions in one pass at 100 TB."""
    li = tbl(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("decimal(20,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(20,2)").alias("y"),
    )
    s = d.groupBy("flag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,2)").alias("sx"),
        F.sum("y").cast("decimal(38,2)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,4)").alias("sxy"),
    )
    slope = (
        F.col("n") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("n") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return s.select(
        "flag",
        "n",
        F.floor(F.lit(1e6) * slope + F.lit(0.5)).cast("bigint").alias("slope_q"),
    ).orderBy("flag")


@register(
    "analytics_basket_affinity",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 50 AS item
      FROM lineitem),
    n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n
                 FROM lineitem),
    supp AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS s FROM items
             GROUP BY item),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(COUNT(*) AS BIGINT) AS s_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING COUNT(*) >= 20)
    SELECT item_a, item_b, s_ab, sa.s AS s_a, sb.s AS s_b,
           CAST(FLOOR(1e6 * (CAST(s_ab AS DOUBLE) * n)
                      / (sa.s * CAST(sb.s AS DOUBLE)) + 0.5) AS BIGINT)
             AS lift_q
    FROM pairs
    JOIN supp sa ON pairs.item_a = sa.item
    JOIN supp sb ON pairs.item_b = sb.item
    CROSS JOIN n_orders
    ORDER BY item_a, item_b
    """,
)
def analytics_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-gen: market-basket affinity — co-occurrence support and LIFT
    (P(a,b)/(P(a)P(b))) for item pairs within orders, the first mile of
    association-rule mining (Agrawal-Srikant a-priori: the min-support
    HAVING is the a-priori prune). Items are partkeys folded to 50
    classes so pair density is meaningful at fixture scale.

    Scale shape: the pair generation is keyed by ORDER — the self-join
    fan-out is Σ |basket|² over orders, bounded by basket size (tens),
    NEVER corpus²; supports join back on the bounded item dimension and
    the order count rides as a 1-row broadcast. Lift's one IEEE
    division is quantized at the end; everything before it is BIGINT."""
    li = tbl(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 50).alias("item")
    ).distinct()
    n_orders = li.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    supp = items.groupBy("item").agg(F.count("*").cast("bigint").alias("s"))
    a = items.select(F.col("l_orderkey"), F.col("item").alias("item_a"))
    b = items.select(F.col("l_orderkey"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("bigint").alias("s_ab"))
        .filter(F.col("s_ab") >= 20)
    )
    sa = supp.select(F.col("item").alias("item_a"), F.col("s").alias("s_a"))
    sb = supp.select(F.col("item").alias("item_b"), F.col("s").alias("s_b"))
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            "s_ab",
            "s_a",
            "s_b",
            F.floor(
                F.lit(1e6)
                * (F.col("s_ab").cast("double") * F.col("n"))
                / (F.col("s_a") * F.col("s_b").cast("double"))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lift_q"),
        )
        .orderBy("item_a", "item_b")
    )


@register(
    "analytics_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS r
      FROM lineitem GROUP BY l_partkey),
    t AS (SELECT CAST(SUM(r) AS BIGINT) AS tr FROM rev),
    c AS (
      SELECT l_partkey, r,
             CAST(SUM(r) OVER (ORDER BY r DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cr
      FROM rev),
    k AS (
      SELECT CASE WHEN cr * 100 <= tr * 80 THEN 'A'
                  WHEN cr * 100 <= tr * 95 THEN 'B'
                  ELSE 'C' END AS klass,
             r
      FROM c CROSS JOIN t)
    SELECT klass,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(r) AS BIGINT) AS revenue_cents
    FROM k GROUP BY klass ORDER BY klass
    """,
)
def analytics_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-gen: ABC (Pareto) inventory classification — parts ranked by
    revenue, classes cut at 80%/95% of CUMULATIVE revenue (A carries
    the top 80% of value, C the long tail): the stock-control
    segmentation every supply chain runs. Cumulative revenue comes from
    the SHARDED running sum over the per-part revenue table (value-range
    shards on the NEGATED key so the scan runs revenue-descending with
    monotone shards; ties keyed by partkey stay in-shard) — no global
    sort at any part-dimension size. Revenue in exact integer cents;
    the class cuts are the integer inequalities cr·100 ≤ tr·80/95."""
    from rpa_etl_investing_spark.operators.prefix import (
        sharded_running_sum,
        with_value_range_shard,
    )

    li = tbl(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("r")
    )
    t = rev.agg(F.sum("r").cast("bigint").alias("tr"))
    neg = rev.withColumn("neg_r", -F.col("r"))
    c = sharded_running_sum(
        with_value_range_shard(neg, "neg_r"),
        [],
        ["neg_r", "l_partkey"],
        F.col("r"),
        "cr",
    )
    k = c.crossJoin(F.broadcast(t)).select(
        F.when(F.col("cr") * 100 <= F.col("tr") * 80, F.lit("A"))
        .when(F.col("cr") * 100 <= F.col("tr") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("klass"),
        "r",
    )
    return (
        k.groupBy("klass")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("r").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("klass")
    )


@register(
    "analytics_purchase_streaks",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day
      FROM events WHERE event_type = 'purchase'),
    g AS (
      SELECT user_id, day,
             CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(day AS DATE))
                  AS BIGINT)
             - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM d),
    s AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
             MIN(day) AS streak_start
      FROM g GROUP BY user_id, grp)
    SELECT user_id, len AS longest_streak, streak_start
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY len DESC, streak_start) AS rk
      FROM s)
    WHERE rk = 1
    ORDER BY user_id
    """,
)
def analytics_purchase_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-gen: longest consecutive-day purchase streak per user — the
    gaps-and-islands identity (day_number − row_number is constant
    exactly on consecutive runs) that powers habit/retention metrics.
    One user-keyed shuffle shared by the island window, the island
    aggregate, and the per-user argmax (earliest start breaks length
    ties); day arithmetic is integer day counts throughout."""
    ev = tbl(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        "day",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01")).cast("bigint")
            - F.row_number().over(w)
        ).alias("grp"),
    )
    s = g.groupBy("user_id", "grp").agg(
        F.count("*").cast("bigint").alias("len"),
        F.min("day").alias("streak_start"),
    )
    wk = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("streak_start")
    )
    return (
        s.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak"),
            "streak_start",
        )
        .orderBy("user_id")
    )


@register(
    "analytics_cohort_ltv",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey,
             MIN(DATE_TRUNC('year', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey),
    rev AS (
      SELECT f.cohort,
             CAST(DATE_DIFF('year', CAST(f.cohort AS DATE),
                            CAST(DATE_TRUNC('year', o.o_orderdate) AS DATE))
                  AS BIGINT) AS age,
             CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey),
    cs AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
           FROM first_order GROUP BY cohort),
    g AS (
      SELECT cohort, age, CAST(SUM(cents) AS BIGINT) AS rev_cents
      FROM rev GROUP BY cohort, age),
    c AS (
      SELECT cohort, age, rev_cents,
             CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_rev_cents
      FROM g)
    SELECT c.cohort, c.age, c.rev_cents, c.cum_rev_cents,
           CAST(cs.cohort_size AS BIGINT) AS cohort_size,
           CAST(c.cum_rev_cents // cs.cohort_size AS BIGINT)
             AS ltv_cents_per_cust
    FROM c JOIN cs ON c.cohort = cs.cohort
    ORDER BY c.cohort, c.age
    """,
)
def analytics_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 gen: cohort LIFETIME-VALUE curve — cumulative revenue per
    acquisition-year cohort by cohort age, normalized per customer (the
    payback-period curve growth teams steer by; the retention-cohort
    matrix counts heads, this one follows the money). Revenue in exact
    integer cents; LTV-per-customer is integer floor division.

    Scale shape: the first-order cohort assignment is one custkey
    aggregate joined back keyed on custkey; the (cohort, age) rollup is
    a tiny frame (years × years) so its running-sum window is
    bounded-input by construction — the same bounded-frame argument as
    Kaplan-Meier's horizon table."""
    o = tbl(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("year", "o_orderdate")).alias("cohort")
    )
    rev = o.join(first, "o_custkey").select(
        "cohort",
        F.floor(
            F.months_between(
                F.date_trunc("year", "o_orderdate"), F.col("cohort")
            )
            / 12
        )
        .cast("bigint")
        .alias("age"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    cs = first.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    g = rev.groupBy("cohort", "age").agg(
        F.sum("cents").cast("bigint").alias("rev_cents")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.withColumn(
        "cum_rev_cents", F.sum("rev_cents").over(w).cast("bigint")
    )
    return (
        c.join(F.broadcast(cs), "cohort")
        .select(
            "cohort",
            "age",
            "rev_cents",
            "cum_rev_cents",
            "cohort_size",
            F.expr("CAST(cum_rev_cents div cohort_size AS BIGINT)").alias(
                "ltv_cents_per_cust"
            ),
        )
        .orderBy("cohort", "age")
    )


@register(
    "analytics_peak_concurrency",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS st,
             CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS en,
             event_id
      FROM events WHERE event_type = 'click'),
    b AS (
      SELECT st AS t, 1 AS delta, event_id, 0 AS is_end FROM s
      UNION ALL
      SELECT en AS t, -1 AS delta, event_id, 1 AS is_end FROM s),
    c AS (
      SELECT t, delta,
             CAST(SUM(delta) OVER (ORDER BY t, is_end, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS conc
      FROM b)
    SELECT DATE_TRUNC('day', t) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM c
    GROUP BY 1
    ORDER BY day
    """,
)
def analytics_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-gen: PEAK CONCURRENCY — the classic interval sweep ("most
    sessions open at once", capacity planning's first question): each
    30-minute click session emits a +1 at open and a −1 at close, the
    running sum over the time-ordered boundary stream IS the live
    concurrency, and the per-day max is the answer. End-before-start
    ordering at equal timestamps (is_end ascending puts +1 first —
    half-open [st, en) intervals at the same instant overlap) and the
    event_id tiebreak make the sweep deterministic.

    Scale shape: the boundary stream's running sum is the SHARDED
    two-level scan (operators/prefix.py — epoch-microsecond id-range
    shards), so no single task ever orders the full timeline; the
    per-day max is one hash aggregate. The running sum is a
    prefix-additive quantity, which is exactly why the shard
    composition applies."""
    from rpa_etl_investing_spark.operators.prefix import (
        sharded_running_sum,
        with_id_range_shard,
    )

    ev = tbl(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "click").select(
        F.col("ts").cast("timestamp").alias("st"),
        (F.col("ts").cast("timestamp") + F.expr("INTERVAL 30 MINUTE")).alias(
            "en"
        ),
        "event_id",
    )
    b = s.select(
        F.col("st").alias("t"),
        F.lit(1).alias("delta"),
        "event_id",
        F.lit(0).alias("is_end"),
    ).unionByName(
        s.select(
            F.col("en").alias("t"),
            F.lit(-1).alias("delta"),
            "event_id",
            F.lit(1).alias("is_end"),
        )
    )
    b = b.withColumn("ord", F.unix_micros(F.col("t")))
    c = sharded_running_sum(
        with_id_range_shard(b, "ord"),
        [],
        ["ord", "is_end", "event_id"],
        F.col("delta"),
        "conc",
    )
    return (
        c.groupBy(F.date_trunc("day", "t").alias("day"))
        .agg(F.max("conc").cast("bigint").alias("peak_concurrency"))
        .orderBy("day")
    )


@register(
    "analytics_grid_proximity_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           (CAST(a.embedding[1] AS DOUBLE) - CAST(b.embedding[1] AS DOUBLE))
             * (CAST(a.embedding[1] AS DOUBLE) - CAST(b.embedding[1] AS DOUBLE))
           + (CAST(a.embedding[2] AS DOUBLE) - CAST(b.embedding[2] AS DOUBLE))
             * (CAST(a.embedding[2] AS DOUBLE) - CAST(b.embedding[2] AS DOUBLE))
             AS dist2
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE (CAST(a.embedding[1] AS DOUBLE) - CAST(b.embedding[1] AS DOUBLE))
            * (CAST(a.embedding[1] AS DOUBLE) - CAST(b.embedding[1] AS DOUBLE))
          + (CAST(a.embedding[2] AS DOUBLE) - CAST(b.embedding[2] AS DOUBLE))
            * (CAST(a.embedding[2] AS DOUBLE) - CAST(b.embedding[2] AS DOUBLE))
          < CAST(0.02 AS DOUBLE) * CAST(0.02 AS DOUBLE)
    """,
)
def analytics_grid_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+: ε-proximity self-join via the fixed-grid cell equi-join
    (operators/spatial.py) — all point pairs within ε = 0.02 on the
    first two embedding dimensions, without the O(n²) cross join the
    brute-force DuckDB oracle runs.

    Exact recall: a pair closer than ε differs by at most one ε-cell
    per axis, so the 3×3 neighborhood fan of ONE join side covers every
    qualifying pair exactly once (the other side contributes only its
    home cell). The squared distance is evaluated with the lower id on
    the left in both engines, so the doubles are bit-identical.

    Scale shape: one (cell_x, cell_y) equi-join shuffle; candidates are
    bounded by local density × 9, never n² — the grid is the 2-D
    analogue of the LSH band buckets used for text near-dup."""
    from rpa_etl_investing_spark.operators.spatial import grid_proximity_pairs

    emb = tbl(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    return grid_proximity_pairs(pts, 0.02, id_col="vec_id", x_col="x", y_col="y")


@register(
    "analytics_fuzzy_name_pairs",
    oracle="""
    WITH c AS (SELECT p_name AS nm, COUNT(*) AS n FROM part GROUP BY 1)
    SELECT a.nm AS nm_a, b.nm AS nm_b,
           CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM c a JOIN c b ON a.nm < b.nm
    WHERE ABS(LEN(a.nm) - LEN(b.nm)) <= 2
      AND levenshtein(a.nm, b.nm) <= 2
    ORDER BY 1, 2
    """,
)
def analytics_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+: blocked fuzzy-match self-join — catalog name pairs within
    Levenshtein distance 2 (the entity-resolution primitive for typo'd
    product/customer names), both engines computing the identical
    unit-cost edit distance.

    Blocking with exact recall: lev(a,b) ≤ 2 forces ||a|−|b|| ≤ 2, so
    fanning ONE side to the 5 lengths {|b|−2..|b|+2} and equi-joining
    on length covers every qualifying pair exactly once (the other
    side's single length key picks one of the 5 fanned rows) — the 1-D
    sibling of the ε-grid join in operators/spatial.py. The edit
    distance runs only on same-block candidates, never all pairs.
    Complementary to ``llm_sorted_neighborhood_pairs`` (the other
    classic blocking family: sort-merge rank bands, recall bounded by
    the window rather than exact).

    Scale shape: names are first collapsed to DISTINCT with their
    multiplicities (the matrix trick from llm_cross_source_dup_matrix),
    so the quadratic-ish work is over the name vocabulary, not the row
    count; production entity resolution would add a positional q-gram
    block (see PPJoin, operators/dedup.py) to split heavy length
    blocks further."""
    c = (
        tbl(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("nm"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = c.select(
        F.col("nm").alias("nm_a"),
        F.col("n").alias("n_a"),
        F.length("nm").alias("len_key"),
    )
    b = c.select(
        F.col("nm").alias("nm_b"),
        F.col("n").alias("n_b"),
        F.explode(
            F.sequence(F.length("nm") - 2, F.length("nm") + 2)
        ).alias("len_key"),
    )
    dist = F.levenshtein(F.col("nm_a"), F.col("nm_b"))
    return (
        a.join(b, "len_key")
        .where(F.col("nm_a") < F.col("nm_b"))
        .where(dist <= 2)
        .select(
            "nm_a", "nm_b", dist.cast("bigint").alias("dist"), "n_a", "n_b"
        )
        .orderBy("nm_a", "nm_b")
    )


@register(
    "analytics_kaplan_meier_table",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(DATE_TRUNC('day', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS b,
             CAST(DATE_TRUNC('day', MAX(CAST(ts AS TIMESTAMP))) AS DATE) AS e
      FROM events GROUP BY 1),
    g AS (SELECT MAX(e) AS gmax FROM u),
    lab AS (
      SELECT DATE_DIFF('day', b, e) AS t,
             CASE WHEN DATE_DIFF('day', e, gmax) < 3 THEN 1 ELSE 0 END AS cens
      FROM u, g),
    risk AS (
      SELECT t, COUNT(*) AS n_t,
             CAST(SUM(1 - cens) AS BIGINT) AS n_deaths,
             CAST(SUM(cens) AS BIGINT) AS n_censored
      FROM lab GROUP BY t)
    SELECT t, n_deaths, n_censored,
           CAST(SUM(n_t) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_at_risk,
           n_deaths * 1000000000000
             // CAST(SUM(n_t) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS hazard_q
    FROM risk ORDER BY t
    """,
)
def analytics_kaplan_meier_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family survival analysis: the Kaplan-Meier risk table over
    user lifetimes — per lifetime day t: users still at risk (lifetime
    ≥ t), deaths at t (last event at t, not censored), right-censored
    at t (last event within 3 days of the study cutoff = global max
    day), and the discrete hazard d/n quantized to the 1e-12 integer
    grid. The table IS the estimator's input; the survival curve is the
    running product of (1 − hazard), left to the consumer because an
    exact cross-engine float product is not order-stable.

    Companion to ``analytics_kaplan_meier`` (fixed-90-day-horizon
    censoring over per-lineitem ship durations, with a quantized
    ln-survival column): this one works at the USER grain — lifetimes
    first require a per-entity aggregate — and the censoring is induced
    by the observation window's end rather than a fixed horizon, the
    two censoring regimes a survival analysis toolkit must cover.

    Scale shape: one per-user hash aggregate over the fact (shuffles on
    user_id once), one 1-row cutoff scalar broadcast, then all window
    work runs over the aggregated lifetime distribution — at most one
    row per distinct lifetime day, bounded by the observation span, not
    the user count."""
    ev = tbl(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min(F.col("ts").cast("timestamp")))).alias("b"),
        F.to_date(F.date_trunc("day", F.max(F.col("ts").cast("timestamp")))).alias("e"),
    )
    g = u.agg(F.max("e").alias("gmax"))
    lab = u.crossJoin(g).select(
        F.datediff(F.col("e"), F.col("b")).alias("t"),
        F.when(F.datediff(F.col("gmax"), F.col("e")) < 3, 1).otherwise(0).alias(
            "cens"
        ),
    )
    risk = lab.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_t"),
        F.sum(1 - F.col("cens")).alias("n_deaths"),
        F.sum("cens").alias("n_censored"),
    )
    # bounded-window: distinct tenure-day rows (calendar-bounded)
    wdesc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_at_risk = F.sum("n_t").over(wdesc)
    return risk.select(
        "t",
        "n_deaths",
        "n_censored",
        n_at_risk.alias("n_at_risk"),
        F.expr(
            "n_deaths * 1000000000000 div "
            "SUM(n_t) OVER (ORDER BY t DESC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ).alias("hazard_q"),
    ).orderBy("t")



# ---- J18 (r6): BOM-style DAG rollup ----------------------------------------

_BOM_EDGES_SQL = """
    mk AS (SELECT MAX(p_partkey) AS maxk FROM part),
    edges AS (
      SELECT p_partkey AS parent, p_partkey * 2 + 1 AS child,
             p_partkey % 3 + 1 AS qty
      FROM part, mk WHERE p_partkey * 2 + 1 <= maxk
      UNION ALL
      SELECT p_partkey, p_partkey * 2 + 2, p_partkey % 5 + 1
      FROM part, mk WHERE p_partkey * 2 + 2 <= maxk
      UNION ALL
      SELECT p_partkey, p_partkey * 2 + 3, p_partkey % 7 + 1
      FROM part, mk WHERE p_partkey * 2 + 3 <= maxk)
"""


@register(
    "analytics_bom_rollup",
    oracle=f"""
    WITH RECURSIVE {_BOM_EDGES_SQL},
    walk AS (
      SELECT parent AS root, child AS comp, CAST(qty AS BIGINT) AS q,
             1 AS depth
      FROM edges WHERE parent < 20
      UNION ALL
      SELECT w.root, e.child, w.q * e.qty, w.depth + 1
      FROM walk w JOIN edges e ON e.parent = w.comp
      WHERE w.depth < 3)
    SELECT root,
           CAST(COUNT(*) AS BIGINT) AS n_paths,
           CAST(COUNT(DISTINCT comp) AS BIGINT) AS n_components,
           CAST(SUM(q) AS BIGINT) AS total_ext_qty,
           CAST(MAX(q) AS BIGINT) AS max_path_qty
    FROM walk GROUP BY root ORDER BY root
    """,
)
def analytics_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J18 (r6): bill-of-materials explosion — the multiplicative
    sibling of BFS (`graph_nation_reach`): where BFS aggregates MIN
    hops, a BOM rollup aggregates the SUM over paths of the PRODUCT of
    per-edge quantities (extended quantity), the classic manufacturing
    / cost-rollup recursion. The assembly DAG is derived
    deterministically from `part` (parent p → children 2p+1/2p+2/2p+3
    with quantities p%3+1 / p%5+1 / p%7+1 — children strictly greater
    than parents, so acyclic, and the overlapping third edge makes it
    a genuine DAG with shared subassemblies: path count ≠ component
    count). Roots = parts 0..19, exploded 3 levels.

    Scale shape: the unrolled form every bounded-depth warehouse
    recursion compiles to — per level ONE keyed equi-join
    (frontier.comp = edges.parent) and nothing else; the frontier
    starts root-filtered (predicate pushed to the scan), so level-k
    cost is the true path fan-out, not |edges|. Quantities multiply in
    BIGINT (exact at any depth that fits int64); the only broadcast is
    the 1-row MAX(p_partkey). The oracle replays the identical
    expansion as a recursive CTE with the same depth bound."""
    part = tbl(spark, sf_dir, "part")
    mk = part.agg(F.max("p_partkey").alias("maxk"))

    def edge(mult_off: int, mod: int):
        return (
            part.crossJoin(F.broadcast(mk))
            .filter(F.col("p_partkey") * 2 + mult_off <= F.col("maxk"))
            .select(
                F.col("p_partkey").alias("parent"),
                (F.col("p_partkey") * 2 + mult_off).alias("child"),
                (F.col("p_partkey") % mod + 1).cast("bigint").alias("qty"),
            )
        )

    edges = edge(1, 3).unionByName(edge(2, 5)).unionByName(edge(3, 7))
    frontier = edges.filter(F.col("parent") < 20).select(
        F.col("parent").alias("root"),
        F.col("child").alias("comp"),
        F.col("qty").alias("q"),
    )
    levels = [frontier]
    for _ in range(2):
        p = levels[-1].alias("p")
        e = edges.alias("e")
        nxt = p.join(e, F.col("p.comp") == F.col("e.parent")).select(
            F.col("p.root").alias("root"),
            F.col("e.child").alias("comp"),
            (F.col("p.q") * F.col("e.qty")).alias("q"),
        )
        levels.append(nxt)
    walk = levels[0]
    for lv in levels[1:]:
        walk = walk.unionByName(lv)
    return (
        walk.groupBy("root")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_paths"),
            F.countDistinct("comp").cast("bigint").alias("n_components"),
            F.sum("q").cast("bigint").alias("total_ext_qty"),
            F.max("q").cast("bigint").alias("max_path_qty"),
        )
        .orderBy("root")
    )


# ---- W18 (r6): U-shaped multi-touch attribution ----------------------------

_USHAPE_W_SQL = """
      CASE WHEN n = 1 THEN rev_q
           WHEN n = 2 AND r = 1 THEN rev_q // 2
           WHEN n = 2 THEN rev_q - rev_q // 2
           WHEN r = 1 THEN rev_q * 2 // 5
           WHEN r = n THEN rev_q * 2 // 5
           WHEN r = n - 1 THEN (rev_q - 2 * (rev_q * 2 // 5))
                               - (n - 3) * ((rev_q - 2 * (rev_q * 2 // 5)) // (n - 2))
           ELSE (rev_q - 2 * (rev_q * 2 // 5)) // (n - 2)
      END
"""


@register(
    "analytics_attribution_u_shaped",
    oracle=f"""
    WITH pv AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(FLOOR(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS vq
      FROM events WHERE event_type = 'purchase'),
    p AS (
      SELECT user_id, ts, CAST(MIN(event_id) AS BIGINT) AS pkey,
             CAST(SUM(vq) AS BIGINT) AS rev_q
      FROM pv GROUP BY 1, 2),
    t AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_type) AS channel
      FROM events WHERE event_type IN ('click', 'view', 'signup')
      GROUP BY 1, 2),
    att AS (
      SELECT t.channel, t.ts,
             (SELECT p.pkey FROM p
              WHERE p.user_id = t.user_id AND p.ts >= t.ts
              ORDER BY p.ts LIMIT 1) AS pkey
      FROM t),
    j AS (
      SELECT pkey, channel, ts,
             ROW_NUMBER() OVER (PARTITION BY pkey ORDER BY ts) AS r,
             COUNT(*) OVER (PARTITION BY pkey) AS n
      FROM att WHERE pkey IS NOT NULL),
    w AS (
      SELECT j.channel, {_USHAPE_W_SQL} AS wq
      FROM j JOIN p ON j.pkey = p.pkey),
    touch_credit AS (
      SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
             CAST(SUM(wq) AS BIGINT) AS credited_q
      FROM w GROUP BY channel),
    organic AS (
      SELECT 'organic' AS channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
             CAST(SUM(rev_q) AS BIGINT) AS credited_q
      FROM p WHERE pkey NOT IN (SELECT DISTINCT pkey FROM j))
    SELECT channel, n_credits, credited_q,
           CAST(credited_q AS DOUBLE) / 1e6 AS credited_revenue
    FROM (SELECT * FROM touch_credit UNION ALL SELECT * FROM organic)
    ORDER BY channel
    """,
)
def analytics_attribution_u_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18 (r6): U-shaped (position-based) multi-touch attribution —
    the fractional sibling of `analytics_attribution_last_touch`: each
    purchase's revenue splits 40% to the FIRST touch of its journey,
    40% to the LAST, and 20% equally across the middles, the standard
    position-based model. A journey = every touch whose NEXT purchase
    (forward as-of, same one-shuffle merge-scan as the last-touch
    query) is that purchase; purchases with no preceding touch credit
    'organic' in full.

    Exactness discipline: revenue is quantized ONCE to micro-units
    (BIGINT); every split is integer floor-division with the remainder
    deterministically assigned (n=2: remainder to the last; n≥3:
    middle-pool remainder to the last middle) — so credits per journey
    sum EXACTLY to the purchase's rev_q and both engines agree
    bit-for-bit, avoiding the 0.4·x float scheme whose credits don't
    re-sum. The one double division (display units) happens at the
    end.

    Scale shape: touches and purchases pre-aggregate per (user, ts)
    (dedupe + deterministic tie-channels), the forward as-of is one
    user-key merge-scan, journey ranking is one window on the purchase
    key, and the channel rollup re-aggregates journey rows — three
    keyed shuffles total, none carrying more than (key, ts, BIGINT)
    tuples; 'organic' is a broadcast-able anti probe of the purchase
    relation against credited journey keys."""
    from rpa_etl_investing_spark.operators.asof import asof_join
    from pyspark.sql.window import Window as W

    ev = tbl(spark, sf_dir, "events")
    vq = F.floor(F.col("value").cast("double") * 1e6 + F.lit(0.5)).cast("bigint")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", vq.alias("vq"))
        .groupBy("user_id", "ts")
        .agg(
            F.min("event_id").cast("bigint").alias("pkey"),
            F.sum("vq").cast("bigint").alias("rev_q"),
        )
    )
    t = (
        ev.filter(F.col("event_type").isin("click", "view", "signup"))
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("channel"))
    )
    att = asof_join(
        t,
        p.select("user_id", "ts", "pkey"),
        key="user_id",
        ts="ts",
        value_cols=["pkey"],
        direction="forward",
    )
    j = (
        att.filter(F.col("pkey_asof").isNotNull())
        .select("channel", "ts", F.col("pkey_asof").alias("pkey"))
        .withColumn("r", F.row_number().over(W.partitionBy("pkey").orderBy("ts")))
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("pkey")))
    )
    w = j.join(p.select("pkey", "rev_q"), "pkey").select(
        "channel", F.expr(_USHAPE_W_SQL.replace("//", "div")).alias("wq")
    )
    touch_credit = w.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_credits"),
        F.sum("wq").cast("bigint").alias("credited_q"),
    )
    organic = (
        p.join(j.select("pkey").distinct(), "pkey", "left_anti")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credits"),
            F.sum("rev_q").cast("bigint").alias("credited_q"),
        )
        .select(F.lit("organic").alias("channel"), "n_credits", "credited_q")
    )
    return (
        touch_credit.unionByName(organic)
        .select(
            "channel",
            "n_credits",
            "credited_q",
            (F.col("credited_q").cast("double") / F.lit(1e6)).alias(
                "credited_revenue"
            ),
        )
        .orderBy("channel")
    )


# ---- J19 (r6): interval-overlap count join via boundary prefix counts ------


@register(
    "analytics_interval_overlap_counts",
    oracle="""
    WITH w AS (
      SELECT o.o_orderkey, c.c_nationkey AS nk, c.c_mktsegment AS seg,
             CAST(o.o_orderdate AS TIMESTAMP) AS s,
             GREATEST(CAST(MAX(l.l_shipdate) AS TIMESTAMP),
                      CAST(o.o_orderdate AS TIMESTAMP)) AS e
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY 1, 2, 3, 4),
    a AS (SELECT * FROM w WHERE seg = 'BUILDING'),
    b AS (SELECT * FROM w WHERE seg = 'MACHINERY'),
    cnt AS (
      SELECT a.nk, a.o_orderkey,
             (SELECT COUNT(*) FROM b
              WHERE b.nk = a.nk AND b.s <= a.e AND b.e >= a.s) AS nc
      FROM a)
    SELECT cnt.nk AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_building,
           CAST((SELECT COUNT(*) FROM b WHERE b.nk = cnt.nk) AS BIGINT)
             AS n_machinery,
           CAST(SUM(nc) AS BIGINT) AS n_overlap_pairs,
           CAST(MAX(nc) AS BIGINT) AS max_concurrent
    FROM cnt GROUP BY cnt.nk ORDER BY cnt.nk
    """,
)
def analytics_interval_overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J19 (r6): interval×interval overlap-COUNT join via boundary
    prefix counts — for every BUILDING-segment order's fulfillment
    window [orderdate, last shipdate], how many same-nation
    MACHINERY-segment windows overlap it. The algorithmic point: the
    overlap-pair COUNT never materializes pairs — for inclusive
    intervals, |{b : s_b ≤ e_a ∧ e_b ≥ s_a}| =
    (# b-starts ≤ e_a) − (# b-ends < s_a), so two backward as-of
    lookups against per-nation cumulative boundary counts replace the
    interval join entirely. Pair output grows quadratically with SF
    when windows are long-lived (the PPJoin data-shape lesson); the
    count form stays LINEAR — the right query to ask at 100 TB, with
    the bucketed pair join (J13) reserved for when pairs are truly
    needed.

    Scale shape: one order-grain aggregate (max shipdate), one
    customer key join, then the cumulative tables are per-(nation,
    day) — bounded by the calendar — and the two as-of probes are the
    one-shuffle merge-scan of operators/asof.py. The oracle computes
    the same counts as a correlated BNL COUNT, so the prefix-count
    identity itself is what's being proven. The identity requires
    WELL-FORMED intervals on both sides (e_b < s_a must imply
    s_b ≤ e_a); the synthetic fixture has ~21% of orders whose max
    shipdate precedes the order date, so windows clamp to
    e = greatest(s, e) in both engines — found by the oracle
    mismatch, which is exactly the class of precondition the
    side-by-side check exists to catch."""
    from pyspark.sql.window import Window as W

    from rpa_etl_investing_spark.operators.asof import asof_join

    orders = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    cust = tbl(spark, sf_dir, "customer")
    w_df = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            cust.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY")),
            cust.c_custkey == orders.o_custkey,
        )
        .groupBy(
            "o_orderkey",
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderdate").cast("timestamp").alias("s"),
        )
        .agg(
            F.greatest(
                F.max("l_shipdate").cast("timestamp"), F.col("s")
            ).alias("e")
        )
    )
    a = w_df.filter(F.col("seg") == "BUILDING").select("nk", "o_orderkey", "s", "e")
    b = w_df.filter(F.col("seg") == "MACHINERY").select("nk", "s", "e")

    wn = W.partitionBy("nk").orderBy("ts")
    cum_starts = (
        b.groupBy("nk", F.col("s").alias("ts"))
        .agg(F.count(F.lit(1)).alias("d"))
        .withColumn("cs", F.sum("d").over(wn).cast("bigint"))
        .drop("d")
    )
    cum_ends = (
        b.groupBy("nk", F.col("e").alias("ts"))
        .agg(F.count(F.lit(1)).alias("d"))
        .withColumn("ce", F.sum("d").over(wn).cast("bigint"))
        .drop("d")
    )
    j1 = asof_join(
        a.withColumn("ts", F.col("e")),
        cum_starts,
        key="nk",
        ts="ts",
        value_cols=["cs"],
    )
    j2 = asof_join(
        j1.withColumn("ts", F.col("s") - F.expr("INTERVAL 1 DAY")),
        cum_ends,
        key="nk",
        ts="ts",
        value_cols=["ce"],
    )
    nc = F.coalesce(F.col("cs_asof"), F.lit(0)) - F.coalesce(
        F.col("ce_asof"), F.lit(0)
    )
    per_a = j2.select("nk", "o_orderkey", nc.cast("bigint").alias("nc"))
    nb = b.groupBy("nk").agg(F.count(F.lit(1)).cast("bigint").alias("n_machinery"))
    return (
        per_a.groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_building"),
            F.sum("nc").cast("bigint").alias("n_overlap_pairs"),
            F.max("nc").cast("bigint").alias("max_concurrent"),
        )
        .join(nb, "nk", "left")
        .select(
            F.col("nk").alias("nationkey"),
            "n_building",
            F.coalesce(F.col("n_machinery"), F.lit(0)).cast("bigint").alias(
                "n_machinery"
            ),
            "n_overlap_pairs",
            "max_concurrent",
        )
        .orderBy("nationkey")
    )


# ---- W19 (r6): journey trigram mining ---------------------------------------


@register(
    "analytics_journey_trigrams",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_type) AS et
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT user_id, LIST(et ORDER BY ts) AS l FROM e GROUP BY user_id),
    tri AS (
      SELECT UNNEST(CASE WHEN LEN(l) < 3 THEN CAST([] AS VARCHAR[])
                         ELSE LIST_TRANSFORM(RANGE(1, LEN(l) - 1),
                                i -> l[i] || '>' || l[i+1] || '>' || l[i+2])
                    END) AS path
      FROM seq)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri GROUP BY path
    ORDER BY n DESC, path
    LIMIT 20
    """,
)
def analytics_journey_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W19 (r6): user-journey path mining — the top 3-step event
    sequences across all users, the sequence-n-gram extension of the
    first-order Markov model (`analytics_markov_transitions`): where
    the transition matrix sees only adjacent pairs, trigram paths
    expose the actual funnels users walk (view>cart>purchase vs
    view>view>view), the input to journey-map and next-step-prediction
    work.

    Determinism: simultaneous events collapse per (user, ts) to the
    MAX event_type first (the attribution queries' tie rule), so each
    user's timeline sorts uniquely by timestamp and both engines build
    identical sequences.

    Scale shape: one (user, ts) dedup aggregate, then ONE user-key
    shuffle collects each user's ordered timeline (array_sort on a
    struct — per-user state bounded by that user's activity, the
    sessionization posture); trigram formation is a map-side HOF over
    the sorted array, and the path rollup + top-20 is a hash aggregate
    feeding TakeOrderedAndProject. Event strings shuffle once."""
    ev = tbl(spark, sf_dir, "events")
    e = ev.groupBy("user_id", "ts").agg(F.max("event_type").alias("et"))
    seq = e.groupBy("user_id").agg(
        F.expr("transform(array_sort(collect_list(struct(ts, et))), r -> r.et)")
        .alias("l")
    )
    tri = seq.select(
        F.explode(
            F.expr(
                "CASE WHEN size(l) < 3 THEN array() "
                "ELSE transform(sequence(1, size(l) - 2), i -> "
                "concat(element_at(l, i), '>', element_at(l, i + 1), '>', "
                "element_at(l, i + 2))) END"
            )
        ).alias("path")
    )
    return (
        tri.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


@register(
    "profile_daily_volume_anomaly",
    oracle="""
    WITH daily AS (
      SELECT DATE_TRUNC('day', CAST(o_orderdate AS TIMESTAMP)) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1),
    w AS (
      SELECT day, cnt,
             LIST_SORT(COALESCE(LIST(cnt) OVER (ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
                        CAST([] AS BIGINT[]))) AS hist
      FROM daily)
    SELECT day, cnt,
           CAST(LEN(hist) AS BIGINT) AS n_hist,
           CAST(hist[(LEN(hist) + 1) // 2] AS BIGINT) AS trailing_median,
           CASE WHEN LEN(hist) = 0 THEN FALSE
                ELSE ABS(cnt - hist[(LEN(hist) + 1) // 2]) * 5
                     > hist[(LEN(hist) + 1) // 2] * 2 END AS flagged
    FROM w ORDER BY day
    """,
)
def profile_daily_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-ops volume monitor (r6): flags load days whose row count
    deviates more than 40% from the trailing-7-day median — the
    pipeline-SLA alarm every warehouse runs before consumers read a
    partial or double load. Median (not mean) so one bad day doesn't
    poison its own baseline; the deviation test is the exact integer
    inequality |cnt − med|·5 > med·2, never a float ratio; the median
    is the type-1 lower-middle of the sorted trailing window, exact
    BIGINT in both engines.

    Scale shape: the fact collapses to calendar-bounded daily counts
    in one hash aggregate; the trailing window runs over that tiny
    relation (the single-partition window is bounded by days, not
    rows — the interval-coverage posture). At 100 TB this monitor
    costs one scan's aggregate."""
    from pyspark.sql.window import Window as W

    orders = tbl(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate").cast("timestamp")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    hist = F.sort_array(
        # bounded-window: calendar-day relation (one row per day)
        F.collect_list("cnt").over(W.orderBy("day").rowsBetween(-7, -1))
    )
    w = daily.withColumn("hist", hist)
    # CASE-guarded: element_at(_, 0) raises on the empty first window
    # (DuckDB's l[0] is NULL); CaseWhen evaluates branches lazily
    med = F.when(
        F.size("hist") > 0,
        F.element_at("hist", ((F.size("hist") + 1) / 2).cast("int")),
    )
    return w.select(
        "day",
        "cnt",
        F.size("hist").cast("bigint").alias("n_hist"),
        med.cast("bigint").alias("trailing_median"),
        F.when(F.size("hist") == 0, F.lit(False))
        .otherwise(F.abs(F.col("cnt") - med) * 5 > med * 2)
        .alias("flagged"),
    ).orderBy("day")


@register(
    "analytics_brand_transitions",
    oracle="""
    WITH ob AS (
      SELECT o.o_custkey, o.o_orderdate, o.o_orderkey,
             LIST(DISTINCT p.p_brand) AS brands
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2, 3),
    seq AS (
      SELECT o_custkey, brands,
             LAG(brands) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS prev
      FROM ob),
    t1 AS (SELECT brands, UNNEST(prev) AS brand_from
           FROM seq WHERE prev IS NOT NULL),
    t2 AS (SELECT brand_from, UNNEST(brands) AS brand_to FROM t1)
    SELECT brand_from, brand_to, CAST(COUNT(*) AS BIGINT) AS n
    FROM t2 GROUP BY 1, 2
    ORDER BY n DESC, brand_from, brand_to
    LIMIT 20
    """,
)
def analytics_brand_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-ORDER sequential brand affinity (r6) — "customers who
    bought brand X last time buy brand Y next": the temporal sibling
    of within-basket lift (`analytics_basket_affinity`), the signal
    repurchase/upsell models train on. Each customer's order history
    becomes a sequence of brand SETS; every consecutive order pair
    contributes its prev×next brand cross — fan-out bounded by basket
    size squared (≤ ~50), never by history length or corpus size.

    Scale shape: one order-grain set aggregate (after the two fact
    joins), ONE customer-key window for the lag (per-customer state =
    two brand sets), map-side double explode, then the transition
    hash aggregate feeding TakeOrderedAndProject. Set semantics make
    collect_set/LIST(DISTINCT) ordering irrelevant — only membership
    crosses the engines."""
    from pyspark.sql.window import Window as W

    orders = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    ob = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .join(part, part.p_partkey == li.l_partkey)
        .groupBy("o_custkey", "o_orderdate", "o_orderkey")
        .agg(F.collect_set("p_brand").alias("brands"))
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = ob.withColumn("prev", F.lag("brands").over(w)).filter(
        F.col("prev").isNotNull()
    )
    tr = seq.select(
        F.explode("prev").alias("brand_from"), "brands"
    ).select("brand_from", F.explode("brands").alias("brand_to"))
    return (
        tr.groupBy("brand_from", "brand_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "brand_from", "brand_to")
        .limit(20)
    )


@register(
    "analytics_segment_migration_matrix",
    oracle="""
    WITH yr AS (
      SELECT EXTRACT(YEAR FROM CAST(o_orderdate AS TIMESTAMP)) AS y,
             o_custkey AS c,
             CAST(SUM(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2),
    r AS (
      SELECT y, c, rev,
             ROW_NUMBER() OVER (PARTITION BY y ORDER BY rev) AS rn,
             COUNT(*) OVER (PARTITION BY y) AS n
      FROM yr),
    cuts AS (
      SELECT y,
        MAX(CASE WHEN rn = CAST(FLOOR(0.2 * (n-1)) AS BIGINT) + 1 THEN rev END) AS c20,
        MAX(CASE WHEN rn = CAST(FLOOR(0.4 * (n-1)) AS BIGINT) + 1 THEN rev END) AS c40,
        MAX(CASE WHEN rn = CAST(FLOOR(0.6 * (n-1)) AS BIGINT) + 1 THEN rev END) AS c60,
        MAX(CASE WHEN rn = CAST(FLOOR(0.8 * (n-1)) AS BIGINT) + 1 THEN rev END) AS c80
      FROM r GROUP BY y),
    seg AS (
      SELECT yr.y, yr.c,
             1 + CAST(yr.rev > cuts.c20 AS INT) + CAST(yr.rev > cuts.c40 AS INT)
               + CAST(yr.rev > cuts.c60 AS INT) + CAST(yr.rev > cuts.c80 AS INT)
               AS s
      FROM yr JOIN cuts ON yr.y = cuts.y),
    mx AS (SELECT MAX(y) AS my FROM yr),
    tr AS (
      SELECT a.s AS seg_from, CAST(COALESCE(b.s, 0) AS INT) AS seg_to
      FROM seg a CROSS JOIN mx
      LEFT JOIN seg b ON b.c = a.c AND b.y = a.y + 1
      WHERE a.y < mx.my)
    SELECT CAST(seg_from AS INT) AS seg_from, seg_to,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM tr GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def analytics_segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment-migration matrix (r6) — year-over-year movement
    between revenue quintiles, plus churn (segment 0 = absent next
    year): the retention-analytics classic behind "how many of last
    year's top-20% customers stayed top-20%". Segments come from
    per-year EXACT type-1 quintile cut VALUES; membership is a value
    comparison, so boundary ties land identically on both engines.

    Scale shape: the per-year cuts use the SHARDED two-pass exact
    selection (operators/prefix.py `exact_quantiles` with
    group_cols=[year]) — no per-year sort task, no per-year collect
    buffer, the reason `percentile()`/NTILE windows are avoided at
    100 TB. The cuts relation is (years × 4) rows (broadcast-able by
    construction); segmentation is a map-side join + three compares;
    the migration join is one (customer, year)-keyed self-join and a
    30-cell aggregate."""
    from rpa_etl_investing_spark.operators.prefix import exact_quantiles

    orders = tbl(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice").cast("double") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    yr = (
        orders.groupBy(
            F.year(F.col("o_orderdate").cast("timestamp")).alias("y"),
            F.col("o_custkey").alias("c"),
        )
        .agg(F.sum(cents).cast("bigint").alias("rev"))
    )
    cuts = exact_quantiles(
        yr,
        "rev",
        {"c20": 0.2, "c40": 0.4, "c60": 0.6, "c80": 0.8},
        group_cols=["y"],
    )
    s = (
        F.lit(1)
        + (F.col("rev") > F.col("c20")).cast("int")
        + (F.col("rev") > F.col("c40")).cast("int")
        + (F.col("rev") > F.col("c60")).cast("int")
        + (F.col("rev") > F.col("c80")).cast("int")
    )
    seg = yr.join(F.broadcast(cuts), "y").select("y", "c", s.alias("s"))
    mx = yr.agg(F.max("y").alias("my"))
    a = seg.crossJoin(F.broadcast(mx)).filter(F.col("y") < F.col("my")).select(
        F.col("y").alias("ya"), F.col("c").alias("ca"), F.col("s").alias("seg_from")
    )
    b = seg.select(
        F.col("y").alias("yb"), F.col("c").alias("cb"), F.col("s").alias("sb")
    )
    tr = a.join(
        b, (a.ca == b.cb) & (b.yb == a.ya + 1), "left"
    ).select(
        F.col("seg_from").cast("int").alias("seg_from"),
        F.coalesce(F.col("sb"), F.lit(0)).cast("int").alias("seg_to"),
    )
    return (
        tr.groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("seg_from", "seg_to")
    )


# ---- A32+ (r6): Theil index between/within decomposition --------------------

# Shared per-row term: with r = x·n/X (the income share ratio), the
# Theil-T contribution is r·ln(r)/n. Both factors quantize before the
# product — r to 1e6 (exact integer ratio via DECIMAL), ln(r) to 1e6
# (absorbing libm-vs-Java last-ulp drift) — so the per-row term is an
# exact BIGINT product and the sum is order-free.
_THEIL_TERM_SQL = (
    "CAST(FLOOR(CAST({x} AS DECIMAL(38,0)) * {n} * 1000000 / {tot} + 0.5) AS BIGINT)"
    " * CAST(FLOOR(1000000 * LN(CAST({x} AS DOUBLE) * {n} / {tot}) + 0.5) AS BIGINT)"
)


@register(
    "analytics_theil_decomposition",
    oracle=f"""
    WITH cust AS (
      SELECT c.c_custkey, n.n_regionkey AS region,
             CAST(SUM(CAST(FLOOR(CAST(o.o_totalprice AS DOUBLE) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS x
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS tot FROM cust),
    per_row AS (
      SELECT region,
             {_THEIL_TERM_SQL.format(x="x", n="n", tot="tot")} AS term_q
      FROM cust CROSS JOIN g),
    within AS (
      SELECT region, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(term_q) AS BIGINT) AS sum_term_q
      FROM per_row GROUP BY region),
    grp AS (
      SELECT region, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(x) AS BIGINT) AS x_g
      FROM cust GROUP BY region),
    between_c AS (
      SELECT region,
             CAST(FLOOR(CAST(x_g AS DECIMAL(38,0)) * 1000000 / tot + 0.5) AS BIGINT)
             * CAST(FLOOR(1000000 * LN(CAST(x_g AS DOUBLE) * n / (CAST(n_g AS DOUBLE) * tot)) + 0.5) AS BIGINT)
               AS bterm_q
      FROM grp CROSS JOIN g)
    SELECT w.region, w.n_g,
           CAST(w.sum_term_q AS BIGINT) AS theil_contrib_q,
           CAST(b.bterm_q AS BIGINT) AS between_contrib_q
    FROM within w JOIN between_c b ON w.region = b.region
    ORDER BY w.region
    """,
)
def analytics_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32+ (r6): Theil-T inequality index with its between/within
    decomposition by region — the additive-decomposability property
    that makes Theil (not Gini, `analytics_gini_concentration`) the
    index economists use to answer "how much revenue concentration is
    BETWEEN regions vs WITHIN them": T = T_between + Σ_g w_g·T_g, and
    this query emits each region's contribution to the TOTAL index
    (they sum to T by construction) plus its between-group term
    (share_g x ln of the group-mean ratio); T_within = T - T_between,
    everything still on the exact integer grid.

    Exactness discipline: the per-row term r·ln(r) (r = x·n/X) is a
    product of TWO separately quantized BIGINTs — the share ratio via
    exact DECIMAL division to the 1e6 grid, and ln(r) to the 1e6 grid
    (the quantized-ln convention that absorbs libm-vs-JVM last-ulp
    differences) — so every sum crossing the engines is an integer
    sum; consumers divide by n·10¹² once for the real index.

    Scale shape: one customer-grain aggregate (two key joins), a 1-row
    broadcast of (n, Σx), a map-side term projection, and two tiny
    rollups (per-region) — inequality accounting at 100 TB is one
    fact pass, exactly like the Gini query, plus a |regions|-row
    between table."""
    orders = tbl(spark, sf_dir, "orders")
    cust = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    cents = F.floor(F.col("o_totalprice").cast("double") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    base = (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .join(maybe_broadcast(nation, "nation"), nation.n_nationkey == cust.c_nationkey)
        .groupBy("c_custkey", F.col("n_regionkey").alias("region"))
        .agg(F.sum(cents).cast("bigint").alias("x"))
    )
    g = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("tot"),
    )

    def term(xc: str) -> F.Column:
        # the SAME SQL text the oracle uses, so both engines parse the
        # identical expression tree
        return F.expr(_THEIL_TERM_SQL.format(x=xc, n="n", tot="tot"))

    per_row = base.crossJoin(F.broadcast(g)).select(
        "region", term("x").alias("term_q")
    )
    within = per_row.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("term_q").cast("bigint").alias("sum_term_q"),
    )
    grp = base.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("x").cast("bigint").alias("x_g"),
    )
    bterm = F.expr(
        "CAST(FLOOR(CAST(x_g AS DECIMAL(38,0)) * 1000000 / tot + 0.5) AS BIGINT)"
        " * CAST(FLOOR(1000000 * LN(CAST(x_g AS DOUBLE) * n / "
        "(CAST(n_g AS DOUBLE) * tot)) + 0.5) AS BIGINT)"
    )
    between = grp.crossJoin(F.broadcast(g)).select(
        "region", bterm.alias("bterm_q")
    )
    return (
        within.join(between, "region")
        .select(
            "region",
            "n_g",
            F.col("sum_term_q").cast("bigint").alias("theil_contrib_q"),
            F.col("bterm_q").cast("bigint").alias("between_contrib_q"),
        )
        .orderBy("region")
    )


@register(
    "analytics_runs_test",
    oracle="""
    WITH daily AS (
      SELECT DATE_TRUNC('day', CAST(o_orderdate AS TIMESTAMP)) AS day,
             CAST(SUM(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    lagged AS (
      SELECT day, rev, LAG(rev) OVER (ORDER BY day) AS prev FROM daily),
    signs AS (
      SELECT day, CASE WHEN rev > prev THEN 1 ELSE 0 END AS up
      FROM lagged WHERE prev IS NOT NULL AND rev <> prev),
    seq AS (
      SELECT up, LAG(up) OVER (ORDER BY day) AS prev_up FROM signs),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(up) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(up) AS BIGINT) AS n2,
             CAST(1 + SUM(CASE WHEN prev_up IS NOT NULL AND up <> prev_up
                               THEN 1 ELSE 0 END) AS BIGINT) AS runs
      FROM seq)
    SELECT n, n1, n2, runs,
           CAST(((runs - 1) * n - 2 * n1 * n2) AS BIGINT) AS dev_num_q,
           CAST(CAST((runs - 1) * n - 2 * n1 * n2 AS DECIMAL(38,0))
                * ((runs - 1) * n - 2 * n1 * n2) * (n - 1) * 10000
                > CAST(38416 AS DECIMAL(38,0)) * 2 * n1 * n2
                  * (2 * n1 * n2 - n) AS BOOLEAN) AS nonrandom_95
    FROM agg
    """,
)
def analytics_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13+ (r6): Wald–Wolfowitz runs test on the daily revenue
    DIRECTION sequence — does revenue move up/down randomly, or do
    moves cluster (momentum) or alternate (oscillation/overcorrection)?
    The randomness leg that completes the drift toolkit (PSI = share
    shift, χ² = dependence, KS = worst-case gap, Mann-Whitney =
    ordinal shift, Benford = digit fraud): too FEW runs means trending
    regimes, too MANY means alternation, both breaking the i.i.d.
    assumption monitors quietly rely on.

    Exactness discipline: up/down flags come from exact integer-cents
    comparisons (ties dropped identically in both engines); the
    significance test |R−μ_R| > 1.96·σ_R is evaluated WITHOUT any
    float — with A = (R−1)n − 2n₁n₂, the condition is
    A²(n−1)·10⁴ > 38416·2n₁n₂(2n₁n₂−n), pure DECIMAL(38,0) (A² times
    n overflows int64 at warehouse scale — the A/B-test z² posture).

    Scale shape: the fact collapses to calendar-bounded daily sums in
    one hash aggregate; both lag windows run over that tiny relation;
    the test itself is a 1-row aggregate. One fact pass at any
    scale."""
    from pyspark.sql.window import Window as W

    orders = tbl(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice").cast("double") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate").cast("timestamp")).alias("day")
    ).agg(F.sum(cents).cast("bigint").alias("rev"))
    # bounded-window: calendar-day relation (one row per day)
    w = W.orderBy("day")
    signs = (
        daily.withColumn("prev", F.lag("rev").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("rev") != F.col("prev")))
        .select(
            "day", F.when(F.col("rev") > F.col("prev"), 1).otherwise(0).alias("up")
        )
    )
    seq = signs.withColumn("prev_up", F.lag("up").over(w))
    agg = seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("up").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("up")).cast("bigint").alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev_up").isNotNull()
                    & (F.col("up") != F.col("prev_up")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("runs"),
    )
    return agg.selectExpr(
        "n",
        "n1",
        "n2",
        "runs",
        "CAST(((runs - 1) * n - 2 * n1 * n2) AS BIGINT) AS dev_num_q",
        "CAST(CAST((runs - 1) * n - 2 * n1 * n2 AS DECIMAL(38,0))"
        " * ((runs - 1) * n - 2 * n1 * n2) * (n - 1) * 10000"
        " > CAST(38416 AS DECIMAL(38,0)) * 2 * n1 * n2"
        " * (2 * n1 * n2 - n) AS BOOLEAN) AS nonrandom_95",
    )


# ---- A33+ (r6): log-log price elasticity ------------------------------------

_ELAST_XY_SQL = (
    "CAST(FLOOR(1000000 * LN(CAST(l_extendedprice AS DOUBLE)"
    " / CAST(l_quantity AS DOUBLE)) + 0.5) AS BIGINT)",
    "CAST(FLOOR(1000000 * LN(CAST(l_quantity AS DOUBLE)) + 0.5) AS BIGINT)",
)


@register(
    "analytics_price_elasticity",
    oracle=f"""
    WITH obs AS (
      SELECT p.p_brand AS brand,
             {_ELAST_XY_SQL[0]} AS xq,
             {_ELAST_XY_SQL[1]} AS yq
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0),
    s AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(xq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(CAST(yq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(xq AS DECIMAL(38,0)) * xq) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(xq AS DECIMAL(38,0)) * yq) AS DECIMAL(38,0)) AS sxy
      FROM obs GROUP BY brand),
    q AS (
      SELECT brand, n,
             CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
               - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num,
             CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
               - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS den
      FROM s)
    SELECT brand, n,
           CAST(CAST(num * 1000000000000 // den AS BIGINT) AS DOUBLE)
             / 1000000000000.0 AS elasticity,
           num + den < 0 AS elastic
    FROM q WHERE den > 0 ORDER BY brand
    """,
)
def analytics_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33+ (r6): price elasticity of demand per brand — the log-log
    OLS slope of ln(quantity) on ln(unit price), the econometric
    workhorse behind pricing decisions (|slope| > 1 = elastic: a price
    cut grows revenue). The log-log transform applied to the grouped
    closed-form OLS machinery (`agg_grouped_ols`): a million brand
    regressions still cost ONE hash aggregate.

    Exactness discipline (r7, after the r6 verdict caught a 1-ulp
    decimal→double drift at sf0.001): both logs quantize ONCE per row
    to the 1e-6 grid (absorbing libm-vs-JVM last-ulp drift — the
    Zipf/WoE convention); all five power sums accumulate as
    DECIMAL(38,0); the slope is quantized to the 1e-12 integer grid by
    EXACT truncating integer division BEFORE any double cast — Spark's
    decimal ``div`` and DuckDB's HUGEINT ``//`` both truncate toward
    zero on exact int128-class arithmetic, so the quantized slope is
    the same integer in both engines and the final
    bigint→double / 1e12 is the identical IEEE operation. ``elastic``
    (slope < −1) never touches floats at all: with den > 0 it is the
    pure-decimal sign inequality num + den < 0 (the A24 z² posture).
    Brands with den = 0 (constant log-price — slope undefined) are
    excluded by both engines.

    Scale shape: one fact join + one partial+final hash aggregate;
    the slope evaluates per brand row. Identical plan class to the
    grouped OLS — the transform changes semantics, not shape."""
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    obs = (
        li.filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .join(part, part.p_partkey == li.l_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.expr(_ELAST_XY_SQL[0]).alias("xq"),
            F.expr(_ELAST_XY_SQL[1]).alias("yq"),
        )
    )
    s = obs.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("xq").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("yq").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("xq").cast("decimal(38,0)") * F.col("xq"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("xq").cast("decimal(38,0)") * F.col("yq"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    num = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("decimal(38,0)")
        .alias("num")
    )
    den = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("decimal(38,0)")
        .alias("den")
    )
    # the raw decimal power sums stay internal: DuckDB's pandas bridge
    # floats DECIMAL(38,0) columns (lossy past 2^53), so only the
    # 1e-12-grid-quantized slope (exact in both engines) crosses the
    # comparator
    q = s.select("brand", "n", num, den).filter(F.col("den") > 0)
    return q.select(
        "brand",
        "n",
        (
            F.expr("num * 1000000000000 div den").cast("double")
            / F.lit(1000000000000.0)
        ).alias("elasticity"),
        ((F.col("num") + F.col("den")) < 0).alias("elastic"),
    ).orderBy("brand")


# ---- r7: privacy audit — k-anonymity ----------------------------------------


@register(
    "profile_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)
               AS bal_bucket,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM customer
      GROUP BY 1, 2, 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_records,
           CAST(MIN(class_size) AS BIGINT) AS k_anonymity,
           CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_classes,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                AS BIGINT) AS n_records_at_risk,
           CAST(SUM(class_size) * 1000000
                // (COUNT(*) * (SELECT COUNT(*) FROM customer)) AS BIGINT)
             AS avg_class_share_q
    FROM classes
    """,
)
def profile_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7 privacy family: k-anonymity audit over quasi-identifiers —
    the re-identification check a training-data pipeline runs before a
    release: group records by the quasi-identifier tuple (market
    segment, nation, $1000 account-balance bucket) and report the
    dataset's k (the SMALLEST equivalence class), the classes and
    records below the k=5 policy line, and the average class share on
    the 1e-6 grid (exact truncating integer division, both engines).

    A record in a class of size 1 is uniquely re-identifiable from its
    quasi-identifiers alone; ``n_records_at_risk`` is the count a
    suppression/generalization pass would have to touch.

    Scale shape: ONE partial+final hash aggregate over the
    quasi-identifier tuple (the class table is bounded by the QI
    domain, not the record count) + a one-row rollup — the audit costs
    the same as any groupBy at 100 TB, and the QI class table is the
    input a Mondrian-style generalizer would consume."""
    cust = tbl(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0))
        .cast("bigint")
        .alias("bal_bucket"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("class_size"))
    total = cust.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    at_risk = F.col("class_size") < 5
    return (
        classes.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_records"),
            F.min("class_size").cast("bigint").alias("k_anonymity"),
            F.sum(F.when(at_risk, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_classes"),
            F.sum(F.when(at_risk, F.col("class_size")).otherwise(0))
            .cast("bigint")
            .alias("n_records_at_risk"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "n_classes",
            "n_records",
            "k_anonymity",
            "n_violating_classes",
            "n_records_at_risk",
            F.expr("n_records * 1000000 div (n_classes * n_total)").alias(
                "avg_class_share_q"
            ),
        )
    )


# ---- r7: degree-sketch join cardinality -------------------------------------


@register(
    "analytics_join_cardinality_estimate",
    oracle="""
    WITH oc AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
                FROM orders GROUP BY o_custkey),
    ec AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY user_id),
    deg AS (SELECT oc.k, oc.c AS c_orders, ec.c AS c_events
            FROM oc JOIN ec ON oc.k = ec.k),
    pred AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_join_keys,
             CAST(SUM(c_orders * c_events) AS BIGINT) AS predicted_rows,
             CAST(MAX(c_orders * c_events) AS BIGINT) AS max_key_rows
      FROM deg),
    act AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
      FROM orders o JOIN events e ON o.o_custkey = e.user_id)
    SELECT n_join_keys, predicted_rows, max_key_rows, actual_rows,
           predicted_rows = actual_rows AS estimate_exact,
           max_key_rows * 1000000 // predicted_rows AS top_key_share_q
    FROM pred, act
    """,
)
def analytics_join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """r7 planner-style operator: join-cardinality estimation from
    per-key DEGREE SKETCHES — |A ⋈ B| = Σ_k deg_A(k)·deg_B(k), the
    exact identity every cost-based optimizer approximates with
    histograms/HLLs. Computed here exactly from two per-key count
    aggregates (each a fraction of its table's width), then PROVEN
    against the materialized join's row count in the same result row
    (``estimate_exact`` must be true — the identity is the oracle), and
    the hottest key's output share on the 1e-6 grid is the skew signal
    a planner would read before choosing salting (operators/skew.py).

    Scale shape: the degree tables shuffle ONLY (key, count) pairs —
    at 100 TB the estimate costs two map-side-combined aggregates and a
    key-table join, letting the engine predict (and refuse) a
    quadratic join OUTPUT before paying for it; the verification join
    here is fixture-scale evidence, not part of the production
    estimator."""
    orders = tbl(spark, sf_dir, "orders")
    events = tbl(spark, sf_dir, "events")
    oc = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_orders")
    )
    ec = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_events")
    )
    pred = (
        oc.join(ec, "k")
        .select((F.col("c_orders") * F.col("c_events")).alias("kr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_join_keys"),
            F.sum("kr").cast("bigint").alias("predicted_rows"),
            F.max("kr").cast("bigint").alias("max_key_rows"),
        )
    )
    act = (
        orders.join(events, orders.o_custkey == events.user_id)
        .agg(F.count(F.lit(1)).cast("bigint").alias("actual_rows"))
    )
    return pred.crossJoin(F.broadcast(act)).select(
        "n_join_keys",
        "predicted_rows",
        "max_key_rows",
        "actual_rows",
        (F.col("predicted_rows") == F.col("actual_rows")).alias(
            "estimate_exact"
        ),
        F.expr("max_key_rows * 1000000 div predicted_rows").alias(
            "top_key_share_q"
        ),
    )


# ---- r7: UCB1 bandit arm scores ---------------------------------------------


@register(
    "analytics_ucb1_arms",
    oracle="""
    WITH pulls AS (
      SELECT event_type AS arm,
             CAST(COUNT(*) AS BIGINT) AS n_pulls,
             CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS reward_q
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type),
    tot AS (SELECT CAST(SUM(n_pulls) AS BIGINT) AS n_total,
                   CAST(FLOOR(1e6 * LN(CAST(SUM(n_pulls) AS DOUBLE)) + 0.5)
                        AS BIGINT) AS ln_total_q
            FROM pulls)
    SELECT arm, n_pulls,
           reward_q // n_pulls AS mean_reward_q,
           CAST(FLOOR(1e6 * SQRT(2.0 * ln_total_q
                                 / (1000000.0 * n_pulls)) + 0.5) AS BIGINT)
             AS bonus_q,
           reward_q // n_pulls
             + CAST(FLOOR(1e6 * SQRT(2.0 * ln_total_q
                                     / (1000000.0 * n_pulls)) + 0.5)
                    AS BIGINT) AS ucb1_q
    FROM pulls, tot
    ORDER BY arm
    """,
)
def analytics_ucb1_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7 experimentation analytics: UCB1 scores per arm (event_type as
    the arm, value as the reward) — mean reward plus the
    sqrt(2·ln N / n_arm) exploration bonus, the deterministic
    index-policy companion to the A/B z-test (`analytics_ab_proportion_
    test`): the arm with the max UCB1 is what an index bandit plays
    next.

    Exactness discipline: rewards quantize once per row to the 1e-6
    grid and sum as exact BIGINTs; the mean is exact truncating integer
    division; ln(N) quantizes once to the 1e-6 grid (the quantized-ln
    convention), and the bonus's remaining ops — one double division of
    identically-derived integers and one sqrt — are both
    correctly-rounded IEEE operations, so the bits match across engines
    and the final 1e-6 FLOOR is belt-and-braces.

    Scale shape: one hash aggregate over the fact (|arms| rows out) + a
    1-row broadcast of (N, ln N) — bandit scoring at 100 TB is exactly
    one fact pass, and the per-arm state (n, Σreward) is the mergeable
    sketch an incremental/streaming variant would maintain."""
    ev = tbl(spark, sf_dir, "events")
    rq = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    pulls = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(F.col("event_type").alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pulls"),
            F.sum(rq).cast("bigint").alias("reward_q"),
        )
    )
    tot = pulls.agg(
        F.sum("n_pulls").cast("bigint").alias("n_total"),
    ).select(
        "n_total",
        F.expr(
            "CAST(FLOOR(1e6 * LN(CAST(n_total AS DOUBLE)) + 0.5) AS BIGINT)"
        ).alias("ln_total_q"),
    )
    bonus = F.expr(
        "CAST(FLOOR(1e6 * SQRT(2.0 * ln_total_q / (1000000.0 * n_pulls))"
        " + 0.5) AS BIGINT)"
    )
    return (
        pulls.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            "n_pulls",
            F.expr("reward_q div n_pulls").alias("mean_reward_q"),
            bonus.alias("bonus_q"),
            (F.expr("reward_q div n_pulls") + bonus).alias("ucb1_q"),
        )
        .orderBy("arm")
    )


# ---- r7: cohort retention matrix ---------------------------------------------


@register(
    "analytics_retention_matrix",
    oracle="""
    WITH fo AS (
      SELECT o_custkey,
             MIN(DATE_TRUNC('month', CAST(o_orderdate AS TIMESTAMP)))
               AS cohort
      FROM orders GROUP BY o_custkey),
    sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_n
              FROM fo GROUP BY cohort),
    act AS (
      SELECT DISTINCT o.o_custkey, f.cohort,
             CAST(DATE_DIFF('month', f.cohort,
                  DATE_TRUNC('month', CAST(o.o_orderdate AS TIMESTAMP)))
                  AS BIGINT) AS age
      FROM orders o JOIN fo f ON f.o_custkey = o.o_custkey),
    cells AS (
      SELECT cohort, age, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM act WHERE age BETWEEN 0 AND 12 GROUP BY cohort, age)
    SELECT c.cohort, c.age, c.n_active, s.cohort_n,
           c.n_active * 1000000 // s.cohort_n AS retention_q
    FROM cells c JOIN sizes s USING (cohort)
    ORDER BY c.cohort, c.age
    """,
)
def analytics_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: the classic cohort-retention triangle — customers grouped by
    first-order month (the cohort), each later month's active share of
    the cohort on the 1e-6 grid (exact truncating integer division),
    ages 0..12. The companion emission to `analytics_cohort_ltv`
    (revenue accumulation) — this one answers "how many came BACK",
    the matrix every growth dashboard renders as the shaded triangle.

    Scale shape: one per-customer MIN aggregate (cohort), one
    (customer, month) distinct re-using the same key shuffle, one
    (cohort, age) hash-agg over the distinct-activity relation —
    bounded by customers × months, and the final matrix is
    |cohorts| × 13 rows. No windows, no self-joins."""
    orders = tbl(spark, sf_dir, "orders")
    fo = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min(F.col("o_orderdate").cast("timestamp"))).alias(
            "cohort"
        )
    )
    sizes = fo.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_n")
    )
    act = (
        orders.join(fo, "o_custkey")
        .select(
            "o_custkey",
            "cohort",
            (
                F.months_between(
                    F.date_trunc("month", F.col("o_orderdate").cast("timestamp")),
                    F.col("cohort"),
                )
            )
            .cast("bigint")
            .alias("age"),
        )
        .distinct()
    )
    cells = (
        act.filter((F.col("age") >= 0) & (F.col("age") <= 12))
        .groupBy("cohort", "age")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    return (
        cells.join(maybe_broadcast(sizes, "retention_sizes"), "cohort")
        .select(
            "cohort",
            "age",
            "n_active",
            "cohort_n",
            F.expr("n_active * 1000000 div cohort_n").alias("retention_q"),
        )
        .orderBy("cohort", "age")
    )


# ---- r7: l-diversity audit ---------------------------------------------------


@register(
    "profile_l_diversity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey,
             CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)
               AS bal_bucket,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct
      FROM customer GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l_distinct) AS BIGINT) AS l_diversity,
           CAST(SUM(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_diversity_classes,
           CAST(SUM(CASE WHEN l_distinct < 3 THEN class_size ELSE 0 END)
                AS BIGINT) AS n_records_at_risk,
           CAST(MAX(class_size) AS BIGINT) AS max_class_size
    FROM classes
    """,
)
def profile_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7 privacy family (companion to `profile_k_anonymity`):
    l-diversity — k-anonymity's known hole is the HOMOGENEOUS class
    (all 5 members share the sensitive value, so the attacker learns it
    without re-identification). Per quasi-identifier class (nation,
    $1000 balance bucket) count DISTINCT sensitive values (market
    segment); the dataset's l is the minimum, and classes below l=3
    are reported with the records they expose.

    Scale shape: one hash aggregate over the QI tuple with a
    COUNT(DISTINCT sensitive) — Spark plans the distinct as the
    standard two-level expand+agg, still one fact pass; the audit
    rollup is |classes|-bounded."""
    cust = tbl(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0))
        .cast("bigint")
        .alias("bal_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("l_distinct"),
    )
    low = F.col("l_distinct") < 3
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("l_distinct").cast("bigint").alias("l_diversity"),
        F.sum(F.when(low, 1).otherwise(0))
        .cast("bigint")
        .alias("n_low_diversity_classes"),
        F.sum(F.when(low, F.col("class_size")).otherwise(0))
        .cast("bigint")
        .alias("n_records_at_risk"),
        F.max("class_size").cast("bigint").alias("max_class_size"),
    )


# ---- r8: gaps-and-islands activity streaks ----------------------------------


@register(
    "analytics_login_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL),
    anchored AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INT) AS anchor
      FROM days),
    streaks AS (
      SELECT user_id, anchor,
             CAST(COUNT(*) AS BIGINT) AS len, MIN(day) AS start_day
      FROM anchored GROUP BY user_id, anchor)
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           MIN(start_day) FILTER (WHERE len = (
             SELECT MAX(s2.len) FROM streaks s2
             WHERE s2.user_id = streaks.user_id)) AS streak_start,
           CAST(SUM(len) AS BIGINT) AS n_active_days
    FROM streaks GROUP BY user_id
    """,
)
def analytics_login_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 engagement classic: longest consecutive-day activity streak
    per user (gaps-and-islands). Consecutive days share the anchor
    ``day - row_number`` (a run of k consecutive days advances both by
    1 per row), so streaks fall out of one GROUP BY — no self-join, no
    recursive walk.

    Shuffle discipline: ONE hash repartition on ``user_id`` up front
    satisfies every downstream requirement — the (user, day) distinct,
    the row_number window, the (user, anchor) streak aggregate and the
    final per-user max all cluster on a user_id-prefixed key, so
    Catalyst reuses the single exchange (ClusteredDistribution is
    satisfied by the coarser partitioning). At 100 TB: one fact-sized
    shuffle of (user_id, day) pairs, then per-user work.

    The longest streak's start day is reported with a deterministic
    earliest-start tie-break (two equal-length streaks → the earlier
    one), mirrored in the oracle's FILTER + correlated max."""
    ev = tbl(spark, sf_dir, "events")
    days = (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.date_trunc("day", F.col("ts").cast("timestamp"))
            .cast("date")
            .alias("day"),
        )
        .repartition("user_id")
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("day").alias("start_day"),
    )
    wmax = Window.partitionBy("user_id")
    return (
        streaks.withColumn("max_len", F.max("len").over(wmax))
        .groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak"),
            F.min(F.when(F.col("len") == F.col("max_len"), F.col("start_day")))
            .alias("streak_start"),
            F.sum("len").cast("bigint").alias("n_active_days"),
        )
    )


@register(
    "analytics_conversion_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events WHERE user_id IS NOT NULL),
    s2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
      FROM s1),
    s3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
      FROM s2),
    per_user AS (
      SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
      FROM s3 GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t1) AS BIGINT) AS n_viewed,
           CAST(COUNT(t2) AS BIGINT) AS n_clicked_after_view,
           CAST(COUNT(t3) AS BIGINT) AS n_purchased_after_click
    FROM per_user
    """,
)
def analytics_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 ordered conversion funnel: view → click (strictly after the
    first view) → purchase (strictly after that click) — the product
    analytics primitive where step N must happen AFTER step N−1, which
    a naive per-type min ignores (a purchase before the first view
    must not count).

    Solved in ONE user-partitioned window pass, no self-joins: t1 is
    the per-user min view time; t2 the min click time > t1; t3 the min
    purchase time > t2. The three window mins share the same
    partition-only frame, so Catalyst plans a single exchange + sort
    and evaluates them in sequence (each references the previous
    window's output column). Per-user reduction then one global count.

    At 100 TB: one fact shuffle keyed on user_id; state per user is
    three timestamps — the same shape as sessionization, and the
    streaming twin would be an applyInPandasWithState fold over the
    identical recurrence."""
    ev = tbl(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id")
    staged = (
        ev.select("user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
        .withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.count("t1").cast("bigint").alias("n_viewed"),
        F.count("t2").cast("bigint").alias("n_clicked_after_view"),
        F.count("t3").cast("bigint").alias("n_purchased_after_click"),
    )


@register(
    "profile_fd_violations",
    oracle="""
    WITH pairs AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY n DESC, lang) AS rnk
      FROM pairs)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_rhs,
           MAX(CASE WHEN rnk = 1 THEN lang END) AS majority_rhs,
           CAST(SUM(CASE WHEN rnk > 1 THEN n ELSE 0 END) AS BIGINT)
             AS n_violating_rows,
           CAST(SUM(n) AS BIGINT) AS n_rows
    FROM ranked GROUP BY source
    """,
)
def profile_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 data-quality audit: functional-dependency violation profile
    for the candidate FD ``source → lang`` on documents — for each LHS
    value, how many distinct RHS values exist, which RHS is the
    majority (deterministic count-desc, value-asc tie-break), and how
    many rows disagree with it. ``n_violating_rows = 0`` everywhere ⇔
    the FD holds; otherwise the numbers are exactly the repair cost of
    enforcing it (rows to fix) — the profiling step schema-inference
    and dedup pipelines run before trusting a column as a key.

    Scale shape: ONE hash aggregate on (lhs, rhs) collapses the fact to
    the value-pair histogram (bounded by domain product, not row
    count); the rank + per-lhs rollup then run on that tiny relation —
    the same two-level pattern as k-anonymity/l-diversity above. At
    100 TB the fact is touched once."""
    docs = tbl(spark, sf_dir, "documents")
    pairs = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    ranked = pairs.withColumn("rnk", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_rhs"),
        F.max(F.when(F.col("rnk") == 1, F.col("lang"))).alias("majority_rhs"),
        F.sum(F.when(F.col("rnk") > 1, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_violating_rows"),
        F.sum("n").cast("bigint").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# r10: TRUE TPC-H Q2/Q20 shapes over a GENERATED partsupp (verdict item #8).
# The driver fixtures omit partsupp, so the bridge re-expressions
# (analytics_min_cost_supplier / analytics_excess_supply_candidates) stood
# in for the partsupp-dependent plan shapes. These variants instead
# DERIVE a deterministic partsupp from the part and supplier dimensions —
# dbgen's 4-suppliers-per-part key walk (0-based) with integer hash-mix
# cost/qty — computed identically in Spark and the DuckDB oracle, so the
# oracle checks the QUERY shape (min-cost-per-part semi-ish join; the
# availqty-vs-shipped-volume excess filter), not the generator.

_PS_SQL = """ps AS (
      SELECT p_partkey AS ps_partkey, ps_suppkey,
             (p_partkey * 31 + ps_suppkey * 17) % 9999 + 1 AS ps_availqty,
             (p_partkey * 7919 + ps_suppkey * 104729) % 99900 + 100
               AS ps_supplycost_cents
      FROM (
        SELECT p.p_partkey,
               (p.p_partkey + i.i * (s._s // 4 + p.p_partkey // s._s)) % s._s
                 AS ps_suppkey
        FROM part p
        CROSS JOIN (SELECT CAST(range AS BIGINT) AS i FROM range(0, 4)) i
        CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS _s FROM supplier) s))"""


def _gen_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp: 4 suppliers per part via dbgen's key walk
    ((p + i·(S/4 + p div S)) mod S — the step 25..44 never divides 100,
    so the 4 keys are distinct), availqty in [1, 9999] and supplycost
    in integer cents [100, 100099] from integer hash mixes. Generated
    MAP-SIDE from the part scan (the 4-row spine and the 1-row supplier
    count are broadcasts): at any scale the relation materializes
    exactly where it is consumed, no shuffle, no storage."""
    p = tbl(spark, sf_dir, "part").select(F.col("p_partkey").cast("long"))
    sc = tbl(spark, sf_dir, "supplier").agg(
        F.count("*").cast("long").alias("_s")
    )
    spine = spark.range(4).select(F.col("id").cast("long").alias("_i"))
    return (
        p.crossJoin(F.broadcast(spine))
        .crossJoin(F.broadcast(sc))
        .select(
            "p_partkey",
            F.expr(
                "(p_partkey + _i * (_s DIV 4 + p_partkey DIV _s)) % _s"
            ).alias("ps_suppkey"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            "ps_suppkey",
            F.expr("(p_partkey * 31 + ps_suppkey * 17) % 9999 + 1").alias(
                "ps_availqty"
            ),
            F.expr(
                "(p_partkey * 7919 + ps_suppkey * 104729) % 99900 + 100"
            ).alias("ps_supplycost_cents"),
        )
    )


@register(
    "analytics_min_cost_supplier_ps",
    oracle=f"""
    WITH {_PS_SQL},
    costs AS (
      SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost_cents
      FROM ps
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    mn AS (SELECT ps_partkey, MIN(ps_supplycost_cents) AS mc
           FROM costs GROUP BY ps_partkey)
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type,
           CAST(c.ps_supplycost_cents AS BIGINT) AS cost_cents
    FROM costs c
    JOIN mn ON c.ps_partkey = mn.ps_partkey
           AND c.ps_supplycost_cents = mn.mc
    JOIN part p ON p.p_partkey = c.ps_partkey
    JOIN supplier s ON s.s_suppkey = c.ps_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_size <= 15 AND p.p_type = 'LARGE'
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def analytics_min_cost_supplier_ps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q2, TRUE partsupp form (r10; the lineitem-bridge
    re-expression ``analytics_min_cost_supplier`` covered the shape
    while the fixture lacked partsupp): for each qualifying part, the
    EUROPE supplier(s) quoting the minimum supply cost, ranked by
    account balance. Min-per-group + equality-back-join — the
    correlated-scalar-subquery shape — over the generated partsupp.

    Scale shape: partsupp materializes map-side inside the part scan
    (broadcast 4-row spine + 1-row supplier count); the region-thinned
    supplier dim joins on suppkey; the min-cost aggregate and the
    back-join share one ps_partkey partitioning; top-100 is
    TakeOrderedAndProject. No broadcast hint touches an SF-scaling
    relation — AQE decides at runtime."""
    ps = _gen_partsupp(spark, sf_dir)
    sup = (
        tbl(spark, sf_dir, "supplier")
        .join(
            tbl(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                tbl(spark, sf_dir, "region").filter(
                    F.col("r_name") == "EUROPE"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    costs = ps.join(
        sup.select("s_suppkey", "s_name", "s_acctbal", "n_name"),
        ps.ps_suppkey == F.col("s_suppkey"),
    ).select(
        "ps_partkey", "ps_suppkey", "ps_supplycost_cents",
        "s_name", "s_acctbal", "n_name",
    )
    mn = (
        costs.groupBy("ps_partkey")
        .agg(F.min("ps_supplycost_cents").alias("mc"))
        .withColumnRenamed("ps_partkey", "mn_partkey")
    )
    pq = tbl(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE")
    )
    return (
        costs.join(
            mn,
            (F.col("ps_partkey") == F.col("mn_partkey"))
            & (F.col("ps_supplycost_cents") == F.col("mc")),
        )
        .drop("mn_partkey")
        .join(pq, F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("ps_supplycost_cents").cast("long").alias("cost_cents"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@register(
    "analytics_excess_supply_ps",
    oracle=f"""
    WITH {_PS_SQL},
    ship AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(20,2))) AS q
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey),
    excess AS (
      SELECT DISTINCT ps.ps_suppkey
      FROM ps
      JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%') pp
        ON ps.ps_partkey = pp.p_partkey
      JOIN ship ON ship.l_partkey = ps.ps_partkey
               AND ship.l_suppkey = ps.ps_suppkey
      WHERE CAST(ps.ps_availqty AS DECIMAL(20,2)) * 2 > ship.q)
    SELECT s.s_name, n.n_name
    FROM excess
    JOIN supplier s ON s.s_suppkey = excess.ps_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    ORDER BY s.s_name
    """,
)
def analytics_excess_supply_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20, TRUE partsupp form (r10; completes the
    ``analytics_excess_supply_candidates`` bridge): ASIA suppliers
    holding more than half a year's shipped volume of any 'small%'
    part they stock — the classic excess-inventory probe. The
    availqty-vs-volume comparison runs in exact DECIMAL (quantity sums
    accumulate in DECIMAL(20,2); availqty is integer), so no float
    boundary ambiguity crosses engines.

    Scale shape: the year-sliced lineitem aggregate is the only
    fact-sized work (one (part,supp) shuffle, date filter pushed to
    the scan); the generated partsupp joins it co-keyed; the 'small%'
    part thinning and the DISTINCT collapse happen before the
    supplier/nation/region dim chain."""
    ps = _gen_partsupp(spark, sf_dir)
    li = tbl(spark, sf_dir, "lineitem")
    ship = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(20,2)")).alias("q"))
    )
    pp = tbl(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    excess = (
        ps.join(pp, ps.ps_partkey == F.col("p_partkey"))
        .join(
            ship,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(
            F.col("ps_availqty").cast("decimal(20,2)") * 2 > F.col("q")
        )
        .select("ps_suppkey")
        .distinct()
    )
    sup = (
        tbl(spark, sf_dir, "supplier")
        .join(
            tbl(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return (
        excess.join(sup, F.col("ps_suppkey") == F.col("s_suppkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )
