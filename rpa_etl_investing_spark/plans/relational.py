"""Relational core queries (SURVEY §2.2 P*, §2.3 J*, §2.6 T*, §2.7 U*).

Each query generalizes an operator the reference exercises through
SQLAlchemy/PostgreSQL (``/root/reference/main.py:149-157`` and the
dimension-upsert probes at ``main.py:124-135``) onto the fixture star
schema, expressed declaratively so Catalyst plans it (broadcast joins
for dims, pushdown into parquet scans, TakeOrderedAndProject for top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rpa_etl_investing_spark.catalog import bind_sql, maybe_broadcast, plain_sql, tbl
from rpa_etl_investing_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Flagship query — the reference's one analytic query, recast.
# Reference: /root/reference/main.py:149-157 — project w/ aliases, two
# dimension joins, conjunctive filter with IN-list, ORDER BY DESC LIMIT 10.
# Here: orders (fact) → customer (segment dim role) → nation (country dim
# role); both dim joins are broadcast; top-k runs as TakeOrderedAndProject
# (no global sort, no shuffle of the full fact table).
# ---------------------------------------------------------------------------

FLAGSHIP_NATIONS = ["NATION_2", "NATION_7", "NATION_12", "NATION_17", "NATION_22"]
FLAGSHIP_SEGMENT = "BUILDING"


@register(
    "flagship_topk",
    oracle=f"""
    SELECT o.o_orderkey AS order_key,
           c.c_name     AS customer,
           n.n_name     AS nation,
           c.c_mktsegment AS segment,
           o.o_totalprice AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = '{FLAGSHIP_SEGMENT}'
      AND n.n_name IN ({",".join(f"'{x}'" for x in FLAGSHIP_NATIONS)})
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 10
    """,
)
def flagship_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 orders by total price for one segment in an IN-list of nations.

    Mirrors ``main.py:149-157`` (two dim joins + ``Setor.nome == 'Primário'``
    + ``Pais.nome.in_([...])`` + ORDER BY maxima DESC LIMIT 10), with
    ``o_orderkey`` as deterministic tie-breaker (SURVEY §7.4).

    Scale shape: both dimension joins plan as BroadcastHashJoins and the
    top-10 is a TakeOrderedAndProject, so the fact never shuffles.
    """
    orders = tbl(spark, sf_dir, "orders")
    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    return (
        orders.join(maybe_broadcast(customer, "customer"), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .filter(
            (F.col("c_mktsegment") == FLAGSHIP_SEGMENT)
            & F.col("n_name").isin(FLAGSHIP_NATIONS)
        )
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.col("c_name").alias("customer"),
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").alias("total_price"),
        )
        .orderBy(F.desc("total_price"), F.asc("order_key"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Projections & predicates (P1-P7)
# ---------------------------------------------------------------------------


@register(
    "projection_rename",
    oracle="""
    SELECT o_orderkey AS order_key,
           o_totalprice AS total_price,
           o_orderpriority AS priority
    FROM orders
    """,
)
def projection_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: column projection with rename (``main.py:151`` ``.label()``)."""
    return tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderpriority").alias("priority"),
    )


@register(
    "projection_positional",
    oracle="SELECT c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def projection_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: positional projection, columns 1..4 (``main.py:100-104`` td cells 1-5)."""
    df = tbl(spark, sf_dir, "customer")
    return df.select(*df.columns[1:5])


@register(
    "filter_equality",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'",
)
def filter_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: equality predicate (``main.py:124`` ``filter_by(nome=...)``)."""
    return (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "filter_conjunctive_in",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice > 50000
    """,
)
def filter_conjunctive_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5: AND of equality, IN-list, comparison (``main.py:154``)."""
    return (
        tbl(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderstatus") == "O")
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_totalprice") > 50000)
        )
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    )


@register(
    "filter_full_surface",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_shipdate, l_returnflag
    FROM (SELECT *, CAST(NULL AS VARCHAR) AS l_comment FROM lineitem)
    WHERE (l_quantity BETWEEN 10 AND 20 OR l_returnflag <> 'N')
      AND NOT (l_discount < 0.02)
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_comment IS NULL
    """,
)
def filter_full_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: BETWEEN / OR / NOT / range / IS NULL predicate surface.

    ``l_comment IS NULL`` runs against a genuinely absent column added as a
    typed null, exercising null-predicate semantics (the fixtures have no
    nullable string column).
    """
    df = tbl(spark, sf_dir, "lineitem").withColumn(
        "l_comment", F.lit(None).cast("string")
    )
    return (
        df.filter(
            (F.col("l_quantity").between(10, 20) | (F.col("l_returnflag") != "N"))
            & ~(F.col("l_discount") < 0.02)
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_comment").isNull()
        )
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
            "l_shipdate", "l_returnflag",
        )
    )


@register(
    "filter_like",
    oracle="""
    SELECT p_partkey, p_name, p_type, p_brand
    FROM part
    WHERE p_type LIKE 'PROMO%' AND p_name LIKE '%e%' AND p_brand NOT LIKE 'Brand#1%'
    """,
)
def filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: LIKE / NOT LIKE patterns (prefix, contains, negated prefix —
    patterns chosen to select a real subset of the fixture: the previous
    ``'%part%'`` contains-pattern matched zero fixture names, so the
    check only ever verified the empty set)."""
    return (
        tbl(spark, sf_dir, "part")
        .filter(
            F.col("p_type").like("PROMO%")
            & F.col("p_name").like("%e%")
            & ~F.col("p_brand").like("Brand#1%")
        )
        .select("p_partkey", "p_name", "p_type", "p_brand")
    )


# ---------------------------------------------------------------------------
# Joins (J1-J6)
# ---------------------------------------------------------------------------


@register(
    "join_star_broadcast",
    oracle="""
    SELECT s.s_name AS supplier, n.n_name AS nation, r.r_name AS region, s.s_acctbal AS acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_star_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: chained inner equi-joins fact→dim→dim, dims broadcast
    (``main.py:152-153``)."""
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.col("s_acctbal").alias("acctbal"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'P'
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: left outer join with a join-side predicate."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT a.k AS key_a, a.n_orders, b.k AS key_b, b.n_lines
    FROM (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders WHERE o_totalprice > 150000 GROUP BY o_custkey) a
    FULL JOIN (SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS n_lines
               FROM lineitem WHERE l_quantity > 45 GROUP BY l_suppkey) b
      ON a.k = b.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: full outer join of two aggregated sides."""
    o = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n_orders"))
    )
    l = (
        tbl(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .groupBy(F.col("l_suppkey").alias("k"))
        .agg(F.count("*").alias("n_lines"))
    )
    return o.join(l, o.k == l.k, "full").select(
        o.k.alias("key_a"), "n_orders", l.k.alias("key_b"), "n_lines"
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: left-semi join (EXISTS)."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_anti_upsert_probe",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'F')
    """,
)
def join_anti_upsert_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 seed: left-anti join — the set-based form of the reference's
    insert-if-absent dimension probe (``main.py:124-135``): customers
    with no completed ('F') order, i.e. the keys an upsert would insert.
    (The unfiltered probe matched zero rows — every fixture customer has
    at least one order — so it only ever verified the empty set.)"""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name AS region, x.o_orderstatus AS status
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) x
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: cross join (small × small)."""
    r = tbl(spark, sf_dir, "region").select(F.col("r_name").alias("region"))
    x = tbl(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(x).select("region", F.col("o_orderstatus").alias("status"))


@register(
    "join_range",
    oracle="""
    SELECT b.band, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN (SELECT r_regionkey AS band,
                 r_regionkey * 100000.0 AS lo,
                 (r_regionkey + 1) * 100000.0 AS hi
          FROM region) b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: non-equi range join (price banding). The band table is tiny so
    Spark plans BroadcastNestedLoopJoin — the right physical choice; at
    scale the alternative is bucketizing the range key into an equi-join."""
    o = tbl(spark, sf_dir, "orders")
    bands = tbl(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("band"),
        (F.col("r_regionkey") * 100000.0).alias("lo"),
        ((F.col("r_regionkey") + 1) * 100000.0).alias("hi"),
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (T1-T3)
# ---------------------------------------------------------------------------


@register(
    "topk_global",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 25
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: ORDER BY DESC + LIMIT (``main.py:155``) — plans as
    TakeOrderedAndProject, not a full sort."""
    return (
        tbl(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(25)
    )


@register(
    "sort_multikey_nulls",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_ship_ref
    FROM (SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS o_ship_ref
          FROM orders)
    ORDER BY o_ship_ref DESC NULLS LAST, o_orderstatus ASC, o_orderkey
    LIMIT 100
    """,
)
def sort_multikey_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: multi-key sort with explicit nulls ordering."""
    return (
        tbl(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(F.col("o_orderstatus") == "P", F.lit(None))
            .otherwise(F.col("o_totalprice"))
            .alias("o_ship_ref"),
        )
        .orderBy(F.desc_nulls_last("o_ship_ref"), F.asc("o_orderstatus"), "o_orderkey")
        .limit(100)
    )


@register(
    "limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: limit + offset over a deterministic total order."""
    return (
        tbl(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .offset(40)
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Set operations (U1-U3)
# ---------------------------------------------------------------------------


@register(
    "union_all_tagged",
    oracle="""
    SELECT 'high' AS bucket, o_orderkey, o_totalprice FROM orders WHERE o_totalprice >= 200000
    UNION ALL
    SELECT 'low' AS bucket, o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 20000
    """,
)
def union_all_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union of independently produced batches with a tag column —
    the reference's three per-country loads (``main.py:163-173``)."""
    o = tbl(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") >= 200000).select(
        F.lit("high").alias("bucket"), "o_orderkey", "o_totalprice"
    )
    lo = o.filter(F.col("o_totalprice") < 20000).select(
        F.lit("low").alias("bucket"), "o_orderkey", "o_totalprice"
    )
    return hi.unionByName(lo)


@register(
    "set_intersect_except",
    oracle="""
    SELECT k, 'both' AS side FROM (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
    UNION ALL
    SELECT k, 'f_only' AS side FROM (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
    """,
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: INTERSECT and EXCEPT (distinct set semantics)."""
    o = tbl(spark, sf_dir, "orders")
    f_side = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    o_side = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    both = f_side.intersect(o_side).withColumn("side", F.lit("both"))
    f_only = f_side.subtract(o_side).withColumn("side", F.lit("f_only"))
    return both.unionByName(f_only)


@register(
    "union_distinct",
    oracle="""
    SELECT c_nationkey AS k FROM customer
    UNION
    SELECT s_nationkey AS k FROM supplier
    """,
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: UNION with distinct semantics."""
    c = tbl(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = tbl(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.union(s).distinct()


@register(
    "join_right_outer",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name
    FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o
    RIGHT JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: right outer join (all customers preserved on the right)."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return o.join(c, c.c_custkey == o.o_custkey, "right").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name"
    )


_LATERAL_SQL = """
    SELECT s.s_suppkey, t.l_orderkey, t.l_extendedprice
    FROM {supplier} s,
    LATERAL (SELECT l_orderkey, l_extendedprice FROM {lineitem} l
             WHERE l.l_suppkey = s.s_suppkey
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             LIMIT 2) t
    ORDER BY s.s_suppkey, t.l_extendedprice DESC, t.l_orderkey
"""


@register("join_lateral_topk_per_key", oracle=plain_sql(_LATERAL_SQL))
def join_lateral_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL join (J6 surface): each supplier's two most expensive
    line items via a correlated subquery with ORDER BY + LIMIT — the SQL
    form of per-key top-k, submitted through the SQL front-end because
    LATERAL is syntax the DataFrame API has no direct spelling for.

    Catalyst decorrelates the lateral into a window/top-k over the
    joined relation rather than executing the subquery per outer row —
    the same plan family as ``window_topk_per_group``, reached from the
    other entry point. Ordering carries the full tie-break chain; rows
    that still tie are byte-identical in every projected column, so the
    LIMIT cut is multiset-stable across engines."""
    return bind_sql(spark, sf_dir, _LATERAL_SQL)


@register(
    "join_bloom_prefilter",
    oracle="""
    SELECT l.l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    WHERE l.l_suppkey IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal > 9000)
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 scale pattern: semi join through a Bloom-filter prefilter
    (operators/bloom.py). The selective supplier key set is summarized
    into a fixed 8192-bit filter that rides a one-row broadcast, so the
    lineitem scan drops non-matching rows MAP-SIDE before the exact
    semi join's exchange; the exact join then removes the bloom's false
    positives, keeping the result identical to the plain semi join the
    oracle runs.

    This is the join strategy for the middle regime a 100 TB cluster
    actually hits: the dim key set is too big for a broadcast hash
    relation, but membership fits in kilobytes of bloom bits — shuffle
    volume scales with the match rate instead of the fact size. (AQE's
    own runtime bloom filters cover the common case automatically; the
    explicit operator covers plans it can't reach and keeps the
    mechanism testable.)"""
    from rpa_etl_investing_spark.operators.bloom import bloom_prefilter

    li = tbl(spark, sf_dir, "lineitem")
    sel = tbl(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
    keys = sel.select("s_suppkey")
    pre = bloom_prefilter(li, keys, "l_suppkey", "s_suppkey")
    exact = pre.join(keys, pre.l_suppkey == keys.s_suppkey, "left_semi")
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "join_range_bucketed",
    oracle="""
    SELECT b.band, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN (SELECT r_regionkey AS band,
                 r_regionkey * 100000.0 AS lo,
                 (r_regionkey + 1) * 100000.0 AS hi
          FROM region) b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    ORDER BY b.band
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 scale path: the SAME range join as `join_range`, executed by
    INTERVAL BINNING — the standard rewrite when BOTH sides are too big
    for a broadcast nested loop (which is O(|fact|·|bands|) compares and
    needs one side in memory). Each interval explodes into the
    fixed-width buckets it overlaps (`sequence(floor(lo/w),
    floor((hi-ε)/w))`), each point maps to its single bucket, and the
    join becomes a plain shuffled EQUI-join on the bucket key with the
    exact range predicate as a residual filter — hash-partitionable,
    skew-handled by AQE like any other equi-join. Fan-out is
    ⌈interval_width / w⌉ rows per interval (here 10 per band), chosen
    so buckets align with interval endpoints. tests/test_plans.py
    asserts the physical plan contains NO BroadcastNestedLoopJoin and
    DOES hash-shuffle on the bucket key; the oracle (identical to
    join_range's) proves the rewrite changes nothing."""
    w = 10000
    o = tbl(spark, sf_dir, "orders")
    bands = tbl(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("band"),
        (F.col("r_regionkey") * 100000.0).alias("lo"),
        ((F.col("r_regionkey") + 1) * 100000.0).alias("hi"),
    )
    binned = bands.select(
        "band",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / w).cast("bigint"),
                F.floor((F.col("hi") - F.lit(1e-9)) / w).cast("bigint"),
            )
        ).alias("bucket"),
    )
    pts = o.select(
        "o_totalprice",
        F.floor(F.col("o_totalprice") / w).cast("bigint").alias("bucket"),
    )
    return (
        pts.join(binned, "bucket")
        .filter(
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi"))
        )
        .groupBy("band")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .orderBy("band")
    )


@register(
    "set_ops_all_bag",
    oracle="""
    SELECT k, 'both' AS side FROM (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      INTERSECT ALL
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
    UNION ALL
    SELECT k, 'f_surplus' AS side FROM (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      EXCEPT ALL
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
    """,
)
def set_ops_all_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 gen: INTERSECT ALL / EXCEPT ALL — BAG semantics (multiplicity
    min(m,n) and max(0, m−n) per key), the SQL-standard surface the
    distinct forms silently lose: "how many F-orders does each customer
    have BEYOND their O-orders" is an EXCEPT ALL question, not an
    EXCEPT one. Spark's intersectAll/exceptAll compile to a count-and-
    replicate aggregate (generate_replicate), one shuffle per side —
    no join explosion — and the driver's order-insensitive value hash
    makes duplicate-row results safely comparable."""
    o = tbl(spark, sf_dir, "orders")
    f_side = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    o_side = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    )
    both = f_side.intersectAll(o_side).withColumn("side", F.lit("both"))
    surplus = f_side.exceptAll(o_side).withColumn("side", F.lit("f_surplus"))
    return both.unionByName(surplus)


@register(
    "join_null_safe_equality",
    oracle="""
    WITH c AS (
      SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
      FROM customer),
    d AS (
      SELECT DISTINCT NULLIF(c_mktsegment, 'BUILDING') AS seg,
             COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'UNSEGMENTED') AS label
      FROM customer)
    SELECT d.label, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM c JOIN d ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY d.label ORDER BY d.label
    """,
)
def join_null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+ (r6): NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM)
    — the join-predicate form the rest of the J6 surface doesn't
    cover: plain equi-joins DROP rows whose key is NULL (NULL = NULL
    is unknown), while dimension lookups routinely need the
    "unknown" bucket to match a designated dimension row. Here a
    deliberately nullable segment key (BUILDING → NULL) joins a
    derived dimension that carries a NULL-keyed 'UNSEGMENTED' row;
    the null-safe predicate routes every NULL fact row to it.

    Scale shape: Spark keeps `<=>` a HASH-joinable key (EqualNullSafe
    is a valid equi-join expression — the plan stays
    BroadcastHashJoin/SortMergeJoin, never a nested loop), so the
    null-safe form costs the same as `=`. That — not the semantics —
    is why it belongs in the surface: the common workaround
    (COALESCE both sides to a sentinel) bakes a magic value into the
    data; `<=>` doesn't."""
    cust = tbl(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    c = cust.select("c_custkey", seg.alias("seg"))
    d = (
        cust.select(seg.alias("seg"))
        .distinct()
        .select("seg", F.coalesce(F.col("seg"), F.lit("UNSEGMENTED")).alias("label"))
    )
    return (
        c.join(d, c.seg.eqNullSafe(d.seg))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("label")
    )
