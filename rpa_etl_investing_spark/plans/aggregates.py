"""Aggregation queries (SURVEY §2.4 A1-A5).

The reference has no GROUP BY — its nearest aggregation is the distinct
dimension-name probe (``/root/reference/main.py:124-135`` with
uniqueness declared at ``main.py:27,32``). These queries generalize
that seed into the full hash-aggregate surface over the fixture star
schema. Spark plans all of them as partial (map-side) + final
aggregates automatically (A5).

Oracle-parity note: every SUM/AVG over a double column accumulates in
DECIMAL (exact, order-independent) and casts to DOUBLE at the end;
averages are written as sum/count in both engines (SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rpa_etl_investing_spark.catalog import bind_sql, plain_sql, tbl
from rpa_etl_investing_spark.plans.registry import register


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent exact sum of a double column: round each value
    onto the 10^scale integer grid via a per-row DECIMAL cast (exact
    HALF_UP), sum exact BIGINTs, emit DOUBLE **via the scaled-BIGINT
    exit** (r7; r10 moved the grid shift from the aggregated sum to the
    per-row value — same integral grid sum, primitive long buffer): the
    grid total is converted bigint→double and divided by 10^scale. Both of those are
    correctly-rounded IEEE operations that Spark and DuckDB perform
    identically, whereas the direct decimal→double cast is
    correctly-rounded in Spark (BigDecimal.doubleValue) but NOT always
    in DuckDB (int128 → double ÷ 10^s, two roundings): the sf1
    full-registry stress caught `agg_pricing_summary`'s sum_charge
    drifting 1 ulp once group sums passed 2^53 in grid units. Below
    2^53 the two exits are bit-identical (int64→double is exact there),
    so every small-SF oracle match is preserved by construction.
    Headroom: exact while |sum| < 2^63 / 10^scale grid units — for
    scale 6 that is ~9.2e12 in value terms, ≈ TPC-H sf400 per group.
    Mirrors the oracle-side
    ``CAST(CAST(SUM(CAST(x AS DECIMAL(27,s))) * 10^s AS BIGINT)
    AS DOUBLE) / 10^s.0``."""
    c = F.col(col) if isinstance(col, str) else col
    p = 10 ** scale
    # r10 execution rewrite (provably value-identical, measured ~20-25%
    # on the TPC-H Q1 shape): the rounding still happens per row via the
    # decimal cast (identical HALF_UP semantics — per-row values are
    # SF-independent and every call site is a monetary/quantity domain
    # ≪ 10^(18-scale), so DECIMAL(18,s) never overflows where the old
    # DECIMAL(27,s) didn't), but the value is converted to its exact
    # grid BIGINT per row and the AGGREGATION BUFFER becomes a primitive
    # long. A DECIMAL(27,s) sum's buffer is DECIMAL(37,s) — precision
    # > 18 is stored var-length in the UnsafeRow and every row update
    # pays a BigDecimal serialize/deserialize; the long buffer is a
    # mutable 8-byte add. The emitted double is bit-identical: both
    # forms produce the exact integral grid sum in BIGINT (same
    # |sum| < 2^63/10^scale headroom documented above) and exit via the
    # same int64→double conversion and division. Verified EXACT (pandas
    # .equals on all float bits) against the decimal-accumulated form
    # at sf0.1 and by the unchanged DuckDB oracles at every fixture SF.
    #
    # r11 overflow-detectability audit (ADVICE r10 #1). The concern:
    # the long-grid buffer narrowed overflow from detectable (the old
    # DECIMAL(37,s)→BIGINT exit NULL'd past 2^63 grid units) to silent
    # 2^64 wraparound. Reality on the sessions this engine actually
    # runs on: Spark 4 defaults spark.sql.ansi.enabled=true (the repo
    # factory, the driver's bare session, and any vanilla builder), and
    # under ANSI a BIGINT sum RAISES ARITHMETIC_OVERFLOW — the loudest
    # possible failure mode — while the per-row DECIMAL(18,s) cast
    # raises NUMERIC_VALUE_OUT_OF_RANGE. Both bounds are pinned by
    # tests/test_oracle_parity.py::test_dsum_envelope. ``try_sum``
    # (NULL on overflow in every mode) was implemented and MEASURED:
    # +52% on the TPC-H Q1 shape (interleaved A/B med 1.21→1.83 s —
    # TryEval's update path loses the codegen'd primitive-add) and was
    # rejected; a caller who explicitly disables ANSI is opting out of
    # arithmetic-overflow detection session-wide, which no aggregate
    # spelling here should silently re-arm at a 52% tax. Envelope:
    # |sum| < 2^63/10^scale grid units, per-row < 10^(18-scale) —
    # every registered call site is a monetary/quantity domain ≥6
    # orders of magnitude inside both.
    return (
        F.sum((c.cast(f"decimal(18,{scale})") * F.lit(p)).cast("bigint"))
        .cast("double")
        / F.lit(float(p))
    )


def davg(col: Column | str, scale: int = 2) -> Column:
    """Exact-accumulation average: decimal sum cast double, over count."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c)


_WIDE_B = 10**9


def dsum_wide(col: Column | str, scale: int = 0) -> Column:
    """Deterministic double exit for decimal sums that can exceed 2^63
    GRID units — where ``dsum``'s single BIGINT shift overflows (r8:
    the OLS/Spearman power sums hit this at sf1). The exact integral
    grid value (DECIMAL(38,0)) is split ``full = d1·10⁹ + d0`` by
    floor-div/pmod (identical semantics both engines, negatives
    included); each part is BIGINT-exact, and the emitted value is
    ``(double(d1)·10⁹ + double(d0)) / 10^scale`` — every step a
    correctly-rounded IEEE op both engines perform identically.
    Headroom |sum| < 2^63·10⁹ grid units ≈ 9.2e27 — unreachable.
    The emitted double is within ~2 ulp of the exact sum (one extra
    rounding vs the direct cast); DETERMINISM is the contract, and the
    consumers quantize far above ulp scale. Mirror: ``dsum_wide_sql``."""
    c = F.col(col) if isinstance(col, str) else col
    full = (F.sum(c.cast(f"decimal(38,{scale})")) * F.lit(10**scale)).cast(
        "decimal(38,0)"
    )
    d0 = F.pmod(full, F.lit(_WIDE_B))
    d1 = ((full - d0) / F.lit(_WIDE_B)).cast("bigint")
    out = d1.cast("double") * F.lit(float(_WIDE_B)) + d0.cast("bigint").cast(
        "double"
    )
    if scale:
        out = out / F.lit(float(10**scale))
    return out


def dsum_wide_sql(inner: str, scale: int = 0) -> str:
    """DuckDB mirror of :func:`dsum_wide` (HUGEINT carries the grid)."""
    full = f"CAST(SUM(CAST({inner} AS DECIMAL(38,{scale}))) * {10 ** scale} AS HUGEINT)"
    d0 = f"((({full}) % {_WIDE_B}) + {_WIDE_B}) % {_WIDE_B}"
    d1 = f"(({full}) - ({d0})) // {_WIDE_B}"
    expr = (
        f"(CAST(CAST({d1} AS BIGINT) AS DOUBLE) * {_WIDE_B}.0"
        f" + CAST(CAST({d0} AS BIGINT) AS DOUBLE))"
    )
    if scale:
        expr = f"({expr} / {10 ** scale}.0)"
    return expr


@register(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0)      AS sum_qty,
           (CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_base_price,
           (CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0) AS sum_disc_price,
           (CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(27,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0) AS sum_charge,
           (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) / COUNT(l_quantity)      AS avg_qty,
           (CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) / COUNT(l_extendedprice) AS avg_price,
           (CAST(CAST(SUM(CAST(l_discount AS DECIMAL(27,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0) / COUNT(l_discount)      AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: the TPC-H Q1 shape — grouped multi-aggregate pricing summary.

    Generalizes the fact-table numeric columns the reference stores to be
    aggregated (``main.py:40-43``). r10: the ``widen()`` pre-repartition
    is GONE — it existed to parallelize the DECIMAL(37,s) accumulators
    past the fixture's single-row-group scan, but with the long-grid
    ``dsum`` buffers the partial aggregate is cheaper than the full-row
    round-robin exchange widen paid for it (measured: no-widen is
    ~25-40% faster at sf0.1, and the plan drops from 2 Exchanges to 1).
    On any real multi-split dataset widen was a no-op, so nothing
    changes at scale.

    Scale shape: one exchange, on the group key. Each row is rounded
    onto its DECIMAL(18,s) grid and summed in long-grid BIGINT buffers,
    partial then final.
    """
    l = tbl(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount", 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_distinct_dims",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def agg_distinct_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: DISTINCT — the set-based form of the reference's unique
    dimension names (``main.py:27,32,124-135``)."""
    return tbl(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderpriority) AS n_priorities
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: exact count-distinct per group (expands to two-phase agg)."""
    return (
        tbl(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS parts_within_tol,
           TRUE AS orders_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: HyperLogLog++ approximate count-distinct (the 100 TB-scale
    substitute for exact distinct).

    The raw sketch estimate is engine-specific, so the checked output is
    deterministic-by-construction (r1 verdict item #3): the exact count
    plus ``|approx − exact| / exact ≤ 5%`` booleans. The sketch runs at
    rsd=1%, so 5% is a 5σ bound — a healthy sketch always lands inside
    (the default rsd of 5% would put 1σ ON the tolerance and flip the
    boolean for ~1/3 of groups, as observed at sf0.001). The oracle
    returns the exact counts and literal TRUE. The sketch-accuracy bound
    itself is also asserted directly in tests/test_plans.py.

    Plan note: the exact and approximate aggregations run as SEPARATE
    aggregates joined on the (3-row) group key — mixing countDistinct
    with other aggregates triggers Expand (one row replica per distinct
    clause), which would feed the HLL sketch 3× the rows for nothing
    (measured 12.9s → ~4s at sf0.01 on a 200-partition session)."""
    li = tbl(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
    )
    return (
        exact.join(F.broadcast(approx), "l_returnflag")
        .select(
            "l_returnflag",
            "exact_parts",
            "exact_orders",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                / F.col("exact_parts")
                <= F.lit(0.05)
            ).alias("parts_within_tol"),
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                / F.col("exact_orders")
                <= F.lit(0.05)
            ).alias("orders_within_tol"),
        )
    )


@register(
    "agg_min_max_group",
    oracle="""
    SELECT l_returnflag,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           MIN(l_shipdate) AS first_ship,
           MAX(l_shipdate) AS last_ship,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_min_max_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: min/max over doubles and timestamps (order-independent, exact)."""
    return (
        tbl(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
            F.count("*").alias("n"),
        )
    )


@register(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: HAVING — post-aggregation filter."""
    return (
        tbl(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("spend"))
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_customers,
           (CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: ROLLUP over the region→nation hierarchy (seeded by the
    reference's country×sector hierarchy, ``main.py:38-39``)."""
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    joined = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "c_acctbal")
    )
    return joined.rollup("region", "nation").agg(
        F.count("*").alias("n_customers"), dsum("c_acctbal").alias("total_balance")
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           COUNT(*) AS n,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: CUBE — all grouping-set combinations."""
    return (
        tbl(spark, sf_dir, "orders")
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        )
        .cube("status", "priority")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
    )


_GROUPING_SETS_SQL = """
    SELECT l_returnflag AS rflag, l_linestatus AS lstatus,
           COUNT(*) AS n,
           (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS qty
    FROM {lineitem}
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("agg_grouping_sets", oracle=plain_sql(_GROUPING_SETS_SQL))
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: explicit GROUPING SETS via the SQL API (same Catalyst plan as
    the DataFrame form)."""
    return bind_sql(spark, sf_dir, _GROUPING_SETS_SQL)


@register(
    "agg_variance_exact",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n,
           ((CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0)
            - (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0)
              * (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) / COUNT(*))
           / (COUNT(*) - 1) AS var_qty
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: sample variance via exact decimal moments (sum, sum-of-squares)
    so the result is bit-identical regardless of accumulation order —
    the portable form of VAR_SAMP. Both moment exits use the
    scaled-BIGINT path on BOTH sides (r8: the sum-of-squares term and
    the Spark-side linear sum were still on the direct decimal→double
    cast, which diverges from the oracle past 2^53 grid units)."""
    l = tbl(spark, sf_dir, "lineitem")
    q2 = (F.col("l_quantity") * F.col("l_quantity")).cast("decimal(30,4)")
    sum_q2 = (F.sum(q2) * 10000).cast("bigint").cast("double") / 10000.0
    sum_q = (
        (F.sum(F.col("l_quantity").cast("decimal(27,2)")) * 100)
        .cast("bigint")
        .cast("double")
        / 100.0
    )
    n = F.count("*")
    return l.groupBy("l_linestatus").agg(
        n.alias("n"),
        ((sum_q2 - sum_q * sum_q / n) / (n - 1)).alias("var_qty"),
    )


@register(
    "agg_percentiles_exact",
    oracle="""
    SELECT l_returnflag,
           QUANTILE_CONT(l_extendedprice, 0.5) AS p50,
           QUANTILE_CONT(l_extendedprice, 0.9) AS p90,
           QUANTILE_CONT(l_extendedprice, 0.99) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: exact linear-interpolation percentiles per group (Spark
    ``percentile`` ≡ DuckDB ``QUANTILE_CONT``). The exact form needs the
    group's values collected per partition — at 100 TB the approximate
    sketch (``approx_percentile``, a KLL/GK summary that merges
    map-side) replaces it; kept exact here for oracle parity."""
    return (
        tbl(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
        )
    )


@register(
    "agg_percentiles_exact_distributed",
    oracle="""
    WITH s AS (SELECT l_extendedprice AS v FROM lineitem),
    r AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
             COUNT(*) OVER () AS n
      FROM s)
    SELECT
      MAX(CASE WHEN rn = CAST(FLOOR(0.5  * (n - 1)) AS BIGINT) + 1 THEN v END) AS p50,
      MAX(CASE WHEN rn = CAST(FLOOR(0.9  * (n - 1)) AS BIGINT) + 1 THEN v END) AS p90,
      MAX(CASE WHEN rn = CAST(FLOOR(0.99 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p99
    FROM r
    """,
)
def agg_percentiles_exact_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 scale path: EXACT global percentiles (k-th order statistic,
    k = floor(q·(n−1))+1) with no global sort and no per-group value
    collection — two-pass sharded selection (operators/prefix.py
    ``exact_quantiles``): range-shard counts locate each k's shard
    inside a constant-sized frame, then only the target shards' rows
    are ranked (~1/n_shards of the input). Closes the gap
    ``agg_percentiles_exact`` documents ("the exact form needs the
    group's values collected — at 100 TB the sketch replaces it"):
    exactness and scale are no longer a trade-off. The oracle computes
    the same order statistic by brute-force global ranking."""
    from rpa_etl_investing_spark.operators.prefix import exact_quantiles

    return exact_quantiles(
        tbl(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
    )


@register(
    "agg_percentiles_exact_grouped_distributed",
    oracle="""
    WITH s AS (SELECT l_returnflag, l_extendedprice AS v FROM lineitem),
    r AS (
      SELECT l_returnflag, v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM s)
    SELECT l_returnflag,
      MAX(CASE WHEN rn = CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p50,
      MAX(CASE WHEN rn = CAST(FLOOR(0.9 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p90,
      MAX(CASE WHEN rn = CAST(FLOOR(0.99 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p99
    FROM r
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_percentiles_exact_grouped_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grouped form of the sharded exact selection: per-return-flag
    exact p50/p90/p99 where no group ever concentrates in one
    aggregation buffer or one sorted task — counts go per (group,
    shard), the target-location frame stays (n_groups × n_shards) rows,
    and ranking touches ~1/n_shards of each group. The low-cardinality
    group key (3 flags) is exactly the case where ``percentile()``'s
    collect-per-group buffer and a per-group sort both die at 100 TB."""
    from rpa_etl_investing_spark.operators.prefix import exact_quantiles

    return exact_quantiles(
        tbl(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
        group_cols=["l_returnflag"],
    ).orderBy("l_returnflag")


@register(
    "agg_approx_percentiles",
    oracle="""
    SELECT l_returnflag,
           QUANTILE_CONT(l_extendedprice, 0.49) AS p50_lo,
           QUANTILE_CONT(l_extendedprice, 0.51) AS p50_hi,
           QUANTILE_CONT(l_extendedprice, 0.89) AS p90_lo,
           QUANTILE_CONT(l_extendedprice, 0.91) AS p90_hi,
           TRUE AS p50_within_tol,
           TRUE AS p90_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 gen: approximate percentiles (Greenwald-Khanna sketch via
    ``percentile_approx`` — the 100 TB substitute for exact percentile,
    which needs a per-group sort). Like ``agg_approx_distinct``, the
    checked output is deterministic-by-construction: the sketch runs at
    accuracy 1000 (rank error ≤ 0.1%), and the booleans assert the
    approximate value lies between the exact 0.49/0.51 (resp. 0.89/0.91)
    quantiles — a 10× margin, so a healthy sketch is always inside. The
    oracle returns the same exact quantile bounds and literal TRUE."""
    return (
        tbl(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.49)").alias("p50_lo"),
            F.expr("percentile(l_extendedprice, 0.51)").alias("p50_hi"),
            F.expr("percentile(l_extendedprice, 0.89)").alias("p90_lo"),
            F.expr("percentile(l_extendedprice, 0.91)").alias("p90_hi"),
            F.expr("percentile_approx(l_extendedprice, 0.5, 1000)").alias("ap50"),
            F.expr("percentile_approx(l_extendedprice, 0.9, 1000)").alias("ap90"),
        )
        .select(
            "l_returnflag",
            "p50_lo",
            "p50_hi",
            "p90_lo",
            "p90_hi",
            F.col("ap50").between(F.col("p50_lo"), F.col("p50_hi")).alias(
                "p50_within_tol"
            ),
            F.col("ap90").between(F.col("p90_lo"), F.col("p90_hi")).alias(
                "p90_within_tol"
            ),
        )
    )


@register(
    "agg_string_listagg",
    oracle="""
    SELECT n_regionkey,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_string_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: ordered string aggregation — collect_list is unordered by
    contract, so the deterministic form is sort-the-array-then-join
    (array_sort ∘ collect_list), matching STRING_AGG ... ORDER BY."""
    return (
        tbl(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
        )
    )


# --- exact moment statistics ------------------------------------------------
# Shared closed forms for agg_moment_stats. The fixture prices are exact
# cents and quantities exact integers, so both engines first quantize to the
# integer lattice (ix = price cents, iq = quantity) and accumulate EXACT
# integer power sums: Spark in DECIMAL(38,0), DuckDB in HUGEINT — both
# overflow-free up to sf1 (Σix⁴ ≤ ~1e35 < 1e38). The derived statistics are
# then one identical, fully-parenthesized DOUBLE expression per engine using
# only + - * / SQRT (all IEEE-correctly-rounded; no POW, whose libm results
# differ across engines), so the comparison is bit-stable with NO rounding —
# this replaces round 1's ROUND(...,4) quantization, whose rounding boundary
# flipped per scale factor (r1 verdict item #2), and restores skewness
# (verdict item #5), which ROUND could never stabilize.
_M2 = "(s2d - ((s1d * s1d) / nd))"
_M3 = "(s3d - (((3.0 * s2d) * s1d) / nd) + ((((2.0 * s1d) * s1d) * s1d) / (nd * nd)))"
_M4 = (
    "(s4d - (((4.0 * s3d) * s1d) / nd)"
    " + (((((6.0 * s2d) * s1d) * s1d)) / (nd * nd))"
    " - (((((3.0 * s1d) * s1d) * s1d) * s1d) / ((nd * nd) * nd)))"
)
_MOMENT_FORMULAS = {
    "qty_price_corr": (
        "(((nd * sqpd) - (q1d * s1d))"
        " / (SQRT((nd * q2d) - (q1d * q1d)) * SQRT((nd * s2d) - (s1d * s1d))))"
    ),
    # price is in cents → /100 (covar is linear in price); corr/skew/kurt are
    # scale-invariant; var and stddev divide by 100² and 100.
    "qty_price_covar": "(((sqpd - ((q1d * s1d) / nd)) / (nd - 1.0)) / 100.0)",
    "price_stddev": f"(SQRT({_M2} / (nd - 1.0)) / 100.0)",
    "price_var": f"(({_M2} / (nd - 1.0)) / 10000.0)",
    "price_skewness": f"((SQRT(nd) * {_M3}) / ({_M2} * SQRT({_M2})))",
    "price_kurtosis": f"(((nd * {_M4}) / ({_M2} * {_M2})) - 3.0)",
}
_MOMENT_SELECT = ",\n           ".join(
    f"{expr} AS {name}" for name, expr in _MOMENT_FORMULAS.items()
)

_MOMENT_ORACLE = f"""
    WITH base AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS ix,
             CAST(l_quantity AS BIGINT) AS iq
      FROM lineitem
    ), sums AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(ix AS HUGEINT)) AS s1,
             SUM(CAST(ix AS HUGEINT) * ix) AS s2,
             SUM(CAST(ix AS HUGEINT) * ix * ix) AS s3,
             SUM(CAST(ix AS HUGEINT) * ix * ix * ix) AS s4,
             SUM(CAST(iq AS HUGEINT)) AS q1,
             SUM(CAST(iq AS HUGEINT) * iq) AS q2,
             SUM(CAST(iq AS HUGEINT) * ix) AS sqp
      FROM base GROUP BY l_returnflag
    ), d AS (
      SELECT l_returnflag,
             CAST(n AS DOUBLE) AS nd,
             CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
             CAST(s3 AS DOUBLE) AS s3d, CAST(s4 AS DOUBLE) AS s4d,
             CAST(q1 AS DOUBLE) AS q1d, CAST(q2 AS DOUBLE) AS q2d,
             CAST(sqp AS DOUBLE) AS sqpd
      FROM sums
    )
    SELECT l_returnflag,
           {_MOMENT_SELECT}
    FROM d
    ORDER BY l_returnflag
    """


@register("agg_moment_stats", oracle=_MOMENT_ORACLE)
def agg_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 gen: higher-moment statistics (correlation, covariance,
    stddev/variance, skewness, kurtosis) per group — single-pass exact
    integer power-sum accumulation (partial+final hash aggregate, fully
    map-side-combinable), with the moments derived in one closed-form
    DOUBLE expression shared verbatim with the oracle.

    Statistics are computed over cent-quantized prices (the fixture's
    exact value lattice), so the integer sums — and therefore every
    derived double — are bit-identical across engines at any scale
    factor and any partitioning: integer addition is order-independent,
    unlike the float moment accumulation of the engines' native
    corr/kurtosis. Skewness/kurtosis use the population (g1 / excess-g2)
    convention, matching ``pyspark.sql.functions.skewness/kurtosis``.
    """
    ix = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    iq = "CAST(l_quantity AS BIGINT)"
    li = tbl(spark, sf_dir, "lineitem")
    sums = li.groupBy("l_returnflag").agg(
        F.expr("COUNT(*)").alias("n"),
        F.expr(f"SUM(CAST({ix} AS DECIMAL(38,0)))").alias("s1"),
        F.expr(f"SUM(CAST({ix} AS DECIMAL(38,0)) * {ix})").alias("s2"),
        F.expr(f"SUM(CAST({ix} AS DECIMAL(38,0)) * {ix} * {ix})").alias("s3"),
        F.expr(f"SUM(CAST({ix} AS DECIMAL(38,0)) * {ix} * {ix} * {ix})").alias("s4"),
        F.expr(f"SUM(CAST({iq} AS DECIMAL(38,0)))").alias("q1"),
        F.expr(f"SUM(CAST({iq} AS DECIMAL(38,0)) * {iq})").alias("q2"),
        F.expr(f"SUM(CAST({iq} AS DECIMAL(38,0)) * {ix})").alias("sqp"),
    )
    d = sums.select(
        "l_returnflag",
        F.expr("CAST(n AS DOUBLE)").alias("nd"),
        F.expr("CAST(s1 AS DOUBLE)").alias("s1d"),
        F.expr("CAST(s2 AS DOUBLE)").alias("s2d"),
        F.expr("CAST(s3 AS DOUBLE)").alias("s3d"),
        F.expr("CAST(s4 AS DOUBLE)").alias("s4d"),
        F.expr("CAST(q1 AS DOUBLE)").alias("q1d"),
        F.expr("CAST(q2 AS DOUBLE)").alias("q2d"),
        F.expr("CAST(sqp AS DOUBLE)").alias("sqpd"),
    )
    return (
        d.select(
            "l_returnflag",
            *[F.expr(expr).alias(name) for name, expr in _MOMENT_FORMULAS.items()],
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_sketch_rollup",
    oracle="""
    WITH days AS (
      SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day FROM events)
    SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
             AS exact_users,
           TRUE AS union_within_tol
    FROM days
    """,
)
def agg_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+: the mergeable-sketch rollup pattern — per-day HLL sketches
    of user_id unioned into a global distinct estimate
    (``hll_sketch_agg`` → ``hll_union_agg`` → ``hll_sketch_estimate``).
    This is how incremental distinct counting works at 100 TB: daily
    partitions keep a kilobyte sketch each, and any date range's
    distinct count is a union of sketches — no rescan of raw data.
    Like the approx family, the checked output is
    deterministic-by-construction: exact counts plus a ≤5% tolerance
    boolean (DataSketches HLL at lgConfigK=12 has ~1.6% rsd — 3σ in)."""
    ev = tbl(spark, sf_dir, "events")
    daily = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    rolled = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
    )
    exact = ev.agg(F.countDistinct("user_id").cast("bigint").alias("exact_users"))
    return rolled.crossJoin(F.broadcast(exact)).select(
        "n_days",
        "exact_users",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("union_within_tol"),
    )


@register(
    "agg_kll_quantiles",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_values,
           TRUE AS p50_rank_ok,
           TRUE AS p90_rank_ok
    FROM events
    """,
)
def agg_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+: KLL quantile sketch over ``events.value`` — the mergeable
    percentile companion to the HLL rollup (pre-aggregated per-partition
    sketches answer any quantile later). Checked rank-wise: the exact
    rank of the sketch's p50/p90 answers must sit within ±5 percentage
    points of the target rank (KLL default k=200 bounds rank error at
    ~1.65% single-sided, 3σ in), so the booleans are deterministic."""
    ev = tbl(spark, sf_dir, "events").select(F.col("value").cast("double").alias("v"))
    sk = ev.agg(F.kll_sketch_agg_double("v").alias("sk"))
    qs = sk.select(
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("q50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("q90"),
    )
    joined = ev.crossJoin(F.broadcast(qs))
    return joined.agg(
        F.count("*").cast("bigint").alias("n_values"),
        (
            F.abs(
                F.sum(F.when(F.col("v") <= F.col("q50"), 1).otherwise(0))
                / F.count("*")
                - 0.5
            )
            <= 0.05
        ).alias("p50_rank_ok"),
        (
            F.abs(
                F.sum(F.when(F.col("v") <= F.col("q90"), 1).otherwise(0))
                / F.count("*")
                - 0.9
            )
            <= 0.05
        ).alias("p90_rank_ok"),
    )


@register(
    "agg_winsorized_stats",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice AS v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem),
    th AS (
      SELECT l_returnflag,
        MAX(CASE WHEN rn = CAST(FLOOR(0.05 * (n - 1)) AS BIGINT) + 1 THEN v END) AS lo,
        MAX(CASE WHEN rn = CAST(FLOOR(0.95 * (n - 1)) AS BIGINT) + 1 THEN v END) AS hi
      FROM r GROUP BY l_returnflag),
    c AS (
      SELECT l.l_returnflag, l.l_extendedprice AS v, t.lo, t.hi,
             CASE WHEN l.l_extendedprice < t.lo THEN t.lo
                  WHEN l.l_extendedprice > t.hi THEN t.hi
                  ELSE l.l_extendedprice END AS w
      FROM lineitem l JOIN th t ON l.l_returnflag = t.l_returnflag)
    SELECT l_returnflag, lo, hi,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN v < lo THEN 1 END) AS BIGINT) AS n_clipped_lo,
           CAST(COUNT(CASE WHEN v > hi THEN 1 END) AS BIGINT) AS n_clipped_hi,
           (CAST(CAST(SUM(CAST(v AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) / COUNT(*) AS mean_raw,
           (CAST(CAST(SUM(CAST(w AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) / COUNT(*) AS mean_winsorized
    FROM c GROUP BY l_returnflag, lo, hi
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+ robust statistics: per-flag 5%/95% winsorization — exact
    order-statistic thresholds from the sharded selection
    (operators/prefix.py exact_quantiles — no global sort, no per-group
    collect), broadcast back onto the fact, values clipped into
    [lo, hi], then one decimal-exact aggregate comparing the raw vs
    winsorized mean with clip-count audit columns. The outlier-taming
    step a quality pipeline runs before fitting anything to heavy-tailed
    value columns; two distributed passes over the fact, thresholds ride
    as a 3-row broadcast."""
    from rpa_etl_investing_spark.operators.prefix import exact_quantiles

    li = tbl(spark, sf_dir, "lineitem")
    th = exact_quantiles(
        li, "l_extendedprice", {"lo": 0.05, "hi": 0.95},
        group_cols=["l_returnflag"],
    )
    v = F.col("l_extendedprice")
    w = F.when(v < F.col("lo"), F.col("lo")).when(
        v > F.col("hi"), F.col("hi")
    ).otherwise(v)
    c = li.join(F.broadcast(th), "l_returnflag").select(
        "l_returnflag", "lo", "hi", v.alias("v"), w.alias("w")
    )
    return c.groupBy("l_returnflag", "lo", "hi").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count(F.when(F.col("v") < F.col("lo"), 1)).cast("bigint").alias(
            "n_clipped_lo"
        ),
        F.count(F.when(F.col("v") > F.col("hi"), 1)).cast("bigint").alias(
            "n_clipped_hi"
        ),
        (dsum("v") / F.count("*")).alias("mean_raw"),
        (dsum("w") / F.count("*")).alias("mean_winsorized"),
    )


@register(
    "agg_reuse_daily_rollup",
    oracle="""
    SELECT l_returnflag,
           DATE_TRUNC('month', CAST(l_shipdate AS TIMESTAMP)) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_qty,
           (CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0) AS revenue
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def agg_reuse_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-rollup reuse — the pre-aggregation pattern: monthly
    figures are answered FROM the daily rollup (re-aggregating its
    decimal partials), never by rescanning the fact, and the oracle is
    the direct fact-level monthly aggregate — the hash match proves the
    two-level rollup is bit-identical to the one-shot. That identity is
    exactly why the accumulators are DECIMAL (and counts BIGINT): every
    aggregate in the daily table is associative-mergeable state, the
    property HLL rollup (agg_sketch_rollup) generalizes to sketches.

    At 100 TB this is the nightly pattern: the fact is folded once into
    a ~1e5-row daily table; every coarser grain (month, quarter, year,
    ad-hoc dashboards) re-aggregates the rollup at interactive cost."""
    li = tbl(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag", F.date_trunc("day", "l_shipdate").alias("day")
    ).agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(27,2)")).alias("d_qty"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(27,4)"
            )
        ).alias("d_rev"),
    )
    return daily.groupBy(
        "l_returnflag", F.date_trunc("month", "day").alias("month")
    ).agg(
        F.sum("n_items").cast("bigint").alias("n_items"),
        # merge step exits via the same scaled-BIGINT path as the oracle
        # (r8 advice #1): the direct decimal->double cast is only
        # bit-identical to it below 2^53 grid units.
        ((F.sum("d_qty") * 100).cast("bigint").cast("double") / 100.0).alias(
            "sum_qty"
        ),
        (
            (F.sum("d_rev") * 10000).cast("bigint").cast("double") / 10000.0
        ).alias("revenue"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 scale path: EXACT distinct counting via bitmap aggregation —
    ids fold into fixed-size bitmap buckets (``bitmap_bit_position``
    within a 32k-bit bucket, ``bitmap_bucket_number`` across buckets),
    per-(group, bucket) bitmaps OR-merge map-side, and the final count
    sums popcounts. Unlike ``count(DISTINCT x)`` this never rewrites
    the plan into an expand+two-shuffle, and unlike HLL it is exact:
    state per group is bounded by id-range/32k buckets, each 4 KB.
    The oracle is the plain COUNT(DISTINCT)."""
    orders = tbl(spark, sf_dir, "orders")
    per_bucket = orders.groupBy(
        "o_orderstatus",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
    ).agg(
        F.expr(
            "bitmap_count(bitmap_construct_agg(bitmap_bit_position(o_custkey)))"
        ).alias("n_in_bucket")
    )
    return per_bucket.groupBy("o_orderstatus").agg(
        F.sum("n_in_bucket").cast("bigint").alias("n_customers")
    )


# Poisson(1) CDF on the 16-bit integer grid (floor(cum*65536)): the
# per-(row, replicate) bootstrap weight thresholds. Shared literal
# table with the oracle so both engines draw identical weights.
_POIS_TH = [24109, 48218, 60273, 64291, 65296, 65497]
# md5 hex nibble -> int, the repo's engine-portable idiom (see
# plans/multimodal_queries.py _MD5_BYTE)
_HEXPOS = "STRPOS('0123456789abcdef', SUBSTRING(md5(seed), {i}, 1)) - 1"
_U16_SQL = " + ".join(
    f"({_HEXPOS.format(i=i)}) * {16 ** (3 - (i - 1))}" for i in range(1, 5)
)


@register(
    "agg_bootstrap_mean_ci",
    oracle=f"""
    WITH reps AS (SELECT CAST(i AS INT) AS r FROM range(16) t(i)),
    seeded AS (
      SELECT l_returnflag AS flag, l_quantity AS x, r,
             CAST(l_orderkey AS VARCHAR) || '_' ||
             CAST(l_linenumber AS VARCHAR) || '_' ||
             CAST(r AS VARCHAR) AS seed
      FROM lineitem CROSS JOIN reps),
    weighted AS (
      SELECT flag, x, r,
             CASE WHEN u < {_POIS_TH[0]} THEN 0
                  WHEN u < {_POIS_TH[1]} THEN 1
                  WHEN u < {_POIS_TH[2]} THEN 2
                  WHEN u < {_POIS_TH[3]} THEN 3
                  WHEN u < {_POIS_TH[4]} THEN 4
                  WHEN u < {_POIS_TH[5]} THEN 5
                  ELSE 6 END AS w
      FROM (SELECT flag, x, r, {_U16_SQL} AS u FROM seeded)),
    means AS (
      SELECT flag, r,
             CAST(FLOOR(1e6 * (CAST(CAST(SUM(CAST(w * x AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0)
                        / SUM(w) + 0.5) AS BIGINT) AS mean_q
      FROM weighted GROUP BY flag, r)
    SELECT flag,
           CAST(COUNT(*) AS BIGINT) AS n_replicates,
           CAST(MIN(mean_q) AS BIGINT) AS boot_lo_q,
           CAST(MAX(mean_q) AS BIGINT) AS boot_hi_q,
           MIN(mean_q) / 1e6 AS boot_lo,
           MAX(mean_q) / 1e6 AS boot_hi,
           CAST(SUM(mean_q) AS BIGINT) / (1e6 * COUNT(*)) AS boot_mean
    FROM means GROUP BY flag
    """,
)
def agg_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence band for the per-flag mean quantity —
    the bootstrap that actually scales (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012): instead of
    drawing n rows with replacement per replicate (impossible
    distributed), every row gets an independent Poisson(1) weight per
    replicate. Weights come from a 16-bit md5 grid through the shared
    literal CDF table, so both engines draw bit-identical resamples;
    replicate means quantize to the 1e-6 grid before the min/max/mean
    envelope.

    Scale shape: B=16 replicates cost a 16× MAP-side fan-out (explode
    of a literal sequence) feeding the same (flag, r) partial+final
    hash aggregate — no extra shuffle, no per-replicate scan; the
    envelope re-aggregates 3×16 rows."""
    li = tbl(spark, sf_dir, "lineitem")
    seeded = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("x"),
        F.explode(F.expr("sequence(0, 15)")).alias("r"),
        "l_orderkey",
        "l_linenumber",
    ).withColumn("r", F.col("r").cast("int")).withColumn(
        "seed",
        F.concat_ws(
            "_",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("r").cast("string"),
        ),
    )
    u = F.conv(F.substring(F.md5(F.col("seed")), 1, 4), 16, 10).cast("int")
    w = (
        F.when(u < _POIS_TH[0], 0)
        .when(u < _POIS_TH[1], 1)
        .when(u < _POIS_TH[2], 2)
        .when(u < _POIS_TH[3], 3)
        .when(u < _POIS_TH[4], 4)
        .when(u < _POIS_TH[5], 5)
        .otherwise(6)
    )
    means = (
        seeded.select("flag", "x", "r", w.alias("w"))
        .groupBy("flag", "r")
        .agg(
            F.floor(
                F.lit(1e6)
                * F.sum((F.col("w") * F.col("x")).cast("decimal(27,2)")).cast(
                    "double"
                )
                / F.sum("w")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("mean_q")
        )
    )
    return means.groupBy("flag").agg(
        F.count("*").cast("bigint").alias("n_replicates"),
        F.min("mean_q").cast("bigint").alias("boot_lo_q"),
        F.max("mean_q").cast("bigint").alias("boot_hi_q"),
        (F.min("mean_q") / F.lit(1e6)).alias("boot_lo"),
        (F.max("mean_q") / F.lit(1e6)).alias("boot_hi"),
        (F.sum("mean_q").cast("bigint") / (F.lit(1e6) * F.count("*"))).alias(
            "boot_mean"
        ),
    )


@register(
    "agg_spearman_rank_corr",
    oracle=f"""
    WITH vx AS (
      SELECT l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
      GROUP BY 1),
    rx AS (
      SELECT v, 2 * (CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) - cnt)
                 + cnt + 1 AS a2
      FROM vx),
    vy AS (
      SELECT l_discount AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
      GROUP BY 1),
    ry AS (
      SELECT v, 2 * (CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) - cnt)
                 + cnt + 1 AS a2
      FROM vy),
    joined AS (
      SELECT rx.a2 AS ax, ry.a2 AS ay
      FROM lineitem l
      JOIN rx ON l.l_quantity = rx.v
      JOIN ry ON l.l_discount = ry.v),
    sums AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             {dsum_wide_sql("ax")} AS sx,
             {dsum_wide_sql("ay")} AS sy,
             {dsum_wide_sql("ax * ay")} AS sxy,
             {dsum_wide_sql("ax * ax")} AS sxx,
             {dsum_wide_sql("ay * ay")} AS syy
      FROM joined)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(FLOOR(1e9 * (n * sxy - sx * sy)
                / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) + 0.5)
                AS BIGINT) AS rho_q,
           (n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS rho
    FROM sums
    """,
)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs discount) computed
    distributed: tie-averaged ranks come from the DISTINCT-VALUE
    domain — per-value counts, a running cumsum over the (tiny) sorted
    domain, and ``2·avg_rank = 2·n_less + cnt + 1`` kept INTEGER so the
    Pearson power sums over ranks are exact decimals; the only floats
    are the final correctly-rounded IEEE ops (shared with the oracle,
    then quantized to 1e-9).

    Scale shape: ranks never require sorting the fact — the window runs
    over the distinct domain (50 quantities, 11 discounts) and joins
    back as a broadcast; the fact itself sees one aggregate pass. For a
    continuous column, first bucket it (or use operators/prefix.py
    sharded rank) — rank-correlation on raw doubles at 100 TB is a
    domain-compression problem before it is a sort problem."""
    li = tbl(spark, sf_dir, "lineitem")

    def avg2(col: str):
        from pyspark.sql.window import Window as W

        vc = li.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("bigint").alias("cnt")
        )
        # bounded-window: distinct value domain (50 quantities / 11 discounts)
        w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
        return vc.select(
            "v",
            (
                F.lit(2) * (F.sum("cnt").over(w).cast("bigint") - F.col("cnt"))
                + F.col("cnt")
                + F.lit(1)
            ).alias("a2"),
        )

    rx = avg2("l_quantity").withColumnRenamed("a2", "ax")
    ry = avg2("l_discount").withColumnRenamed("a2", "ay")
    joined = (
        li.select("l_quantity", "l_discount")
        .join(F.broadcast(rx), li.l_quantity == rx.v)
        .drop("v")
        .join(F.broadcast(ry), li.l_discount == ry.v)
        .select("ax", "ay")
    )
    # wide exit (r8): rank power sums pass 2^53 grid units near sf1,
    # where the direct decimal->double cast may round differently per
    # engine; dsum_wide is deterministic at any magnitude
    sums = joined.agg(
        F.count("*").cast("double").alias("n"),
        dsum_wide(F.col("ax")).alias("sx"),
        dsum_wide(F.col("ay")).alias("sy"),
        dsum_wide(F.col("ax") * F.col("ay")).alias("sxy"),
        dsum_wide(F.col("ax") * F.col("ax")).alias("sxx"),
        dsum_wide(F.col("ay") * F.col("ay")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ) * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    return sums.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.floor(F.lit(1e9) * num / den + F.lit(0.5)).cast("bigint").alias("rho_q"),
        (num / den).alias("rho"),
    )


@register(
    "agg_ols_regression",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag AS flag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0
                  AS DOUBLE) AS sx,
             CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0
                  AS DOUBLE) AS sy,
             {dsum_wide_sql("l_quantity * l_extendedprice", 4)} AS sxy,
             {dsum_wide_sql("l_quantity * l_quantity", 4)} AS sxx,
             {dsum_wide_sql("l_extendedprice * l_extendedprice", 4)} AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT flag, CAST(n AS BIGINT) AS n_rows,
           CAST(FLOOR(1e6 * (n * sxy - sx * sy) / (n * sxx - sx * sx) + 0.5)
                AS BIGINT) AS slope_q,
           CAST(FLOOR(1e6 * (sy - sx * ((n * sxy - sx * sy)
                                        / (n * sxx - sx * sx))) / n + 0.5)
                AS BIGINT) AS intercept_q,
           CAST(FLOOR(1e9 * (n * sxy - sx * sy) * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)) + 0.5)
                AS BIGINT) AS r2_q
    FROM s
    """,
)
def agg_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression (extendedprice on quantity) by the
    normal equations: slope, intercept, and R² in closed form from the
    five exact-decimal power sums — the single-pass regression every
    massive-data fit reduces to. Decimal accumulation makes the sums
    order-independent; the closed-form arithmetic after the cast is
    identical correctly-rounded IEEE on both engines, quantized
    (slope/intercept 1e-6, R² 1e-9).

    Scale shape: ONE partial+final hash aggregate over the fact — the
    same profile as ``agg_moment_stats``; no second pass, no gradient
    iterations, no driver math."""
    li = tbl(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    # exits (r8): linear sums mirror the oracle's scaled-BIGINT path;
    # the power sums pass 2^63 grid units at modest sf, so they take
    # the wide split exit (deterministic at any magnitude)
    ds = lambda c: (F.sum(c.cast("decimal(27,2)")) * 100).cast("bigint").cast(
        "double"
    ) / 100.0
    s = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").cast("double").alias("n"),
        ds(x).alias("sx"),
        ds(y).alias("sy"),
        dsum_wide(x * y, 4).alias("sxy"),
        dsum_wide(x * x, 4).alias("sxx"),
        dsum_wide(y * y, 4).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    q = lambda e, g: F.floor(F.lit(g) * e + F.lit(0.5)).cast("bigint")
    return s.select(
        "flag",
        n.cast("bigint").alias("n_rows"),
        q(slope, 1e6).alias("slope_q"),
        q((sy - sx * slope) / n, 1e6).alias("intercept_q"),
        q(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            1e9,
        ).alias("r2_q"),
    )


@register(
    "agg_sketch_rolling_window",
    oracle="""
    WITH d AS (
      SELECT DISTINCT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day
      FROM events),
    ex AS (
      SELECT d.day,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_wau
      FROM d JOIN events e
        ON DATE_TRUNC('day', CAST(e.ts AS TIMESTAMP)) <= d.day
       AND DATE_TRUNC('day', CAST(e.ts AS TIMESTAMP)) >= d.day - INTERVAL 6 DAY
      GROUP BY d.day)
    SELECT day, exact_wau, TRUE AS est_within_tol FROM ex
    """,
)
def agg_sketch_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+: mergeable sketches IN A WINDOW FRAME — trailing-7-day
    distinct users (weekly actives) per day by unioning the per-day HLL
    sketches inside a 7-row window (``hll_union_agg`` OVER rowsBetween
    −6..0). The raw data is touched exactly once (one sketch per day);
    every rolling estimate after that unions seven kilobyte sketches —
    the pattern that replaces the O(days × week-of-raw) rescan a naive
    rolling COUNT(DISTINCT) performs, which is precisely what the
    oracle does to cross-check. Like the whole approx family, the
    checked output is the exact value plus a ≤5% tolerance boolean
    (HLL rsd ~1.6% — 3σ inside).

    The frame is a RANGE over the integer day number, not ROWS over the
    sketch series: with any missing day a 7-ROW frame would cover more
    than 7 calendar days and silently diverge from the calendar-defined
    exact value — the range frame unions exactly the sketches whose day
    falls in [d−6, d], dense or not."""
    from pyspark.sql.window import Window as W

    ev = tbl(spark, sf_dir, "events")
    daily = (
        ev.select(F.date_trunc("day", F.col("ts")).alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .withColumn("dnum", F.datediff(F.col("day"), F.lit("1970-01-01")))
    )
    # bounded-window: calendar-day relation (one sketch per day)
    w = W.orderBy("dnum").rangeBetween(-6, 0)
    est = daily.select(
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("est_wau"),
    )
    # exact rolling distinct for the tolerance check: day spine × events
    # range join (fixture-scale oracle mirror; the sketch path above is
    # the production shape)
    days = daily.select("day")
    e2 = ev.select(
        F.date_trunc("day", F.col("ts")).alias("eday"), "user_id"
    )
    exact = (
        days.join(
            e2,
            (F.col("eday") <= F.col("day"))
            & (F.col("eday") >= F.col("day") - F.expr("INTERVAL 6 DAY")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_wau"))
    )
    return est.join(exact, "day").select(
        "day",
        "exact_wau",
        (
            F.abs(F.col("est_wau") - F.col("exact_wau"))
            <= 0.05 * F.col("exact_wau")
        ).alias("est_within_tol"),
    )


@register(
    "agg_sketch_intersection",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= DATE '1995-01-01'
                 AND o_orderdate < DATE '1996-01-01'),
    b AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate >= DATE '1996-01-01'
            AND o_orderdate < DATE '1997-01-01'),
    u AS (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b),
    i AS (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS exact_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS exact_b,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS exact_union,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM i) AS exact_intersection,
           TRUE AS union_within_tol, TRUE AS intersection_within_tol
    """,
)
def agg_sketch_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 gen: set-operation estimates from mergeable distinct sketches
    — |A∩B| via inclusion-exclusion over three HLL estimates
    (|A| + |B| − |A∪B|), the standard way to answer audience-overlap
    questions ("customers active in BOTH years") without materializing
    either set. Exact INTERSECT of two distinct-key sets shuffles both
    full sets; the sketch path reduces each side to a constant-size
    state that merges map-side — at 100 TB the only way the question
    is answerable per ad-hoc segment pair.

    Deterministic-by-construction output (the HLL tolerance
    discipline): exact values + booleans asserting the estimates land
    within tolerance. Inclusion-exclusion compounds three sketches'
    errors and the intersection can be far smaller than either input,
    so its tolerance is stated against the UNION size (the quantity
    the error actually scales with): |est∩ − exact∩| ≤ 5% · |A∪B|.
    rsd = 1% so that bound is ≥ 5σ-equivalent slack."""
    o = tbl(spark, sf_dir, "orders")
    y95 = (F.col("o_orderdate") >= F.lit("1995-01-01")) & (
        F.col("o_orderdate") < F.lit("1996-01-01")
    )
    y96 = (F.col("o_orderdate") >= F.lit("1996-01-01")) & (
        F.col("o_orderdate") < F.lit("1997-01-01")
    )
    both = o.filter(y95 | y96)
    exact = both.agg(
        F.countDistinct(F.when(y95, F.col("o_custkey"))).alias("exact_a"),
        F.countDistinct(F.when(y96, F.col("o_custkey"))).alias("exact_b"),
        F.countDistinct("o_custkey").alias("exact_union"),
    )
    approx = both.agg(
        F.approx_count_distinct(
            F.when(y95, F.col("o_custkey")), 0.01
        ).alias("est_a"),
        F.approx_count_distinct(
            F.when(y96, F.col("o_custkey")), 0.01
        ).alias("est_b"),
        F.approx_count_distinct("o_custkey", 0.01).alias("est_u"),
    )
    ix = (
        o.filter(y95)
        .select("o_custkey")
        .intersect(o.filter(y96).select("o_custkey"))
        .agg(F.count("*").cast("bigint").alias("exact_intersection"))
    )
    est_i = F.col("est_a") + F.col("est_b") - F.col("est_u")
    return (
        exact.crossJoin(F.broadcast(approx))
        .crossJoin(F.broadcast(ix))
        .select(
            F.col("exact_a").cast("bigint").alias("exact_a"),
            F.col("exact_b").cast("bigint").alias("exact_b"),
            F.col("exact_union").cast("bigint").alias("exact_union"),
            "exact_intersection",
            (
                F.abs(F.col("est_u") - F.col("exact_union"))
                <= F.lit(0.05) * F.col("exact_union")
            ).alias("union_within_tol"),
            (
                F.abs(est_i - F.col("exact_intersection"))
                <= F.lit(0.05) * F.col("exact_union")
            ).alias("intersection_within_tol"),
        )
    )


@register(
    "agg_covariance_matrix",
    oracle="""
    WITH d AS (
      SELECT CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS a,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS b,
             CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS c
      FROM lineitem),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(a) AS HUGEINT) AS sa,
             CAST(SUM(b) AS HUGEINT) AS sb,
             CAST(SUM(c) AS HUGEINT) AS sc,
             CAST(SUM(CAST(a AS HUGEINT) * a) AS HUGEINT) AS saa,
             CAST(SUM(CAST(a AS HUGEINT) * b) AS HUGEINT) AS sab,
             CAST(SUM(CAST(a AS HUGEINT) * c) AS HUGEINT) AS sac,
             CAST(SUM(CAST(b AS HUGEINT) * b) AS HUGEINT) AS sbb,
             CAST(SUM(CAST(b AS HUGEINT) * c) AS HUGEINT) AS sbc,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS scc
      FROM d),
    u AS (
      SELECT 'quantity' AS x, 'quantity' AS y, saa AS sxy, sa AS sx, sa AS sy, n FROM s
      UNION ALL SELECT 'quantity', 'price', sab, sa, sb, n FROM s
      UNION ALL SELECT 'quantity', 'discount', sac, sa, sc, n FROM s
      UNION ALL SELECT 'price', 'price', sbb, sb, sb, n FROM s
      UNION ALL SELECT 'price', 'discount', sbc, sb, sc, n FROM s
      UNION ALL SELECT 'discount', 'discount', scc, sc, sc, n FROM s),
    q AS (
      SELECT x, y,
             n * sxy - sx * sy AS num,
             n * (n - 1) AS den
      FROM u)
    SELECT x, y,
           CAST(CASE WHEN num >= 0
                     THEN (2 * num + den) // (2 * den)
                     ELSE -((2 * (-num) + den) // (2 * den)) END
                AS BIGINT) AS cov_c2_q
    FROM q
    ORDER BY x, y
    """,
)
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 gen: the full sample-covariance MATRIX of (quantity, price,
    discount) from ONE aggregate pass — values on the integer cents
    grid, every pairwise Σxy an exact DECIMAL(38,0) integer, and the
    final cell round(num/den) computed by INTEGER division with
    symmetric half-away rounding — NO double exists anywhere in the
    query, so there is nothing to drift (the first cut cast the >2^53
    DECIMAL sums to double and the two engines' decimal→double
    roundings disagreed by one ulp at sf0.1 — this form is the fix).
    Output unit: cents² (dollars²·10⁴).

    The single-pass shape is the point at 100 TB: d columns need
    d(d+1)/2 + d running sums in one map-side-combined aggregate,
    never d² passes; the cells are evaluated from the 1-row sums
    frame."""
    li = tbl(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5)).cast("bigint")  # noqa: E731
    d = li.select(
        cents("l_quantity").alias("a"),
        cents("l_extendedprice").alias("b"),
        cents("l_discount").alias("c"),
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = d.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("a").cast("decimal(38,0)").alias("sa"),
        F.sum("b").cast("decimal(38,0)").alias("sb"),
        F.sum("c").cast("decimal(38,0)").alias("sc"),
        F.sum(d19("a") * F.col("a")).cast("decimal(38,0)").alias("saa"),
        F.sum(d19("a") * F.col("b")).cast("decimal(38,0)").alias("sab"),
        F.sum(d19("a") * F.col("c")).cast("decimal(38,0)").alias("sac"),
        F.sum(d19("b") * F.col("b")).cast("decimal(38,0)").alias("sbb"),
        F.sum(d19("b") * F.col("c")).cast("decimal(38,0)").alias("sbc"),
        F.sum(d19("c") * F.col("c")).cast("decimal(38,0)").alias("scc"),
    )
    cells = [
        ("quantity", "quantity", "saa", "sa", "sa"),
        ("quantity", "price", "sab", "sa", "sb"),
        ("quantity", "discount", "sac", "sa", "sc"),
        ("price", "price", "sbb", "sb", "sb"),
        ("price", "discount", "sbc", "sb", "sc"),
        ("discount", "discount", "scc", "sc", "sc"),
    ]
    u = None
    for x, y, sxy, sx, sy in cells:
        row = s.select(
            F.lit(x).alias("x"),
            F.lit(y).alias("y"),
            F.col(sxy).alias("sxy"),
            F.col(sx).alias("sx"),
            F.col(sy).alias("sy"),
            "n",
        )
        u = row if u is None else u.unionByName(row)
    q = u.select(
        "x",
        "y",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * (F.col("n") - 1)).alias("den"),
    )
    rounded = F.when(
        F.col("num") >= 0,
        F.expr("(2 * num + den) div (2 * den)"),
    ).otherwise(-F.expr("(2 * (-num) + den) div (2 * den)"))
    return q.select(
        "x", "y", rounded.cast("bigint").alias("cov_c2_q")
    ).orderBy("x", "y")


@register(
    "agg_weighted_median",
    oracle="""
    WITH d AS (
      SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem),
    g AS (SELECT v, CAST(SUM(w) AS BIGINT) AS w FROM d GROUP BY v),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM g),
    c AS (
      SELECT v, w,
             CAST(SUM(w) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cw
      FROM g)
    SELECT MIN(v) AS median_cents,
           (SELECT tw FROM t) AS total_weight
    FROM c CROSS JOIN t
    WHERE 2 * cw >= tw
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 gen: exact WEIGHTED median — the smallest value whose
    cumulative weight reaches half the total (quantity-weighted price
    here: the price at which half the shipped units are cheaper). The
    unweighted exact-selection machinery (operators/prefix.py) does not
    apply directly because rank position ≠ weight mass; instead the
    cumulative weights run through the same two-level sharded scan over
    the DISTINCT-value table: per-(value-range shard) partial sums +
    broadcast shard offsets, then one aggregate picks the min
    qualifying value. All arithmetic is BIGINT on the cents grid; the
    threshold is the integer inequality 2·cw ≥ W (no halving division).

    Scale shape: the fact collapses to (value, weight-sum) — shuffle
    cardinality = distinct prices, not rows; the scan is sharded so no
    single task ever windows the whole value domain; total weight
    rides as a 1-row broadcast."""
    from rpa_etl_investing_spark.operators.prefix import (
        sharded_running_sum,
        with_value_range_shard,
    )

    li = tbl(spark, sf_dir, "lineitem")
    d = li.select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("v"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    g = d.groupBy("v").agg(F.sum("w").cast("bigint").alias("w"))
    t = g.agg(F.sum("w").cast("bigint").alias("tw"))
    c = sharded_running_sum(
        with_value_range_shard(g, "v"), [], ["v"], F.col("w"), "cw"
    )
    return (
        c.crossJoin(F.broadcast(t))
        .filter(2 * F.col("cw") >= F.col("tw"))
        .agg(
            F.min("v").cast("bigint").alias("median_cents"),
            F.first("tw").cast("bigint").alias("total_weight"),
        )
    )


@register(
    "agg_percentiles_interpolated",
    oracle="""
    WITH s AS (SELECT l_returnflag, l_extendedprice AS v FROM lineitem),
    r AS (
      SELECT l_returnflag, v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM s),
    picks AS (
      SELECT l_returnflag, q, lbl,
             MAX(CASE WHEN rn = CAST(FLOOR(q * (n - 1)) AS BIGINT) + 1
                      THEN v END) AS vlo,
             MAX(CASE WHEN rn = LEAST(CAST(FLOOR(q * (n - 1)) AS BIGINT) + 2,
                                      n)
                      THEN v END) AS vhi,
             MAX(n) AS n
      FROM r CROSS JOIN (VALUES (0.5, 'p50'), (0.9, 'p90'), (0.99, 'p99'))
                         t(q, lbl)
      GROUP BY l_returnflag, q, lbl)
    SELECT l_returnflag,
      CAST(FLOOR(1e6 * MAX(CASE WHEN lbl = 'p50' THEN
             vlo + (q * (n - 1) - FLOOR(q * (n - 1))) * (vhi - vlo) END)
           + 0.5) AS BIGINT) AS p50_q,
      CAST(FLOOR(1e6 * MAX(CASE WHEN lbl = 'p90' THEN
             vlo + (q * (n - 1) - FLOOR(q * (n - 1))) * (vhi - vlo) END)
           + 0.5) AS BIGINT) AS p90_q,
      CAST(FLOOR(1e6 * MAX(CASE WHEN lbl = 'p99' THEN
             vlo + (q * (n - 1) - FLOOR(q * (n - 1))) * (vhi - vlo) END)
           + 0.5) AS BIGINT) AS p99_q
    FROM picks
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_percentiles_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 completion: INTERPOLATED (type-7, the numpy/pandas default)
    exact percentiles per group through the sharded selection
    (operators/prefix.py `exact_quantiles_cont`) — the quantile-type
    matrix now covers type-1 discrete (`agg_percentiles_exact*`),
    type-7 continuous (this), and the sketch forms (GK/KLL). Each
    quantile selects BOTH bracketing order statistics distributed-ly
    (no per-group sort); the lerp weight is the exact integer ratio
    q·(n−1)−⌊·⌋ and the single IEEE lerp is quantized to 1e-6. The
    oracle replays the identical bracketing + lerp formula (NOT
    quantile_cont, whose association may differ)."""
    from rpa_etl_investing_spark.operators.prefix import exact_quantiles_cont

    out = exact_quantiles_cont(
        tbl(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
        group_cols=["l_returnflag"],
    )
    qz = lambda c: F.floor(F.lit(1e6) * F.col(c) + F.lit(0.5)).cast("bigint")  # noqa: E731
    return out.select(
        "l_returnflag",
        qz("p50").alias("p50_q"),
        qz("p90").alias("p90_q"),
        qz("p99").alias("p99_q"),
    ).orderBy("l_returnflag")


@register(
    "agg_boolean_aggregates",
    oracle="""
    SELECT o_orderpriority AS priority,
           BOOL_AND(o_totalprice > 0) AS all_positive,
           BOOL_OR(o_orderstatus = 'P') AS any_pending,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS n_finished,
           BOOL_AND(o_orderdate >= DATE '1992-01-01') AS all_after_epoch
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
)
def agg_boolean_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 surface: the BOOLEAN aggregate family — `bool_and`/`every`,
    `bool_or`/`any_value-of-truth`, `count_if` — the data-contract
    primitives ("EVERY row in the group satisfies the invariant") that
    the expectations gate composes; registered standalone so the
    surface is pinned by name. Short-circuit-friendly, map-side
    combined, one hash aggregate."""
    o = tbl(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderstatus") == "P").alias("any_pending"),
            F.count_if(F.col("o_orderstatus") == "F")
            .cast("bigint")
            .alias("n_finished"),
            F.bool_and(F.col("o_orderdate") >= F.lit("1992-01-01")).alias(
                "all_after_epoch"
            ),
        )
        .orderBy("priority")
    )


@register(
    "agg_bitmap_rollup_reuse",
    oracle="""
    SELECT DATE_TRUNC('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
           CAST(COUNT(DISTINCT DATE_TRUNC('day', CAST(o_orderdate AS TIMESTAMP)))
                AS BIGINT) AS n_days,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY 1
    """,
)
def agg_bitmap_rollup_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+ (r6): MERGEABLE distinct counts through a pre-aggregation —
    the non-additive sibling of `agg_reuse_daily_rollup`: distinct
    customers per MONTH answered FROM a stored DAILY (day, bucket) →
    bitmap rollup, because bitmaps OR-merge where COUNT(DISTINCT)
    values don't sum. This is the pattern that makes daily distinct
    rollups reusable at month/quarter/year grain without ever
    re-touching the fact — the reason warehouses store bitmap/HLL
    STATE, not distinct numbers.

    The daily grain keeps the raw `bitmap_construct_agg` binary state;
    the month answer is `bitmap_count(bitmap_or_agg(daily_state))`
    summed over the fixed 32k-bit buckets. Exact (not a sketch), state
    bounded at 4 KB per (group, bucket). The oracle computes month
    distinct directly from the fact — the match proves the merge is
    lossless.

    Scale shape: ONE fact shuffle builds the daily rollup (map-side
    bitmap OR combine); every coarser grain re-aggregates kilobyte
    bitmap states. Day-count rides the same rollup."""
    orders = tbl(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate").cast("timestamp")).alias("day"),
        F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias("bm")
    )
    monthly_buckets = daily.groupBy(
        F.date_trunc("month", "day").alias("month"), "bucket"
    ).agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("nb"))
    counts = monthly_buckets.groupBy("month").agg(
        F.sum("nb").cast("bigint").alias("n_customers")
    )
    days = (
        daily.select("day")
        .distinct()
        .groupBy(F.date_trunc("month", "day").alias("month"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    )
    return days.join(counts, "month").select("month", "n_days", "n_customers")


@register(
    "agg_rollup_grouping_id",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           CASE GROUPING_ID(o_orderstatus, o_orderpriority)
                WHEN 0 THEN 'status+priority'
                WHEN 1 THEN 'status'
                ELSE 'grand_total' END AS level,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    ORDER BY gid, status, priority
    """,
)
def agg_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+ (r6): GROUPING / GROUPING_ID metadata over a rollup — the
    one part of the grouping-sets surface (`agg_rollup` / `agg_cube` /
    `agg_grouping_sets`) not yet pinned by name: a NULL in a rollup
    output is ambiguous (real NULL data vs subtotal placeholder);
    `grouping()` disambiguates per column and `grouping_id()` encodes
    the whole aggregation level as a bitmask, which downstream BI
    layers switch on. The query labels each rollup level from the id
    and COALESCEs the placeholder NULLs — the standard subtotal-report
    shape.

    Scale shape: identical to `agg_rollup` (Expand + one partial+final
    hash aggregate); grouping metadata is computed from the Expand's
    own level tags, costing nothing extra."""
    orders = tbl(spark, sf_dir, "orders")
    gid = F.grouping_id("o_orderstatus", "o_orderpriority")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            gid.cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "g_status",
            "gid",
            F.when(F.col("gid") == 0, F.lit("status+priority"))
            .when(F.col("gid") == 1, F.lit("status"))
            .otherwise(F.lit("grand_total"))
            .alias("level"),
            "n",
        )
        .orderBy("gid", "status", "priority")
    )


@register(
    "agg_gini_revenue",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    g AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS m FROM per GROUP BY cents),
    t AS (SELECT cents, m,
                 SUM(m) OVER (ORDER BY cents
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - m AS b
          FROM g),
    agg AS (SELECT SUM(CAST(cents AS HUGEINT)
                       * (m * b + (m * (m + 1)) // 2)) AS s1,
                   SUM(CAST(cents AS HUGEINT) * m) AS s0,
                   CAST(SUM(m) AS BIGINT) AS n
            FROM t)
    SELECT n AS n_customers,
           CAST(s0 AS BIGINT) AS total_cents,
           CAST((2 * s1 - (n + 1) * s0) * 1000000000 // (n * s0)
                AS BIGINT) AS gini_q
    FROM agg
    """,
)
def agg_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A53: exact Gini coefficient of per-customer spend — the
    inequality/concentration KPI (is revenue spread thin or
    whale-dominated?) on a 1e-9 grid, G = (2·Σᵢ i·xᵢ − (n+1)·Σxᵢ)
    / (n·Σxᵢ) over the ascending spend ranking.

    The rank sum never ranks rows: for a distinct spend value v with
    multiplicity m and b rows strictly below it, Σi over the tie block
    is m·b + m(m+1)/2 REGARDLESS of within-tie order — so the whole
    statistic reduces to one hash aggregate per distinct cents value
    plus an ordered pass over the distinct-spend relation (the
    llm_classifier_auc bounded-relation trick; spend is cents-integer
    so the relation is price-domain-bounded, never customer-count-
    bounded). Per-customer cents take the DECIMAL(27,2)·100 exact
    exit; the rank-weighted sum rides DECIMAL(38,0)/HUGEINT so BIGINT
    never overflows at any fact-table scale. Per-customer SUMS of many
    orders take nearly as many distinct values as there are customers,
    so the cumulative pass routes through the SHARDED two-level running
    sum (value-range shards on cents; operators/prefix.py) — no
    single-partition sort task at any customer-dimension size, same as
    the analytics_gini_concentration sibling."""
    from rpa_etl_investing_spark.operators.prefix import (
        sharded_running_sum,
        with_value_range_shard,
    )

    o = tbl(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)"
        ).alias("cents")
    )
    g = per.groupBy("cents").agg(F.count("*").cast("long").alias("m"))
    t = sharded_running_sum(
        with_value_range_shard(g, "cents"), [], ["cents"], "m", "_run"
    ).select("cents", "m", (F.col("_run") - F.col("m")).alias("b"))
    agg = t.agg(
        F.sum(
            F.expr(
                "CAST(cents AS DECIMAL(38,0))"
                " * (m * b + (m * (m + 1)) DIV 2)"
            )
        ).alias("s1"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * m")).alias("s0"),
        F.sum("m").cast("long").alias("n"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.col("s0").cast("long").alias("total_cents"),
        F.expr(
            "CAST((2 * s1 - (n + 1) * s0) * 1000000000 DIV (n * s0)"
            " AS BIGINT)"
        ).alias("gini_q"),
    )


@register(
    "agg_pareto_abc",
    oracle="""
    WITH per AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) * 100 AS BIGINT)
               AS cents
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS total
            FROM per),
    g AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS m FROM per GROUP BY cents),
    t AS (SELECT cents, m,
                 SUM(cents * m) OVER (ORDER BY cents DESC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum
          FROM g),
    cls AS (SELECT CASE WHEN cum * 100 <= 80 * total THEN 'A'
                        WHEN cum * 100 <= 95 * total THEN 'B'
                        ELSE 'C' END AS abc_class,
                   m, cents, total
            FROM t CROSS JOIN tot)
    SELECT abc_class,
           CAST(SUM(m) AS BIGINT) AS n_parts,
           CAST(SUM(cents * m) AS BIGINT) AS class_cents,
           CAST(CAST(SUM(cents * m) AS HUGEINT) * 1000000 // MAX(total)
                AS BIGINT) AS share_q
    FROM cls GROUP BY abc_class ORDER BY abc_class
    """,
)
def agg_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A54: Pareto / ABC inventory classification — parts bucketed by
    cumulative revenue share (A ≤ 80%, B ≤ 95%, C the tail), the
    classic 80/20 concentration cut that decides cache/stocking tiers.

    GROUP-INTACT like agg_gini_revenue and llm_decile_lift: the
    cumulative share walks the DISTINCT per-part revenue relation in
    descending order (equal-revenue parts always share a class — a
    per-row cut would split them by physical order), the boundary
    tests are integer cross-multiplications (cum·100 ≤ 80·total — no
    percentage double anywhere), and the output is the 3-row class
    summary with 1e-6-grid shares. Per-part cents take the
    DECIMAL(27,2)·100 exact exit; the corpus-scale work is one partkey
    hash aggregate, and the descending cumulative pass routes through
    the SHARDED two-level running sum on the NEGATED key (value-range
    shards stay monotone in the revenue-descending order;
    operators/prefix.py) — per-part revenue sums take nearly as many
    distinct values as there are parts, so no single-partition sort
    task exists at any part-dimension size, same as the
    analytics_abc_classification sibling."""
    from rpa_etl_investing_spark.operators.prefix import (
        sharded_running_sum,
        with_value_range_shard,
    )

    li = tbl(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(
        F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) * 100"
            " AS BIGINT)"
        ).alias("cents")
    )
    tot = per.agg(
        F.expr("CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS BIGINT)").alias(
            "total"
        )
    )
    g = per.groupBy("cents").agg(F.count("*").cast("long").alias("m"))
    # the cumulative and the 1e6-grid share ride DECIMAL(38,0) (DuckDB:
    # HUGEINT) — cum·100 and class_cents·1e6 overflow BIGINT at ~1e13
    # total cents, which the sf1 fixture already reaches
    neg = g.withColumn("neg_c", -F.col("cents"))
    t = (
        sharded_running_sum(
            with_value_range_shard(neg, "neg_c"),
            [],
            ["neg_c"],
            F.expr("CAST(cents AS DECIMAL(38,0)) * m"),
            "cum",
        )
        .select("cents", "m", "cum")
        .crossJoin(F.broadcast(tot))
    )
    cls = t.select(
        F.when(
            F.col("cum") * 100 <= F.col("total").cast("decimal(38,0)") * 80,
            "A",
        )
        .when(
            F.col("cum") * 100 <= F.col("total").cast("decimal(38,0)") * 95,
            "B",
        )
        .otherwise("C")
        .alias("abc_class"),
        "m",
        "cents",
        "total",
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.sum("m").cast("long").alias("n_parts"),
            F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * m"))
            .cast("long")
            .alias("class_cents"),
            F.expr(
                "CAST(SUM(CAST(cents AS DECIMAL(38,0)) * m) * 1000000"
                " DIV MAX(total) AS BIGINT)"
            ).alias("share_q"),
        )
        .orderBy("abc_class")
    )


@register(
    "agg_lorenz_curve",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    g AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS m FROM per GROUP BY cents),
    t AS (SELECT cents, m,
                 SUM(m) OVER (ORDER BY cents
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - m AS b
          FROM g),
    tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n,
                   SUM(CAST(cents AS HUGEINT) * m) AS total
            FROM g),
    dec AS (SELECT CAST(range AS BIGINT) AS decile FROM range(1, 11)),
    j AS (SELECT decile, (n * decile) // 10 AS k, cents, m, b, total
          FROM t CROSS JOIN tot CROSS JOIN dec)
    SELECT decile,
           CAST(MAX(k) AS BIGINT) AS k_customers,
           CAST(SUM(CAST(cents AS HUGEINT)
                    * LEAST(m, GREATEST(0, k - b))) AS BIGINT) AS cum_cents,
           CAST(SUM(CAST(cents AS HUGEINT)
                    * LEAST(m, GREATEST(0, k - b))) * 1000000 // MAX(total)
                AS BIGINT) AS share_q
    FROM j GROUP BY decile ORDER BY decile
    """,
)
def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A55 (r10): Lorenz curve sampled at the 10 population deciles —
    the curve the Gini coefficient integrates: point d is the share of
    total revenue held by the poorest ⌊n·d/10⌋ customers. The natural
    companion readout to ``agg_gini_revenue`` ("the bottom 50% hold 9%
    of revenue") on an exact 1e-6 share grid.

    GROUP-INTACT like the Gini/AUC family: no row is ever ranked — for
    a distinct spend value v with multiplicity m and b rows strictly
    below, the number of its rows inside the decile cut K is
    clamp(K−b, 0, m) regardless of within-tie order, so each decile's
    cumulative cents is one aggregate over the distinct-cents relation
    fanned out ×10 by a broadcast decile spine. The only ordered pass
    is the SHARDED two-level running sum (operators/prefix.py) that
    produces b — no single-partition sort at any customer count; sums
    ride DECIMAL(38,0)/HUGEINT."""
    from rpa_etl_investing_spark.operators.prefix import (
        sharded_running_sum,
        with_value_range_shard,
    )

    o = tbl(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)"
        ).alias("cents")
    )
    g = per.groupBy("cents").agg(F.count("*").cast("long").alias("m"))
    t = sharded_running_sum(
        with_value_range_shard(g, "cents"), [], ["cents"], "m", "_run"
    ).select("cents", "m", (F.col("_run") - F.col("m")).alias("b"))
    tot = g.agg(
        F.sum("m").cast("long").alias("n"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * m")).alias("total"),
    )
    dec = spark.range(1, 11).select(F.col("id").cast("long").alias("decile"))
    j = (
        t.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dec))
        .select(
            "decile",
            F.expr("(n * decile) DIV 10").alias("k"),
            "cents",
            "m",
            "b",
            "total",
        )
    )
    taken = F.expr(
        "CAST(cents AS DECIMAL(38,0))"
        " * LEAST(m, GREATEST(CAST(0 AS BIGINT), k - b))"
    )
    return (
        j.groupBy("decile")
        .agg(
            F.max("k").cast("long").alias("k_customers"),
            F.sum(taken).cast("long").alias("cum_cents"),
            F.expr(
                "CAST(SUM(CAST(cents AS DECIMAL(38,0))"
                " * LEAST(m, GREATEST(CAST(0 AS BIGINT), k - b)))"
                " * 1000000 DIV MAX(total) AS BIGINT)"
            ).alias("share_q"),
        )
        .orderBy("decile")
    )


@register(
    "agg_theil_index",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    g AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(FLOOR(1e6 * LN(CAST(cents AS DOUBLE)) + 0.5) AS BIGINT)
                   AS lnx_q
          FROM per GROUP BY cents),
    s AS (SELECT CAST(SUM(m) AS BIGINT) AS n,
                 SUM(CAST(cents AS HUGEINT) * m) AS s0,
                 SUM(CAST(cents AS HUGEINT) * m * lnx_q) AS sxln
          FROM g)
    SELECT n AS n_customers,
           CAST(s0 AS BIGINT) AS total_cents,
           CAST(FLOOR(1e9 * (CAST(sxln AS DOUBLE) / 1e6 / CAST(s0 AS DOUBLE)
                             - LN(CAST(s0 AS DOUBLE) / n))
                      + 0.5) AS BIGINT) AS theil_q
    FROM s
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A56 (r10): Theil T index of per-customer spend — the
    entropy-based inequality measure completing the concentration
    toolkit (Gini weights transfers near the median, Theil weights the
    top tail; Theil is also exactly decomposable into between/within
    components, which Gini is not). T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ)
    = Σx·ln(x) / Σx − ln(μ), quantized to the 1e-9 grid.

    Needs NO ordered pass at all — unlike Gini/Lorenz, the statistic
    is a plain sum: one hash aggregate to per-customer cents, one to
    the distinct-cents relation where each value's ln is quantized
    ONCE to the 1e-6 grid (the BM25-idf discipline — cross-engine
    deterministic per distinct value, never re-derived per row), and
    the moment sums ride HUGEINT/DECIMAL(38,0) exactly. The final
    ln/division/quantize is one deterministic IEEE evaluation on a
    1-row frame."""
    o = tbl(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)"
        ).alias("cents")
    )
    g = per.groupBy("cents").agg(
        F.count("*").cast("long").alias("m"),
        F.floor(
            F.lit(1e6) * F.log(F.col("cents").cast("double")) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lnx_q"),
    )
    s = g.agg(
        F.sum("m").cast("long").alias("n"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * m")).alias("s0"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * m * lnx_q")).alias(
            "sxln"
        ),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("s0").cast("long").alias("total_cents"),
        F.floor(
            F.lit(1e9)
            * (
                F.col("sxln").cast("double")
                / F.lit(1e6)
                / F.col("s0").cast("double")
                - F.log(F.col("s0").cast("double") / F.col("n"))
            )
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("theil_q"),
    )


@register(
    "agg_theil_decomposition",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    lab AS (
      SELECT n_name, cents FROM per
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey),
    g AS (SELECT n_name, cents, CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(FLOOR(1e6 * LN(CAST(cents AS DOUBLE)) + 0.5) AS BIGINT)
                   AS lnx_q
          FROM lab GROUP BY n_name, cents),
    sg AS (SELECT n_name,
                  CAST(SUM(m) AS BIGINT) AS n_g,
                  SUM(CAST(cents AS HUGEINT) * m) AS s_g,
                  SUM(CAST(cents AS HUGEINT) * m * lnx_q) AS sxln_g
           FROM g GROUP BY n_name),
    tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, SUM(s_g) AS s FROM sg)
    SELECT n_name,
           n_g AS n_customers,
           CAST(s_g AS BIGINT) AS total_cents,
           CAST(FLOOR(1e9 * (CAST(sxln_g AS DOUBLE) / 1e6
                             / CAST(s_g AS DOUBLE)
                             - LN(CAST(s_g AS DOUBLE) / n_g))
                      + 0.5) AS BIGINT) AS theil_within_q,
           CAST(FLOOR(1e9 * (CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))
                          * LN((CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))
                               / (CAST(n_g AS DOUBLE) / n))
                      + 0.5) AS BIGINT) AS between_term_q
    FROM sg CROSS JOIN tot
    ORDER BY n_name
    """,
)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A57 (r10): Theil T decomposed by customer nation — the property
    that makes Theil the inequality measure for hierarchical data
    (T = Σ_g w_g·T_g + Σ_g w_g·ln(w_g/p_g), w_g the group's revenue
    share, p_g its population share; Gini has no such exact split).
    One row per nation: within-group Theil and the group's
    between-term, both on the 1e-9 grid.

    Same machinery as ``agg_theil_index``, now grouped: the fact folds
    to per-customer cents (one hash aggregate), a customer-keyed join
    labels each entity with its nation (nation broadcast onto the
    customer dim), the distinct-(nation, cents) relation quantizes ln
    ONCE per value, and all moment sums ride HUGEINT/DECIMAL(38,0).
    The per-group finals are IEEE evaluations over the 25-row group
    frame with the global (n, S) as a 1-row broadcast — no ordered
    pass anywhere. The r6 sibling ``analytics_theil_decomposition``
    (by region) quantizes a ln term PER ROW of the customer dimension;
    this form needs one ln per DISTINCT (nation, cents) value — the
    grid-compression posture that survives entity-count growth."""
    o = tbl(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)"
        ).alias("cents")
    )
    cust = tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    lab = per.join(
        cust.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("n_name", "cents")
    g = lab.groupBy("n_name", "cents").agg(
        F.count("*").cast("long").alias("m"),
        F.floor(
            F.lit(1e6) * F.log(F.col("cents").cast("double")) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lnx_q"),
    )
    sg = g.groupBy("n_name").agg(
        F.sum("m").cast("long").alias("n_g"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * m")).alias("s_g"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * m * lnx_q")).alias(
            "sxln_g"
        ),
    )
    tot = sg.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").alias("s"),
    )
    j = sg.crossJoin(F.broadcast(tot))
    w = F.col("s_g").cast("double") / F.col("s").cast("double")
    return j.select(
        "n_name",
        F.col("n_g").alias("n_customers"),
        F.col("s_g").cast("long").alias("total_cents"),
        F.floor(
            F.lit(1e9)
            * (
                F.col("sxln_g").cast("double")
                / F.lit(1e6)
                / F.col("s_g").cast("double")
                - F.log(F.col("s_g").cast("double") / F.col("n_g"))
            )
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("theil_within_q"),
        F.floor(
            F.lit(1e9)
            * w
            * F.log(w / (F.col("n_g").cast("double") / F.col("n")))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("between_term_q"),
    ).orderBy("n_name")
