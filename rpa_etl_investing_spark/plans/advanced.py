"""Advanced relational operators: as-of join, pivot/unpivot, lateral
explode, deterministic surrogate-key upsert (SURVEY §2.3 J4/J6, §2.11
UDTF row-explosion seed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from rpa_etl_investing_spark.catalog import bind_sql, tbl
from rpa_etl_investing_spark.operators.asof import asof_join
from rpa_etl_investing_spark.plans.registry import register


@register(
    "asof_join_last_purchase",
    oracle="""
    WITH clicks AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase')
      WHERE rn = 1)
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS ts_asof, p.value AS value_asof
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: as-of join — each click gets the user's most recent purchase
    at-or-before it. Spark side: union + window merge-scan (one shuffle);
    oracle: DuckDB's native ASOF JOIN."""
    ev = tbl(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    dedup_w = W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "value")
    )
    return asof_join(clicks, purchases, key="user_id", ts="ts", value_cols=["value"])


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS status_o,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS status_f,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority × status (explicit value list so
    the output schema is static — required for streaming parity and for
    Catalyst to plan a single aggregate)."""
    o = tbl(spark, sf_dir, "orders")
    p = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "priority",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@register(
    "unpivot_fact_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, val
    FROM lineitem
    UNPIVOT (val FOR measure IN (l_quantity AS 'quantity',
                                 l_extendedprice AS 'extendedprice',
                                 l_discount AS 'discount',
                                 l_tax AS 'tax'))
    """,
)
def unpivot_fact_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide measure columns → long (measure, val) — the
    reference fact table's four numeric columns (main.py:40-43) as EAV."""
    return tbl(spark, sf_dir, "lineitem").unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    ).withColumn("measure", F.regexp_replace("measure", "^l_", ""))


@register(
    "explode_tokens_positional",
    oracle="""
    SELECT doc_id, s.pos - 1 AS pos, s.tok AS token
    FROM (SELECT doc_id,
                 UNNEST(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text, ' ')) + 1),
                        i -> {'pos': i, 'tok': STRING_SPLIT(text, ' ')[i]})) AS s
          FROM documents
          WHERE doc_id < 50)
    """,
)
def explode_tokens_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF surface (§2.11): posexplode — row explosion with ordinality.
    Built-in generator, no Python UDTF needed."""
    d = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


@register(
    "dim_upsert_surrogate_keys",
    oracle="""
    WITH existing AS (
      SELECT ROW_NUMBER() OVER (ORDER BY n_name) AS id, n_name AS nome
      FROM nation WHERE n_regionkey < 3),
    incoming AS (SELECT DISTINCT n_name AS nome FROM nation),
    new_rows AS (
      SELECT i.nome FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.nome = i.nome))
    SELECT id, nome FROM existing
    UNION ALL
    SELECT (SELECT MAX(id) FROM existing)
             + ROW_NUMBER() OVER (ORDER BY substr(md5(nome), 1, 2), nome) AS id,
           nome
    FROM new_rows
    """,
)
def dim_upsert_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 end-to-end under the oracle: deterministic surrogate-key upsert
    (anti-join + distributed bucketed row_number over the natural key,
    offset by max id) — the set-based form of the reference's
    insert-if-absent probes (main.py:124-135) with re-run-stable ids
    (SURVEY §7.4). New ids number by (md5-bucket, nome) — the oracle's
    global ROW_NUMBER mirrors the engine's per-bucket rank + cumulative
    bucket offsets, which is how the assignment stays distributed.

    Scale shape: the bucketed row_number partitions on an md5 prefix and
    adds broadcast bucket offsets: no global window and no driver
    collect."""
    from rpa_etl_investing_spark.etl.pipeline import upsert_dimension

    n = tbl(spark, sf_dir, "nation")
    w = W.partitionBy(F.lit(1)).orderBy("nome")
    existing = (
        n.filter(F.col("n_regionkey") < 3)
        .select(F.col("n_name").alias("nome"))
        .withColumn("id", F.row_number().over(w).cast("long"))
        .select("id", "nome")
    )
    incoming = n.select(F.col("n_name").alias("nome"))
    return upsert_dimension(existing, incoming)


@register(
    "skew_salted_join",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o_orderstatus
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 scale path: salted equi-join — hot join keys spread over 8
    salt sub-keys (operators/skew.py); result provably identical to the
    plain join (the oracle IS the plain join)."""
    from rpa_etl_investing_spark.operators.skew import salted_join

    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        od.withColumnRenamed("o_orderkey", "k"),
        on=["k"],
        n_salts=8,
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(27,2)")).cast("double").alias("total_qty"),
    )


@register(
    "asof_join_next_purchase",
    oracle="""
    WITH clicks AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase')
      WHERE rn = 1)
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS ts_asof, p.value AS value_asof
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts >= c.ts
    """,
)
def asof_join_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: FORWARD as-of join — conversion attribution: each click gets
    the user's next purchase at-or-after it. Same one-shuffle union +
    window merge-scan as the backward form, scanning time-reversed
    (operators/asof.py direction="forward"); oracle is DuckDB's native
    ASOF JOIN with the inequality flipped."""
    ev = tbl(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    dedup_w = W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "value")
    )
    return asof_join(
        clicks, purchases, key="user_id", ts="ts", value_cols=["value"],
        direction="forward",
    )


@register(
    "pivot_multi_measures",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o_n,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
                FILTER (WHERE o_orderstatus = 'O') * 100 AS BIGINT) AS DOUBLE) / 100.0) AS o_rev,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_n,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
                FILTER (WHERE o_orderstatus = 'F') * 100 AS BIGINT) AS DOUBLE) / 100.0) AS f_rev
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_multi_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE measures per pivot value (count + decimal
    revenue per status column) — still one hash aggregate: the pivot
    value list is explicit so Catalyst folds everything into a single
    pass of conditional aggregates, never a per-status scan."""
    o = tbl(spark, sf_dir, "orders")
    p = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["O", "F"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias("rev"),
        )
    )
    return p.select(
        "priority",
        F.coalesce(F.col("O_n"), F.lit(0)).cast("bigint").alias("o_n"),
        ((F.col("O_rev") * 100).cast("bigint").cast("double") / 100.0).alias("o_rev"),
        F.coalesce(F.col("F_n"), F.lit(0)).cast("bigint").alias("f_n"),
        ((F.col("F_rev") * 100).cast("bigint").cast("double") / 100.0).alias("f_rev"),
    )


@register(
    "explode_outer_empty_preserved",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT(text, ' '), t -> LEN(t) >= 12) AS long_toks
      FROM documents)
    SELECT doc_id, CAST(UNNEST(
             CASE WHEN LEN(long_toks) = 0 THEN [NULL] ELSE long_toks END)
           AS VARCHAR) AS long_tok
    FROM toks
    """,
)
def explode_outer_empty_preserved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` semantics: documents whose filtered token array
    is EMPTY survive as one row with a NULL token — the flatten that
    never silently drops parents. Plain ``explode`` would lose every
    doc with no ≥12-char token, the classic fan-out bug that only shows
    up as missing rows three joins later."""
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.col("text"), " "), lambda t: F.length(t) >= 12
        ).alias("long_toks"),
    )
    return toks.select(
        "doc_id", F.explode_outer("long_toks").alias("long_tok")
    )


@register(
    "asof_join_tolerance",
    oracle="""
    WITH clicks AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase')
      WHERE rn = 1)
    SELECT c.event_id, c.user_id, c.ts,
           CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 7200000000
                THEN p.ts END AS ts_asof,
           CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 7200000000
                THEN p.value END AS value_asof
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 variant: as-of join with a staleness bound (pandas
    ``merge_asof(tolerance=...)`` semantics) — a purchase older than
    two hours no longer explains the click and the match is nulled.
    The bound is applied AFTER the one-shuffle merge-scan as a
    map-side integer-microsecond conditional (operators/asof.py
    ``tolerance_seconds``), so the tolerant form costs exactly the
    same plan as the unbounded one; the oracle applies the identical
    CASE over DuckDB's native ASOF JOIN."""
    ev = tbl(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    dedup_w = W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "value")
    )
    return asof_join(
        clicks,
        purchases,
        key="user_id",
        ts="ts",
        value_cols=["value"],
        tolerance_seconds=7200,
    )


@register(
    "asof_join_nearest_purchase",
    oracle="""
    WITH clicks AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase')
      WHERE rn = 1),
    b AS (
      SELECT c.event_id, c.user_id, c.ts,
             p.ts AS ts_b, p.value AS value_b
      FROM clicks c
      ASOF LEFT JOIN purchases p
        ON c.user_id = p.user_id AND p.ts <= c.ts),
    f AS (
      SELECT c.event_id, p.ts AS ts_f, p.value AS value_f
      FROM clicks c
      ASOF LEFT JOIN purchases p
        ON c.user_id = p.user_id AND p.ts >= c.ts)
    SELECT b.event_id, b.user_id, b.ts,
           CASE WHEN ts_b IS NULL THEN ts_f
                WHEN ts_f IS NULL THEN ts_b
                WHEN epoch_us(b.ts) - epoch_us(ts_b)
                     <= epoch_us(ts_f) - epoch_us(b.ts) THEN ts_b
                ELSE ts_f END AS ts_near,
           CASE WHEN ts_b IS NULL THEN value_f
                WHEN ts_f IS NULL THEN value_b
                WHEN epoch_us(b.ts) - epoch_us(ts_b)
                     <= epoch_us(ts_f) - epoch_us(b.ts) THEN value_b
                ELSE value_f END AS value_near,
           CASE WHEN ts_b IS NULL AND ts_f IS NULL THEN NULL
                WHEN ts_b IS NULL THEN 'forward'
                WHEN ts_f IS NULL THEN 'backward'
                WHEN epoch_us(b.ts) - epoch_us(ts_b)
                     <= epoch_us(ts_f) - epoch_us(b.ts) THEN 'backward'
                ELSE 'forward' END AS direction
    FROM b JOIN f ON b.event_id = f.event_id
    """,
)
def asof_join_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 completion: NEAREST as-of — each click gets the purchase
    closest in time in EITHER direction (pandas merge_asof
    direction='nearest'), with ties broken toward the past (the
    backward row), the merge_asof convention. Composition of the two
    existing one-shuffle merge-scans joined back on the left key —
    exactly two user-keyed shuffles + one event-keyed join, no
    windows over unsharded time. The tie compare runs in integer
    microseconds (epoch) so no float enters the direction choice."""
    ev = tbl(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    dedup_w = W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "value")
    )
    b = asof_join(
        clicks, purchases, key="user_id", ts="ts", value_cols=["value"]
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_asof").alias("ts_b"),
        F.col("value_asof").alias("value_b"),
    )
    f = asof_join(
        clicks,
        purchases,
        key="user_id",
        ts="ts",
        value_cols=["value"],
        direction="forward",
    ).select(
        "event_id",
        F.col("ts_asof").alias("ts_f"),
        F.col("value_asof").alias("value_f"),
    )
    j = b.join(f, "event_id")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    db = us("ts") - us("ts_b")
    df_ = us("ts_f") - us("ts")
    take_b = F.col("ts_f").isNull() | (
        F.col("ts_b").isNotNull() & (db <= df_)
    )
    return j.select(
        "event_id",
        "user_id",
        "ts",
        F.when(take_b, F.col("ts_b")).otherwise(F.col("ts_f")).alias("ts_near"),
        F.when(take_b, F.col("value_b"))
        .otherwise(F.col("value_f"))
        .alias("value_near"),
        F.when(F.col("ts_b").isNull() & F.col("ts_f").isNull(), F.lit(None))
        .when(take_b, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
    )


_PIVOT_SQL = """
    SELECT * FROM (
      SELECT o_orderpriority AS priority, o_orderstatus AS status,
             o_totalprice
      FROM {orders})
    PIVOT (
      COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS total
      FOR status IN ('O' AS o, 'F' AS f, 'P' AS p))
    ORDER BY priority
"""


@register(
    "sql_frontend_pivot",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o_n,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
                FILTER (WHERE o_orderstatus = 'O') * 100 AS BIGINT) AS DOUBLE) / 100.0) AS o_total,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_n,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
                FILTER (WHERE o_orderstatus = 'F') * 100 AS BIGINT) AS DOUBLE) / 100.0) AS f_total,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p_n,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
                FILTER (WHERE o_orderstatus = 'P') * 100 AS BIGINT) AS DOUBLE) / 100.0) AS p_total
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
)
def sql_frontend_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14/SQL-surface: the SQL-text PIVOT clause through the engine's
    SQL front-end (multi-measure: COUNT + DECIMAL SUM per status
    column) — the same semantics as the DataFrame pivot queries, proved
    by an oracle written as plain conditional aggregation. Catalyst
    compiles PIVOT to the identical Expand+aggregate it gives
    `groupBy().pivot()`, with the IN-list making the output schema
    static (the precondition for pivot at scale — an unlisted pivot
    needs a distinct-scan to infer columns). Sums accumulate in
    DECIMAL before the double cast, per the repo-wide rule."""
    out = bind_sql(spark, sf_dir, _PIVOT_SQL)
    return out.select(
        "priority",
        F.col("o_n").cast("bigint").alias("o_n"),
        ((F.col("o_total") * 100).cast("bigint").cast("double") / 100.0).alias("o_total"),
        F.col("f_n").cast("bigint").alias("f_n"),
        ((F.col("f_total") * 100).cast("bigint").cast("double") / 100.0).alias("f_total"),
        F.col("p_n").cast("bigint").alias("p_n"),
        ((F.col("p_total") * 100).cast("bigint").cast("double") / 100.0).alias("p_total"),
    )


@register(
    "agg_argmax_records",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 8589934592
               + o_orderkey AS cmp_max,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 8589934592
               + (8589934591 - o_orderkey) AS cmp_min
      FROM orders)
    SELECT o_custkey,
           CAST(MAX_BY(o_orderkey, cmp_max) AS BIGINT) AS top_orderkey,
           MAX_BY(o_orderdate, cmp_max) AS top_orderdate,
           MAX(o_totalprice) AS top_price,
           CAST(MIN_BY(o_orderkey, cmp_min) AS BIGINT) AS bottom_orderkey
    FROM o
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def agg_argmax_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 gen: record ARGMAX/ARGMIN aggregates — `max_by`/`min_by`, the
    one-pass answer to "which ORDER was the customer's most expensive"
    that otherwise costs a window + filter (two passes, one sort). The
    comparator is a single BIGINT packing (cents · 2³³ + orderkey) so
    ties on price break deterministically by key on BOTH engines
    (DuckDB 1.0's MAX_BY rejects struct comparators; the min side packs
    the key inverted to keep the lowest-key-wins orientation). One hash
    aggregate with map-side partials; at 100 TB this is strictly
    cheaper than the rank-and-filter form because nothing ever sorts.
    The 2³³ pack bounds orderkey < 8.6e9 — document and widen to
    DECIMAL if the key space outgrows it."""
    o = tbl(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    cmp_max = cents * F.lit(8589934592) + F.col("o_orderkey")
    cmp_min = cents * F.lit(8589934592) + (
        F.lit(8589934591) - F.col("o_orderkey")
    )
    return (
        o.groupBy("o_custkey")
        .agg(
            F.max_by("o_orderkey", cmp_max).cast("bigint").alias("top_orderkey"),
            F.max_by("o_orderdate", cmp_max).alias("top_orderdate"),
            F.max("o_totalprice").alias("top_price"),
            F.min_by("o_orderkey", cmp_min)
            .cast("bigint")
            .alias("bottom_orderkey"),
        )
        .orderBy("o_custkey")
    )


_UNPIVOT_SQL = """
    SELECT o_orderkey, measure, val FROM (
      SELECT o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS price,
             CAST(o_custkey AS DOUBLE) AS custkey_d
      FROM {orders})
    UNPIVOT (
      val FOR measure IN (price, custkey_d))
    ORDER BY o_orderkey, measure
"""


@register(
    "sql_frontend_unpivot",
    oracle="""
    SELECT o_orderkey, 'price' AS measure,
           CAST(o_totalprice AS DOUBLE) AS val
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'custkey_d',
           CAST(o_custkey AS DOUBLE)
    FROM orders
    ORDER BY o_orderkey, measure
    """,
)
def sql_frontend_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 twin: the SQL-text UNPIVOT clause (wide → long melt) through
    the SQL front-end — Catalyst compiles it to the same Expand the
    `stack()` form uses (`unpivot_fact_measures`), one map-side row
    replication per measure, no shuffle at all; the oracle states it as
    the UNION ALL the relational algebra says it is. The melt is the
    standard prep step before measure-generic aggregation (the
    expectations gate and column-entropy profiler both consume this
    shape)."""
    return bind_sql(spark, sf_dir, _UNPIVOT_SQL)
