"""Scalar-function queries (SURVEY §2.8 F1-F13).

F1-F5 re-express the reference's transform stage
(``/root/reference/main.py:101-106``) — locale numeric parsing,
percent parsing, conditional sector classification with map lookup —
as vectorized Column expressions over fixture columns. F8-F13 widen to
the full string/date/math/array/map/JSON surface.

Parity notes: Brazilian-locale strings are manufactured from INTEGER
columns only (no float formatting → no rounding divergence); array
reductions accumulate in DECIMAL (order-exact) and cast to DOUBLE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rpa_etl_investing_spark.catalog import tbl
from rpa_etl_investing_spark.functions.locale import (
    parse_brazilian_number,
    parse_percent_variation,
)
from rpa_etl_investing_spark.plans.registry import register

# ---------------------------------------------------------------------------
# F1-F3: locale normalization (the reference's extract-time parsing)
# ---------------------------------------------------------------------------


@register(
    "locale_number_parse",
    oracle="""
    SELECT o_orderkey, br_text,
           CAST(REPLACE(REPLACE(TRIM(br_text), '.', ''), ',', '.') AS DOUBLE) AS parsed
    FROM (
      SELECT o_orderkey,
             '  ' || REPLACE(FORMAT('{:,}', o_orderkey), ',', '.') || ','
                  || LPAD(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') || ' ' AS br_text
      FROM orders)
    """,
)
def locale_number_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2: trim + Brazilian numeric normalization (``main.py:101-103``).

    Manufactures ``" 1.234.567,NN "`` strings from integer keys (grouped
    thousands + 2-digit decimals), then parses them back — exercising the
    exact strip-all-dots / comma-to-dot semantics on deterministic input.
    """
    o = tbl(spark, sf_dir, "orders")
    br_text = F.concat(
        F.lit("  "),
        F.regexp_replace(F.format_string("%,d", F.col("o_orderkey")), ",", "."),
        F.lit(","),
        F.lpad((F.col("o_orderkey") % 100).cast("string"), 2, "0"),
        F.lit(" "),
    )
    return o.select(
        "o_orderkey",
        br_text.alias("br_text"),
        parse_brazilian_number(br_text).alias("parsed"),
    )


@register(
    "locale_percent_parse",
    oracle="""
    SELECT l_orderkey, l_linenumber, pct_text,
           CAST(REPLACE(REPLACE(REPLACE(REPLACE(TRIM(pct_text), '+', ''), '%', ''),
                        '.', ''), ',', '.') AS DOUBLE) AS parsed
    FROM (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_returnflag = 'R' THEN '-' ELSE '+' END
               || CAST(l_linenumber AS VARCHAR) || ','
               || LPAD(CAST(l_orderkey % 100 AS VARCHAR), 2, '0') || '%' AS pct_text
      FROM lineitem)
    """,
)
def locale_percent_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: percent parsing ``"+1,25%"`` → ``1.25`` (``main.py:104``)."""
    l = tbl(spark, sf_dir, "lineitem")
    pct_text = F.concat(
        F.when(F.col("l_returnflag") == "R", F.lit("-")).otherwise(F.lit("+")),
        F.col("l_linenumber").cast("string"),
        F.lit(","),
        F.lpad((F.col("l_orderkey") % 100).cast("string"), 2, "0"),
        F.lit("%"),
    )
    return l.select(
        "l_orderkey",
        "l_linenumber",
        pct_text.alias("pct_text"),
        parse_percent_variation(pct_text).alias("parsed"),
    )


# ---------------------------------------------------------------------------
# F4+F5: conditional classification with map lookup and default
# (the reference's sector rule, main.py:106, maps at main.py:52-84)
# ---------------------------------------------------------------------------

NATION_SECTOR_MAP = {
    "NATION_0": "Financeiro",
    "NATION_1": "Diversificado",
    "NATION_2": "Indústria",
    "NATION_5": "Governança Corporativa",
    "NATION_7": "Internacional",
    "NATION_11": "Imobiliário",
    "NATION_13": "Sustentabilidade",
    "NATION_17": "Câmbio",
    "NATION_19": "Volatilidade",
}


@register(
    "classify_map_lookup",
    oracle=f"""
    SELECT n.n_name AS nation, r.r_name AS region,
           CASE WHEN r.r_name = 'AMERICA' THEN
             COALESCE(CASE n.n_name
               {" ".join(f"WHEN '{k}' THEN '{v}'" for k, v in NATION_SECTOR_MAP.items())}
             END, 'Diversificado')
           ELSE 'Primário' END AS sector
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def classify_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4+F5: ``x if pais == 'Brasil' else y`` + ``dict.get(key, default)``
    (``main.py:106``) as ``when/otherwise`` + ``create_map`` lookup with
    ``coalesce`` default — the expression form of operator J3."""
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    sector_map = F.create_map(
        *[F.lit(x) for kv in NATION_SECTOR_MAP.items() for x in kv]
    )
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.when(
                F.col("r_name") == "AMERICA",
                F.coalesce(
                    F.create_map(
                        *[F.lit(x) for kv in NATION_SECTOR_MAP.items() for x in kv]
                    )[F.col("n_name")],
                    F.lit("Diversificado"),
                ),
            )
            .otherwise(F.lit("Primário"))
            .alias("sector"),
        )
    )


@register(
    "classify_broadcast_join",
    oracle=f"""
    SELECT n.n_name AS nation,
           COALESCE(m.sector, 'Diversificado') AS sector
    FROM nation n
    LEFT JOIN (VALUES {", ".join(f"('{k}', '{v}')" for k, v in NATION_SECTOR_MAP.items())})
         AS m(nation, sector)
      ON n.n_name = m.nation
    """,
)
def classify_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (preferred form): the same lookup as a broadcast join against a
    small mapping DataFrame — the Spark-native 'dimension lookup'; at
    100 TB the mapping stays broadcast, no shuffle."""
    n = tbl(spark, sf_dir, "nation")
    mapping = spark.createDataFrame(
        list(NATION_SECTOR_MAP.items()), ["m_nation", "sector"]
    )
    return n.join(
        F.broadcast(mapping), n.n_name == mapping.m_nation, "left"
    ).select(
        F.col("n_name").alias("nation"),
        F.coalesce(F.col("sector"), F.lit("Diversificado")).alias("sector"),
    )


# ---------------------------------------------------------------------------
# F8: string functions
# ---------------------------------------------------------------------------


@register(
    "string_funcs",
    oracle="""
    SELECT doc_id,
           UPPER(lang) AS lang_upper,
           LENGTH(text) AS text_len,
           SUBSTRING(text, 1, 12) AS head,
           CONCAT_WS('|', lang, source) AS tag,
           REGEXP_EXTRACT(text, '^(\\w+)', 1) AS first_word,
           CONTAINS(text, 'spark') AS mentions_spark,
           REPLACE(source, 'src', 'source_') AS source_long,
           LPAD(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id
    FROM documents
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: upper/length/substring/concat_ws/regexp_extract/contains/replace/lpad
    (generalizing the reference's string handling, ``main.py:100-104``)."""
    d = tbl(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_upper"),
        F.length("text").alias("text_len"),
        F.substring("text", 1, 12).alias("head"),
        F.concat_ws("|", "lang", "source").alias("tag"),
        F.regexp_extract("text", r"^(\w+)", 1).alias("first_word"),
        F.col("text").contains("spark").alias("mentions_spark"),
        F.replace(F.col("source"), F.lit("src"), F.lit("source_")).alias("source_long"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
    )


@register(
    "string_split_tokens",
    oracle="""
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
           STRING_SPLIT(text, ' ')[1] AS first_token,
           STRING_SPLIT(text, ' ')[LEN(STRING_SPLIT(text, ' '))] AS last_token
    FROM documents
    """,
)
def string_split_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: split + element access (scalar outputs for cross-engine parity)."""
    d = tbl(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.element_at(toks, -1).alias("last_token"),
    )


# ---------------------------------------------------------------------------
# F9: date/time functions
# ---------------------------------------------------------------------------


@register(
    "datetime_funcs",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           CAST(YEAR(o_orderdate) AS INT) AS yr,
           CAST(MONTH(o_orderdate) AS INT) AS mo,
           CAST(DAYOFMONTH(o_orderdate) AS INT) AS dom,
           DATE_TRUNC('month', o_orderdate) AS month_start,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002,
           o_orderdate + INTERVAL 90 DAY AS due_ts,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS iso_day
    FROM orders
    """,
)
def datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: extract/trunc/diff/add/format over timestamps (seed: the
    reference's ingestion timestamp, ``main.py:44``)."""
    o = tbl(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderdate",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.to_date("o_orderdate").alias("order_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_2002"
        ),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")).alias("due_ts"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
    )


@register(
    "datetime_bucket_agg",
    oracle="""
    SELECT DATE_TRUNC('month', l_shipdate) AS ship_month,
           COUNT(*) AS n_lines,
           (CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS revenue
    FROM lineitem
    GROUP BY DATE_TRUNC('month', l_shipdate)
    """,
)
def datetime_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9+A2: calendar bucketing — the batch form of a time-series rollup
    over the reference's snapshot timeline (``main.py:44``).

    Scale shape: epoch-aligned buckets are computed map-side, revenue
    sums on the long BIGINT grid, and the only shuffle is the aggregate
    on the bucket."""
    # r10: per-row grid BIGINTs instead of a DECIMAL(37,2) buffer — the
    # same long-grid rewrite as dsum (see plans/aggregates.py), and this
    # spelling now reproduces the oracle's scaled-BIGINT exit exactly to
    # 2^63 grid units (the old decimal→double cast matched only below
    # 2^53). Values verified pandas-exact against the previous form.
    return (
        tbl(spark, sf_dir, "lineitem")
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.count("*").alias("n_lines"),
            (
                F.sum(
                    (F.col("l_extendedprice").cast("decimal(18,2)") * F.lit(100))
                    .cast("bigint")
                )
                .cast("double")
                / F.lit(100.0)
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# F10: math functions (exact-result subset: no libm divergence risk)
# ---------------------------------------------------------------------------


@register(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - 1000.0) AS abs_centered,
           SQRT(l_extendedprice) AS price_sqrt,
           CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_side,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod7,
           GREATEST(l_quantity, 25.0) AS qty_floor25,
           LEAST(l_quantity, 25.0) AS qty_cap25,
           l_quantity * l_extendedprice - l_tax AS arith
    FROM lineitem
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: abs/sqrt/ceil/floor/sign/mod/greatest/least + column arithmetic
    (seed: the reference's numeric fact columns, ``main.py:40-43``).
    sqrt is IEEE-correctly-rounded (bit-exact cross-engine); log/pow are
    not, so they stay out of oracle-checked outputs."""
    l = tbl(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 1000.0).alias("abs_centered"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_side"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_floor25"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_cap25"),
        (F.col("l_quantity") * F.col("l_extendedprice") - F.col("l_tax")).alias("arith"),
    )


# ---------------------------------------------------------------------------
# F11: array functions over embeddings
# ---------------------------------------------------------------------------


@register(
    "array_funcs",
    oracle="""
    SELECT vec_id,
           LEN(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_component,
           CAST(LIST_AGGREGATE(
                  LIST_TRANSFORM(embedding,
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e10 + 0.5) AS BIGINT)),
                  'sum') AS BIGINT) / 1e10 AS norm_sq,
           CAST(LIST_AGGREGATE(
                  LIST_TRANSFORM(embedding[1:8],
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e10 + 0.5) AS BIGINT)),
                  'sum') AS BIGINT) / 1e10 AS head_sum
    FROM embeddings
    """,
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: size/element_at/slice + transform/aggregate reduction — the
    dot-product building block for similarity search (SURVEY §2.10 L3).

    Cross-engine exactness: each term is quantized onto a 1e-10 integer
    grid with FLOOR (deterministic double ops — no decimal rounding-rule
    divergence), summed exactly as BIGINT, and scaled back.
    """
    e = tbl(spark, sf_dir, "embeddings")
    sq_terms = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * x.cast("double") * 1e10 + 0.5).cast("bigint"),
    )
    head_terms = F.transform(
        F.slice(F.col("embedding"), 1, 8),
        lambda x: F.floor(x.cast("double") * 1e10 + 0.5).cast("bigint"),
    )
    zero = F.lit(0).cast("bigint")
    fold = lambda acc, x: acc + x  # noqa: E731
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_component"),
        (F.aggregate(sq_terms, zero, fold) / F.lit(1e10)).alias("norm_sq"),
        (F.aggregate(head_terms, zero, fold) / F.lit(1e10)).alias("head_sum"),
    )


# ---------------------------------------------------------------------------
# F13: JSON functions over events.props
# ---------------------------------------------------------------------------


@register(
    "json_funcs",
    oracle="""
    SELECT event_id, event_type, props,
           CAST(props->>'k' AS BIGINT) AS k_value,
           CASE WHEN CAST(props->>'k' AS BIGINT) > 50 THEN 'high' ELSE 'low' END AS k_band
    FROM events
    """,
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: JSON-in-string extraction (``events.props``) via
    ``get_json_object`` — schema-on-read over semi-structured payloads."""
    ev = tbl(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select(
        "event_id",
        "event_type",
        "props",
        k.alias("k_value"),
        F.when(k > 50, F.lit("high")).otherwise(F.lit("low")).alias("k_band"),
    )


@register(
    "json_struct_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_total,
           MAX(CAST(props->>'k' AS BIGINT)) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def json_struct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13+A2: from_json into a typed struct, then aggregate the extracted
    field (integer sums — exact)."""
    ev = tbl(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "props_struct", F.from_json("props", "k BIGINT")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("props_struct.k")).alias("k_total"),
        F.max(F.col("props_struct.k")).alias("k_max"),
    )


@register(
    "map_funcs",
    oracle="""
    SELECT n_nationkey,
           MAP_KEYS(MAP(['nat', 'reg', 'both'],
                        [n_nationkey, n_regionkey, n_nationkey + n_regionkey]))
             AS ks,
           MAP_VALUES(MAP(['nat', 'reg', 'both'],
                          [n_nationkey, n_regionkey, n_nationkey + n_regionkey]))
             AS vs,
           MAP(['nat', 'reg', 'both'],
               [n_nationkey, n_regionkey, n_nationkey + n_regionkey])['reg'][1]
             AS reg_val
    FROM nation
    """,
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: map construction/inspection/lookup — map_from_arrays,
    map_keys/map_values (insertion-ordered in both engines), element_at
    (DuckDB's bracket lookup yields a list; [1] unwraps to the scalar)."""
    n = tbl(spark, sf_dir, "nation")
    m = F.map_from_arrays(
        F.array(F.lit("nat"), F.lit("reg"), F.lit("both")),
        F.array(
            F.col("n_nationkey"),
            F.col("n_regionkey"),
            F.col("n_nationkey") + F.col("n_regionkey"),
        ),
    )
    return n.select(
        "n_nationkey",
        F.map_keys(m).alias("ks"),
        F.map_values(m).alias("vs"),
        F.element_at(m, "reg").alias("reg_val"),
    )


@register(
    "json_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k,
           CAST(COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                           THEN 1 END) AS BIGINT) AS n_high
    FROM events
    GROUP BY event_type
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13+: semi-structured props through Spark 4's VARIANT type —
    ``parse_json`` once into the binary variant encoding, then typed
    ``try_variant_get`` path extraction, instead of re-parsing the JSON
    string per field. At 100 TB variant is the right shape: the parse
    happens once per row, extraction is a binary-offset lookup, and
    shredded storage keeps column pruning; the oracle reproduces the
    same numbers from DuckDB's JSON path functions."""
    ev = tbl(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.max("k").cast("bigint").alias("max_k"),
        F.count(F.when(F.col("k") >= 50, 1)).cast("bigint").alias("n_high"),
    )


@register(
    "scalar_try_funcs",
    oracle="""
    SELECT n_nationkey,
           TRY_CAST(CASE WHEN n_nationkey % 3 = 0 THEN n_name
                         ELSE CAST(n_nationkey AS VARCHAR) END AS BIGINT) AS k_or_null,
           CASE WHEN n_regionkey = 0 THEN NULL
                ELSE CAST(n_nationkey AS DOUBLE) / n_regionkey END AS safe_ratio,
           TRY_CAST('20' || CAST(n_nationkey % 100 AS VARCHAR) AS BIGINT) * 2
             AS parsed_doubled
    FROM nation
    """,
)
def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-surface: ANSI-mode-safe error handling — ``try_cast`` /
    ``try_divide`` return NULL instead of failing the job on bad rows,
    the row-level analog of the reference's try/except-skip
    (``/root/reference/main.py:116-117``) that keeps a 100 TB job from
    dying on one malformed value. Bad inputs are seeded
    deterministically (every 3rd key casts a name, regionkey 0 divides
    by zero) so both engines hit the error paths."""
    n = tbl(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.when(F.col("n_nationkey") % 3 == 0, F.col("n_name"))
        .otherwise(F.col("n_nationkey").cast("string"))
        .try_cast("bigint")
        .alias("k_or_null"),
        F.try_divide(
            F.col("n_nationkey").cast("double"), F.col("n_regionkey")
        ).alias("safe_ratio"),
        (
            F.concat(F.lit("20"), (F.col("n_nationkey") % 100).cast("string"))
            .try_cast("bigint")
            * 2
        ).alias("parsed_doubled"),
    )


@register(
    "locale_date_parse",
    oracle="""
    SELECT o_orderkey, date_text,
           CAST(STRPTIME(date_text, '%d/%m/%Y') AS TIMESTAMP) AS parsed
    FROM (
      SELECT o_orderkey,
             STRFTIME(CAST(o_orderdate AS TIMESTAMP), '%d/%m/%Y') AS date_text
      FROM orders)
    """,
)
def locale_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 locale companion to the numeric parsers: Brazilian
    day-first dates (``31/12/1999``) formatted and parsed back
    losslessly with an explicit pattern — the ingestion rule for the
    reference's pt-BR source pages (``/root/reference/main.py:86``
    scrape locale). Never locale-inferred: an explicit format keeps the
    parse a codegen'd projection, and day-first strings are exactly the
    ones a US-default inference silently mangles (03/04 = April 3rd?)."""
    o = tbl(spark, sf_dir, "orders")
    date_text = F.date_format(F.col("o_orderdate"), "dd/MM/yyyy")
    return o.select(
        "o_orderkey",
        date_text.alias("date_text"),
        F.to_timestamp(date_text, "dd/MM/yyyy").alias("parsed"),
    )
