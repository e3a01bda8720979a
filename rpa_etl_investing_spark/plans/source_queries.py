"""Source/sink queries (SURVEY §2.1 S2/S8): CSV and NDJSON round-trips
with explicit schemas, PERMISSIVE corrupt-record accounting, and a
partition-pruned scan over a partitioned parquet sink.

Each query materializes its source file deterministically from the
fixture tables (scratch area inside the repo), so the DuckDB oracle can
reproduce the expected result straight from the parquet fixtures.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rpa_etl_investing_spark.catalog import tbl
from rpa_etl_investing_spark.plans.registry import register
from rpa_etl_investing_spark.sources import (
    read_csv,
    read_json,
    scratch_dir,
    split_rejects,
    write_partitioned_parquet,
)

_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.LongType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.LongType()),
    ]
)


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir)) or "sf"


@register(
    "source_csv_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: write ``nation`` to CSV, scan it back with an explicit schema
    — values must survive the text round-trip bit-exactly (the oracle
    reads the original parquet)."""
    path = scratch_dir(_sf_tag(sf_dir), "nation_csv")
    nation = tbl(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").csv(path, header=True)
    good, _ = split_rejects(read_csv(spark, path, _NATION_SCHEMA))
    return good


@register(
    "source_json_corrupt_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nation WHERE n_nationkey % 5 = 0)
             AS n_rejected
    FROM nation
    """,
)
def source_json_corrupt_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: NDJSON source seeded with deterministic corrupt lines (one
    per nation with key % 5 == 0); PERMISSIVE parse captures them in
    ``_corrupt_record`` and the pipeline *counts* them — fixing the
    reference's silent drop (``main.py:116-117``)."""
    path = scratch_dir(_sf_tag(sf_dir), "nation_json")
    nation = tbl(spark, sf_dir, "nation")
    lines = nation.select(
        F.to_json(
            F.struct("n_nationkey", "n_name", "n_regionkey")
        ).alias("value")
    )
    corrupt = (
        nation.filter(F.col("n_nationkey") % 5 == 0)
        .select(F.concat(F.lit('{"n_nationkey": broken '), F.col("n_name")).alias("value"))
    )
    lines.unionByName(corrupt).write.mode("overwrite").text(path)
    good, bad = split_rejects(read_json(spark, path, _NATION_SCHEMA))
    return good.agg(F.count("*").alias("n_good")).crossJoin(
        bad.agg(F.count("*").alias("n_rejected"))
    )


@register(
    "source_partitioned_prune",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_price
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def source_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: partitioned parquet sink + pruned scan. ``orders`` is written
    ``partitionBy(o_orderpriority)``; the filter then prunes to one
    directory (``PartitionFilters`` in the plan — asserted in
    tests/test_sources.py), so the other ~4/5 of the data is never read."""
    path = scratch_dir(_sf_tag(sf_dir), "orders_by_priority")
    orders = tbl(spark, sf_dir, "orders")
    write_partitioned_parquet(orders, path, ["o_orderpriority"])
    scanned = spark.read.parquet(path).filter(F.col("o_orderpriority") == "1-URGENT")
    return scanned.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(T.DecimalType(27, 2)))
        .cast("double")
        .alias("sum_price"),
    )


_ORC_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: write ``orders`` to ORC (columnar, built into Spark like
    parquet — same vectorized reader, pushdown, and pruning paths) and
    aggregate from the ORC scan; the oracle aggregates the original
    parquet, so the round-trip must preserve every value bit-exactly."""
    path = scratch_dir(_sf_tag(sf_dir), "orders_orc")
    orders = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").orc(path)
    back = spark.read.schema(_ORC_SCHEMA).orc(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "source_schema_evolution",
    oracle="""
    SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_with_region,
           CAST(2 AS BIGINT) AS n_batches
    FROM nation
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: schema evolution across ingest batches — batch 1 was written
    before the ``n_regionkey`` column existed, batch 2 after; a
    ``mergeSchema`` scan over both directories reconciles to the union
    schema (old rows read as NULL) while directory-style ``batch=N``
    paths become a discovered partition column.

    Scale note: ``mergeSchema`` reads every file footer at planning
    time; at petabyte file counts pin the evolved schema explicitly
    (or from a catalog) and keep partition discovery — the query shape
    (union schema + NULL backfill + partition column) is unchanged."""
    path = scratch_dir(_sf_tag(sf_dir), "nation_evolving")
    nation = tbl(spark, sf_dir, "nation")
    nation.select("n_nationkey", "n_name").write.mode("overwrite").parquet(
        f"{path}/batch=1"
    )
    nation.select("n_nationkey", "n_name", "n_regionkey").write.mode(
        "overwrite"
    ).parquet(f"{path}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_regionkey").alias("n_with_region"),
        F.countDistinct("batch").alias("n_batches"),
    )


@register(
    "source_binaryfile_meta",
    oracle="""
    SELECT 'nation_' || n_nationkey || '.bin' AS file_name,
           CAST(LENGTH(n_name || ':' || n_nationkey) AS BIGINT) AS n_bytes,
           hex(n_name || ':' || n_nationkey) AS content_hex
    FROM nation
    ORDER BY file_name
    """,
)
def source_binaryfile_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+: the ``binaryFile`` datasource — the ingestion boundary for
    multimodal corpora (images/audio land as whole-file ``binary`` rows
    with path/length metadata, then flow into the mapInPandas decode
    stage, multimodal/binary_ops.py). The query materializes one small
    file per nation row (fixed 25-row dim at every sf — the oracle can
    recompute the bytes from the table), scans them back with
    ``format("binaryFile")``, and must reproduce path, byte length, and
    the exact content bytes.

    Scale shape: binaryFile is a real FileFormat — distributed listing,
    one partition per (group of) files via maxPartitionBytes, column
    pruning (dropping ``content`` prunes the read to a stat-only scan).
    At 100 TB the files come from object storage; the driver-side write
    here is fixture scaffolding only (25 tiny files), not the operator.
    """
    path = os.path.dirname(scratch_dir("binaryfile_src", "files"))
    rows = (
        tbl(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect()  # fixed 25-row dim: scaffolding write, not the scan
    )
    os.makedirs(path, exist_ok=True)
    for r in rows:
        payload = f"{r['n_name']}:{r['n_nationkey']}".encode()
        with open(os.path.join(path, f"nation_{r['n_nationkey']}.bin"), "wb") as fh:
            fh.write(payload)
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    return scanned.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.hex(F.col("content")).alias("content_hex"),
    ).orderBy("file_name")


@register(
    "source_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           (CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/J6 scale path as a registered query: both join sides are
    written ``bucketBy(8, orderkey)`` + sorted (external tables in the
    repo scratch area), so the fact-to-fact join plans with NO Exchange
    on either side — the layout pays the shuffle once at write time
    (sources/bucketing.py; shuffle absence asserted in
    tests/test_bucketing.py). The aggregate on top uses the standard
    exact-decimal accumulation so the oracle matches bit-for-bit.

    Only the final, tiny groupBy shuffles."""
    from rpa_etl_investing_spark.sources.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    import threading

    tag = _sf_tag(sf_dir)
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    # Catalog table names are keyed by the calling THREAD, mirroring the
    # scratch paths (r9, ADVICE item #1): with a session-global name,
    # a second thread's DROP TABLE IF EXISTS + saveAsTable could drop or
    # re-point the table between this thread's write and its LAZY
    # spark.table() readback (TABLE_OR_VIEW_NOT_FOUND / FileNotFound).
    # Same growth bound as scratch_dir: idents are reused, and a reused
    # ident only overwrites a table whose owner thread is gone.
    tid = f"t{threading.get_ident()}"
    lt = f"bq_lineitem_{tag}_{tid}".replace(".", "_")
    rt = f"bq_orders_{tag}_{tid}".replace(".", "_")
    write_bucketed(
        li, lt, ["l_orderkey"], 8, ["l_orderkey"],
        path=os.path.dirname(scratch_dir(tag, "bucketed", lt, "files")),
    )
    write_bucketed(
        od, rt, ["l_orderkey"], 8, ["l_orderkey"],
        path=os.path.dirname(scratch_dir(tag, "bucketed", rt, "files")),
    )
    joined = bucketed_join(spark, lt, rt, ["l_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(27,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


@register(
    "source_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN l_quantity > 45 THEN 1 END) AS BIGINT) AS n_high_qty,
           (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_qty
    FROM lineitem
    """,
)
def source_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+: single-pass pipeline metrics via ``df.observe()`` — the
    scale-correct way to account for what a load touched (row counts,
    quality counters, control sums) WITHOUT a second scan: the metrics
    accumulate on executors during the one write pass, exactly the
    fix for the reference's unobserved per-row inserts
    (``/root/reference/main.py:137-147``). The noop-format write is the
    action that materializes them; the returned single row is the
    metric payload itself (driver-side by construction — it is one
    row)."""
    from pyspark.sql import Observation

    li = tbl(spark, sf_dir, "lineitem")
    obs = Observation("load_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_quantity") > 45, 1)).alias("n_high_qty"),
        F.sum(F.col("l_quantity").cast("decimal(27,2)")).alias("sum_qty"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_high_qty"], float(m["sum_qty"]))],
        "n_rows bigint, n_high_qty bigint, sum_qty double",
    )


@register(
    "source_compaction",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def source_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+: small-files compaction — the 100 TB operational chore. A
    deliberately over-fragmented sink (64 files) is rewritten with
    ``repartition`` to a handful of right-sized files; the aggregate
    over the compacted layout must be bit-identical to the fixture
    (compaction moves bytes, never values). File counts before/after
    are asserted in tests/test_sources.py."""
    frag = scratch_dir(_sf_tag(sf_dir), "orders_fragmented")
    compact = scratch_dir(_sf_tag(sf_dir), "orders_compacted")
    orders = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    back = spark.read.parquet(compact)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "source_dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_price
    FROM orders
    WHERE o_orderstatus <> 'O' OR o_orderkey % 2 = 0
    GROUP BY o_orderstatus
    """,
)
def source_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+: dynamic partition overwrite — the incremental-load primitive.
    A full load writes orders partitioned by status; a correction batch
    containing ONLY status-'O' rows (even orderkeys, simulating a
    recomputed partition) is then written with
    ``partitionOverwriteMode=dynamic`` + ``mode(overwrite)``: Spark
    replaces exactly the partitions present in the batch and leaves the
    untouched 'F'/'P' partitions intact. The readback therefore shows
    full F/P plus even-key-only O — the oracle's WHERE clause.

    At 100 TB this is how a daily pipeline republishes one day out of a
    multi-year partitioned table without rewriting (or even listing) the
    other partitions; static overwrite mode would have truncated the
    whole table — that contrast is asserted in tests/test_sources.py."""
    base = scratch_dir(_sf_tag(sf_dir), "orders_dyn_overwrite")
    orders = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(base)

    correction = orders.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 2 == 0)
    )
    # per-write option, NOT the session conf: scoping the mode to this
    # DataFrameWriter keeps concurrent writers on the same session from
    # silently inheriting dynamic-overwrite semantics
    correction.write.option("partitionOverwriteMode", "dynamic").partitionBy(
        "o_orderstatus"
    ).mode("overwrite").parquet(base)

    back = spark.read.parquet(base)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "source_zorder_layout",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MIN(l_partkey) AS BIGINT) AS a_lo,
             CAST(MAX(l_partkey) AS BIGINT) AS a_hi,
             CAST(MIN(l_suppkey) AS BIGINT) AS b_lo,
             CAST(MAX(l_suppkey) AS BIGINT) AS b_hi
      FROM lineitem),
    bk AS (
      SELECT l_partkey, l_suppkey,
             CASE WHEN a_hi > a_lo
                  THEN (CAST(l_partkey AS BIGINT) - a_lo) * 15 // (a_hi - a_lo)
                  ELSE 0 END AS ab,
             CASE WHEN b_hi > b_lo
                  THEN (CAST(l_suppkey AS BIGINT) - b_lo) * 15 // (b_hi - b_lo)
                  ELSE 0 END AS bb
      FROM lineitem CROSS JOIN bounds),
    z AS (
      SELECT l_partkey, l_suppkey,
             ( ((ab >> 0) & 1) * 2   + ((bb >> 0) & 1) * 1
             + ((ab >> 1) & 1) * 8   + ((bb >> 1) & 1) * 4
             + ((ab >> 2) & 1) * 32  + ((bb >> 2) & 1) * 16
             + ((ab >> 3) & 1) * 128 + ((bb >> 3) & 1) * 64 ) AS zval
      FROM bk)
    SELECT CAST(zval // 16 AS BIGINT) AS z_range,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_partkey) AS BIGINT) AS part_lo,
           CAST(MAX(l_partkey) AS BIGINT) AS part_hi,
           CAST(MIN(l_suppkey) AS BIGINT) AS supp_lo,
           CAST(MAX(l_suppkey) AS BIGINT) AS supp_hi
    FROM z GROUP BY 1
    """,
)
def source_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+: Z-order clustering stats — Morton-interleave (l_partkey,
    l_suppkey) into 4+4-bit z-values (sources/zorder.py) and report the
    min/max footprint of BOTH dimensions per z-range. Tight per-range
    spans on both columns are exactly what make parquet min/max file
    pruning work for filters on either key after a z-ordered write;
    the file-level pruning contrast vs a linear sort is asserted in
    tests/test_sources.py. The z-value is a codegen'd integer
    expression (no UDF), so the layout pass is one projection + one
    range-partitioned write at any scale.

    The per-range footprint is one hash aggregate on the z-range."""
    from rpa_etl_investing_spark.sources.zorder import with_zvalue

    li = tbl(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    z = with_zvalue(li, "l_partkey", "l_suppkey", bits=4)
    return z.groupBy(
        F.expr("zval div 16").cast("bigint").alias("z_range")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("l_partkey").cast("bigint").alias("part_lo"),
        F.max("l_partkey").cast("bigint").alias("part_hi"),
        F.min("l_suppkey").cast("bigint").alias("supp_lo"),
        F.max("l_suppkey").cast("bigint").alias("supp_hi"),
    )


@register(
    "source_xml_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: write ``supplier`` through Spark 4's native XML source
    (rowTag records) and scan it back with an explicit schema — values
    survive the markup round-trip bit-exactly (the oracle reads the
    original parquet). XML is the interchange format the enterprise
    feeds the reference's domain (exchange/vendor data drops) still
    arrive in; an explicit schema keeps the scan single-pass — no
    sampling-based inference job over a 100 TB drop."""
    path = scratch_dir(_sf_tag(sf_dir), "supplier_xml")
    sup = tbl(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    sup.write.format("xml").option("rowTag", "supplier").mode("overwrite").save(path)
    schema = "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
    return (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(schema)
        .load(path)
    )


@register(
    "source_nested_struct_prune",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
    """,
)
def source_nested_struct_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+: nested-schema pruning — events are materialized with a
    nested ``meta`` struct (k, tag, v) in parquet, and the consumer
    reads ONE leaf with a filter on it. Spark must prune the scan to
    ``meta.k`` alone (ReadSchema shows just the leaf — asserted in
    tests/test_plans.py) and push the comparison down to the reader.
    At 100 TB wide nested payloads are the norm (request blobs, model
    metadata); reading one leaf instead of the whole struct is the
    column-pruning story extended inside the column."""
    base = scratch_dir(_sf_tag(sf_dir), "events_nested")
    ev = tbl(spark, sf_dir, "events")
    nested = ev.select(
        "event_id",
        F.struct(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            F.col("event_type").alias("tag"),
            F.col("value").alias("v"),
        ).alias("meta"),
    )
    nested.write.mode("overwrite").parquet(base)
    back = spark.read.parquet(base)
    return back.filter(F.col("meta.k") >= 50).select(
        "event_id", F.col("meta.k").alias("k")
    )


@register(
    "source_file_manifest",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def source_file_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+: file-manifest accounting through the hidden ``_metadata``
    struct — per-partition row counts and key ranges derived from the
    FILE PATHS the scan actually touched, not from the data's own
    partition column (which is deliberately not selected). This is the
    zone-map/manifest primitive: the same query pattern audits what a
    partitioned sink contains, file by file, without any external
    catalog. The oracle aggregates the logical table directly, so the
    match proves path-derived accounting equals data-derived truth.

    Scale shape: one aggregate over the manifest scan."""
    base = scratch_dir(_sf_tag(sf_dir), "orders_manifest")
    orders = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(base)
    back = spark.read.parquet(base).select(
        "o_orderkey",
        F.regexp_extract(
            F.col("_metadata.file_path"), r"o_orderstatus=([^/]+)/", 1
        ).alias("o_orderstatus"),
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


@register(
    "source_partition_checksums",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(
             (STRPOS('0123456789abcdef', SUBSTRING(md5(
                CAST(o_orderkey AS VARCHAR) || '|' ||
                CAST(o_custkey AS VARCHAR) || '|' ||
                CAST(CAST(o_totalprice AS DECIMAL(27,2)) AS VARCHAR)), 1, 1)) - 1) * 4096
           + (STRPOS('0123456789abcdef', SUBSTRING(md5(
                CAST(o_orderkey AS VARCHAR) || '|' ||
                CAST(o_custkey AS VARCHAR) || '|' ||
                CAST(CAST(o_totalprice AS DECIMAL(27,2)) AS VARCHAR)), 2, 1)) - 1) * 256
           + (STRPOS('0123456789abcdef', SUBSTRING(md5(
                CAST(o_orderkey AS VARCHAR) || '|' ||
                CAST(o_custkey AS VARCHAR) || '|' ||
                CAST(CAST(o_totalprice AS DECIMAL(27,2)) AS VARCHAR)), 3, 1)) - 1) * 16
           + (STRPOS('0123456789abcdef', SUBSTRING(md5(
                CAST(o_orderkey AS VARCHAR) || '|' ||
                CAST(o_custkey AS VARCHAR) || '|' ||
                CAST(CAST(o_totalprice AS DECIMAL(27,2)) AS VARCHAR)), 4, 1)) - 1)
           ) AS BIGINT) AS checksum
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def source_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+: content-addressed partition checksums — the cheap
    table-version diff: every row hashes its canonical column string to
    a 16-bit md5 value, and the per-partition SUM is an
    order-independent content fingerprint. Two published versions of a
    partitioned table can then be diffed partition-by-partition at
    manifest cost (compare one BIGINT per partition) instead of row
    cost; only partitions whose checksum moved need the full
    ``etl_snapshot_diff`` treatment. Row-hash summation commutes, so
    partitioning, task order, and file layout cannot change a
    checksum. Doubles canonicalize through DECIMAL before stringifying —
    raw double→string rendering diverges between engines once values
    reach scientific-notation territory; the decimal detour pins one
    textual form everywhere."""
    orders = tbl(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_totalprice").cast("decimal(27,2)").cast("string"),
    )
    h16 = F.conv(F.substring(F.md5(canon), 1, 4), 16, 10).cast("bigint")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(h16).cast("bigint").alias("checksum"),
    )


@register(
    "source_inverted_index",
    oracle="""
    WITH post AS (
      SELECT DISTINCT token, doc_id FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
        FROM documents)),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_terms_hit
      FROM post WHERE token IN ('query', 'window', 'merge')
      GROUP BY doc_id
      HAVING COUNT(*) = 3)
    SELECT h.doc_id, h.n_terms_hit, d.lang, d.n_chars
    FROM hits h JOIN documents d ON h.doc_id = d.doc_id
    ORDER BY h.doc_id
    """,
)
def source_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+/L4 gen: materialized inverted index + conjunctive keyword
    search — the secondary-index path a document engine needs once
    "find the docs containing all of X Y Z" stops being a full-text
    scan. The index is (token, doc_id) postings written to parquet
    PARTITIONED BY a hash bucket of the token, so a query's terms read
    only their buckets (partition pruning on the pushed bucket filter)
    instead of the whole index; the corpus text itself is never
    re-scanned at query time.

    The AND-semantics intersection is counting, not nested loops: read
    the query terms' postings, hash-aggregate per doc_id, keep docs
    hitting all |terms| — the classic document-at-a-time merge
    re-expressed as one aggregation, shuffling only (token, doc_id)
    pairs for the queried terms. The enrich join back to `documents` is
    keyed on doc_id. At 100 TB the index build is one explode +
    distinct (shuffle carries 8-byte ids + short tokens), and each
    search touches df(term) rows per term — never the corpus."""
    import os

    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    docs = tbl(spark, sf_dir, "documents")
    idx_path = scratch_dir(sf_tag, "inverted_index")
    post = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .distinct()
        .withColumn("bucket", F.abs(F.xxhash64("token")) % 16)
    )
    post.write.mode("overwrite").partitionBy("bucket").parquet(idx_path)

    terms = ["query", "window", "merge"]
    idx = spark.read.parquet(idx_path)
    term_lit = F.array(*[F.lit(t) for t in terms])
    hits = (
        idx.filter(
            (F.col("bucket").isin(*{abs(h) % 16 for h in _xxh_py(spark, terms)}))
            & F.array_contains(term_lit, F.col("token"))
        )
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_terms_hit"))
        .filter(F.col("n_terms_hit") == len(terms))
    )
    return (
        hits.join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
        .select("doc_id", "n_terms_hit", "lang", "n_chars")
        .orderBy("doc_id")
    )


def _xxh_py(spark: SparkSession, terms: list[str]) -> list[int]:
    """xxhash64 of each literal term, evaluated JVM-side once (a 1-row
    local relation — no data scan), so the bucket filter can be a
    pushdown-able literal IN-list."""
    row = (
        spark.range(1)
        .select(*[F.xxhash64(F.lit(t)).alias(f"h{i}") for i, t in enumerate(terms)])
        .head()
    )
    return [row[i] for i in range(len(terms))]


@register(
    "source_phrase_search",
    oracle="""
    WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    b AS (
      SELECT doc_id, s['w1'] AS w1, s['w2'] AS w2 FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(2, LEN(t) + 1),
                                     i -> {'w1': t[i-1], 'w2': t[i]})) AS s
        FROM d WHERE LEN(t) >= 2))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM b WHERE w1 = 'window' AND w2 = 'join'
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def source_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S20 gen: exact-phrase search over a POSITIONAL index — the
    adjacency step that turns the inverted index's bag-of-words
    AND-search into "these words, consecutively". Postings carry
    (doc_id, pos) from `posexplode`; each phrase term's postings are
    thinned FIRST (the filter reaches the scan side of the explode, so
    only the phrase's two terms ever shuffle), then adjacency is one
    equi-join on (doc_id, next_pos == pos) — the standard
    positional-index phrase merge, never a substring scan of the
    corpus. The oracle independently recounts via the bigram-array
    derivation. At 100 TB the join's inputs are df(term) rows per term
    — document text is never re-read or re-scanned at query time."""
    docs = tbl(spark, sf_dir, "documents")
    w1, w2 = "window", "join"
    pos = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    a = pos.filter(F.col("token") == w1).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = pos.filter(F.col("token") == w2).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    hits = a.join(
        b,
        (a["doc_id"] == b["doc_id"]) & (F.col("pos_b") == F.col("pos_a") + 1),
    ).select(a["doc_id"])
    return (
        hits.groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
        .orderBy("doc_id")
    )


@register(
    "source_generator_range",
    oracle="""
    SELECT CAST(i AS BIGINT) AS id,
           CAST(i % 7 AS BIGINT) AS bucket,
           CAST(('0x' || SUBSTRING(md5(CAST(i AS VARCHAR)), 1, 8))::BIGINT
                AS BIGINT) AS h32,
           CAST(SUM(i) OVER () AS BIGINT) AS checksum
    FROM range(0, 10000) t(i)
    QUALIFY i % 1000 = 0
    ORDER BY i
    """,
)
def source_generator_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family: the zero-input GENERATOR source — `spark.range` is the
    table-function source every synthetic-data / backfill / spine job
    starts from (Spark plans it as a parallel Range operator with
    pushed-down start/step, no file I/O at all; the engine-portable
    md5-prefix uniform is the same derivation used by the sampling
    operators). The oracle is DuckDB's range() table function with the
    identical hash derivation — proving the generated content, not just
    the row count. The global checksum rides along to pin the UNSAMPLED
    stream (every one of the 10k rows contributes), while the output is
    thinned to every 1000th row so the compare stays tiny at any
    generator size."""
    r = spark.range(0, 10000).select(F.col("id"))
    full = r.select(
        "id",
        (F.col("id") % 7).cast("bigint").alias("bucket"),
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h32"),
    )
    tot = full.agg(F.sum("id").cast("bigint").alias("checksum"))
    return (
        full.filter(F.col("id") % 1000 == 0)
        .crossJoin(F.broadcast(tot))
        .select("id", "bucket", "h32", "checksum")
        .orderBy("id")
    )


@register(
    "source_manifest_time_travel",
    oracle="""
    SELECT 1 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_price
    FROM orders WHERE o_orderdate < DATE '1996-01-01'
    UNION ALL
    SELECT 2 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_price
    FROM orders
    ORDER BY version
    """,
)
def source_manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family: snapshot isolation + time travel on PLAIN parquet via
    versioned file manifests — the minimal form of what Delta/Iceberg
    transaction logs provide (SURVEY §7.4 names Delta as the production
    answer; this shows the mechanism is just 'readers pick files
    through an immutable manifest, never by listing the directory').
    Version 1 lands the pre-1996 orders; version 2 appends the rest and
    writes a NEW manifest referencing old+new files — the v1 manifest
    is never touched, so a v1 reader is isolated from the append (the
    two-phase-publish guarantee, extended to history). The query reads
    BOTH versions through their manifests and aggregates each; the
    oracle derives the same two snapshots from the cutoff predicate,
    proving manifest-selected bytes == logical snapshots.

    At 100 TB: manifests list files, not rows — a version read costs
    O(files in snapshot) metadata + a parquet scan of exactly those
    files, and concurrent appends never disturb pinned readers."""
    import json
    import os

    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    base = scratch_dir(sf_tag, "time_travel")
    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    v1_dir, v2_dir = os.path.join(base, "batch1"), os.path.join(base, "batch2")
    o.filter(F.col("o_orderdate") < F.lit("1996-01-01")).write.mode(
        "overwrite"
    ).parquet(v1_dir)
    o.filter(F.col("o_orderdate") >= F.lit("1996-01-01")).write.mode(
        "overwrite"
    ).parquet(v2_dir)

    def _files(d: str) -> list[str]:
        return sorted(
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    os.makedirs(os.path.join(base, "_manifests"), exist_ok=True)
    manifests = {1: _files(v1_dir), 2: _files(v1_dir) + _files(v2_dir)}
    for v, files in manifests.items():
        with open(os.path.join(base, "_manifests", f"v{v}.json"), "w") as fh:
            json.dump({"version": v, "files": files}, fh)

    outs = []
    for v in (1, 2):
        with open(os.path.join(base, "_manifests", f"v{v}.json")) as fh:
            snap = json.load(fh)
        df = spark.read.parquet(*snap["files"])
        outs.append(
            df.agg(
                F.lit(v).alias("version"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
                .cast("double")
                .alias("sum_price"),
            ).select("version", "n_rows", "sum_price")
        )
    return outs[0].unionByName(outs[1]).orderBy("version")


@register(
    "source_csv_multiline_quoted",
    oracle="""
    SELECT doc_id,
           REPLACE(text, ' ', CHR(10)) AS gnarly,
           CAST(LENGTH(REPLACE(text, ' ', CHR(10))) AS BIGINT) AS n_chars
    FROM documents WHERE doc_id % 20 = 0
    """,
)
def source_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+ (r6): CSV with EMBEDDED NEWLINES round-trip — the format
    corner that silently corrupts naive pipelines: a quoted field
    containing record separators spans physical lines, so the default
    line-splitting reader shreds it into garbage rows. Every 20th
    document's spaces become newlines (a worst-case multi-line value),
    written as quoted CSV and read back with ``multiLine=true``; the
    oracle derives the same strings from the parquet source, so the
    match proves byte-exact field recovery through quote/escape
    handling.

    Scale note (why this is an S-row, not a triviality):
    ``multiLine=true`` is the one CSV mode Spark CANNOT split by
    line boundaries — record boundaries are quote-context-dependent,
    so each FILE becomes one split. The write therefore controls
    parallelism by file count (the repartition here), and at 100 TB
    multi-line CSV ingestion parallelizes across many modest files or
    not at all — the reason columnar formats win the interchange
    argument."""
    path = scratch_dir(_sf_tag(sf_dir), "docs_multiline_csv")
    docs = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select(
            "doc_id",
            F.regexp_replace("text", " ", "\n").alias("gnarly"),
        )
    )
    docs.repartition(4).write.mode("overwrite").csv(
        path, header=True, quoteAll=True
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("gnarly", T.StringType()),
        ]
    )
    back = spark.read.csv(path, header=True, schema=schema, multiLine=True)
    return back.select(
        "doc_id", "gnarly", F.length("gnarly").cast("bigint").alias("n_chars")
    )
