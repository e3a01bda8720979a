"""The session keeps compiled generated code across queries: a query shape
that comes back reuses its classes instead of recompiling them."""

from __future__ import annotations

from perfbench.workloads import LLM_QUERIES
from rpa_etl_investing_spark.plans import QUERIES
from rpa_etl_investing_spark.session import CODEGEN_CACHE_ENTRIES, codegen_stats

# a repeated round may still meet a few shapes of its own (a broadcast
# decided differently at run time), but not a whole round's ~200 classes
MAX_REPEAT_COMPILES = 10


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_repeated_queries_reuse_compiled_code(spark, sf_dir):
    def run_round() -> int:
        before = codegen_stats(spark)[0]
        for name in LLM_QUERIES:
            spark.catalog.clearCache()
            QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return codegen_stats(spark)[0] - before

    run_round()  # compiles whatever earlier tests left uncached
    assert codegen_stats(spark)[0] > 0, "no compile counted: the counter is not read"
    assert run_round() <= MAX_REPEAT_COMPILES
