"""Driver-environment regression test (r1 verdict item #1).

The correctness driver hands ``queries()`` its OWN vanilla SparkSession —
none of the confs from ``session.get_spark()`` are set. Round 1's only hard
failure was exactly this class of bug: ``events.parquet`` stores
TIMESTAMP(NANOS), readable only with ``spark.sql.legacy.parquet.nanosAsLong``,
which only the repo's factory set — so every events-touching query crashed
driver-side while all local tests were green.

This test reproduces the driver: a subprocess with a bare
``SparkSession.builder.master(...).getOrCreate()`` (zero repo confs) runs
every events-touching query plus the entry smoke. It must stay a subprocess —
inside pytest's JVM, ``getOrCreate`` would return the already-tuned session
and mask exactly the bug class this guards against.
"""

from __future__ import annotations

import pytest

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Every registry query that reads the events table (timestamp layout varies
# by fixture generation — see catalog.normalize_events_ts), per
# `grep '"events"' rpa_etl_investing_spark/plans/*.py` — keep in sync.
EVENTS_QUERIES = [
    "agg_kll_quantiles",
    "agg_sketch_rollup",
    "analytics_event_funnel",
    "analytics_retention_cohorts",
    "asof_join_last_purchase",
    "asof_join_next_purchase",
    "etl_scd2_history",
    "json_variant_extract",
    "stream_upsert_journal",
    "timeseries_max_drawdown",
    "timeseries_rolling_volatility",
    "stream_stateful_running_totals",
    "json_funcs",
    "json_struct_agg",
    "stream_dedup",
    "stream_interval_join",
    "stream_late_data",
    "stream_session_window",
    "stream_sliding_window",
    "stream_tumbling_window",
    "timeseries_gap_fill_locf",
    "timeseries_gap_fill_locf_derived",
    "timeseries_ohlc_resample",
    "udf_cogroup_user_activity",
]

_CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[4]").appName("bare-driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as contract

out = {{}}
out["__entry__"] = len(contract.entry(spark).collect())
qs = contract.queries()
for name in {names!r}:
    # A fresh session (runtime confs at their defaults) per query: a conf
    # set by an earlier query's tbl() call (e.g. parquet nanosAsLong)
    # would mask a later query that forgot to set it for its own raw reads.
    fresh = spark.newSession()
    try:
        out[name] = qs[name](fresh, {sf_dir!r}).count()
    except Exception as e:  # noqa: BLE001
        out[name] = f"ERROR {{type(e).__name__}}: {{e}}"
print("RESULT:" + json.dumps(out))
"""


@pytest.mark.slow
def test_events_queries_on_bare_session(sf_dir):
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO, names=EVENTS_QUERIES, sf_dir=sf_dir)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert proc.returncode == 0 and lines, (
        f"bare-session subprocess failed rc={proc.returncode}\n"
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-2000:]}"
    )
    out = json.loads(lines[0][len("RESULT:"):])
    errors = {k: v for k, v in out.items() if isinstance(v, str)}
    assert not errors, f"queries failed on a vanilla SparkSession: {errors}"
    assert out["__entry__"] > 0, "entry() returned 0 rows"
