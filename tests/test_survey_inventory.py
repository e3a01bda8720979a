"""SURVEY.md §2's inventory header must equal the tables (r6 verdict #6).

The blueprint is the contract a fresh context builds from; r5 shipped a
duplicate-A32 ID and r6 shipped a header total (227) that neither its own
per-section list (222) nor the mechanical table-row count (224) supported.
This test makes the header a derived artifact: it re-counts every §2
subsection's table rows, parses the `§2.N = K` pairs and the bold totals
out of the header, and fails on any drift — including the registry-size
claim, which is asserted against the live ``plans.QUERIES``.

No SparkSession needed: pure text parsing + a registry import.
"""

from __future__ import annotations

import os
import re

import pytest

SURVEY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SURVEY.md")


def _section2() -> str:
    text = open(SURVEY, encoding="utf-8").read()
    start = text.index("## 2. Operator inventory")
    end = text.index("\n## 3")
    return text[start:end]


def _table_row_counts(s2: str) -> dict[str, int]:
    """Count data rows (not headers/separators) per ### 2.N subsection."""
    parts = re.split(r"\n### (2\.\d+)", s2)
    counts: dict[str, int] = {}
    for i in range(1, len(parts), 2):
        sec, body = parts[i], parts[i + 1]
        lines = body.splitlines()
        n = 0
        for j, ln in enumerate(lines):
            if not ln.startswith("|"):
                continue
            if re.match(r"\|[\s:|-]+$", ln.strip()):
                continue  # separator row
            if j + 1 < len(lines) and re.match(
                r"\|[\s:|-]+$", lines[j + 1].strip()
            ):
                continue  # header row (next line is the separator)
            n += 1
        counts[sec] = n
    return counts


def _header_claims(s2: str) -> tuple[dict[str, int], int, int]:
    header = s2[: s2.index("### 2.1")]
    pairs = {
        f"2.{m.group(1)}": int(m.group(2))
        for m in re.finditer(r"§2\.(\d+) = (\d+)", header)
    }
    total_m = re.search(r"\*\*(\d+) operators total\*\*", header)
    reg_m = re.search(r"one or more of the \*\*(\d+)\*\*", header)
    assert total_m and reg_m, "header totals not parseable"
    return pairs, int(total_m.group(1)), int(reg_m.group(1))


def test_survey_inventory_header_matches_tables():
    s2 = _section2()
    actual = _table_row_counts(s2)
    claimed, total, _ = _header_claims(s2)
    assert claimed == actual, (
        f"header per-section counts drifted from the tables: "
        f"claimed={claimed} actual={actual}"
    )
    assert total == sum(actual.values()), (
        f"header total {total} != sum of per-section rows "
        f"{sum(actual.values())}"
    )


def test_survey_registry_count_matches_live_registry():
    import rpa_etl_investing_spark.plans as plans

    _, _, claimed_registry = _header_claims(_section2())
    assert claimed_registry == len(plans.QUERIES), (
        f"SURVEY header claims {claimed_registry} registry queries; "
        f"plans.QUERIES has {len(plans.QUERIES)}"
    )


def test_survey_every_named_query_exists():
    """Every `llm_*`/`agg_*`/... backtick token in §2 that looks like a
    registry query name must actually be registered — stale names in
    the blueprint are how a fresh context wastes its first hour."""
    import rpa_etl_investing_spark.plans as plans

    s2 = _section2()
    prefixes = (
        "llm_", "agg_", "analytics_", "curation_", "timeseries_",
        "stream_", "source_", "etl_", "multimodal_", "profile_",
        "window_", "join_", "filter_", "projection_", "asof_",
        "pivot_", "unpivot_", "explode_", "dim_", "skew_", "locale_",
        "map_", "scalar_", "udf_", "set_",
    )
    named = {
        m.group(1)
        for m in re.finditer(r"`([a-z0-9_]+)`", s2)
        if m.group(1).startswith(prefixes)
    }
    missing = {n for n in named if n not in plans.QUERIES}
    # tokens sharing a query prefix that are legitimately NOT queries:
    # operator/helper function names and pyspark builtins cited in the
    # Spark-mapping column
    if missing:
        import importlib
        import pkgutil

        import pyspark.sql.functions as psf

        import rpa_etl_investing_spark.operators as ops_pkg
        import rpa_etl_investing_spark.streaming as streaming_pkg

        known: set[str] = set(dir(psf)) | set(dir(streaming_pkg))
        for mod in pkgutil.iter_modules(ops_pkg.__path__):
            m = importlib.import_module(
                f"rpa_etl_investing_spark.operators.{mod.name}"
            )
            known |= set(dir(m))
        missing = {n for n in missing if n not in known}
    assert not missing, f"SURVEY §2 names unregistered queries: {sorted(missing)}"
