"""``scripts/probe.py`` reports what a direct checksum collect returns,
and writes nothing."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from perfbench.trace import Tracer
from perfbench.workloads import Run, checksum
from rpa_etl_investing_spark.plans import QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _probe_module():
    spec = importlib.util.spec_from_file_location("probe", os.path.join(ROOT, "scripts", "probe.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("name", ["flagship_topk", "llm_exact_dedup"])
def test_probe_line_matches_direct_checksum(spark, sf_dir, tmp_path, name):
    scale_md = os.path.join(ROOT, "SCALE.md")
    with open(scale_md, "rb") as f:
        before = f.read()
    run = Run("probe", 0, 0.0, True, str(tmp_path), spark=spark, tracer=Tracer())
    try:
        line = _probe_module().probe(run, name, sf_dir)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    row = checksum(QUERIES[name].fn(spark, sf_dir)).collect()[0]
    assert [line["rows"], line["checksum"]] == [row["n"], str(row["h"])]
    assert "exchanges" in line["counters"] and line["counters"]["jobs"] > 0, line["counters"]
    assert json.loads(json.dumps(line)) == line
    with open(scale_md, "rb") as f:
        assert f.read() == before
