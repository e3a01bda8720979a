"""The benchmark's own checks, on tiny inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import pytest

from perfbench import gen
from perfbench import run as bench

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


def test_spec_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(bench.WORKLOADS)


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_every_metric_reported_with_unit(tiny, tmp_path, monkeypatch, workload):
    monkeypatch.setattr(tiny, "OUT", str(tmp_path))
    if workload != "etl_load":
        bench.run(workload, 0, 0, False, record=True)
    for trace, section in ((False, "end_to_end"), (True, "per_layer")):
        out = bench.run(workload, 0, 0, trace)
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
        assert {k: v["unit"] for k, v in out["metrics"].items()} == _units(section)
        assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    assert os.path.exists(tmp_path / f"{workload}-seed0.trace.json")
    layers = {k: v["value"] for k, v in out["metrics"].items()}
    python = [layers[k] for k in layers if k.startswith("operators.python")]
    if workload == "olap_star":
        assert python == [0, 0, 0]  # the relational mix bypasses Python workers
    if workload == "llm_curation_10x":
        assert all(v > 0 for v in python)
    if workload == "etl_load":
        assert layers["etl.load_s"] > 0 and layers["etl.files_written"] > 0


def test_corrupted_golden_is_a_failure_not_an_error(tiny):
    bench.run("olap_star", 0, 0, False, record=True)
    with open(tiny.GOLDENS, encoding="utf-8") as f:
        goldens = json.load(f)
    table = goldens["olap_star"]
    rows, checksum = table["flagship_topk"]
    table["flagship_topk"] = [rows, str(int(checksum) + 1)]
    with open(tiny.GOLDENS, "w", encoding="utf-8") as f:
        json.dump(goldens, f)

    out = bench.run("olap_star", 0, 0, False)
    assert out["correct"] is False
    assert out["attempted"] == len(tiny.OLAP_QUERIES)
    assert out["failed"] == 1
    assert out["metrics"]["mix_s"]["value"] > 0


def test_traced_layers_cover_query_wall(tiny, tmp_path, monkeypatch):
    monkeypatch.setattr(tiny, "OUT", str(tmp_path))
    bench.run("llm_curation_10x", 0, 0, False, record=True)
    bench.run("llm_curation_10x", 0, 0, True)
    with open(tmp_path / "llm_curation_10x-seed0.trace.json", encoding="utf-8") as f:
        spans = json.load(f)["spans"]
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return s["end"] - s["start"]

    roots = [s for s in spans if s["name"] == "query"]
    assert len(roots) == len(tiny.LLM_QUERIES)
    for root in roots:
        wall = dur(root)
        mine = [s for s in spans if s["qid"] == root["qid"]]
        assert {"plans.construct", "exec", "catalyst.optimization"} <= {s["name"] for s in mine}
        # time the query spent in no layer at all
        unattributed = wall - sum(dur(s) for s in mine if s["parent"] == root["id"])
        assert unattributed <= 0.05 * wall, (root["qid"], unattributed, wall)
        # Spark's own Catalyst phase times must fall inside the layer span
        # they are attributed to; what clamping cuts off was misattributed
        # (phases are reported in whole milliseconds)
        catalyst = [s for s in mine if s["name"].startswith("catalyst.")]
        clipped = sum(s["measured"] - dur(s) for s in catalyst)
        assert clipped <= 0.05 * wall + 0.001 * len(catalyst), (root["qid"], clipped, wall)
        for s in catalyst:
            assert s["measured"] <= dur(by_id[s["parent"]]) + 0.001, (root["qid"], s)


def test_etl_oracle_rejects_exactly_the_injected_rows(tmp_path):
    rows = gen.scrape_batch(str(tmp_path / "b.ndjson"), seed=7, batch_no=2, rows=3_000, bad_cell_share=0.05)
    cells = ("valor_atual_raw", "maxima_raw", "minima_raw", "variacao_raw")
    injected = sum(any(r[c] in gen.BAD_CELLS for c in cells) for r in rows)
    assert injected > 0
    oracle = gen.EtlOracle()
    got = oracle.load(rows)
    assert got["rejected_rows"] == injected
    assert got["clean_rows"] + injected == len(rows)
    top = oracle.flagship()
    assert len(top) == 10 and all(t[1] in ("China", "EUA") for t in top)
    assert [t[3] for t in top] == sorted((t[3] for t in top), reverse=True)
    with open(tmp_path / "b.ndjson", encoding="utf-8") as f:
        assert [json.loads(line) for line in f] == rows


def test_brazilian_cells_round_trip():
    assert gen.parse_br_number(gen._br_number(128594.07)) == 128594.07
    assert gen.parse_br_percent(gen._br_percent(-0.47)) == -0.47
    assert gen.parse_br_number("1.234") == 1234.0
    assert all(gen.parse_br_number(c) is None for c in gen.BAD_CELLS)
