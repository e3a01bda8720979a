from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture
def tiny(monkeypatch, tmp_path_factory):
    """Shrink every workload input to sf0.001 scale so a run takes
    seconds, and keep the built inputs and goldens out of the benchmark's
    own files."""
    from perfbench import workloads as w

    monkeypatch.setattr(w, "CACHE", str(tmp_path_factory.getbasetemp() / "cache"))
    monkeypatch.setattr(w, "GOLDENS", str(tmp_path_factory.getbasetemp() / "goldens.json"))
    monkeypatch.setattr(w, "OLAP_DIR", w.WARM_DIR)
    monkeypatch.setattr(w, "LLM_SRC", w.WARM_DIR)
    monkeypatch.setattr(w, "LLM_COPIES", 2)
    monkeypatch.setattr(w, "ETL_ROWS", 2_000)
    monkeypatch.setattr(w, "ETL_BATCHES", 2)
    return w
