"""k-word shingles (operators/dedup.py ``shingles_sql`` / ``shingles``).

Pins the shingle strings against a plain-Python reference on the
degenerate inputs a corpus contains somewhere, and pins the expression
shape: the document is split once per row, not once per reference
inside the interpreted ``transform`` lambda."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rpa_etl_investing_spark.operators.dedup import shingles, shingles_sql

TEXTS = [
    "",  # empty text: one empty token
    "solo",  # fewer than k tokens for k = 2 and 3
    "one two",  # exactly k tokens for k = 2
    "one two three",  # exactly k tokens for k = 3
    "a  b   c d ",  # consecutive and trailing spaces: empty tokens
    "ação já é preço — 株価 上昇 📈 ok",  # non-ASCII
]


def reference_shingles(text: str, k: int) -> list[str]:
    # Spark's split(text, ' ') keeps empty and trailing tokens, as
    # Python's str.split(' ') does.
    toks = text.split(" ")
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


@pytest.mark.parametrize("k", [2, 3])
def test_shingles_match_python_reference(spark, k):
    docs = spark.createDataFrame(list(enumerate(TEXTS)), "doc_id int, text string")
    out = docs.select(
        "doc_id",
        shingles("text", k).alias("col_form"),
        F.expr(shingles_sql("text", k)).alias("sql_form"),
    ).collect()
    assert len(out) == len(TEXTS)
    for r in out:
        want = reference_shingles(TEXTS[r.doc_id], k)
        assert r.col_form == want, (TEXTS[r.doc_id], r.col_form, want)
        assert r.sql_form == want, (TEXTS[r.doc_id], r.sql_form, want)


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _walk(node):
    yield node
    for child in _children(node):
        yield from _walk(child)


@pytest.mark.parametrize("k", [2, 3])
def test_shingles_split_text_once(spark, k):
    """The optimized plan's generator holds exactly one StringSplit:
    the token array is bound once per row as a lambda variable, so no
    optimizer rule substitutes the split back into each reference."""
    # a non-local source, so the optimizer cannot fold the plan away
    docs = spark.range(4).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    ex = docs.selectExpr("doc_id", f"explode({shingles_sql('text', k)}) AS sh")
    plan = ex._jdf.queryExecution().optimizedPlan()
    generates = [n for n in _walk(plan) if n.nodeName() == "Generate"]
    assert len(generates) == 1
    names = [e.nodeName() for e in _walk(generates[0].generator())]
    assert names.count("StringSplit") == 1, names
