"""Winnowing fingerprint selection (operators/text.py, r6).

Pins the MOSS guarantee the operator exists for — any shared substring
of length ≥ w + k − 1 shares at least one selected fingerprint — plus
the degenerate short-document cases and the optimizer-barrier
regression (explode over the raw expression hangs Catalyst's
InferFiltersFromGenerate; the registry query must go through the
checkpoint barrier)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rpa_etl_investing_spark.operators.text import winnowing_fingerprints

K, W = 8, 4
GUARANTEE_LEN = W + K - 1  # 11 chars


def _collect(spark, rows):
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    return {
        r["doc_id"]: r
        for r in winnowing_fingerprints(docs, k=K, w=W).collect()
    }


def test_moss_guarantee_shared_substring_shares_fingerprint(spark):
    shared = "abcdefghijk"  # exactly w + k − 1 = 11 chars
    assert len(shared) == GUARANTEE_LEN
    out = _collect(
        spark,
        [
            (1, f"xxxx{shared}yyyyyyyy"),
            (2, f"zzzzzzzzz{shared}qq"),
        ],
    )
    s1 = set(out[1]["selected"])
    s2 = set(out[2]["selected"])
    assert s1 & s2, "docs sharing an 11-char substring must share a fingerprint"


def test_disjoint_alphabet_docs_share_nothing(spark):
    out = _collect(
        spark,
        [(1, "aaaabbbbccccdddd"), (2, "mmmmnnnnooooqqqq")],
    )
    assert not (set(out[1]["selected"]) & set(out[2]["selected"]))


def test_selection_density_and_membership(spark):
    text = "the quick brown fox jumps over the lazy dog" * 3
    out = _collect(spark, [(1, text)])
    row = out[1]
    n_h = len(text) - K + 1
    assert row["n_kgrams"] == n_h
    # every selected value is a window minimum => a real k-gram hash,
    # and selection is a strict subsample of positions
    assert 0 < len(row["selected"]) <= n_h - W + 1


def test_short_documents(spark):
    out = _collect(
        spark,
        [
            (1, "abc"),          # shorter than k → nothing selected
            (2, "abcdefghi"),    # 2 hashes < w → single global min
        ],
    )
    assert out[1]["n_kgrams"] == 0 and out[1]["selected"] == []
    assert out[2]["n_kgrams"] == 2 and len(out[2]["selected"]) == 1


def test_registry_query_plans_and_answers(spark, sf_dir):
    """Regression: the registered query must remain plannable on a
    bare-config session path — explode() straight over the winnowing
    expression hangs the optimizer (InferFiltersFromGenerate clones
    the HOF tree into inferred filters); the checkpoint barrier in the
    registry query is what keeps the Generate's child a leaf."""
    from rpa_etl_investing_spark.plans.registry import QUERIES

    df = QUERIES["llm_winnowing_fingerprints"].fn(spark, sf_dir)
    # explain() returning at all IS the regression assertion
    df.explain("formatted")
    rows = df.limit(5).collect()
    assert rows and all(r["n_selected"] >= 0 for r in rows)


def test_hash_sweep_appears_once_in_optimized_plan(spark):
    """Regression pin for the let-binding fix: the O(n·k) rolling-hash
    sweep must appear exactly ONCE in the optimized plan's expressions.
    The old two-Project form let CollapseProject substitute it into
    every window-min slice (quadratic per document, measured); the
    let-binding form (`transform(array(hashes), _w -> ...)`) plus the
    closed-form k-gram count keep a single occurrence."""
    docs = spark.createDataFrame([(1, "abcdefghijklmnop")], ["doc_id", "text"])
    df = winnowing_fingerprints(docs, k=K, w=W)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # one sweep = exactly 2 textual occurrences (the fold's init value
    # + its step lambda); the quadratic form showed 4+ (one sweep per
    # referencing expression)
    assert plan.count("ascii(substring") == 2, plan
