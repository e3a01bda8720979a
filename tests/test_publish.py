"""Two-phase atomic publish (sources/publish.py): a reader must never
observe a half-published snapshot — the parquet-native replacement for
the transactional COMMIT the reference got from Postgres."""

from __future__ import annotations

import os

import pytest

from rpa_etl_investing_spark.sources.publish import (
    _pointer_path,
    commit_snapshot,
    committed_version,
    publish_snapshot,
    read_published,
    snapshot_dir,
    stage_snapshot,
    vacuum_versions,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_reader_never_sees_uncommitted_stage(spark, tmp_path):
    """The torn-publish scenario: v2 is fully staged (files on disk)
    but the writer crashed before the pointer swap. Every read must
    still return v1, complete and unchanged — not v2, not a mix."""
    table = str(tmp_path / "t")
    v1 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    assert publish_snapshot(v1, table) == 1
    assert _rows(read_published(spark, table)) == {(1, "a"), (2, "b"), (3, "c")}

    v2 = spark.createDataFrame([(1, "a2"), (4, "d")], ["k", "v"])
    stage_snapshot(v2, table, 2)  # phase 1 only — simulated crash
    assert os.path.isdir(snapshot_dir(table, 2))  # the files DO exist
    # ... but the committed view is still v1, in full
    assert committed_version(table) == 1
    assert _rows(read_published(spark, table)) == {(1, "a"), (2, "b"), (3, "c")}

    commit_snapshot(table, 2)  # recovery: one atomic swap
    assert _rows(read_published(spark, table)) == {(1, "a2"), (4, "d")}


def test_inflight_reader_keeps_consistent_view(spark, tmp_path):
    """A DataFrame resolved before a publish is pinned to its immutable
    snapshot dir: a later publish cannot change what it scans."""
    table = str(tmp_path / "t")
    publish_snapshot(
        spark.createDataFrame([(1, "old")], ["k", "v"]), table
    )
    inflight = read_published(spark, table)
    publish_snapshot(
        spark.createDataFrame([(1, "new"), (2, "new")], ["k", "v"]), table
    )
    assert _rows(inflight) == {(1, "old")}
    assert _rows(read_published(spark, table)) == {(1, "new"), (2, "new")}


def test_partitioned_publish_is_all_or_nothing(spark, tmp_path):
    """Partitioned snapshots commit as a unit: after staging a batch
    that rewrites only one partition's content, readers of the
    committed version still see every partition of v1; after commit
    they see every partition of v2 — no per-partition tearing."""
    table = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b")], ["v", "k"]
    )
    publish_snapshot(v1, table, partition_by=["k"])
    v2 = spark.createDataFrame([(9, "a"), (3, "b"), (4, "b")], ["v", "k"])
    stage_snapshot(v2, table, 2, partition_by=["k"])
    got = _rows(read_published(spark, table).select("v", "k"))
    assert got == {(1, "a"), (2, "a"), (3, "b"), (4, "b")}
    commit_snapshot(table, 2)
    got = _rows(read_published(spark, table).select("v", "k"))
    assert got == {(9, "a"), (3, "b"), (4, "b")}


def test_publish_after_uncommitted_stage_replaces_it(spark, tmp_path):
    """A crash between stage and commit leaves an uncommitted ``v=2``.
    The next publish derives version 2 again and must replace it, not
    fail on the non-empty directory: no reader can name a version above
    the pointer."""
    table = str(tmp_path / "t")
    publish_snapshot(spark.createDataFrame([(1, "a")], ["k", "v"]), table)
    stage_snapshot(spark.createDataFrame([(2, "lost")], ["k", "v"]), table, 2)
    assert committed_version(table) == 1

    new = spark.createDataFrame([(3, "b"), (4, "c")], ["k", "v"])
    assert publish_snapshot(new, table) == 2
    assert committed_version(table) == 2
    assert _rows(read_published(spark, table)) == {(3, "b"), (4, "c")}


def test_garbled_pointer_raises_and_keeps_committed(spark, tmp_path):
    """Only a missing pointer means "nothing published". A garbled one
    must raise: read as version 0, the next publish would restage — and
    so delete — the committed ``v=1``."""
    table = str(tmp_path / "t")
    publish_snapshot(spark.createDataFrame([(1, "a")], ["k", "v"]), table)
    with open(_pointer_path(table), "w") as f:
        f.write("garbage")
    with pytest.raises(ValueError):
        committed_version(table)
    with pytest.raises(ValueError):
        publish_snapshot(spark.createDataFrame([(2, "b")], ["k", "v"]), table)
    with pytest.raises(ValueError):
        vacuum_versions(table)
    assert _rows(spark.read.parquet(snapshot_dir(table, 1))) == {(1, "a")}


def test_vacuum_never_removes_committed(spark, tmp_path):
    table = str(tmp_path / "t")
    for i in range(4):
        publish_snapshot(
            spark.createDataFrame([(i,)], ["k"]), table
        )
    removed = vacuum_versions(table, keep=2)
    assert removed == [1, 2]
    assert committed_version(table) == 4
    assert _rows(read_published(spark, table)) == {(3,)}
    # keep=0 still refuses to delete the committed snapshot
    removed = vacuum_versions(table, keep=1)
    assert 4 not in removed
    assert _rows(read_published(spark, table)) == {(3,)}


def test_read_before_any_commit_raises(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    with pytest.raises(FileNotFoundError):
        read_published(spark, table)


def test_manifest_time_travel_pins_readers(spark, sf_dir):
    """source_manifest_time_travel's isolation claim, executed: a v1
    reader re-resolved AFTER new data files land must still see exactly
    the v1 snapshot, because the v1 manifest is immutable and readers
    never list the directory."""
    import json

    from pyspark.sql import functions as F

    from rpa_etl_investing_spark.plans.registry import QUERIES
    from rpa_etl_investing_spark.sources.formats import scratch_dir

    before = {
        (r.version, r.n_rows) for r in
        QUERIES["source_manifest_time_travel"].fn(spark, sf_dir).collect()
    }
    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    base = scratch_dir(sf_tag, "time_travel")
    # simulate a concurrent writer landing extra files next to batch1's
    spark.range(5).select(
        F.col("id").alias("o_orderkey"),
        F.lit("1994-01-01").cast("date").alias("o_orderdate"),
        F.lit(1.0).alias("o_totalprice"),
    ).write.mode("append").parquet(os.path.join(base, "batch1"))
    with open(os.path.join(base, "_manifests", "v1.json")) as fh:
        v1 = json.load(fh)
    n_v1 = spark.read.parquet(*v1["files"]).count()
    assert {(1, n_v1)} <= before, "v1 manifest read changed after append"
