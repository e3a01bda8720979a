"""Two-phase atomic publish on plain parquet — snapshot versioning
with a pointer-swap commit.

The reference publishes through PostgreSQL and gets atomicity from the
database transaction (``/root/reference/main.py:147`` — one COMMIT
makes the whole load visible). A parquet directory has no such
boundary: a reader that lists files while a writer overwrites sees a
half-published table (some new files, some old, or a truncated
partition set). The lakehouse answer is a table format with a commit
protocol (Delta/Iceberg — SURVEY §7.4 names Delta as the production
choice); this module is the minimal self-contained version of the same
idea, expressed with nothing but parquet + one atomic filesystem
rename:

  table/
    v=1/…parquet        immutable snapshot directories
    v=2/…parquet
    _LATEST             pointer file: the committed version number

PHASE 1 (stage): the new snapshot is written to ``_staging-v<n>``; a
crash here leaves garbage no reader ever looks at. The staged dir is
then renamed to ``v=<n>`` — still invisible, readers only follow the
pointer; a ``v=<n>`` left by a stage that never committed is replaced.
PHASE 2 (commit): ``_LATEST`` is replaced via write-temp +
``os.rename``, which POSIX guarantees atomic on one filesystem — a
reader sees either the old pointer or the new one, never a torn file
and never a partial snapshot. Old versions stay readable (time travel,
and in-flight readers that resolved the pointer before the swap keep a
consistent view because snapshot dirs are immutable) until
``vacuum_versions`` retires them. One pointer may commit several
tables (``etl/pipeline.py``: one warehouse-level pointer per load).

Scale notes: the pointer swap is one driver-side metadata operation —
O(1) regardless of table size, same as a Delta commit; the snapshot
write is a normal distributed parquet write. On an object store
without atomic rename (S3), the rename-based commit must become a
conditional PUT of the pointer object — the protocol shape is
unchanged. Multi-writer coordination (two publishers racing on the
same next version) needs the conditional swap too; single-writer
pipelines — the reference's shape — get full reader-side atomicity
from this module as-is.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_LATEST"


def _pointer_path(table_dir: str) -> str:
    return os.path.join(table_dir, _POINTER)


def committed_version(table_dir: str) -> int:
    """The committed snapshot version, 0 if no pointer exists. A garbled
    pointer raises: read as 0, its snapshots would be restaged over."""
    try:
        with open(_pointer_path(table_dir)) as f:
            return int(f.read())
    except FileNotFoundError:
        return 0


def snapshot_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v={version}")


def stage_snapshot(
    df: DataFrame, table_dir: str, version: int, partition_by: list[str] | None = None
) -> None:
    """PHASE 1: write snapshot ``version`` fully, without committing it.

    ``version`` is above the committed one, so no reader can name it and
    a crash leaves the committed snapshot untouched. A ``version``
    directory left by a stage that never committed is replaced."""
    staging = os.path.join(table_dir, f"_staging-v{version}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    shutil.rmtree(snapshot_dir(table_dir, version), ignore_errors=True)
    os.rename(staging, snapshot_dir(table_dir, version))


def commit_snapshot(table_dir: str, version: int) -> None:
    """PHASE 2: atomically swap the pointer to ``version``.

    Write-temp + rename on the same directory/filesystem: readers see
    the old committed version or the new one, never anything between."""
    fd, tmp = tempfile.mkstemp(dir=table_dir, prefix="._latest-")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, _pointer_path(table_dir))
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def publish_snapshot(
    df: DataFrame, table_dir: str, partition_by: list[str] | None = None
) -> int:
    """Stage + commit in one call; returns the committed version."""
    version = committed_version(table_dir) + 1
    stage_snapshot(df, table_dir, version, partition_by)
    commit_snapshot(table_dir, version)
    return version


def read_published(spark: SparkSession, table_dir: str) -> DataFrame:
    """Scan the committed snapshot (raises if nothing was ever
    committed). The returned DataFrame is pinned to the resolved
    version's immutable directory, so later publishes can't tear it."""
    version = committed_version(table_dir)
    if version == 0:
        raise FileNotFoundError(f"no committed snapshot under {table_dir}")
    return spark.read.parquet(snapshot_dir(table_dir, version))


def vacuum_versions(table_dir: str, keep: int = 2) -> list[int]:
    """Delete snapshot directories older than the newest ``keep``
    committed ones (never the committed version itself). Returns the
    versions removed. The grace window is the caller's contract with
    in-flight readers, exactly like Delta's VACUUM retention."""
    committed = committed_version(table_dir)
    versions = sorted(
        int(name[2:])
        for name in os.listdir(table_dir)
        if name.startswith("v=") and name[2:].isdigit()
    )
    victims = [v for v in versions[:-keep] if v != committed] if keep else []
    for v in victims:
        shutil.rmtree(snapshot_dir(table_dir, v))
    return victims
