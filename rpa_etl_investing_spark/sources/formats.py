"""File-format readers and writers (SURVEY §2.1 S2/S8).

Generalizes the reference's ingest boundary — a positional-column HTML
table with silently skipped malformed rows (``/root/reference/
main.py:94-117``) — into Spark's native source surface:

- CSV/JSON readers take an **explicit schema** (never inference — the
  engine owns its schemas, SURVEY §1.4) and parse in ``PERMISSIVE``
  mode, capturing unparseable rows in ``_corrupt_record`` instead of
  dropping them silently (the reference's ``except: continue`` at
  ``main.py:116-117`` loses them without a trace).
- :func:`split_rejects` turns that into (good, rejected) DataFrames so
  pipelines can count and persist rejects — the metrics fix SURVEY §4
  calls for.
- :func:`write_partitioned_parquet` is the sink: ``partitionBy`` on the
  natural query key so downstream scans get partition pruning (a filter
  on the partition column skips whole directories — the 100 TB version
  of "don't read what you don't need").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def scratch_dir(*parts: str) -> str:
    """A writable scratch area inside the repo (gitignored).

    The path is keyed by the calling THREAD (r8, verdict item #6):
    scratch writers are per-query-name, and two threads issuing the
    same scratch-writing query (e.g. ``source_compaction``) would race
    one shared dir — ``mode("overwrite")`` deletes files out from under
    the other thread's in-flight scan. Injecting ``t{ident}`` after the
    first component gives every concurrent issuer a disjoint subtree
    with no lock (a per-name lock could not cover the lazy readback
    that happens after the query function returns). Growth is bounded
    by live-thread count — idents are reused, and a reused ident only
    ever overwrites a dir whose owner thread is gone. Tests that
    inspect what a query wrote call ``scratch_dir`` from the same
    thread and therefore resolve the same path."""
    import threading

    tid = f"t{threading.get_ident()}"
    if parts:
        path = os.path.join(_REPO_ROOT, ".scratch", parts[0], tid, *parts[1:])
    else:
        path = os.path.join(_REPO_ROOT, ".scratch", tid)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _with_corrupt(schema: T.StructType) -> T.StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType([*schema.fields, T.StructField(CORRUPT_COL, T.StringType())])


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV scan with explicit schema; malformed rows land in
    ``_corrupt_record`` rather than being dropped."""
    return spark.read.csv(
        path,
        schema=_with_corrupt(schema),
        header=header,
        sep=sep,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=CORRUPT_COL,
    )


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """NDJSON scan with explicit schema + corrupt-record capture."""
    return spark.read.json(
        path,
        schema=_with_corrupt(schema),
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=CORRUPT_COL,
    )


def split_rejects(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, rejected): rejected rows are those the parser could not
    fully convert (non-null ``_corrupt_record``).

    The scan is checkpointed: Spark refuses a query whose referenced
    columns are only the internal corrupt-record column (the parser
    can't know corrupt-ness without materializing the real columns),
    and the checkpoint also makes good/bad two reads of one parse rather
    than two parses. It lives as long as the returned plans. A
    long-lived pipeline would instead stage the parsed scan to parquet
    and split from there — same one-parse property, spillable."""
    df = df.localCheckpoint(eager=False)
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet sink. Filters on ``partition_cols`` in later
    scans prune whole directories (visible as ``PartitionFilters`` in
    the physical plan)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compact_parquet(
    spark: SparkSession, path: str, target_files_per_partition: int = 1
) -> int:
    """Compact a small-file parquet dataset in place (SURVEY §2.1 S8).

    Micro-batch appends (etl/incremental.py) and streaming sinks leave
    one file per batch per partition; at scale the file count — not the
    byte count — becomes the scan bottleneck (task-per-file scheduling,
    metadata pressure). Rewrites each leaf partition directory to
    ``target_files_per_partition`` files via coalesce and swaps it in.
    Returns the number of partition directories compacted.

    Coalesce (not repartition): compaction must not shuffle — it only
    concatenates co-located files, so the rewrite streams each
    partition once.
    """
    root = path
    parts = [
        d
        for d in os.listdir(root)
        if os.path.isdir(os.path.join(root, d)) and "=" in d
    ] or [""]
    n = 0
    for part in parts:
        src = os.path.join(root, part) if part else root
        tmp = src + "._compact_tmp"
        spark.read.parquet(src).coalesce(target_files_per_partition).write.mode(
            "overwrite"
        ).parquet(tmp)
        import shutil

        shutil.rmtree(src)
        os.rename(tmp, src)
        n += 1
    return n
