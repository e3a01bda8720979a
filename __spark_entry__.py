"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``rpa_etl_investing_spark.plans`` (one registry
entry per SURVEY.md §2 operator); this module only adapts the registry
to the driver's interface.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF_SMOKE_DIR = "/root/testdata/sf0.001"

_SHIPPED: set[str] = set()
_SHIP_LOCK = threading.Lock()


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable inside Python WORKERS regardless of
    how the session was built. Workers fork with the JVM's environment,
    not the driver's sys.path: a bare session created by an external
    harness (its own ``SparkSession.builder``, launched from any cwd)
    runs every JVM-only query fine and fails exactly the pandas-UDF
    ones with ModuleNotFoundError. ``addPyFile`` is the one mechanism
    that still works after the JVM is up — it ships a zip of the
    package and prepends it to every worker's sys.path."""
    app = spark.sparkContext.applicationId
    # Double-checked under _SHIP_LOCK: under concurrent query issue
    # (r6 verdict item #3) the bare check-then-build races and N
    # threads would each zip and addPyFile the package. addPyFile
    # tolerates duplicate content, but the redundant builds and
    # shipped copies are pure waste — one thread builds, the rest
    # re-check under the lock and return.
    if app in _SHIPPED:
        return
    with _SHIP_LOCK:
        if app in _SHIPPED:
            return
        import os
        import tempfile
        import zipfile

        from pyspark import SparkFiles

        import rpa_etl_investing_spark as pkg

        root = os.path.dirname(os.path.abspath(pkg.__file__))
        # ALWAYS rebuild into a fresh mkstemp path (0600, unpredictable
        # name). The previous guessable /tmp/<pkg>_<pid>.zip reused any
        # existing file at that name — a stale zip from a pid
        # collision, or a file pre-created by another local user, would
        # get shipped via addPyFile and imported by every worker
        # (ADVICE r5). The _SHIPPED guard above already bounds this to
        # one build per applicationId, so rebuilding costs nothing. The
        # zip lives in the application's SparkFiles root, which Spark
        # deletes when the context stops, so no zip outlives its
        # application.
        fd, zpath = tempfile.mkstemp(
            prefix="rpa_etl_investing_spark_",
            suffix=".zip",
            dir=SparkFiles.getRootDirectory(),
        )
        with os.fdopen(fd, "wb") as fh:
            with zipfile.ZipFile(fh, "w") as z:
                for dirpath, _dirs, files in os.walk(root):
                    for f in files:
                        if f.endswith(".py"):
                            full = os.path.join(dirpath, f)
                            z.write(
                                full,
                                os.path.relpath(full, os.path.dirname(root)),
                            )
        spark.sparkContext.addPyFile(zpath)
        _SHIPPED.add(app)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Mirrors the reference's one analytic query
    (/root/reference/main.py:149-157) on the fixture star schema.
    """
    _ship_package(spark)
    from rpa_etl_investing_spark.plans import QUERIES

    return QUERIES["flagship_topk"].fn(spark, SF_SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2; each
    callable first ensures the package is importable in the session's
    Python workers (see :func:`_ship_package`)."""
    from rpa_etl_investing_spark.plans import all_queries

    def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ship_package(spark)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        run.__name__ = getattr(fn, "__name__", "query")
        return run

    return {name: _wrap(fn) for name, fn in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for
    non-SQL-expressible ops → rows-only check)."""
    from rpa_etl_investing_spark.plans import all_oracles

    return all_oracles()
