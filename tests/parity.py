"""Local stand-in for the driver's correctness gate.

Runs a registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names, and
order-insensitive exact values — stricter than (and therefore safe for)
the driver's value-hash comparison.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from rpa_etl_investing_spark.catalog import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os
    import shutil
    import tempfile
    import weakref

    con = duckdb.connect()
    # Per-connection spill directory: concurrent connections (the
    # --threads sweep, parallel probe processes in the same cwd) all
    # default to ./.tmp/duckdb_temp_storage-*.tmp and corrupt each
    # other's spill files ("Could not read enough bytes" mid-query on
    # the closure-heavy oracles at sf1). The directory is removed when
    # the connection object is released (or at interpreter exit).
    spill = tempfile.mkdtemp(prefix="duckspill_")
    weakref.finalize(con, shutil.rmtree, spill, True)
    con.execute(f"SET temp_directory = '{spill}'")
    # DuckDB defaults its memory_limit to ~80% of PHYSICAL RAM, which
    # on a box also hosting Spark driver JVMs starves the Python
    # process itself (observed: MemoryError on a 718 KiB numpy alloc
    # while an oracle spilled). The oracle queries are fixture-scale;
    # a fixed cap keeps the comparator a good citizen and failures
    # inside DuckDB (spill) instead of random host-wide OOM.
    con.execute("SET memory_limit = '24GB'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # driver fixtures are single files; derived scale fixtures
        # (scripts/make_scale_fixture.py) are Spark-written DIRECTORIES
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _normalize_nested(v):
    """Recursively turn ndarray/list/dict cell values into plain tuples so
    ``astype(str)`` spells them identically for both engines; numpy ints and
    Python ints also stringify the same once unboxed via ``.item()``."""
    if isinstance(v, np.ndarray):
        return tuple(_normalize_nested(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_normalize_nested(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _normalize_nested(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        return v.item()
    return v


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            # pandas nullable Int64 (from outer joins) and numpy ints both → Float64
            # when nulls present, else int64
            if s.isna().any():
                df[c] = s.astype("Float64").astype("float64")
            else:
                df[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("bool") if not s.isna().any() else s.astype("object")
        else:
            # Arrays/maps arrive as numpy arrays (Arrow sessions) or Python
            # lists (plain sessions) — normalize both to tuples so the
            # string comparison sees one spelling.
            s = s.map(_normalize_nested, na_action="ignore")
            df[c] = s.astype("object").where(~s.isna(), None)
    if len(df):
        df = df.sort_values(
            by=list(df.columns),
            key=lambda s: s.map(lambda v: (v is None) or (isinstance(v, float) and np.isnan(v)), na_action=None).astype(str) + s.astype(str),
            kind="mergesort",
        ).reset_index(drop=True)
    return df


def compare_frames(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duckdb={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns: spark={sorted(spark_pdf.columns)} duckdb={sorted(duck_pdf.columns)}"
        )
    if problems:
        return problems
    a = canonicalize(spark_pdf)
    b = canonicalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            ok = ((av.isna() & bv.isna()) | (av == bv)).all()
            if not ok:
                diffs = (av - bv).abs()
                problems.append(
                    f"col {c!r}: {int((~((av.isna() & bv.isna()) | (av == bv))).sum())} "
                    f"mismatches, max abs diff {np.nanmax(diffs.to_numpy()):.3e}"
                )
        else:
            eq = (av.astype(str).where(~av.isna(), "<null>") == bv.astype(str).where(~bv.isna(), "<null>"))
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                problems.append(
                    f"col {c!r}: {int((~eq).sum())} mismatches, first at row {i}: "
                    f"spark={av.iloc[i]!r} duckdb={bv.iloc[i]!r}"
                )
    return problems


def run_compare(spark, name: str, sf_dir: str) -> list[str]:
    from rpa_etl_investing_spark.plans import QUERIES

    q = QUERIES[name]
    sdf = q.fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if q.oracle is None:
        return []
    con = duck_connection(sf_dir)
    try:
        duck_pdf = con.execute(q.oracle).df()
    finally:
        con.close()
    return compare_frames(spark_pdf, duck_pdf)


def cache_manager_empty(spark) -> bool:
    """True when the session's CacheManager holds no cached plan."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def rdd_blocks_after_gc(spark, baseline: int = 0, timeout_s: float = 30.0) -> int:
    """Number of RDDs still holding storage blocks once unreferenced
    plans are garbage: runs Python's ``gc.collect()`` and the JVM's
    ``System.gc()`` (so Spark's ContextCleaner sees the dead RDDs) and
    polls ``getRDDStorageInfo()`` until the count is at most
    ``baseline`` or ``timeout_s`` has passed."""
    import gc
    import time

    sc = spark.sparkContext
    deadline = time.monotonic() + timeout_s
    while True:
        gc.collect()
        sc._jvm.System.gc()
        n = len(sc._jsc.sc().getRDDStorageInfo())
        if n <= baseline or time.monotonic() >= deadline:
            return n
        time.sleep(1.0)


# ---- size-gated in-engine checksum compare (r9, verdict item #6) ----------
#
# The sf1 comparator, not any engine plan, was the slowest thing in the r8
# stress pass: unpivot_fact_measures spent 874 s materializing 24M rows into
# pandas TWICE. Above the gate, both engines instead reduce the result to an
# order-insensitive checksum — COUNT(*) plus two independent 56-bit md5-slice
# sums over a canonically-spelled row string — and one row is compared.
# Same pass/fail semantics modulo (a) md5 collision and (b) float spelling
# canonicalized through DECIMAL(38,9) (1e-9 granularity; every float output
# in this repo sits on a coarser exact grid, so no real difference survives).

import os as _os

HASH_GATE_ROWS = int(_os.environ.get("SPARK_GRAFT_HASH_GATE_ROWS", "1000000"))

_HASHABLE_SIMPLE = {
    "byte", "short", "int", "integer", "bigint", "long", "boolean",
    "string", "date",
}


def _spark_canon(name: str, dtype: str) -> str | None:
    """Spark SQL expression spelling column ``name`` canonically, or None
    if the type is out of scope for the hashed path."""
    return _spark_canon_expr(f"`{name}`", dtype)


def _spark_canon_expr(q: str, dtype: str, depth: int = 0) -> str | None:
    if dtype.startswith("array<") and dtype.endswith(">"):
        # element-joined canonical spelling (r9 verdict item #6): each
        # element takes the scalar canon; a length prefix disambiguates
        # [''] from [] and the \x1d joiner never appears in canon output
        var = f"_e{depth}"
        elem = _spark_canon_expr(var, dtype[6:-1], depth + 1)
        if elem is None:
            return None
        return (
            f"CASE WHEN {q} IS NULL THEN NULL ELSE"
            f" concat(CAST(cardinality({q}) AS STRING), '[',"
            f" concat_ws('\x1d',"
            f" transform({q}, {var} -> COALESCE({elem}, '\x1enull'))), ']')"
            f" END"
        )
    if dtype in _HASHABLE_SIMPLE:
        return f"CAST({q} AS STRING)"
    if dtype in ("double", "float"):
        # floor/power-of-two decomposition, NOT a decimal cast: casting a
        # double to DECIMAL generates digits differently per engine at the
        # last place (observed: identical doubles spelling ...325 in Spark
        # vs ...324 in DuckDB at sf1), while /,*,-,FLOOR by 2^52 are exact
        # IEEE ops with bit-identical results everywhere. Distinguishes
        # every ulp for |x| >= 1; conflates only below 2^-52 absolute in
        # the fractional residual (far beyond any grid this repo checks).
        hi = f"FLOOR({q} / 4503599627370496.0)"
        r = f"({q} - {hi} * 4503599627370496.0)"
        lo = f"FLOOR({r})"
        fr = f"FLOOR(({r} - {lo}) * 4503599627370496.0)"
        # hi = FLOOR(x/2^52) only overflows BIGINT at |x| >= 2^115, so the
        # 'big±' conflation arm starts exactly there (r9 advice #2: the
        # old 1e30 guard collapsed genuinely different huge doubles). The
        # literal is 2^115 spelled exactly; both engines' strtod round it
        # to the same double (2^115 is representable).
        return (
            # explicit NULL arm: Spark's concat would propagate NULL
            # anyway, but DuckDB's concat treats NULL args as '' (a NULL
            # lag/lead spelled '::' instead of the null sentinel — caught
            # live on window_lag_lead's 1.5M-row sf1 result)
            f"CASE WHEN {q} IS NULL THEN NULL"
            f" WHEN isnan({q}) THEN 'NaN'"
            f" WHEN {q} = double('inf') THEN 'Inf'"
            f" WHEN {q} = double('-inf') THEN '-Inf'"
            f" WHEN abs({q}) >= 4.1538374868278621028243970633760768e34 THEN"
            f"  concat('big', CASE WHEN {q} < 0 THEN '-' ELSE '+' END)"
            f" ELSE concat(CAST(CAST({hi} AS BIGINT) AS STRING), ':',"
            f"  CAST(CAST({lo} AS BIGINT) AS STRING), ':',"
            f"  CAST(CAST({fr} AS BIGINT) AS STRING)) END"
        )
    if dtype.startswith("decimal"):
        return f"CAST({q} AS STRING)"
    if dtype.startswith("timestamp"):
        # CAST normalizes TIMESTAMP_NTZ -> TIMESTAMP (unix_micros rejects
        # NTZ input); a no-op for ltz columns. Cross-engine agreement then
        # relies on the session being UTC-pinned, same as the exact path.
        return f"CAST(unix_micros(CAST({q} AS TIMESTAMP)) AS STRING)"
    return None


def _duck_canon(name: str, dtype: str) -> str | None:
    """DuckDB expression producing the IDENTICAL spelling (keyed off the
    SPARK dtype so both engines canonicalize the same way)."""
    return _duck_canon_expr(f'"{name}"', dtype)


def _duck_canon_expr(q: str, dtype: str, depth: int = 0) -> str | None:
    if dtype.startswith("array<") and dtype.endswith(">"):
        var = f"_e{depth}"
        elem = _duck_canon_expr(var, dtype[6:-1], depth + 1)
        if elem is None:
            return None
        return (
            f"CASE WHEN {q} IS NULL THEN NULL ELSE"
            f" concat(CAST(len({q}) AS VARCHAR), '[',"
            f" array_to_string("
            f" list_transform({q}, {var} -> COALESCE({elem}, '\x1enull')),"
            f" chr(29)), ']') END"
        )
    if dtype in _HASHABLE_SIMPLE:
        return f"CAST({q} AS VARCHAR)"
    if dtype in ("double", "float"):
        d = f"CAST({q} AS DOUBLE)"
        hi = f"FLOOR({d} / 4503599627370496.0)"
        r = f"({d} - {hi} * 4503599627370496.0)"
        lo = f"FLOOR({r})"
        fr = f"FLOOR(({r} - {lo}) * 4503599627370496.0)"
        return (
            f"CASE WHEN {q} IS NULL THEN NULL"
            f" WHEN isnan({d}) THEN 'NaN'"
            f" WHEN isinf({d}) AND {q} > 0 THEN 'Inf'"
            f" WHEN isinf({d}) THEN '-Inf'"
            f" WHEN abs({d}) >= 4.1538374868278621028243970633760768e34 THEN"
            f"  concat('big', CASE WHEN {q} < 0 THEN '-' ELSE '+' END)"
            f" ELSE concat(CAST(CAST({hi} AS BIGINT) AS VARCHAR), ':',"
            f"  CAST(CAST({lo} AS BIGINT) AS VARCHAR), ':',"
            f"  CAST(CAST({fr} AS BIGINT) AS VARCHAR)) END"
        )
    if dtype.startswith("decimal"):
        return f"CAST({q} AS VARCHAR)"
    if dtype.startswith("timestamp"):
        return f"CAST(epoch_us(CAST({q} AS TIMESTAMP)) AS VARCHAR)"
    return None


def _row_exprs(cols: list[tuple[str, str]], canon) -> str | None:
    parts = []
    for name, dtype in cols:
        c = canon(name, dtype)
        if c is None:
            return None
        parts.append(f"COALESCE({c}, '\x1enull')")
    return parts


def hashed_compare(spark_df, con, oracle_sql: str,
                   gate_rows: int | None = None) -> list[str] | None:
    """Order-insensitive checksum compare for oversized results.

    Returns ``None`` when the pair is ineligible (below the gate,
    gate disabled, or a column type outside the canonical-spelling
    table) — the caller then falls back to the exact pandas path.
    Otherwise returns the problem list (empty == match).

    Cost shape (r9 advice #1): the oracle executes exactly ONCE here —
    the combined count+checksum query decides gate eligibility from
    its own COUNT(*). A sub-gate result wastes one cheap checksum pass
    (the result is small by definition) instead of the old shape's
    full COUNT(*)-subquery pre-run, which doubled DuckDB cost for
    every oversized enumeration oracle."""
    gate = HASH_GATE_ROWS if gate_rows is None else gate_rows
    if gate <= 0:
        return None
    cols = sorted((f.name, f.dataType.simpleString()) for f in spark_df.schema.fields)
    s_parts = _row_exprs(cols, _spark_canon)
    d_parts = _row_exprs(cols, _duck_canon)
    if s_parts is None or d_parts is None:
        return None  # unsupported type: exact path
    # Column-set guard (r9 advice #3): the hashed row spelling is built
    # from the SPARK schema alone, so an oracle emitting an extra
    # column would otherwise pass silently (a missing one errors in the
    # checksum query). Require set equality like compare_frames does.
    o_names = {
        r[0] for r in con.execute(f"DESCRIBE ({oracle_sql})").fetchall()
    }
    s_names = {name for name, _ in cols}
    if o_names != s_names:
        return [
            "column set mismatch: "
            f"spark-only={sorted(s_names - o_names)} "
            f"oracle-only={sorted(o_names - s_names)}"
        ]
    sep = "'\x1f'"
    s_row = f"concat_ws({sep}, {', '.join(s_parts)})"
    d_row = f"concat_ws({sep}, {', '.join(d_parts)})"

    d_agg = con.execute(
        f"""SELECT COUNT(*) AS n,
               SUM(CAST(CAST(('0x' || substr(h, 1, 14)) AS BIGINT) AS HUGEINT)) AS s1,
               SUM(CAST(CAST(('0x' || substr(h, 15, 14)) AS BIGINT) AS HUGEINT)) AS s2
        FROM (SELECT md5({d_row}) AS h FROM ({oracle_sql}))"""
    ).fetchone()
    if d_agg[0] < gate:
        return None  # sub-gate: exact path re-runs the (small) oracle
    s_agg = spark_df.selectExpr(f"md5({s_row}) AS h").selectExpr(
        "count(*) AS n",
        "sum(cast(conv(substring(h, 1, 14), 16, 10) AS DECIMAL(38,0))) AS s1",
        "sum(cast(conv(substring(h, 15, 14), 16, 10) AS DECIMAL(38,0))) AS s2",
    ).collect()[0]
    problems: list[str] = []
    if int(s_agg["n"]) != int(d_agg[0]):
        problems.append(
            f"row count: spark={int(s_agg['n'])} duckdb={int(d_agg[0])}"
        )
    else:
        for i, key in ((1, "s1"), (2, "s2")):
            sv = int(s_agg[key]) if s_agg[key] is not None else None
            dv = int(d_agg[i]) if d_agg[i] is not None else None
            if sv != dv:
                problems.append(
                    f"checksum {key}: spark={sv} duckdb={dv} "
                    f"(order-insensitive md5-slice sum over "
                    f"{int(s_agg['n'])} rows)"
                )
    return problems
