"""ETL integration tests (SURVEY §5): reproduce the reference pipeline on
scrape-shaped fixture rows and assert star-schema invariants."""

from __future__ import annotations

import datetime as dt
import os
import threading
from urllib.parse import unquote, urlparse

import pytest
from pyspark.sql import functions as F

from rpa_etl_investing_spark.etl import (
    RAW_SCRAPE_SCHEMA,
    flagship_top10,
    load_star_schema,
    transform_raw,
    upsert_dimension,
)
from rpa_etl_investing_spark.etl.pipeline import read_warehouse

PIN_TS = dt.datetime(2026, 1, 15, 12, 0, 0)

# FIXTURES.md §B raw_scrape rows: Brazilian-locale cell strings + country,
# including map hits, map misses (default path) and malformed rows
# (main.py:98,116-117 skip path).
RAW_ROWS = [
    ("Ibovespa", "128.594,07", "129.000,00", "127.500,50", "+1,25%", "Brasil"),
    ("Small Cap SMLL", " 1.234 ", "1.300,10", "1.200,00", "-0,47%", "Brasil"),
    ("Indice Desconhecido", "0,99", "1,05", "0,90", "0,00%", "Brasil"),
    ("SSE Composite", "3.100,55", "3.150,00", "3.050,25", "+0,75%", "China"),
    ("SZSE Component", "9.800,00", "9.900,90", "9.700,10", "-1,10%", "China"),
    ("S&P 500", "5.600,12", "5.650,00", "5.580,33", "+0,42%", "EUA"),
    ("Dow Jones", "40.100,00", "40.500,77", "39.900,00", "-0,21%", "EUA"),
    # malformed: unparseable numerics → reference would silently skip
    ("Broken Row", "n/a", "1,00", "1,00", "+0,10%", "Brasil"),
    (None, "1,00", "1,00", "1,00", "+0,10%", "EUA"),
]


@pytest.fixture(scope="module")
def raw_df(spark):
    return spark.createDataFrame(RAW_ROWS, RAW_SCRAPE_SCHEMA)


def test_transform_parsing_and_classification(spark, raw_df):
    res = transform_raw(raw_df)
    rows = {r["nome"]: r for r in res.clean.collect()}
    # F2: strip-all-dots then comma→dot (main.py:101-103), incl. the
    # ambiguous "1.234" → 1234.0 case (SURVEY §7.4)
    assert rows["Ibovespa"]["valor_atual"] == pytest.approx(128594.07)
    assert rows["Small Cap SMLL"]["valor_atual"] == pytest.approx(1234.0)
    # F3: percent strip (main.py:104)
    assert rows["Ibovespa"]["variacao"] == pytest.approx(1.25)
    assert rows["SZSE Component"]["variacao"] == pytest.approx(-1.10)
    # F4/F5: map lookup with defaults (main.py:106)
    assert rows["Ibovespa"]["setor"] == "Financeiro"
    assert rows["Small Cap SMLL"]["setor"] == "Indústria"
    assert rows["Indice Desconhecido"]["setor"] == "Diversificado"
    assert rows["SSE Composite"]["setor"] == "Primário"
    assert rows["S&P 500"]["setor"] == "Primário"
    # S2: malformed rows counted, not silently dropped
    assert res.rejects.count() == 2
    assert res.clean.count() == 7


def test_upsert_dimension_deterministic_and_idempotent(spark, raw_df):
    clean = transform_raw(raw_df).clean
    dim = upsert_dimension(None, clean.select(F.col("pais").alias("nome")))
    first = {r["nome"]: r["id"] for r in dim.collect()}
    assert sorted(first) == ["Brasil", "China", "EUA"]
    assert sorted(first.values()) == [1, 2, 3]
    # re-upsert with overlapping + new names: existing ids stable, new ids appended
    more = spark.createDataFrame([("Brasil",), ("Japão",)], ["nome"])
    dim2 = upsert_dimension(dim, more)
    second = {r["nome"]: r["id"] for r in dim2.collect()}
    assert second["Brasil"] == first["Brasil"]
    assert second["Japão"] == 4
    assert dim2.count() == 4


def test_upsert_dimension_null_key_shifts_no_id(spark):
    """A null natural key gets no id and takes no slot: the new ids stay
    dense, into an empty dimension and after existing ones."""
    incoming = spark.createDataFrame(
        [("Brasil",), ("EUA",), ("Japão",), (None,), ("EUA",)], "nome string"
    )
    first = {r["nome"]: r["id"] for r in upsert_dimension(None, incoming).collect()}
    assert sorted(first) == ["Brasil", "EUA", "Japão"]
    assert sorted(first.values()) == [1, 2, 3]

    existing = spark.createDataFrame([(1, "Brasil"), (2, "China")], "id long, nome string")
    second = {r["nome"]: r["id"] for r in upsert_dimension(existing, incoming).collect()}
    assert second == {"Brasil": 1, "China": 2, "EUA": 3, "Japão": 4}


def test_upsert_dimension_plan_is_distributed(spark, raw_df):
    """r1 verdict item #7: the new-key ranking window must be hash-
    partitioned by the md5 bucket — a single-partition Exchange feeding
    the big-side row_number would serialize id assignment at scale. The
    only SinglePartition window allowed is the one over the ≤256-row
    bucket-count frame."""
    clean = transform_raw(raw_df).clean
    dim = upsert_dimension(None, clean.select(F.col("pais").alias("nome")))
    plan = dim._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_b" in plan, plan
    # the bucket-offset window is the only single-partition exchange, and it
    # sits above an aggregation keyed by _b (≤256 rows by construction)
    n_single = plan.count("Exchange SinglePartition")
    assert n_single <= 1, plan


def test_full_load_and_flagship_query(spark, raw_df, tmp_path):
    wh = str(tmp_path / "warehouse")
    m1 = load_star_schema(spark, raw_df, wh, PIN_TS)
    assert m1["clean_rows"] == 7
    assert m1["rejected_rows"] == 2
    assert m1["pais_rows"] == 3
    # sectors: Financeiro, Indústria, Diversificado, Primário
    assert m1["setor_rows"] == 4
    assert m1["fact_rows"] == 7

    # dimension uniqueness invariant (main.py:27,32)
    tables = read_warehouse(spark, wh)
    pais = tables["pais"]
    assert pais.count() == pais.select("nome").distinct().count()

    # FK resolution invariant (main.py:38-39): every fact row resolves
    fact = tables["indice_financeiro"]
    assert fact.filter(F.col("pais_id").isNull() | F.col("setor_id").isNull()).count() == 0

    # golden flagship result (main.py:149-157): Primário ∧ pais∈{China,EUA},
    # ordered by maxima desc → SZSE, Dow Jones, S&P 500, SSE
    got = [(r["nome"], r["pais"], r["setor"], r["maxima"]) for r in
           flagship_top10(spark, wh).collect()]
    assert got == [
        ("Dow Jones", "EUA", "Primário", 40500.77),
        ("SZSE Component", "China", "Primário", 9900.90),
        ("S&P 500", "EUA", "Primário", 5650.00),
        ("SSE Composite", "China", "Primário", 3150.00),
    ]

    # re-run: dims unchanged (upsert idempotency, SURVEY J4);
    # facts append a second snapshot (the reference's event-log model)
    m2 = load_star_schema(spark, raw_df, wh, PIN_TS + dt.timedelta(days=1))
    assert m2["pais_rows"] == 3
    assert m2["setor_rows"] == 4
    assert m2["fact_rows"] == 14


@pytest.fixture(scope="module")
def loaded_warehouse(spark, raw_df, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("declared") / "warehouse")
    load_star_schema(spark, raw_df, wh, PIN_TS)
    return wh


def test_flagship_build_runs_no_spark_job(spark, loaded_warehouse):
    """Building the flagship query launches no Spark job: its three
    warehouse reads pass declared schemas instead of inferring each from
    a parquet footer (one job per read)."""
    sc = spark.sparkContext
    group = "test-flagship-build"
    sc.setJobGroup(group, "build flagship_top10 without collecting")
    try:
        flagship_top10(spark, loaded_warehouse)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_declared_warehouse_schemas_match_written(spark, loaded_warehouse):
    """Drift guard: the schema Spark infers from a load's output equals
    the declared one, nullability aside, so a change to what the load
    writes must change the declared schema with it."""
    from rpa_etl_investing_spark.etl.pipeline import DIM_SCHEMA, FACT_SCHEMA

    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    tables = read_warehouse(spark, loaded_warehouse)
    # (table, declared schema, directory levels from a part file up to the
    # directory its schema is inferred from: a fact part file sits one
    # ``dt_coleta=`` partition directory below its load's)
    for table, declared, depth in (
        ("pais", DIM_SCHEMA, 1),
        ("setor", DIM_SCHEMA, 1),
        ("indice_financeiro", FACT_SCHEMA, 2),
    ):
        dirs = {f.rsplit("/", depth)[0] for f in tables[table].inputFiles()}
        inferred = spark.read.parquet(*dirs).schema
        assert fields(inferred) == fields(declared), table


def test_incremental_streaming_load(spark, tmp_path):
    """The reference's repeated-run loop as a foreachBatch stream: two
    arriving files → two micro-batch loads; dims stay unique, facts
    accumulate one snapshot per batch, flagship query still answers."""
    import json

    from rpa_etl_investing_spark.etl.incremental import incremental_load
    from rpa_etl_investing_spark.etl.pipeline import flagship_top10

    raw_dir = tmp_path / "raw_in"
    raw_dir.mkdir()
    warehouse = str(tmp_path / "wh")
    checkpoint = str(tmp_path / "ckpt")

    cols = [f.name for f in RAW_SCRAPE_SCHEMA.fields]
    good_rows = [r for r in RAW_ROWS if r[0] and "n/a" not in r]
    for i in range(2):  # same snapshot arriving twice, like two cron runs
        with open(raw_dir / f"batch{i}.json", "w") as f:
            for row in good_rows:
                f.write(json.dumps(dict(zip(cols, row))) + "\n")

    q = incremental_load(spark, str(raw_dir), warehouse, checkpoint)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    tables = read_warehouse(spark, warehouse)
    fact, pais, setor = tables["indice_financeiro"], tables["pais"], tables["setor"]
    assert fact.count() == 2 * len(good_rows)  # one snapshot per micro-batch
    assert fact.select("data_coleta").distinct().count() == 2
    assert pais.count() == pais.select("nome").distinct().count() == 3
    assert setor.select("nome").distinct().count() == setor.count()
    top = flagship_top10(spark, warehouse).collect()
    assert len(top) > 0
    assert all(r.pais in ("China", "EUA") and r.setor == "Primário" for r in top)


def test_merge_apply_rejects_ambiguous_batch(spark):
    """A batch with two images for one key and no sequence column is
    ambiguous — merge_apply must fail loudly, not emit the key twice."""
    from rpa_etl_investing_spark.etl.merge import merge_apply

    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    changes = spark.createDataFrame(
        [(1, "U", "a1"), (1, "U", "a2")], ["k", "op", "v"]
    ).select("k", "v", "op")
    with pytest.raises(ValueError, match="multiple change rows"):
        merge_apply(base, changes, "k")


def test_merge_apply_seq_col_latest_wins(spark):
    """With a sequence column, the latest change per key wins: two U
    images keep the newer one; U-then-D deletes; D-then-U reinserts —
    and every key appears at most once in the output."""
    from rpa_etl_investing_spark.etl.merge import merge_apply

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    changes = spark.createDataFrame(
        [
            (1, "U", "a1", 10),
            (1, "U", "a2", 20),  # newer U wins
            (2, "U", "b1", 10),
            (2, "D", None, 20),  # delete after update → gone
            (3, "D", None, 10),
            (3, "U", "c2", 20),  # reinsert after delete → present
        ],
        ["k", "op", "v", "seq"],
    ).select("k", "v", "op", "seq")
    out = merge_apply(base, changes, "k", seq_col="seq")
    got = {(r["k"], r["v"]) for r in out.collect()}
    assert got == {(1, "a2"), (3, "c2")}
    assert out.count() == out.select("k").distinct().count()


def test_scd2_audit_invariants(spark, sf_dir):
    """The conformance gate's hard invariants on the engine's own SCD2
    derivation: exactly one open-ended current version per key, and no
    inverted validity intervals (etl_scd2_audit docstring contract)."""
    from rpa_etl_investing_spark.plans.registry import QUERIES

    rows = QUERIES["etl_scd2_audit"].fn(spark, sf_dir).collect()
    assert rows, "audit must cover at least one user"
    for r in rows:
        assert r.n_current == 1, f"user {r.user_id}: {r.n_current} current"
        assert r.n_inverted == 0, f"user {r.user_id}: inverted intervals"


def _corrupt_committed(spark, warehouse, table):
    """Overwrite every part file of ``table``'s committed snapshot."""
    files = read_warehouse(spark, warehouse)[table].inputFiles()
    assert files
    for uri in files:
        with open(unquote(urlparse(uri).path), "wb") as f:
            f.write(b"not a parquet file")


def test_failed_load_leaves_no_cached_relation(spark, raw_df, tmp_path):
    """A load that raises part-way (here: a corrupt committed ``pais``
    dimension, which the load must re-raise rather than treat as a first
    run) still unpersists its staged relation: the CacheManager ends
    empty."""
    wh = tmp_path / "warehouse"
    load_star_schema(spark, raw_df, str(wh), PIN_TS)
    _corrupt_committed(spark, str(wh), "pais")
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        load_star_schema(spark, raw_df, str(wh), PIN_TS)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_load_keeps_callers_job_group(spark, raw_df, tmp_path):
    """Every Spark job a load starts, on whichever thread, runs in the
    caller's job group, so ``cancelJobGroup`` and per-group job counts
    cover the whole load."""
    sc = spark.sparkContext
    scheduler = sc._jsc.sc().dagScheduler()
    group = "test-load-job-group"
    sc.setJobGroup(group, "load_star_schema")
    try:
        first = scheduler.nextJobId()
        load_star_schema(spark, raw_df, str(tmp_path / "warehouse"), PIN_TS)
        last = scheduler.nextJobId()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    started = set(range(first, last))
    assert started, "the load ran no Spark job"
    assert started <= in_group, sorted(started - in_group)


def test_failed_second_dimension_publishes_nothing(spark, raw_df, tmp_path):
    """A corrupt ``setor`` fails the load after ``pais`` has staged a new
    country: nothing is published, no fact is appended, no relation stays
    cached and no staging thread is left running."""
    wh = tmp_path / "warehouse"
    load_star_schema(spark, raw_df, str(wh), PIN_TS)
    new_country = spark.createDataFrame(
        [("Nikkei 225", "38.000,00", "38.500,00", "37.900,00", "+0,30%", "Japão")],
        RAW_SCRAPE_SCHEMA,
    )
    tables = read_warehouse(spark, str(wh))
    pais_before = sorted(map(tuple, tables["pais"].collect()))
    facts_before = tables["indice_financeiro"].count()
    _corrupt_committed(spark, str(wh), "setor")

    spark.catalog.clearCache()
    threads = threading.active_count()
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        load_star_schema(
            spark, raw_df.unionByName(new_country), str(wh), PIN_TS + dt.timedelta(days=1)
        )
    assert threading.active_count() == threads
    tables = read_warehouse(spark, str(wh))
    assert sorted(map(tuple, tables["pais"].collect())) == pais_before
    assert tables["indice_financeiro"].count() == facts_before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_flagship_reads_overlapping_loads_see_whole_loads(spark, tmp_path):
    """One thread runs seven 5,000-row loads into one warehouse while
    another reads the flagship in a loop from the first commit on. No
    read may fail, and every read must equal the flagship after some
    whole number of loads: a load becomes visible all at once. Each
    dimension keeps at most two versions afterwards."""
    from perfbench import gen

    wh = str(tmp_path / "warehouse")
    oracle = gen.EtlOracle()
    batches = []  # (path, expected load counts, expected flagship after it)
    for b in range(7):
        path = str(tmp_path / f"batch{b}.ndjson")
        rows = gen.scrape_batch(path, 16, b, 5_000, 0.005)
        batches.append((path, oracle.load(rows), oracle.flagship()))

    first_commit, done = threading.Event(), threading.Event()
    reads, failures = [], []

    def read_loop():
        first_commit.wait()
        while not done.is_set():
            try:
                reads.append([tuple(r) for r in flagship_top10(spark, wh).collect()])
            except Exception as e:  # noqa: BLE001 - every failed read is counted
                failures.append(str(e)[:400])

    reader = threading.Thread(target=read_loop)
    reader.start()
    try:
        for b, (path, counts, _) in enumerate(batches):
            raw = spark.read.schema(RAW_SCRAPE_SCHEMA).json(path)
            assert load_star_schema(spark, raw, wh, PIN_TS + dt.timedelta(days=b)) == counts
            first_commit.set()
    finally:
        done.set()
        first_commit.set()
        reader.join(timeout=120)
    assert not reader.is_alive()

    assert not failures, f"{len(failures)} of {len(reads) + len(failures)} reads failed: {failures[:2]}"
    assert reads
    whole_loads = [flagship for _, _, flagship in batches]
    assert all(read in whole_loads for read in reads)
    for dim in ("pais", "setor"):
        versions = [d for d in os.listdir(f"{wh}/{dim}") if not d.startswith(("_", "."))]
        assert len(versions) <= 2, (dim, versions)
