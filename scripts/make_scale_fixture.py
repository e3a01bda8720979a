#!/usr/bin/env python
"""Build a 10× (sf1-shaped) fixture from the read-only sf0.1 parquet by
FK-consistent replication — the one-off scale probe VERDICT r5 asked
for (stretch #8): no generator ships in-repo, and /root/testdata is
read-only, so the 10× dataset is derived, not regenerated.

Each copy ``i`` offsets every surrogate key by ``i * stride(table)``
(stride = 10^ceil(log10(max_key+1)), so offset keys never collide and
joins stay consistent: copy-3 orders reference copy-3 customers).
Bounded domains (region, nation) are NOT replicated — that is the
point of BOUNDED_TABLES: their cardinality is scale-invariant.
Documents get a per-copy token appended so cross-copy texts are not
accidental near-duplicates (which would quadratically inflate dedup
pair outputs and measure data-shape, not plans); within-copy near-dup
structure is preserved. Embedding vectors get one per-copy dimension
nudge for the same reason.

Usage: python scripts/make_scale_fixture.py [/tmp/sf1] [copies=10]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# table -> {column: key_family}; every column of one family shares a
# stride so cross-table FKs stay aligned
KEYED = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "cust"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
BOUNDED = ["region", "nation"]


def _stride(spark: SparkSession, family_max: int) -> int:
    return 10 ** math.ceil(math.log10(family_max + 2))


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    from rpa_etl_investing_spark.session import get_spark

    spark = get_spark(app_name="make-scale-fixture")

    # one stride per key family, from the observed max
    fam_max: dict[str, int] = {}
    for tbl, cols in KEYED.items():
        df = spark.read.parquet(f"{SRC}/{tbl}.parquet")
        for col, fam in cols.items():
            m = df.agg(F.max(F.col(col).cast("bigint"))).first()[0] or 0
            fam_max[fam] = max(fam_max.get(fam, 0), int(m))
    strides = {fam: _stride(spark, m) for fam, m in fam_max.items()}
    print("strides:", strides)

    for tbl in BOUNDED:
        spark.read.parquet(f"{SRC}/{tbl}.parquet").write.mode("overwrite").parquet(
            f"{out}/{tbl}.parquet"
        )
        print(f"{tbl}: copied (bounded domain)")

    for tbl, cols in KEYED.items():
        src = spark.read.parquet(f"{SRC}/{tbl}.parquet")
        parts: list[DataFrame] = []
        for i in range(copies):
            c = src
            for col, fam in cols.items():
                c = c.withColumn(
                    col, (F.col(col).cast("bigint") + F.lit(i * strides[fam])).alias(col)
                )
            if tbl == "documents" and i > 0:
                c = c.withColumn("text", F.concat_ws(" ", "text", F.lit(f"cp{i}")))
                c = c.withColumn("n_chars", F.length("text"))
            if tbl == "embeddings" and i > 0:
                # nudge the first dimension so cross-copy vectors aren't
                # exact duplicates (keeps ANN result densities realistic)
                c = c.withColumn(
                    "embedding",
                    F.concat(
                        F.array(
                            (F.element_at("embedding", 1) + F.lit(i * 1e-3)).cast(
                                "float"
                            )
                        ),
                        F.slice("embedding", 2, 10_000),
                    ),
                )
            parts.append(c)
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        # several output files so scans start parallel like a real dataset
        big.repartition(8).write.mode("overwrite").parquet(f"{out}/{tbl}.parquet")
        n = spark.read.parquet(f"{out}/{tbl}.parquet").count()
        print(f"{tbl}: {n} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
