"""Input builders for the benchmark workloads.

Everything here is plain numpy/pyarrow: no Spark, so building inputs
never warms the engine that is about to be measured.

- :func:`replicate_corpus` builds the 10x curation corpus from the sf0.1
  fixture's ``documents``/``embeddings``: ten copies whose surrogate keys
  are offset per copy, each copy perturbed so copies are not exact
  duplicates of one another.
- :func:`scrape_batch` makes one scrape-shaped batch of Brazilian-locale
  cells with injected malformed cells, and :class:`EtlOracle` computes
  in plain Python what ``etl.load_star_schema`` and ``flagship_top10``
  must return for the batches loaded so far.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def replicate_corpus(out_dir: str, src_dir: str, copies: int) -> dict[str, dict]:
    """Write a ``copies``-fold curation corpus from ``src_dir``'s
    ``documents`` and ``embeddings`` tables; return its row counts and
    bytes on disk.

    As ``scripts/make_scale_fixture.py`` builds its FK-consistent
    replica: copy ``i`` offsets ``doc_id``/``vec_id`` by ``i * stride``
    (stride a power of ten above the base key range) so keys never
    collide. Copies after the first get the token ``cp<i>`` appended to
    every text and their first embedding dimension nudged by
    ``i * 1e-3``, so no copy is an exact duplicate of another: the dedup
    and ANN queries see the base's within-copy near-duplicate structure
    at ``copies`` times the volume, not a quadratic pile of cross-copy
    pairs. Each copy is one part file of a ``<table>.parquet``
    directory, so scans start in parallel.
    """
    docs = pq.read_table(os.path.join(src_dir, "documents.parquet")).replace_schema_metadata()
    vecs = pq.read_table(os.path.join(src_dir, "embeddings.parquet")).replace_schema_metadata()
    doc_stride = 10 ** len(str(pc.max(docs["doc_id"]).as_py() + 1))
    vec_stride = 10 ** len(str(pc.max(vecs["vec_id"]).as_py() + 1))
    base = np.stack(vecs["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    for name in ("documents", "embeddings"):
        os.makedirs(os.path.join(out_dir, f"{name}.parquet"))
    for i in range(copies):
        texts = docs["text"].to_pylist()
        if i > 0:
            texts = [f"{t} cp{i}" for t in texts]
        d = docs.set_column(
            docs.schema.get_field_index("doc_id"),
            "doc_id",
            pc.add(docs["doc_id"], i * doc_stride),
        )
        d = d.set_column(d.schema.get_field_index("text"), "text", pa.array(texts, pa.string()))
        d = d.set_column(
            d.schema.get_field_index("n_chars"),
            "n_chars",
            pa.array([len(t) for t in texts], d.schema.field("n_chars").type),
        )
        v = base.copy()
        v[:, 0] += np.float32(i * 1e-3)
        flat = pa.array(v.reshape(-1), type=pa.float32())
        offsets = pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32))
        e = vecs.set_column(
            vecs.schema.get_field_index("vec_id"), "vec_id", pc.add(vecs["vec_id"], i * vec_stride)
        )
        e = e.set_column(
            e.schema.get_field_index("embedding"),
            "embedding",
            pa.ListArray.from_arrays(offsets, flat).cast(vecs.schema.field("embedding").type),
        )
        pq.write_table(d, os.path.join(out_dir, "documents.parquet", f"part-{i:05d}.parquet"))
        pq.write_table(e, os.path.join(out_dir, "embeddings.parquet", f"part-{i:05d}.parquet"))
    sizes = {}
    for name, rows in (("documents", docs.num_rows), ("embeddings", vecs.num_rows)):
        d = os.path.join(out_dir, f"{name}.parquet")
        sizes[name] = {
            "rows": rows * copies,
            "bytes": sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)),
        }
    return sizes


# ---- scrape-shaped ETL batches --------------------------------------------

COUNTRIES = ["Brasil", "China", "EUA", "Argentina", "Chile", "Japão", "Alemanha"]
BAD_CELLS = ["n/d", "--", "x", ""]


def _br_number(v: float) -> str:
    """``128594.07`` -> ``"128.594,07"`` (Brazilian thousands/decimal)."""
    return f"{v:,.2f}".replace(",", "_").replace(".", ",").replace("_", ".")


def _br_percent(v: float) -> str:
    return f"{v:+.2f}%".replace(".", ",")


def parse_br_number(s: str | None) -> float | None:
    """The reference's cell transform: strip dots, comma to point."""
    if s is None:
        return None
    t = s.strip(" ").replace(".", "").replace(",", ".")
    try:
        return float(t)
    except ValueError:
        return None


def parse_br_percent(s: str | None) -> float | None:
    if s is None:
        return None
    return parse_br_number(s.strip(" ").replace("+", "").replace("%", ""))


def index_names(country: str, batch_no: int, base: int) -> list[str]:
    """Index names scraped for ``country`` in batch ``batch_no``: the
    pool grows by ``base`` names per batch, and each name belongs to
    exactly one country. Brazil's pool also holds the named B3 indices
    that have a sector of their own."""
    from rpa_etl_investing_spark.etl.sector_maps import SECTOR_BY_BRAZIL_INDEX

    named = list(SECTOR_BY_BRAZIL_INDEX) if country == "Brasil" else []
    return named + [f"{country} Index {k}" for k in range(base * (batch_no + 1))]


def scrape_batch(
    path: str, seed: int, batch_no: int, rows: int, bad_cell_share: float, stream: int = 0
) -> list[dict]:
    """Write one NDJSON batch of raw scrape rows and return the rows.
    ``stream`` separates batches that share a ``batch_no`` (the warm-up ones)."""
    if not 0 <= batch_no < 1000:
        raise ValueError(f"batch_no {batch_no} out of range")
    rng = np.random.default_rng([seed, stream, batch_no])
    country = rng.choice(COUNTRIES, rows)
    pools = {c: index_names(c, batch_no, 40) for c in COUNTRIES}
    pick = rng.integers(0, 1 << 30, rows)
    atual = rng.uniform(1.0, 250_000.0, rows)
    maxima = atual * rng.uniform(1.0, 1.05, rows)
    minima = atual * rng.uniform(0.95, 1.0, rows)
    var = rng.uniform(-9.99, 9.99, rows)
    bad = rng.random((rows, 4)) < bad_cell_share
    bad_pick = rng.integers(0, len(BAD_CELLS), (rows, 4))
    out = []
    with open(path, "w", encoding="utf-8") as f:
        for i in range(rows):
            pool = pools[country[i]]
            cells = [
                _br_number(atual[i]),
                _br_number(maxima[i]),
                _br_number(minima[i]),
                _br_percent(var[i]),
            ]
            for j in range(4):
                if bad[i, j]:
                    cells[j] = BAD_CELLS[bad_pick[i, j]]
            row = {
                "nome": f" {pool[pick[i] % len(pool)]} ",
                "valor_atual_raw": cells[0],
                "maxima_raw": cells[1],
                "minima_raw": cells[2],
                "variacao_raw": cells[3],
                "pais": str(country[i]),
            }
            f.write(json.dumps(row, ensure_ascii=False) + "\n")
            out.append(row)
    return out


@dataclass
class EtlOracle:
    """Expected results of successive loads into one warehouse."""

    fact_rows: int = 0
    countries: set = field(default_factory=set)
    sectors: set = field(default_factory=set)
    flagship_pool: list = field(default_factory=list)

    def load(self, rows: list[dict]) -> dict:
        from rpa_etl_investing_spark.etl.sector_maps import (
            DEFAULT_SECTOR_BRAZIL,
            DEFAULT_SECTOR_OTHER,
            SECTOR_BY_BRAZIL_INDEX,
            SECTOR_BY_COUNTRY,
        )

        clean = rejected = 0
        for r in rows:
            nums = [
                parse_br_number(r["valor_atual_raw"]),
                parse_br_number(r["maxima_raw"]),
                parse_br_number(r["minima_raw"]),
                parse_br_percent(r["variacao_raw"]),
            ]
            if r["nome"] is None or any(v is None for v in nums):
                rejected += 1
                continue
            clean += 1
            nome, pais = r["nome"].strip(" "), r["pais"]
            if pais == "Brasil":
                setor = SECTOR_BY_BRAZIL_INDEX.get(nome, DEFAULT_SECTOR_BRAZIL)
            else:
                setor = SECTOR_BY_COUNTRY.get(pais, DEFAULT_SECTOR_OTHER)
            self.countries.add(pais)
            self.sectors.add(setor)
            if setor == "Primário" and pais in ("China", "EUA"):
                self.flagship_pool.append((nome, pais, setor, nums[1]))
        self.fact_rows += clean
        self.flagship_pool.sort(key=lambda t: (-t[3], t[0]))
        del self.flagship_pool[10:]
        return {
            "clean_rows": clean,
            "rejected_rows": rejected,
            "pais_rows": len(self.countries),
            "setor_rows": len(self.sectors),
            "fact_rows": self.fact_rows,
        }

    def flagship(self) -> list[tuple]:
        return list(self.flagship_pool)
