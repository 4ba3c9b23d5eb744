"""Seeded inputs: an ABO-shaped corpus, its parquet image, and hybrid queries.

Everything here is a pure function of the seed, so two runs with one seed
send the program identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ABO brand strings; every one but the last carries the "Amazon" substring
BRANDS = (
    "AmazonBasics", "Amazon Brand - Solimo", "Amazon Brand - Rivet",
    "Amazon Brand - Stone & Beam", "Amazon Essentials", "Amazon Collection",
    "Amazon Brand - Symbol", "Amazon Commercial", "Rubie's",
)
BRAND_P = (0.30, 0.17, 0.12, 0.11, 0.10, 0.08, 0.05, 0.05, 0.02)
COUNTRIES = ("IN", "US", "GB", "DE", "CN", "JP", "ES", "IT", "FR", "CA", "MX", "AE")
COUNTRY_P = (0.41, 0.23, 0.07, 0.06, 0.05, 0.04, 0.03, 0.03, 0.03, 0.02, 0.02, 0.01)
COLORS = (
    "Black", "White", "Blue", "Grey", "Red", "Brown", "Multicolor", "Green",
    "Beige", "Silver", "Pink", "Navy Blue",
)

ATTRS = ("brand", "country", "color", "item_weight", "model_year")


@dataclass(frozen=True)
class Corpus:
    ids: np.ndarray       # int64, dense 0..n-1
    vectors: np.ndarray   # float32 (n, dim)
    brand: np.ndarray     # object, None = absent
    country: np.ndarray
    color: np.ndarray
    item_weight: np.ndarray  # float64, NaN = absent
    model_year: np.ndarray   # float64, NaN = absent (stored as nullable int)

    def __len__(self) -> int:
        return len(self.ids)


def _nullable(rng, values, p, present: float, n: int) -> np.ndarray:
    out = rng.choice(np.asarray(values, dtype=object), size=n, p=p)
    out[rng.random(n) >= present] = None
    return out


def make_vectors(rng, n: int, dim: int, clusters: int = 64) -> np.ndarray:
    """Clustered float32 vectors, the shape of image embeddings."""
    centers = rng.standard_normal((clusters, dim), dtype=np.float32)
    assign = rng.integers(0, clusters, n)
    noise = rng.standard_normal((n, dim), dtype=np.float32)
    return centers[assign] * np.float32(0.5) + noise


def make_corpus(seed: int, n: int, dim: int) -> Corpus:
    rng = np.random.default_rng(seed)
    vectors = make_vectors(rng, n, dim)
    weight = np.round(rng.lognormal(0.3, 1.0, n), 2)
    weight[rng.random(n) >= 0.70] = np.nan
    year = rng.integers(2010, 2021, n).astype(np.float64)
    year[rng.random(n) >= 0.03] = np.nan
    return Corpus(
        ids=np.arange(n, dtype=np.int64),
        vectors=vectors,
        brand=_nullable(rng, BRANDS, BRAND_P, 0.995, n),
        country=_nullable(rng, COUNTRIES, COUNTRY_P, 1.0, n),
        color=_nullable(rng, COLORS, None, 0.73, n),
        item_weight=weight,
        model_year=year,
    )


def vector_column(vectors: np.ndarray) -> pa.ListArray:
    n, dim = vectors.shape
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(vectors.reshape(-1)))


def corpus_table(c: Corpus) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(c.ids),
        "embedding": vector_column(c.vectors),
        "brand": pa.array(c.brand, pa.string()),
        "country": pa.array(c.country, pa.string()),
        "color": pa.array(c.color, pa.string()),
        "item_weight": pa.array(c.item_weight, pa.float64(), from_pandas=True),
        "model_year": pa.array(c.model_year, pa.float64(), from_pandas=True)
        .cast(pa.int32()),
    })


def write_parquet(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), f"{path}/part-{i:05d}.parquet",
            compression="none",
        )


# §2.4 selectivity classes; values are drawn per query from the seed. With
# the router's defaults (large_k=50, safety=2, k=10) a class routes to
# post-filter when its selectivity is at least 0.4: c1 and c2_weight_brand
# (0.54 or more) go there, c2_country_brand (0.18) and c3_country (0.23 or
# 0.07) go to pre-filter, and c3_year_color to the model_year subset.
CLASSES = {
    "c1_none": lambda rng: {},
    "c2_weight_brand": lambda rng: {
        "item_weight": ["<", float(rng.choice([3.0, 4.0, 5.0]))],
        "brand": ["substring", "Amazon"]},
    "c2_country_brand": lambda rng: {
        "country": ["exact", "IN"], "brand": ["substring", "Amazon Brand"]},
    "c3_country": lambda rng: {"country": ["exact", str(rng.choice(["US", "GB"]))]},
    "c3_year_color": lambda rng: {
        "model_year": ["leq", int(rng.integers(2014, 2021))],
        "color": ["substring", str(rng.choice(["Multicolor", "Blue", "Black"]))]},
}


@dataclass(frozen=True)
class Query:
    qid: int
    klass: str
    vec: np.ndarray  # float32
    preds: dict
    acorn: bool = False  # sent through acorn_search instead of the router


def make_queries(seed: int, corpus: Corpus, specs, qid0: int = 0) -> list[Query]:
    """One query per ``(class, acorn)`` spec; vectors are perturbed corpus
    rows, so every query has a non-trivial neighbourhood."""
    rng = np.random.default_rng([seed, 7919, qid0 % (1 << 32)])
    dim = corpus.vectors.shape[1]
    out = []
    for i, (klass, acorn) in enumerate(specs):
        base = corpus.vectors[rng.integers(0, len(corpus))]
        vec = base + rng.standard_normal(dim, dtype=np.float32) * np.float32(0.7)
        out.append(Query(qid0 + i, klass, vec.astype(np.float32),
                         CLASSES[klass](rng), acorn))
    return out


def stratified(seed: int, block: list, blocks: int) -> list:
    """``blocks`` copies of ``block``, each shuffled by the seed: every
    prefix of the schedule holds close to the block's exact class shares."""
    rng = np.random.default_rng([seed, 104729])
    out = []
    for _ in range(blocks):
        out.extend(block[i] for i in rng.permutation(len(block)))
    return out
