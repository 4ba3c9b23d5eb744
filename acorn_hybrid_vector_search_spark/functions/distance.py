"""Vector distance / similarity as JVM-side Column expressions.

Each is a Catalyst ``zip_with`` + ``aggregate`` expression summing in
DOUBLE, strictly left to right, so results are bit-reproducible and match
a DuckDB oracle that sums in the same order. A literal query vector puts
one plan node per dimension into the plan. Use these where a distance
feeds further JVM expressions (``centroids``, ``mining``, the entry
file's queries); exact top-k, single-query and batch, runs
``operators/knn.py``'s Arrow kernels, which return the same bits.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(v: Column | Sequence[float] | str) -> Column:
    """Accept a Column, a column name, or a Python vector literal."""
    if isinstance(v, Column):
        return v
    if isinstance(v, str):
        return F.col(v)
    return F.array(*[F.lit(float(x)) for x in v])


def l2_sq_distance(a: Column | Sequence[float] | str, b: Column | Sequence[float] | str) -> Column:
    """Squared Euclidean distance between two ARRAY<numeric> columns.

    Matches the reference's distance (hnswlib space='l2' returns squared L2;
    /root/reference/acorn.py:26, /root/reference/pre-filter.py:74-78).
    """
    a, b = _as_col(a), _as_col(b)
    diffs = F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2)
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def l2_distance(a: Column | Sequence[float] | str, b: Column | Sequence[float] | str) -> Column:
    """Euclidean distance."""
    return F.sqrt(l2_sq_distance(a, b))


def dot_product(a: Column | Sequence[float] | str, b: Column | Sequence[float] | str) -> Column:
    a, b = _as_col(a), _as_col(b)
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | Sequence[float] | str) -> Column:
    a = _as_col(a)
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(
    a: Column | Sequence[float] | str, b: Column | Sequence[float] | str
) -> Column:
    """Cosine similarity; NULL-safe on zero-norm vectors (returns NULL)."""
    a, b = _as_col(a), _as_col(b)
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot_product(a, b) / denom)
