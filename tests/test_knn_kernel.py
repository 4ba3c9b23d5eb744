"""The exact Arrow distance kernel under ``knn_exact`` and every
single-query hybrid plan: bit parity with a strict NumPy sum and with the
JVM expression, tie and boundary handling, NULL / wrong-dimension vectors,
and a plan whose size does not grow with the dimension. The batch kernels
(``knn_batch``, ``nsw_dense_topk``) and the driver snapshot return
``knn_exact``'s rows and bits through near-ties and NaN distances."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.functions.distance import l2_distance, l2_sq_distance
from acorn_hybrid_vector_search_spark.operators.hybrid import (
    acorn_prepare,
    acorn_search,
    postfilter_search,
    prefilter_search,
)
from acorn_hybrid_vector_search_spark.operators import snapshot
from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_dense_topk, nsw_write
from acorn_hybrid_vector_search_spark.operators.knn import knn_batch, knn_exact


def _strict(x, ids, q, k, sqrt=False):
    """(id, repr(dist)) of the top k by (dist, id): float64, summed one
    dimension at a time, left to right."""
    x = np.asarray(x, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    acc = np.zeros(len(x))
    for j in range(x.shape[1]):
        d = x[:, j] - q[j]
        acc = acc + d * d
    if sqrt:
        acc = np.sqrt(acc)
    order = sorted(range(len(x)), key=lambda i: (acc[i], ids[i]))[:k]
    return [(int(ids[i]), repr(float(acc[i]))) for i in order]


def _got(df):
    return [(r["vec_id"], repr(r["dist"])) for r in df.select("vec_id", "dist").collect()]


def _expr(df, q, k, dist=l2_sq_distance):
    """The same top k through the JVM ``zip_with`` + ``aggregate`` distance."""
    return _got(
        df.withColumn("dist", dist(F.col("embedding"), q)).orderBy("dist", "vec_id").limit(k)
    )


def _frame(spark, x, elem="float", ids=None, slices=4):
    ids = list(range(len(x))) if ids is None else ids
    rows = [(int(i), None if v is None else [float(e) for e in v]) for i, v in zip(ids, x)]
    df = spark.createDataFrame(rows, f"vec_id long, embedding array<{elem}>")
    return df.repartition(slices) if slices else df


@pytest.mark.parametrize("elem,dtype", [("float", "float32"), ("double", "float64")])
def test_kernel_matches_strict_numpy_and_expression(spark, elem, dtype):
    dtype = np.dtype(dtype).type
    rng = np.random.default_rng(7)
    x = rng.standard_normal((600, 48)).astype(dtype)
    q = (x[11] + rng.standard_normal(48).astype(dtype) * dtype(0.3)).tolist()
    df = _frame(spark, x, elem)
    want = _strict(x, list(range(600)), q, 25)
    assert _got(knn_exact(df, q, 25)) == want
    assert _expr(df, q, 25) == want


def test_kernel_l2_metric_matches_sqrt(spark):
    rng = np.random.default_rng(3)
    x = rng.standard_normal((200, 16))
    q = rng.standard_normal(16).tolist()
    df = _frame(spark, x, "double")
    want = _strict(x, list(range(200)), q, 10, sqrt=True)
    assert _got(knn_exact(df, q, 10, metric="l2")) == want
    assert _expr(df, q, 10, dist=l2_distance) == want
    with pytest.raises(ValueError, match="unsupported metric"):
        knn_exact(df, q, 10, metric="cosine")


def test_kernel_exact_tie_straddles_k_across_batches(spark):
    """Rows tied at the k-th distance fill three Arrow batches of three
    rows, the lowest tied ids listed last in their batch: a cut that kept
    k rows per batch by position would lose them."""
    tied, near, far = [1.0, 0.0], [0.5, 0.0], [3.0, 0.0]
    ids = [9, 8, 1, 7, 6, 0, 5, 3, 2]
    x = [tied, tied, tied, near, tied, tied, far, tied, tied]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        df = _frame(spark, x, "double", ids=ids, slices=0).coalesce(1)
        for k in (2, 3, 4):
            want = _strict(x, ids, [0.0, 0.0], k)
            assert _got(knn_exact(df, [0.0, 0.0], k)) == want
            assert _expr(df, [0.0, 0.0], k) == want
    finally:
        spark.conf.set(key, old)
    assert [i for i, _ in want] == [7, 0, 1, 2]


def test_kernel_k_edges_and_empty_partitions(spark):
    x = [[1.0, 1.0], [0.0, 0.0], [2.0, 2.0]]
    df = _frame(spark, x, "double", slices=8)  # most partitions are empty
    assert _got(knn_exact(df, [0.0, 0.0], 10)) == _strict(x, [0, 1, 2], [0.0, 0.0], 10)
    assert _got(knn_exact(df, [0.0, 0.0], 0)) == []
    assert _got(knn_exact(df.filter(F.lit(False)), [0.0, 0.0], 3)) == []


def test_predicate_rejecting_every_row_returns_nothing(spark):
    rng = np.random.default_rng(5)
    x = rng.standard_normal((50, 8))
    df = _frame(spark, x, "double").withColumn("brand", F.lit("Rivet"))
    preds = {"brand": ["exact", "nobody"]}
    q = x[0].tolist()
    assert _got(prefilter_search(df, q, preds, 5)) == []
    assert _got(postfilter_search(df, q, preds, 5)) == []
    assert _got(acorn_search(df, q, preds, 5)) == []
    assert _got(acorn_search(df, q, preds, 5, payload_cols=["brand"])) == []


_BAD = [(0, [0.0, 0.0]), (1, [5.0, 5.0]), (2, None), (3, [1.0, 1.0, 9.0]), (4, [0.1, 0.1])]
_SEARCHES = {
    "prefilter": lambda df: prefilter_search(df, [0.0, 0.0], None, 2),
    "postfilter": lambda df: postfilter_search(df, [0.0, 0.0], None, 2),
    "acorn": lambda df: acorn_search(df, [0.0, 0.0], None, 2),
}


@pytest.mark.parametrize("search", sorted(_SEARCHES))
def test_null_vectors_never_rank_first(spark, search):
    """Spark sorts NULLs first: a NULL distance used to beat the true
    nearest row. NULL vectors, and vectors holding a NULL element, have no
    distance and are never returned."""
    rows = [r for r in _BAD if r[0] != 3] + [(5, [None, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = _got(_SEARCHES[search](df))
    assert got == [(0, repr(0.0)), (4, repr(0.1 * 0.1 + 0.1 * 0.1))]
    assert [i for i, _ in _got(knn_exact(df, [0.0, 0.0], 10))] == [0, 4, 1]


@pytest.mark.parametrize("search", sorted(_SEARCHES))
def test_wrong_dimension_raises_naming_both(spark, search):
    df = spark.createDataFrame(_BAD, "vec_id long, embedding array<double>")
    with pytest.raises(Exception) as err:
        _SEARCHES[search](df).collect()
    assert "ValueError: vector dimension 3 does not match query dimension 2" in str(err.value)


def _plan(df) -> str:
    """Executed plan text with every number masked: expression and plan ids
    differ per build, and a literal vector still shows as its length."""
    return re.sub(r"\d+", "0", df._jdf.queryExecution().executedPlan().toString())


def test_plan_size_does_not_grow_with_dimension(spark):
    """The query vector rides in the kernel's closure, so a 2,048-d plan
    is the same text as an 8-d one, and no ``zip_with`` appears."""
    preds = {"brand": ["exact", "Rivet"]}
    sizes = {}
    for dim in (8, 2048):
        df = spark.createDataFrame(
            [(i, [float(i)] * dim, "Rivet") for i in range(4)],
            "vec_id long, embedding array<float>, brand string",
        )
        q = [0.5] * dim
        plans = {
            "knn_exact": _plan(knn_exact(df, q, 5)),
            "postfilter": _plan(postfilter_search(df, q, preds, 5)),
            "acorn_cand": _plan(acorn_prepare(df, q, preds, 5, payload_cols=["brand"]).cand),
            # four rows cannot fill k=5: the pre-filter fallback plan
            "acorn": _plan(acorn_search(df, q, preds, 5, payload_cols=["brand"])),
        }
        for name, p in plans.items():
            assert "zip_with" not in p and "ArrowEvalPython" in p, (name, dim)
        sizes[dim] = {name: len(p) for name, p in plans.items()}
    assert sizes[8] == sizes[2048]


def test_prefilter_plan_pushes_filter_and_takes_ordered(spark, tmp_path):
    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, [float(i), 0.0], "Rivet" if i % 2 else "Pinzon") for i in range(20)],
        "vec_id long, embedding array<float>, brand string",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    res = prefilter_search(df, [0.0, 0.0], {"brand": ["exact", "Rivet"]}, 3)
    p = _plan(res)
    assert "TakeOrderedAndProject" in p and "ArrowEvalPython" in p
    assert "PushedFilters: [IsNotNull(brand), EqualTo(brand,Rivet)]" in p
    assert [r["vec_id"] for r in res.collect()] == [1, 3, 5]


# ---------------------------------------------------------------------------
# the batch kernel's gemm screen


def _by_query(df):
    """{query_id: [(vec_id, repr(dist))]} in Spark's (dist, id) order."""
    out = {}
    for r in df.orderBy("query_id", "dist", "vec_id").collect():
        out.setdefault(r["query_id"], []).append((r["vec_id"], repr(r["dist"])))
    return out


def _near_ties(dtype, n=60, dim=8, n_queries=70):
    """Rows and queries scattered 1e-4 around a point far from the origin,
    so the screen's gemm rounding (about eps·|x|²) exceeds the gaps
    between distances. Rows 10-19 duplicate rows 0-9 and rows 20-29 are
    1 ulp from them in one component; the ids are shuffled."""
    rng = np.random.default_rng(1)
    c = rng.uniform(500, 1000, dim)
    x = (c + rng.standard_normal((n, dim)) * 1e-4).astype(dtype)
    x[10:20] = x[0:10]
    for i in range(20, 30):
        x[i] = x[i - 20]
        x[i, i % dim] = np.nextafter(x[i, i % dim], dtype(np.inf))
    ids = [int(i) for i in rng.permutation(1000)[:n]]
    queries = [(i, (c + rng.standard_normal(dim) * 1e-4).tolist()) for i in range(n_queries)]
    return x, ids, queries


@pytest.mark.parametrize("elem,dtype", [("float", "float32"), ("double", "float64")])
def test_screen_keeps_near_ties_inside_the_margin(spark, tmp_path, elem, dtype):
    """``knn_batch`` (filtered and ``carry=True``) and ``nsw_dense_topk``
    return ``knn_exact``'s ids and ``dist`` bits for every query of a
    70-query batch (more than one query block) whose candidates sit
    inside the screen's margin: in whole-partition Arrow batches, and in
    batches of 7 rows, so ties at k straddle batches."""
    x, ids, queries = _near_ties(np.dtype(dtype).type)
    df = _frame(spark, x, elem, ids=ids, slices=0).coalesce(1)
    path = str(tmp_path / "store")
    nsw_write(df.repartition(2), path, vector_dtype=dtype)
    preds = {i: F.col("vec_id") % 3 != 0 for i, _ in queries if i % 2}
    want = {i: _got(knn_exact(df.filter(preds[i]) if i in preds else df, q, 5)) for i, q in queries}
    want_all = {i: _got(knn_exact(df, q, 5)) if i in preds else want[i] for i, q in queries}
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        for rows_per_batch in (old, "7"):
            spark.conf.set(key, rows_per_batch)
            assert _by_query(knn_batch(df, queries, 5, predicates=preds)) == want
            assert _by_query(knn_batch(df, queries, 5, predicates=preds, carry=True)) == want_all
            assert _by_query(nsw_dense_topk(spark, path, queries, 5, predicates=preds)) == want
    finally:
        spark.conf.set(key, old)


def test_nan_distances_rank_last_like_knn_exact(spark, tmp_path):
    """An Arrow batch with more than k scored rows but fewer than k finite
    distances: a cut at the k-th (NaN) distance kept no row at all."""
    nan = float("nan")
    x = [[2.0, 0.0], [nan, 0.0], [0.0, nan], [1.0, 0.0], [nan, nan]]
    ids = [4, 3, 2, 1, 0]
    df = _frame(spark, x, "double", ids=ids, slices=0).coalesce(1)
    path = str(tmp_path / "store")
    nsw_write(df, path)
    cached = _frame(spark, x, "double", ids=ids, slices=0).cache()
    cached.count()
    assert snapshot.take(cached) is not None
    q = [0.0, 0.0]
    want = _got(knn_exact(df, q, 3))
    assert want == [(1, "1.0"), (4, "4.0"), (0, "nan")]
    assert _by_query(knn_batch(df, [(0, q)], 3))[0] == want
    assert _got(snapshot.search(cached, q, None, 3)) == want
    # the store keeps a NaN element as NULL, and such a vector has no
    # distance: the dense scan equals knn_exact over the stored rows
    stored = spark.read.parquet(path)
    assert _by_query(nsw_dense_topk(spark, path, [(0, q)], 3))[0] == _got(
        knn_exact(stored, q, 3, vec_col="vector")
    )
    cached.unpersist()
