"""K1/T1 — exact brute-force k-NN as a DataFrame plan.

The reference's ``ann_naive`` (/root/reference/pre-filter.py:63-95) is a
single-threaded Python loop: per-row squared-L2, full sort, truncate. Here
``knn_exact`` is one scalar Arrow distance kernel under ``ORDER BY dist, id
LIMIT k``, which Catalyst compiles to **TakeOrderedAndProject**: O(rows ·
dim) map-side work, an O(P·k) driver merge, no global sort, no shuffle.

Per Arrow batch the kernel reads the vectors with ``flatten().to_numpy()``
and sums squared differences in float64 one dimension at a time, left to
right (``acc = acc + d*d``). That is the order of ``functions.distance``'s
``zip_with`` + ``aggregate`` expression and of the oracle, so ``dist`` is
bit-identical to both; a BLAS dot or ``einsum`` reorders the sum and is
not. Only the vector column crosses to Python and one double per row comes
back, so Catalyst still prunes unread (nested) columns from the scan and
the JVM keeps the top k. The query vector rides in the kernel's closure,
so the plan does not grow with the dimension.

A NULL vector, or one holding a NULL element, has no distance and is never
returned. A vector whose length differs from the query's raises
``ValueError`` naming both dimensions (on the driver, a
``PythonException`` carrying that message).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window

from acorn_hybrid_vector_search_spark.functions.distance import l2_sq_distance


def knn_exact(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    metric: str = "l2_sq",
) -> DataFrame:
    """Exact top-k nearest rows of ``df`` to ``query_vec``.

    Returns ``df``'s columns plus ``dist_col`` (squared L2, or L2 for
    ``metric="l2"``), ordered (dist, id) asc.
    """
    if metric not in ("l2_sq", "l2"):
        raise ValueError(f"unsupported metric {metric!r}")
    q = np.asarray(query_vec, dtype=np.float64)
    dim = len(q)

    # a nested function using only numpy and pyarrow pickles by value, so
    # the Python workers need not import this package
    def dist(vecs: pa.Array) -> pa.Array:
        lens = pc.list_value_length(vecs).to_numpy(zero_copy_only=False)
        rows = np.flatnonzero(~np.isnan(lens))  # NULL vectors get no distance
        wrong = lens[rows] != dim
        if wrong.any():
            raise ValueError(
                f"vector dimension {int(lens[rows][wrong][0])} does not "
                f"match query dimension {dim}"
            )
        flat = vecs.flatten()
        x = flat.to_numpy(zero_copy_only=False).reshape(len(rows), dim)
        if flat.null_count:
            full = ~flat.is_null().to_numpy(zero_copy_only=False).reshape(-1, dim).any(1)
            rows, x = rows[full], x[full]
        xt = np.ascontiguousarray(x.T, dtype=np.float64)
        acc = np.zeros(len(rows))
        for j in range(dim):
            d = xt[j] - q[j]
            acc = acc + d * d
        out = np.zeros(len(vecs))
        out[rows] = np.sqrt(acc) if metric == "l2" else acc
        missing = np.ones(len(vecs), dtype=bool)
        missing[rows] = False
        return pa.array(out, mask=missing)

    # nondeterministic keeps the optimizer from pushing the NOT NULL filter
    # below the projection, which would run the kernel twice
    kernel = F.arrow_udf(dist, DoubleType()).asNondeterministic()
    return (
        df.withColumn(dist_col, kernel(F.col(vec_col)))
        .where(F.col(dist_col).isNotNull())
        .orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
) -> DataFrame:
    """Batch multi-query exact top-k: ONE scan answers every query.

    The reference's ``knn_query`` takes a whole batch of query vectors and
    fans them out over C++ threads (hnswlib/python_bindings/bindings.cpp:
    627-646 ParallelFor); the Spark shape is a broadcast of the bounded
    query table across the collection (BroadcastNestedLoopJoin — the big
    side never shuffles for the join), a distance per (row, query), then
    ``row_number() ≤ k`` per query. Returns ``df``'s columns plus
    (query_id, dist), tie-broken (dist, id).

    The per-query window shuffles N·|Q| pair rows — fine for modest query
    batches; for large |Q| or very large N use ``knn_batch_blas``
    (operators/similarity.py), which reduces to |partitions|·|Q|·k rows
    map-side before any shuffle.
    """
    pairs = df.crossJoin(F.broadcast(queries))
    d = l2_sq_distance(F.col(vec_col), F.col(query_vec_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(dist_col).asc(), F.col(id_col).asc()
    )
    return (
        pairs.withColumn(dist_col, d)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn", query_vec_col)
    )
