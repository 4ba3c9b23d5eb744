"""Driver snapshots: point queries over a small cached corpus with no Spark job.

Index construction fits Spark; answering one query does not. A single
hybrid query over a cached 23,396 × 256 corpus is a few milliseconds of
NumPy, but every plan that answers it pays one or two job dispatches
(PAPER.md §0: the reference builds its index once per process and times
only ``knn_query``). So a corpus that is cached and small is copied to
the driver once, and point queries over it are answered there.

Who takes a snapshot. ``collect_stats`` on a frame that is cached
(``df.is_cached``) and whose Spark plan statistic ``sizeInBytes`` is at
most ``BUDGET_BYTES``, and ``StrategyRouter.register_subset`` for a subset
frame under the same test (``take``). Nothing else builds one. The
snapshot is one ``toArrow()`` collect: every column as Arrow, except that
a float vector column of one dimension without NULL elements is kept only
as a contiguous (dim × n) matrix of its element type (``column`` rebuilds
its Arrow rows on demand).

Where it lives. In the ``_cache`` registry as a frame entry: keyed by the
frame OBJECT, through a weak reference, not by plan semantics. The
battery's ``load_table`` hands one cached object to every query, so a
plan-keyed snapshot would make unrelated rows that happen to read the
same table serve from the driver, depending on query order. The entry is
dropped when the frame is garbage collected, when a lookup (or the next
snapshot taken) finds it unpersisted, on ``_cache.reset()`` and with its
session.

Who uses it. ``StrategyRouter.search`` (every route keeps its semantics)
and ``acorn_prepare``/``AcornPrepared.search`` (the pre-filter rows). The
plan builders (``prefilter_search``, ``postfilter_search``,
``knn_exact``) always return Spark plans.

How a query is answered (``search``, ``acorn``):

- the predicate: a §2.3 dict under the default flat accessors whose
  values are well typed for their columns is evaluated with
  ``pyarrow.compute`` (``mask``), with Spark's semantics (NULL fails, NaN
  equals NaN and sorts above every number). A Column predicate, explicit
  accessors, or a None or ill-typed value returns None here, and the
  caller builds today's Spark plan;
- the distance: ``knn.strict_sq_l2``, the sum ``knn_exact`` calls, so
  ``dist`` is bit-identical. NULL vectors and vectors holding a NULL are
  never returned; a vector of another dimension than the query's raises
  ``knn_exact``'s ``ValueError`` when the query would have scored it;
- the rows: ordered (dist, id) as TakeOrderedAndProject orders them, and
  returned as ``spark.createDataFrame(arrow_table)``, a LocalRelation
  that collects without a job, with the schema the Spark plan has.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    NumericType,
    StringType,
    StructField,
    StructType,
)

from acorn_hybrid_vector_search_spark.functions.predicates import SUPPORTED_OPS, flat_kind
from acorn_hybrid_vector_search_spark.operators import _cache
from acorn_hybrid_vector_search_spark.operators.knn import dist_id_cut, strict_sq_l2

# the largest cached frame (by its plan's sizeInBytes) copied to the driver
BUDGET_BYTES = 64 << 20

_SQ_L2 = strict_sq_l2()
_CUT = dist_id_cut()


@dataclass(frozen=True)
class Snapshot:
    # the columns, less the vector columns held only as matrices
    table: pa.Table
    # every column's Arrow type, the matrix-only ones included
    arrow_schema: pa.Schema
    schema: StructType
    # per float vector column: (dim × n matrix, rows with a full vector,
    # rows with a non-NULL vector), or None when its lengths differ
    vectors: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray] | None]


def column(snap: Snapshot, name: str, rows: np.ndarray | None = None) -> pa.Array:
    """Column ``name`` of the snapshot as Arrow, at ``rows`` (all rows
    when None). A vector column kept only as a matrix is rebuilt from it
    with its Arrow type."""
    if name in snap.table.column_names:
        col = snap.table.column(name).chunk(0)
        return col if rows is None else col.take(pa.array(rows, type=pa.int64()))
    xt, _, present = snap.vectors[name]
    if rows is None:
        rows = np.arange(len(present))
    valid = present[rows]
    offsets = np.zeros(len(rows) + 1, dtype=np.int32)
    np.cumsum(valid * len(xt), out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.array(xt[:, rows[valid]].T.ravel()),
        type=snap.arrow_schema.field(name).type,
        mask=pa.array(~valid),
    )


def _vector_matrix(arr: pa.ChunkedArray, dtype) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
    present = ~np.isnan(lens)
    dims = np.unique(lens[present])
    if len(dims) > 1:
        return None
    dim = int(dims[0]) if len(dims) else 0
    xt = np.zeros((dim, len(arr)), dtype=dtype)
    full = present.copy()
    if dim:
        flat = pc.list_flatten(arr)
        xt[:, present] = flat.to_numpy(zero_copy_only=False).reshape(-1, dim).T
        if flat.null_count:
            holes = flat.is_null().to_numpy(zero_copy_only=False).reshape(-1, dim).any(1)
            full[np.flatnonzero(present)[holes]] = False
    return xt, full, present


def _build(df: DataFrame) -> Snapshot:
    collected = df.toArrow()
    vectors = {}
    for f in df.schema.fields:
        t = f.dataType
        if isinstance(t, ArrayType) and isinstance(t.elementType, (FloatType, DoubleType)):
            dtype = np.float32 if isinstance(t.elementType, FloatType) else np.float64
            vectors[f.name] = _vector_matrix(collected.column(f.name), dtype)
    # one chunk per column, also when the frame is empty; a vector column
    # without a NULL element is held only as its matrix
    kept = [
        f for f in collected.schema
        if (m := vectors.get(f.name)) is None or not (m[1] == m[2]).all()
    ]
    table = pa.Table.from_arrays(
        [collected.column(f.name).combine_chunks() for f in kept], schema=pa.schema(kept)
    )
    return Snapshot(table, collected.schema, df.schema, vectors)


def take(df: DataFrame) -> Snapshot | None:
    """The snapshot of ``df``, taken now if ``df`` is cached and within
    ``BUDGET_BYTES``; None otherwise."""
    if not df.is_cached:
        return None
    # a new plan: ``df``'s own memoizes the statistic it had before its
    # cache was materialized
    if df.select("*")._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() > BUDGET_BYTES:
        return None
    return _cache.frame_memo(df, "snapshot", lambda: _build(df))


# ---------------------------------------------------------------------------
# statistics


def histogram(snap: Snapshot, attr: str, max_distinct: int):
    """``(counts, n_null, ndv)`` of column ``attr`` as ``collect_stats``'s
    Spark aggregate gives them (``ndv`` only past ``max_distinct``,
    counting the NULL group, else None), or None when ``attr`` is not a
    top-level column of a scalar type this reproduces exactly."""
    if attr not in snap.schema.fieldNames() or not isinstance(
        snap.schema[attr].dataType, (NumericType, StringType, BooleanType, DateType)
    ):
        return None
    col = snap.table.column(attr).chunk(0)
    if pa.types.is_floating(col.type):
        # Spark groups -0.0 with 0.0 and every NaN together
        col = pc.if_else(pc.is_nan(col), pa.scalar(math.nan, col.type),
                         pc.add(col, pa.scalar(0.0, col.type)))
    vc = pc.value_counts(col)
    if len(vc) > max_distinct:
        return {}, col.null_count, len(vc)
    counts = {
        v: int(c)
        for v, c in zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist())
        if v is not None
    }
    return counts, col.null_count, None


# ---------------------------------------------------------------------------
# predicates


def _numeric_term(col: pa.Array, op: str, value) -> pa.Array | None:
    """``col <op> value`` with Spark's coercion and NaN ordering, or None
    when the pair is outside what this reproduces."""
    t = col.type
    if not (pa.types.is_integer(t) or pa.types.is_floating(t)):
        return None
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        return None
    if isinstance(value, int) and not (
        -(1 << 63) <= value < (1 << 63)
        # Spark compares a float column with an int in float32
        and (t != pa.float32() or abs(value) <= 1 << 24)
    ):
        return None
    if isinstance(value, float) or pa.types.is_floating(t):
        x, v = pc.cast(col, pa.float64(), safe=False), float(value)
    else:
        x, v = pc.cast(col, pa.int64()), value
    nan = pc.is_nan(x) if pa.types.is_floating(x.type) else pa.repeat(False, len(x))
    if isinstance(v, float) and math.isnan(v):
        # NaN = NaN, and NaN is above every other value
        return {
            "exact": nan, "geq": nan, "<": pc.invert(nan),
            "leq": pa.repeat(True, len(x)), ">": pa.repeat(False, len(x)),
        }[op]
    if op == "exact":
        return pc.equal(x, v)
    if op == "<":
        return pc.less(x, v)
    if op == "leq":
        return pc.less_equal(x, v)
    if op == ">":
        return pc.or_(pc.greater(x, v), nan)
    return pc.or_(pc.greater_equal(x, v), nan)  # geq


def mask(snap: Snapshot, predicates) -> np.ndarray | None:
    """The rows passing ``build_predicate(predicates, flat_accessors(df))``
    as a boolean array, or None when the predicate is outside the §2.3
    dict grammar this evaluates (the caller then runs the Spark plan)."""
    m = np.ones(snap.table.num_rows, dtype=bool)
    if predicates is None:
        return m
    if not isinstance(predicates, Mapping):
        return None
    names = snap.schema.fieldNames()
    for attr, spec in predicates.items():
        if attr not in names or "." in attr or "`" in attr:
            return None
        if not isinstance(spec, Sequence) or isinstance(spec, str) or len(spec) != 2:
            return None
        op, value = spec
        col = column(snap, attr)
        m &= col.is_valid().to_numpy(zero_copy_only=False)
        kind = flat_kind(snap.schema[attr].dataType.simpleString())
        if not isinstance(op, str) or op not in SUPPORTED_OPS[kind]:
            continue  # unsupported (attr, op): the presence test alone
        if kind == "string":
            if not isinstance(value, str) or not (
                pa.types.is_string(col.type) or pa.types.is_large_string(col.type)
            ):
                return None
            term = pc.equal(col, value) if op == "exact" else pc.match_substring(col, value)
        else:
            term = _numeric_term(col, op, value)
            if term is None:
                return None
        m &= term.fill_null(False).to_numpy(zero_copy_only=False)
    return m


# ---------------------------------------------------------------------------
# search


def local_relation(spark, table: pa.Table, schema: StructType) -> DataFrame:
    """``table`` as a LocalRelation with ``schema``: it collects on the
    driver, without a Spark job."""
    return spark.createDataFrame(table, schema=schema)


class _Query:
    """One query against a snapshot: the rows its predicate passes and
    the distance of every row it scores."""

    def __init__(self, spark, snap: Snapshot, vec_col: str, id_col: str, query_vec, passing):
        self.spark = spark
        self.snap = snap
        self.xt, self.full, self.present = snap.vectors[vec_col]
        self.ids = column(snap, id_col).to_numpy(zero_copy_only=False)
        self.q = np.asarray(query_vec, dtype=np.float64)
        self.passing = passing

    def scored(self, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """The rows of ``rows`` with a full vector and their distances;
        raises ``knn_exact``'s ValueError if one has another dimension."""
        if len(self.q) != self.xt.shape[0] and self.present[rows].any():
            raise ValueError(
                f"vector dimension {self.xt.shape[0]} does not match query "
                f"dimension {len(self.q)}"
            )
        rows = rows[self.full[rows]]
        if not len(rows):
            return rows, np.zeros(0)
        xt = self.xt if len(rows) == self.xt.shape[1] else self.xt[:, rows]
        return rows, _SQ_L2(xt, self.q)

    def first(self, rows: np.ndarray, dist: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
        """The first ``n`` of ``rows`` by (dist, id), with their distances."""
        order = _CUT(dist, self.ids[rows], n)
        return rows[order], dist[order]

    def relation(self, rows: np.ndarray, dist: np.ndarray, cols: Sequence[str], dist_col: str):
        """``rows`` projected to ``cols`` plus ``dist_col`` (replacing a
        column of that name in place, as ``withColumn`` does)."""
        names = list(cols) if dist_col in cols else [*cols, dist_col]
        arrays = [
            pa.array(dist, pa.float64()) if n == dist_col else column(self.snap, n, rows)
            for n in names
        ]
        fields = [
            StructField(dist_col, DoubleType(), True) if n == dist_col else self.snap.schema[n]
            for n in names
        ]
        table = pa.Table.from_arrays(arrays, names=names)
        return local_relation(self.spark, table, StructType(fields))


def _query(df, query_vec, predicates, accessors, vec_col, id_col) -> _Query | None:
    """A snapshot query of ``df``, or None when no snapshot of ``df`` can
    answer this query exactly as the Spark plan would."""
    if accessors is not None:
        return None
    snap = _cache.frame_memo(df, "snapshot")
    if snap is None or snap.vectors.get(vec_col) is None:
        return None
    if id_col not in snap.schema.fieldNames():
        return None
    ids = column(snap, id_col)
    if not pa.types.is_integer(ids.type) or ids.null_count:
        return None
    passing = mask(snap, predicates)
    if passing is None:
        return None
    return _Query(df.sparkSession, snap, vec_col, id_col, query_vec, passing)


def search(
    df: DataFrame,
    query_vec: Sequence[float],
    predicates: Any,
    k: int,
    *,
    large_k: int | None = None,
    accessors=None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
) -> DataFrame | None:
    """``prefilter_search``'s rows (``large_k=None``) or
    ``postfilter_search``'s rows with that ``large_k``, from the snapshot
    of ``df``; None when the snapshot cannot answer (see ``_query``)."""
    qy = _query(df, query_vec, predicates, accessors, vec_col, id_col)
    if qy is None:
        return None
    if large_k is None:
        rows, dist = qy.first(*qy.scored(np.flatnonzero(qy.passing)), k)
    else:
        rows, dist = qy.first(*qy.scored(np.arange(len(qy.passing))), large_k)
        keep = qy.passing[rows]
        rows, dist = rows[keep][:k], dist[keep][:k]
    return qy.relation(rows, dist, qy.snap.schema.fieldNames(), dist_col)


def acorn(
    df: DataFrame,
    query_vec: Sequence[float],
    predicates: Any,
    k: int,
    width: int,
    *,
    accessors=None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    payload_cols: Sequence[str] | None = None,
) -> Callable[[], tuple[DataFrame, bool] | None] | None:
    """K4 (``AcornPrepared.search``) from the snapshot of ``df``: None
    when the snapshot cannot answer (see ``_query``), or when the Spark
    plan would reject the projection (a missing column, or a predicate
    reading a column ``payload_cols`` drops); otherwise a function that
    answers, giving ``(rows, filled)`` or None once the snapshot is gone.
    When the top ``width`` rows by (dist, id) hold k passing rows,
    ``filled`` is True and the rows are the first k of them, projected as
    the candidate plan projects them; otherwise the rows are the
    pre-filter answer with every column."""
    qy = _query(df, query_vec, predicates, accessors, vec_col, id_col)
    if qy is None:
        return None
    names = qy.snap.schema.fieldNames()
    cols = names
    if payload_cols is not None:
        cols = list(dict.fromkeys([id_col, *payload_cols]))
        if not set(cols) <= set(names) or not set(predicates or ()) <= {*cols, vec_col}:
            return None

    def answer() -> tuple[DataFrame, bool] | None:
        if _cache.frame_memo(df, "snapshot") is not qy.snap:
            return None
        rows, dist = qy.scored(np.arange(len(qy.passing)))
        top, top_dist = qy.first(rows, dist, width)
        hit = qy.passing[top]
        if hit.sum() >= k:
            return qy.relation(top[hit][:k], top_dist[hit][:k], cols, dist_col), True
        keep = qy.passing[rows]
        rows, dist = qy.first(rows[keep], dist[keep], k)
        return qy.relation(rows, dist, names, dist_col), False

    return answer
