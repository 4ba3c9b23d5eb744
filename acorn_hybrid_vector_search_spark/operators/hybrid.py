"""K2/K3/K4/K5 — the reference's three hybrid-search strategies, Spark-first.

The single logical query shape (SURVEY.md §2.2):

    SELECT id, dist(embedding, :q) AS score, ...
    FROM   collection
    WHERE  <metadata conjunction>
    ORDER  BY score ASC LIMIT :k

The reference hand-implements three physical strategies; here each is a
DataFrame plan and the *exact* pre-filter is the default (Catalyst already
gives it the optimizations the other two strategies approximate):

- ``prefilter_search`` (K2, /root/reference/pre-filter.py:183-229): filter
  first, then exact top-k on survivors. Predicate + column pruning push to
  the scan; top-k is TakeOrderedAndProject. Exact, and at Spark scale
  usually also fastest — the filter shrinks the expensive distance work.
- ``postfilter_search`` (K3, /root/reference/acorn.py:52-144): top
  ``large_k`` by distance FIRST, then apply the predicate, truncate to k.
  Kept because its semantics differ (it can return < k rows when the
  filter is selective — the reference's accuracy-collapse case) and the
  oversampling knob is the research surface.
- ``acorn_search`` (K4, /root/reference/acorn.py:149-238): the reference's
  iterative budgeted-HNSW traversal. Its traversal-time mechanics
  (max_visits budget, blocked set, livelock escape) are pointwise engine
  internals with no set-oriented analog; the *contract* — "exact-or-better
  results for (filter, top-k) with bounded work" — is delivered by an
  exact escalation that returns the pre-filter answer (below).
- ``attribute_partitioned_search`` (K5,
  /root/reference/acorn_attribute_specific.py:44-77): route queries
  constrained on a sparse attribute to a materialized subset. With
  Parquet + partitioned materializations this is partition pruning.

Why K4's rows are the pre-filter rows. The reference's rounds oversample
4k, 16k, 64k, …; the last round takes the top ``L =
initial_oversample·4^(max_rounds−1)·k`` rows by (dist, id). Every round's
candidates are a prefix of the whole table in (dist, id) order, so a
round holding ≥ k passing rows holds the first k passing rows of the
whole table, which are exactly ``prefilter_search``'s rows; and the
rounds are nested, so whichever round fills first, L fills too and gives
the same rows. When L holds fewer than k passing rows the escalation
runs the pre-filter plan itself. The round number and the knobs
therefore change only the cost, never the rows (``dist`` comes from the
same kernel on both paths, so it is bit-identical). The single-query
form keeps its own cost profile (``AcornPrepared``: the predicate runs
on L rows, a second scan only on under-fill); a batch already applies
every query's predicate as a mask in one scan, so ``acorn_search_batch``
is ``prefilter_search_batch``.

Serving from a driver snapshot. ``acorn_prepare``/``AcornPrepared``
(and ``StrategyRouter.search``) answer from the driver snapshot of
``df`` when one exists: ``df`` is a cached frame within the snapshot
budget that ``collect_stats`` or ``register_subset`` was given, the
predicate is a §2.3 dict under the default flat accessors with
well-typed values, and the vectors have one dimension
(``operators/snapshot.py``). The rows, ``dist`` bits and schema are the
Spark plan's, returned as a local relation that collects without a job.
The snapshot is keyed by the frame OBJECT, not by plan semantics: the
battery hands one cached table object to every query, and a
plan-keyed snapshot would turn unrelated rows over the same table
driver-local depending on query order. The plan builders here
(``prefilter_search``, ``postfilter_search``, the batch forms) always
return Spark plans.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema

from acorn_hybrid_vector_search_spark.functions.predicates import (
    AttributeAccessor,
    build_predicate,
    flat_accessors,
)
from acorn_hybrid_vector_search_spark.operators import snapshot
from acorn_hybrid_vector_search_spark.operators.knn import (
    knn_batch,
    knn_exact,
    merge_topk,
    query_batch_matrix,
)

Predicates = Mapping[str, Sequence[Any]]


def _resolve_predicate(
    df: DataFrame,
    predicates: Predicates | Column | None,
    accessors: Mapping[str, AttributeAccessor] | None,
) -> Column:
    if predicates is None:
        return F.lit(True)
    if isinstance(predicates, Column):
        return predicates
    if accessors is None:
        accessors = flat_accessors(df)
    return build_predicate(predicates, accessors)


def prefilter_search(
    df: DataFrame,
    query_vec: Sequence[float],
    predicates: Predicates | Column | None,
    k: int,
    *,
    accessors: Mapping[str, AttributeAccessor] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
) -> DataFrame:
    """K2: exact hybrid search — the reference's ground-truth strategy."""
    cond = _resolve_predicate(df, predicates, accessors)
    return knn_exact(
        df.filter(cond), query_vec, k, vec_col=vec_col, id_col=id_col, dist_col=dist_col
    )


def postfilter_search(
    df: DataFrame,
    query_vec: Sequence[float],
    predicates: Predicates | Column | None,
    k: int,
    *,
    large_k: int = 50,
    accessors: Mapping[str, AttributeAccessor] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
) -> DataFrame:
    """K3: vector-first — top-``large_k`` candidates, then the predicate.

    Mirrors /root/reference/acorn.py:52-144 (ef=50, large_k=50 defaults)
    with an exact candidate stage instead of HNSW: results are therefore a
    superset-in-quality of the reference's (same semantics, no ANN miss).
    May legitimately return fewer than k rows — that IS the post-filter
    failure mode the reference studies.
    """
    cond = _resolve_predicate(df, predicates, accessors)
    cand = knn_exact(df, query_vec, large_k, vec_col=vec_col, id_col=id_col, dist_col=dist_col)
    return cand.filter(cond).orderBy(F.col(dist_col).asc(), F.col(id_col).asc()).limit(k)


def _acorn_width(k: int, initial_oversample: int, max_rounds: int) -> int:
    """L, the size of K4's distance-first candidate set: its last
    round's ``initial_oversample·4^(max_rounds−1)·k``."""
    if initial_oversample < 1 or max_rounds < 1:
        raise ValueError(
            "initial_oversample and max_rounds must be >= 1, got "
            f"{initial_oversample} and {max_rounds}"
        )
    return initial_oversample * 4 ** (max_rounds - 1) * k


def acorn_search(
    df: DataFrame,
    query_vec: Sequence[float],
    predicates: Predicates | Column | None,
    k: int,
    *,
    initial_oversample: int = 4,
    max_rounds: int = 3,
    accessors: Mapping[str, AttributeAccessor] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """K4: the pre-filter answer, reached through a bounded candidate set.

    The reference escalates an HNSW visit budget round by round
    (/root/reference/acorn.py:149-238). Here the predicate is evaluated on
    the top ``L`` rows by distance only (one TakeOrderedAndProject scan);
    the exact pre-filter plan runs only when those hold fewer than k
    passing rows. The rows are ``prefilter_search``'s either way (see the
    module docstring).

    ``payload_cols``: columns the caller will actually keep (must include
    every column the predicate reads). Default is all of ``df``'s columns
    — but the candidate collect then ships L full rows INCLUDING the
    vectors; at 2048-dim that is ~5 MB of floats the caller usually
    drops. Passing the projection keeps the collect to a few KB.
    """
    return acorn_prepare(
        df, query_vec, predicates, k, initial_oversample=initial_oversample,
        max_rounds=max_rounds, accessors=accessors, vec_col=vec_col,
        id_col=id_col, dist_col=dist_col, payload_cols=payload_cols,
    ).search()


class AcornPrepared:
    """The build/search split of K4, mirroring the reference's lifecycle
    (acorn.py:274-277 builds the index once per process; the reported
    latencies time ``knn_query`` alone): ``acorn_prepare`` pays Python
    plan construction and analysis ONCE; every ``search()`` re-executes
    the candidate scan (nothing about the data is cached here), and the
    pre-filter plan when the candidates under-fill.

    On a frame with a driver snapshot (``operators/snapshot.py``),
    ``search()`` answers from the snapshot without a Spark job, and the
    plans ``cand`` and ``fallback`` are built only when read."""

    __slots__ = ("_build", "_plans", "_serve", "_fallback", "k", "dist_col", "id_col")

    def __init__(self, build, serve, *, k: int, dist_col: str, id_col: str) -> None:
        self._build = build
        self._plans = None if serve is not None else build()
        self._serve = serve
        self._fallback = None
        self.k = k
        self.dist_col = dist_col
        self.id_col = id_col

    def _plan(self, i: int) -> DataFrame:
        if self._plans is None:
            self._plans = self._build()
        return self._plans[i]

    @property
    def cand(self) -> DataFrame:
        """The top ``L`` rows by (dist, id) with their ``_passes`` verdict."""
        return self._plan(0)

    @property
    def fallback(self) -> DataFrame:
        """The exact pre-filter answer: the plan, or the snapshot's rows
        once ``search()`` served an under-fill from the snapshot."""
        return self._fallback if self._fallback is not None else self._plan(1)

    def search(self) -> DataFrame:
        """The first k passing candidates by (dist, id) as a local
        relation, or ``self.fallback`` itself when fewer than k pass."""
        served = self._serve and self._serve()
        if served is not None:
            rows, filled = served
            if not filled:
                self._fallback = rows
            return rows
        rows = sorted(
            self.cand.collect(), key=lambda r: (r[self.dist_col], r[self.id_col])
        )
        hits = [r.asDict() for r in rows if r["_passes"]][: self.k]
        if len(hits) < self.k:
            return self.fallback
        schema = self.cand.drop("_passes").schema
        table = (
            LocalDataToArrowConversion.convert(hits, schema, False) if hits
            else to_arrow_schema(schema).empty_table()
        )
        return snapshot.local_relation(self.cand.sparkSession, table, schema)


def acorn_prepare(
    df: DataFrame,
    query_vec: Sequence[float],
    predicates: Predicates | Column | None,
    k: int,
    *,
    initial_oversample: int = 4,
    max_rounds: int = 3,
    accessors: Mapping[str, AttributeAccessor] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    payload_cols: Sequence[str] | None = None,
) -> AcornPrepared:
    """Build the K4 plans once (see AcornPrepared): the top ``L`` rows of
    ``df`` by (dist, id), each with its predicate verdict ``_passes`` and
    projected to ``payload_cols`` (plus id and dist) when given, and the
    exact pre-filter fallback. Skipped while a snapshot of ``df`` answers
    (they are then built when first read)."""
    width = _acorn_width(k, initial_oversample, max_rounds)

    def build() -> tuple[DataFrame, DataFrame]:
        cond = _resolve_predicate(df, predicates, accessors)
        cand_df = df
        if payload_cols is not None:
            keep = list(dict.fromkeys([id_col, *payload_cols]))
            cand_df = df.select(*dict.fromkeys([*keep, vec_col]))
        cand = knn_exact(
            cand_df, query_vec, width, vec_col=vec_col, id_col=id_col, dist_col=dist_col,
        ).withColumn("_passes", cond)
        if payload_cols is not None and vec_col not in keep:
            cand = cand.drop(vec_col)
        fallback = prefilter_search(
            df, query_vec, cond, k, vec_col=vec_col, id_col=id_col, dist_col=dist_col
        )
        return cand, fallback

    serve = snapshot.acorn(
        df, query_vec, predicates, k, width, accessors=accessors, vec_col=vec_col,
        id_col=id_col, dist_col=dist_col, payload_cols=payload_cols,
    )
    return AcornPrepared(build, serve, k=k, dist_col=dist_col, id_col=id_col)


# ---------------------------------------------------------------------------
# batched hybrid search: one corpus scan answers a whole batch of hybrid
# queries, each with its OWN §2.3 predicate, through knn.knn_batch.


def _batch_masks(
    df: DataFrame,
    queries: Sequence[tuple[Any, Sequence[float], Predicates | Column | None]],
    accessors: Mapping[str, AttributeAccessor] | None,
) -> dict[int, Column]:
    """Each query's predicate as the Column its single-query search would
    filter on, for the queries that carry one."""
    if accessors is None:
        accessors = flat_accessors(df)
    return {
        int(qid): _resolve_predicate(df, preds, accessors)
        for qid, _, preds in queries
        if preds is not None
    }


def _query_pairs(queries) -> list[tuple[int, Sequence[float]]]:
    """The (id, vector) half of a hybrid batch, validated on the driver
    (duplicate ids and ragged vectors raise)."""
    pairs = [(qid, vec) for qid, vec, _ in queries]
    query_batch_matrix(pairs)
    return pairs


def prefilter_search_batch(
    df: DataFrame,
    queries: Sequence[tuple[Any, Sequence[float], Predicates | None]],
    k: int,
    *,
    accessors: Mapping[str, AttributeAccessor] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    query_id_col: str = "query_id",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """K2 for a QUERY BATCH: one corpus scan answers every (vector,
    predicate, k) query — the reference's real serving surface is a batch
    (hnswlib/python_bindings/bindings.cpp:627-646 runs knn_query over a
    ParallelFor of queries; the §2.4 battery is a batch of hybrid
    queries). Per-query driver-planned jobs pay plan + scan × |Q|; this
    pays them once.

    ``queries``: bounded driver-side [(query_id, vector, predicates), …]
    where ``predicates`` is the §2.3 grammar ``{attr: [op, value]}`` (or
    None/{} for a pure top-k query — the class-1 shape). Each query's
    predicate is ``build_predicate``'s Column, used as that query's mask
    in ``knn_batch``, so per query the result is ``prefilter_search``'s
    rows with the same ``dist`` bits. The rows carry ``query_id_col``,
    ``dist_col`` and ``df``'s columns except ``vec_col`` (the kernel
    keeps the vectors).

    ``payload_cols``: projection applied before the scan (must include
    every column the batch's predicates read); default all of ``df``'s
    columns.
    """
    masks = _batch_masks(df, queries, accessors)
    if payload_cols is not None:
        df = df.select(*dict.fromkeys([id_col, *payload_cols, vec_col]))
    return knn_batch(
        df, _query_pairs(queries), k, predicates=masks, vec_col=vec_col,
        id_col=id_col, dist_col=dist_col, query_id_col=query_id_col,
    )


def postfilter_search_batch(
    df: DataFrame,
    queries: Sequence[tuple[Any, Sequence[float], Predicates | None]],
    k: int,
    *,
    large_k: int = 50,
    accessors: Mapping[str, AttributeAccessor] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    query_id_col: str = "query_id",
) -> DataFrame:
    """K3 for a query batch: per-query top-``large_k`` candidates FIRST
    (each predicate rides along as the ``_passes`` verdict — post-filter
    semantics REQUIRE rank-then-filter), then each query's passing
    candidates truncated to k. Same semantics as ``postfilter_search``
    per query, including the under-fill failure mode (pytest-pinned)."""
    cand = knn_batch(
        df, _query_pairs(queries), large_k,
        predicates=_batch_masks(df, queries, accessors), carry=True,
        vec_col=vec_col, id_col=id_col, dist_col=dist_col,
    )
    return (
        merge_topk(cand.filter(F.col("_passes")), k, id_col, dist_col)
        .drop("_passes")
        .withColumnRenamed("query_id", query_id_col)
    )


def acorn_search_batch(
    df: DataFrame,
    queries: Sequence[tuple[Any, Sequence[float], Predicates | None]],
    k: int,
    *,
    initial_oversample: int = 4,
    max_rounds: int = 3,
    accessors: Mapping[str, AttributeAccessor] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    query_id_col: str = "query_id",
) -> DataFrame:
    """K4 for a query batch. Each query's K4 answer is its pre-filter
    answer (module docstring), and a batch scan already applies every
    query's predicate as a mask, so this is ``prefilter_search_batch``:
    one scan, per query the rows of ``acorn_search``. The knobs are
    validated as in ``acorn_search`` but do not change the plan."""
    _acorn_width(k, initial_oversample, max_rounds)
    return prefilter_search_batch(
        df, queries, k, accessors=accessors, vec_col=vec_col, id_col=id_col,
        dist_col=dist_col, query_id_col=query_id_col,
    )


def routed_search_batch(
    df: DataFrame,
    subset_df: DataFrame,
    subset_attrs: frozenset[str] | set[str],
    queries: Sequence[tuple[Any, Sequence[float], Predicates | None]],
    k: int,
    *,
    accessors: Mapping[str, AttributeAccessor] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    query_id_col: str = "query_id",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """K5 for a query batch: queries constraining a materialized sparse
    attribute run against the subset, the rest against the full table —
    ONE batch job per distinct target (at most two scans for the whole
    batch, not one per query). Soundness is
    ``attribute_partitioned_search``'s contract per query: the subset
    holds every attribute-present row, and the strict
    missing-attribute-rejection conjunct discards subset-external rows."""
    _query_pairs(queries)  # ids must be unique across both targets
    routed = [q for q in queries if set(q[2] or ()) & set(subset_attrs)]
    direct = [q for q in queries if not (set(q[2] or ()) & set(subset_attrs))]
    parts = []
    for target, batch in ((subset_df, routed), (df, direct)):
        if batch:
            parts.append(
                prefilter_search_batch(
                    target, batch, k, accessors=accessors, vec_col=vec_col,
                    id_col=id_col, dist_col=dist_col,
                    query_id_col=query_id_col, payload_cols=payload_cols,
                )
            )
    if not parts:
        raise ValueError("empty query batch")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def attribute_presence_cond(
    attrs: Sequence[str],
    accessors: Mapping[str, AttributeAccessor],
) -> Column:
    """The exact condition K5 routing assumes a subset was materialized
    with: the conjunction of the attributes' presence expressions — no
    more, no less. Build subsets with this (not an arbitrary filter)."""
    cond = F.lit(True)
    for a in attrs:
        cond = cond & accessors[a].present
    return cond


def materialize_attribute_subset(
    df: DataFrame,
    present_cond: Column,
    path: str,
    *,
    partition_cols: Sequence[str] = (),
) -> None:
    """K5 build side: persist the rows possessing a sparse attribute as
    their own Parquet table (the reference builds a second HNSW graph over
    the subset, /root/reference/acorn_attribute_specific.py:44-65). At
    scale this is the materialization partition pruning routes into.

    CONTRACT: ``present_cond`` must be exactly the attribute-presence
    condition for the attributes the subset will be routed on — i.e.
    ``attribute_presence_cond(attrs, accessors)``. Routing
    (``attribute_partitioned_search``) sends ANY query constraining one of
    ``subset_attrs`` to the subset; because every predicate carries a
    strict missing-attribute-rejection conjunct (functions/predicates.py),
    that is lossless iff the subset contains every row where the attribute
    is present. A narrower materialization filter silently loses matches."""
    w = df.filter(present_cond).write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def attribute_partitioned_search(
    df: DataFrame,
    subset_df: DataFrame,
    subset_attrs: frozenset[str] | set[str],
    query_vec: Sequence[float],
    predicates: Predicates | None,
    k: int,
    *,
    accessors: Mapping[str, AttributeAccessor] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """K5 query side: route to the attribute subset when the query
    constrains one of its attributes; otherwise search the full table.
    (Routing policy itself lives in plans/router.py.)

    Soundness precondition: ``subset_df`` holds EVERY row where the
    ``subset_attrs`` are present (see materialize_attribute_subset's
    contract) — routing relies on the predicate's missing-attribute
    rejection to discard subset-external rows, so a subset built with a
    narrower filter would silently drop matches."""
    constrained = set(predicates or ())
    target = subset_df if constrained & set(subset_attrs) else df
    return prefilter_search(
        target, query_vec, predicates, k, accessors=accessors, vec_col=vec_col, id_col=id_col
    )
