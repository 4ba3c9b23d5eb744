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
  escalating-oversample post-filter loop that falls back to the exact
  pre-filter plan, which dominates it in a batch engine (SURVEY.md §4).
- ``attribute_partitioned_search`` (K5,
  /root/reference/acorn_attribute_specific.py:44-77): route queries
  constrained on a sparse attribute to a materialized subset. With
  Parquet + partitioned materializations this is partition pruning.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.functions.predicates import (
    AttributeAccessor,
    build_predicate,
    flat_accessors,
)
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
    """K4: ACORN-equivalent hybrid search with bounded escalation.

    The reference escalates an HNSW visit budget round-by-round, pruning
    predicate-failing nodes (/root/reference/acorn.py:149-238). The batch
    equivalent: try post-filter with an escalating oversample factor
    (4·k, 16·k, 64·k, … — mirroring the visit-budget growth), and if the
    filtered candidate set still can't fill k, run the exact pre-filter
    plan. Each round is lazily planned; rounds after the first only
    execute when the previous round under-filled, so the common case costs
    one top-``4k`` scan — and every round is a TakeOrderedAndProject, never
    a full sort.

    Returns exactly the pre-filter answer whenever that answer has ≥ k
    rows reachable — i.e. recall 1.0 against the reference's oracle
    strategy, the property ACORN approximates.

    ONE-PASS PLAN: all rounds share one scan. The largest round's
    candidate set (top ``initial_oversample·4^(max_rounds−1)·k`` rows —
    a TakeOrderedAndProject, never a global sort) is computed once with a
    per-row predicate verdict, and the bounded result (≤ max_large_k rows,
    a query-size constant independent of table size) is collected; round
    selection — "smallest round whose candidate prefix holds ≥ k passing
    rows" — is then driver-side arithmetic on rows already in hand, so no
    escalation round ever re-scans, and the returned DataFrame is a local
    relation the consumer can't accidentally recompute. Only when even
    the largest round under-fills does the exact pre-filter plan run
    (its scan is the one the escalation was trying to avoid).

    ``payload_cols``: columns the caller will actually keep (must include
    every column the predicate reads). Default is all of ``df``'s columns
    — but the candidate collect then ships max_large_k full rows INCLUDING
    the vectors; at 2048-dim that is ~5 MB of floats the caller usually
    drops. Passing the projection keeps the collect to a few KB.
    """
    return acorn_prepare(
        df,
        query_vec,
        predicates,
        k,
        initial_oversample=initial_oversample,
        max_rounds=max_rounds,
        accessors=accessors,
        vec_col=vec_col,
        id_col=id_col,
        dist_col=dist_col,
        payload_cols=payload_cols,
    ).search()


def _acorn_candidates(
    df: DataFrame, query_vec: Sequence[float], cond: Column, max_large_k: int,
    vec_col: str, id_col: str, dist_col: str, payload_cols: Sequence[str] | None,
) -> DataFrame:
    """K4's distance-first candidate set: the top ``max_large_k`` rows of
    ``df`` by (dist, id), each with its predicate verdict ``_passes``,
    projected to ``payload_cols`` (plus id and dist) when given."""
    if payload_cols is not None:
        keep = list(dict.fromkeys([id_col, *payload_cols]))
        df = df.select(*dict.fromkeys([*keep, vec_col]))
    cand = knn_exact(
        df, query_vec, max_large_k, vec_col=vec_col, id_col=id_col, dist_col=dist_col
    ).withColumn("_passes", cond)
    if payload_cols is not None and vec_col not in keep:
        cand = cand.drop(vec_col)
    return cand


class AcornPrepared:
    """The build/search split of the K4 escalation, mirroring the
    reference's lifecycle exactly (acorn.py:274-277 builds the index
    once per process; the reported latencies time ``knn_query`` alone):
    ``acorn_prepare`` pays Python plan construction + analysis ONCE;
    every ``search()`` call re-EXECUTES the candidate scan (a real
    cluster job — nothing about the data is cached here), re-runs the
    bounded round selection, and re-executes the exact-prefilter plan
    when escalation under-fills. Results are identical to a fresh
    ``acorn_search`` call by construction (same plans, same
    arithmetic)."""

    __slots__ = ("cand", "fallback", "k", "initial_oversample",
                 "max_rounds", "dist_col", "id_col", "_spark")

    def __init__(self, cand: DataFrame, fallback: DataFrame, *, k: int,
                 initial_oversample: int, max_rounds: int,
                 dist_col: str, id_col: str) -> None:
        self.cand = cand
        self.fallback = fallback
        self.k = k
        self.initial_oversample = initial_oversample
        self.max_rounds = max_rounds
        self.dist_col = dist_col
        self.id_col = id_col
        self._spark = cand.sparkSession

    def search(self) -> DataFrame:
        rows = sorted(
            self.cand.collect(), key=lambda r: (r[self.dist_col], r[self.id_col])
        )
        for round_i in range(self.max_rounds):
            large_k = self.initial_oversample * (4**round_i) * self.k
            hits = [r for r in rows[:large_k] if r["_passes"]]
            if len(hits) >= self.k:
                out = self._spark.createDataFrame(
                    hits[: self.k], schema=self.cand.schema
                )
                return out.drop("_passes")
        return self.fallback


def acorn_search_plan(
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
    """The K4 escalation as ONE declarative plan — no driver-side round
    loop, no collect, no local relation: fully Catalyst-expressible,
    and therefore eligible for the prepared-statement contract (its
    executed plan is distributed end-to-end).

    Encoding of "smallest round whose candidate prefix holds ≥ k
    passing rows":

    - rank the bounded candidate set (top ``max_large_k`` by (dist,
      id) — a TakeOrderedAndProject) with ``row_number`` → ``rn``, and
      the PASSING rows with their own ``row_number`` → ``pass_rank``.
      Both windows run on a single partition of ≤ ``max_large_k`` rows
      (a query-size constant, NOT row-scaled — the one place a
      single-partition window is the right plan);
    - a 1-row aggregate computes the chosen prefix ``least(L_r where
      count(_passes ∧ rn ≤ L_r) ≥ k)`` and broadcasts it back
      (1-row cross join);
    - if ``count_passing(prefix) ≥ k`` then the first k passing rows
      by rank necessarily sit inside the prefix, so the escalation
      answer is ``_passes ∧ pass_rank ≤ k`` guarded by ``chosen IS NOT
      NULL``;
    - the exact-prefilter fallback rides in the same plan as a UNION
      branch filtered on ``chosen IS NULL`` — when escalation fills,
      the branch's filter eliminates its rows (its bounded top-k scan
      still executes; that is the price of a collect-free plan, and it
      is the same TakeOrderedAndProject shape as the candidate scan).

    Result rows/ordering are identical to ``acorn_search`` (pytest
    pins plan ≡ loop on fill, under-fill and fallback corpora).
    """
    from pyspark.sql.window import Window

    cond = _resolve_predicate(df, predicates, accessors)
    max_large_k = initial_oversample * (4 ** (max_rounds - 1)) * k
    cand = _acorn_candidates(
        df, query_vec, cond, max_large_k, vec_col, id_col, dist_col, payload_cols
    )

    order = [F.col(dist_col).asc(), F.col(id_col).asc()]
    w = Window.orderBy(*order)
    ranked = cand.select(
        "*",
        F.row_number().over(w).alias("_rn"),
        F.sum(F.when(F.col("_passes"), 1).otherwise(0)).over(w).alias("_prefix_hits"),
    )
    rounds = [initial_oversample * (4**r) * k for r in range(max_rounds)]
    chosen = F.least(
        *[
            F.min(
                F.when(
                    (F.col("_rn") <= L) & (F.col("_prefix_hits") >= k), F.lit(L)
                )
            )
            for L in rounds
        ]
    ).alias("_chosen") if len(rounds) > 1 else F.min(
        F.when((F.col("_rn") <= rounds[0]) & (F.col("_prefix_hits") >= k),
               F.lit(rounds[0]))
    ).alias("_chosen")
    sel = F.broadcast(ranked.agg(chosen))

    pass_rank = F.row_number().over(
        Window.partitionBy(F.lit(1)).orderBy(*order)
    )
    escalation = (
        ranked.filter(F.col("_passes"))
        .withColumn("_pass_rank", pass_rank)
        .crossJoin(sel)
        .filter(F.col("_chosen").isNotNull() & (F.col("_pass_rank") <= k))
        .drop("_passes", "_rn", "_prefix_hits", "_pass_rank", "_chosen")
    )
    out_cols = escalation.columns
    fallback = (
        prefilter_search(
            df, query_vec, cond, k, vec_col=vec_col, id_col=id_col, dist_col=dist_col
        )
        .select(*out_cols)
        .crossJoin(sel)
        .filter(F.col("_chosen").isNull())
        .drop("_chosen")
    )
    return escalation.unionByName(fallback)


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
    """Build the K4 plans once (see AcornPrepared)."""
    cond = _resolve_predicate(df, predicates, accessors)
    max_large_k = initial_oversample * (4 ** (max_rounds - 1)) * k
    cand = _acorn_candidates(
        df, query_vec, cond, max_large_k, vec_col, id_col, dist_col, payload_cols
    )
    fallback = prefilter_search(
        df, query_vec, cond, k, vec_col=vec_col, id_col=id_col, dist_col=dist_col
    )
    return AcornPrepared(
        cand, fallback, k=k, initial_oversample=initial_oversample,
        max_rounds=max_rounds, dist_col=dist_col, id_col=id_col,
    )


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
    rows with the same ``dist`` bits.

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
    """K4 for a query batch: the ``acorn_search_plan`` escalation —
    bounded candidate prefix, smallest-filling-round selection, exact
    pre-filter fallback — evaluated for EVERY query of the batch from
    ONE candidate scan. Per query the result is identical to
    ``acorn_search`` (pytest-pinned), so a serving pipeline running the
    reference's §2.4 battery pays one scan for the whole batch instead
    of one driver-planned escalation per query.

    Plan: ``knn_batch`` gives each query's top-``max_large_k`` by
    distance with the ``_passes`` verdict carried (the K4 candidate set
    is DISTANCE-FIRST) → per-query running prefix-hit count and round
    selection as a |Q|-row aggregate broadcast back → the first k
    passing rows where the chosen prefix fills; the exact pre-filter
    fallback (the same kernel with the masks filtering — its own scan,
    as in the single-query plan's fallback branch) rides in the same
    plan filtered to chosen-IS-NULL queries. Every window after the kernel partitions
    over ≤ |Q|·max_large_k rows — a query-size constant, not
    row-scaled."""
    from pyspark.sql.window import Window

    if bad := {"_prefix_hits", "_chosen"} & set(df.columns):
        raise ValueError(f"df columns collide with batch internals: {sorted(bad)}")
    pairs, masks = _query_pairs(queries), _batch_masks(df, queries, accessors)
    max_large_k = initial_oversample * (4 ** (max_rounds - 1)) * k
    cand = knn_batch(
        df, pairs, max_large_k, predicates=masks, carry=True,
        vec_col=vec_col, id_col=id_col, dist_col=dist_col,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col(dist_col).asc(), F.col(id_col).asc()
    )
    ranked = cand.select(
        "*",
        F.row_number().over(w).alias("_rn"),
        F.sum(F.when(F.col("_passes"), 1).otherwise(0)).over(w).alias("_prefix_hits"),
    )
    rounds = [initial_oversample * (4**r) * k for r in range(max_rounds)]
    per_round = [
        F.min(
            F.when((F.col("_rn") <= L) & (F.col("_prefix_hits") >= k), F.lit(L))
        )
        for L in rounds
    ]
    chosen = (
        F.least(*per_round) if len(per_round) > 1 else per_round[0]
    ).alias("_chosen")
    sel = F.broadcast(ranked.groupBy("query_id").agg(chosen))

    # a filled prefix holds k passing rows, so they are the first k passing
    escalation = (
        merge_topk(
            ranked.filter(F.col("_passes")).drop("_passes", "_rn", "_prefix_hits"),
            k, id_col, dist_col,
        )
        .join(sel, "query_id")
        .filter(F.col("_chosen").isNotNull())
        .drop("_chosen")
    )
    fallback = (
        knn_batch(
            df, pairs, k, predicates=masks, vec_col=vec_col,
            id_col=id_col, dist_col=dist_col,
        )
        .select(*escalation.columns)
        .join(sel, "query_id")
        .filter(F.col("_chosen").isNull())
        .drop("_chosen")
    )
    return escalation.unionByName(fallback).withColumnRenamed("query_id", query_id_col)


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
