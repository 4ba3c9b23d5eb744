"""Partition-local NSW graph ANN — the distributed analog of the
reference's modified hnswlib (X1 build / X2 bounded search).

The reference builds ONE process-wide HNSW (M=64, ef_construction=200,
seed 42; /root/reference/acorn.py:26-38, 275-277) and searches it with a
``max_visits`` budget — its ACORN-enabling C++ modification terminates
base-layer expansion once the visit counter hits the budget
(hnswlib/hnswlib/hnswalg.h:315, 346-348) — plus a node filter that
excludes ids from RESULTS while still traversing them
(bindings.cpp:83-87; the blocked-set semantics SURVEY.md §2's discrepancy
note pins down).

A single global graph cannot exist on a 1000-executor cluster; the
standard distributed pattern (SURVEY.md §7 Phase 4) is an index PER
PARTITION: each task builds a navigable-small-world graph over its
partition's vectors (one build amortized over the whole query batch —
mirroring the reference's build-once-query-many lifecycle), answers
every query with the budgeted best-first search, emits its local top-k
per query, and a global per-query rank over the O(P·|Q|·k) candidate
stream merges partitions — the same partial→final reduction shape as
``knn.knn_batch``, with the scan replaced by graph traversal.

Fidelity knobs (names match the reference):
- ``m`` / ``ef_construction``: build-time degree bound / beam
  (acorn.py:35).
- ``ef``: search beam width (acorn.py:64, 150).
- ``max_visits``: hard cap on nodes expanded per (query, partition) —
  X2's anytime-search budget. ``None`` = unbounded (post-filter mode,
  acorn.py:68-69 passes 100000 ≫ N).
- ``blocked``: ids excluded from results but still traversed — the
  declared blocked-set/filter semantics (M1).

Approximation contract: recall is gated in pytest against the exact
oracle (like IVF/PQ — graph ANN is inherently non-SQL-replayable);
candidates are always real rows with exact distances, so precision of
the returned set is 1.0 by construction.

Cost honesty: the graph build is a per-task Python loop —
O(n·ef_construction) distance evaluations per partition (BLAS per
step). That is the right trade ONLY when one build serves many
queries, so the build is persistable: ``nsw_write`` (the analog of
hnswlib's ``save_index``, bindings.cpp — the reference instead
re-pays a ~51 s build every process, README.md:232) stores each
partition's adjacency lists + vectors as parquet partitioned by
part_id, and ``nsw_read_topk`` answers query batches from the stored
graphs with ZERO rebuild — at 100 TB the build is amortized across
days of query traffic, not a session. For single-query workloads with
no persisted index, prefer the IVF path (codebook build is one
sampled KMeans).
"""

from __future__ import annotations

import heapq
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.operators._cache import invalidate, read_parquet
from acorn_hybrid_vector_search_spark.operators.knn import (
    QUERY_BLOCK,
    DenseMaskPlan,
    merge_topk,
    query_batch_matrix,
    scan_topk,
    strict_sq_l2,
)
from acorn_hybrid_vector_search_spark.operators.store import (
    NSW,
    NswMeta,
    apply_tombstones,
    attr_stats_path,
    bump_store_version,
    check_stats_fresh,
    clear_sidecars,
    conj_pred_col,
    delete_ids,
    has_data,
    ids_frame,
    int8_path,
    live_rows,
    load_attr_stats,
    load_numeric_stats,
    load_stats,
    normalize_conj,
    numeric_stats_path,
    read_nsw_meta,
    read_store_version,
    read_tombstones,
    record_store_fp,
    replace_dir,
    require_local,
    snapshot_store_fp,
    stats_path,
    term_verdicts,
    tombstones_path,
)

__all__ = [
    "NswGraph",
    "nsw_batch_topk",
    "nsw_write",
    "nsw_write_clustered",
    "nsw_read_topk",
    "nsw_delete",
    "nsw_undelete",
    "nsw_upsert",
    "nsw_stats_write",
    "nsw_nodes",
    "prune_plan",
]


class NswGraph:
    """In-memory single-layer navigable-small-world graph (numpy).

    Deterministic: insertion follows input order, the entry point is
    node 0, and neighbor pruning is by exact distance — no RNG (the
    reference fixes random_seed=42 for the same reproducibility goal;
    a seedless deterministic build is the stronger guarantee).
    Distances are squared L2 (space='l2', acorn.py:26).
    """

    def __init__(
        self,
        vectors: np.ndarray,
        *,
        m: int = 8,
        ef_construction: int = 32,
        gamma: int = 1,
    ):
        if gamma < 1:
            raise ValueError(
                f"gamma must be >= 1, got {gamma} — gamma=0 would build "
                "an edgeless graph that connectivity repair rescues into "
                "a chain: full-beam queries stay exact (masking it) while "
                "budgeted recall collapses"
            )
        self.x = np.ascontiguousarray(vectors, dtype=np.float64)
        self.n = self.x.shape[0]
        self.m = m
        # ACORN-γ densification (Patel et al., SIGMOD'24 — the paper the
        # reference's ACORN-1 strategy approximates at γ=1): each node
        # links to γ·m nearest at insert and retains up to 2·γ·m on
        # prune, so the PREDICATE SUBGRAPH (neighbors surviving a
        # selectivity-s filter, expected ≈ s·γ·m of them) stays
        # navigable without traversing failing nodes. γ=1 is bit-for-bit
        # the pre-γ build — persisted stores are unchanged.
        self.gamma = gamma
        self.neighbors: list[list[int]] = [[] for _ in range(self.n)]
        self._sq = (self.x**2).sum(axis=1)
        for i in range(1, self.n):
            cand, _ = self._search(self.x[i], ef_construction, upto=i)
            near = cand[: self.m * self.gamma]
            for j in near:
                self.neighbors[i].append(int(j))
                self.neighbors[int(j)].append(i)
                if len(self.neighbors[int(j)]) > 2 * self.m * self.gamma:
                    self._prune(int(j))
        # _prune keeps only a node's 2m closest neighbors and can drop
        # another node's LAST in-link, disconnecting it from entry 0 —
        # ~1-2 of 500 nodes on roughly half of Gaussian seeds at the
        # defaults. Re-link every orphan so reachability (and the
        # exact-at-full-beam contract) holds for every input.
        self.repair_edges: list[tuple[int, int]] = []
        self._repair_connectivity()

    def _reachable_from(self, start: int) -> set[int]:
        seen = {start}
        stack = [start]
        while stack:
            node = stack.pop()
            for v in self.neighbors[node]:
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        return seen

    def _repair_connectivity(self) -> None:
        """Add a directed edge nearest-reachable → orphan for every node
        unreachable from entry 0. Deterministic: orphans processed in id
        order, nearest-by-distance with lowest-id tie-break. Repair
        edges are added after all pruning, so they cannot themselves be
        dropped; the handful of extra edges (≲0.5% of nodes) may push a
        source node past the 2m degree bound, which only widens its
        out-fan."""
        if self.n <= 1:
            return
        reachable = self._reachable_from(0)
        while len(reachable) < self.n:
            u = min(set(range(self.n)) - reachable)
            ridx = np.fromiter(sorted(reachable), dtype=np.int64)
            d = self._dist(self.x[u], ridx)
            r = int(ridx[int(np.argmin(d))])
            self.neighbors[r].append(u)
            self.repair_edges.append((r, u))
            stack = [u]
            reachable.add(u)
            while stack:
                node = stack.pop()
                for v in self.neighbors[node]:
                    if v not in reachable:
                        reachable.add(v)
                        stack.append(v)

    @classmethod
    def from_adjacency(
        cls, vectors: np.ndarray, neighbors: Sequence[Sequence[int]]
    ) -> "NswGraph":
        """Reconstruct a graph from persisted adjacency lists — no build
        loop, no pruning, no repair (the stored lists already include
        repair edges). Searches over a reconstructed graph are
        bit-identical to searches over the graph that was written."""
        g = cls.__new__(cls)
        g.x = np.ascontiguousarray(vectors, dtype=np.float64)
        g.n = g.x.shape[0]
        g.m = 0  # build-time knobs; unused after construction
        g.gamma = 1
        g.neighbors = [[int(v) for v in nb] for nb in neighbors]
        g._sq = (g.x**2).sum(axis=1)
        g.repair_edges = []
        return g

    def _dist(self, q: np.ndarray, idx: np.ndarray) -> np.ndarray:
        # |x|² - 2x·q + |q|² without materializing diffs (BLAS dot)
        return self._sq[idx] - 2.0 * (self.x[idx] @ q) + float(q @ q)

    def _coarse_entry(self, q: np.ndarray) -> int:
        """Search entry point: the nearest of a deterministic ⌈√n⌉
        stride sample (always including node 0) — the FLAT analog of
        hnswlib's upper-layer greedy descent (hnswlib/hnswlib/hnswalg.h
        ``searchKnn``'s level>0 loop), which exists precisely so the
        base-layer beam starts near the query instead of at a fixed
        node. One BLAS pass over √n rows; measured on the x48 ladder
        embeddings (BENCH_LADDER ``nsw_partition_scaling``): visits
        from entry 0 stay ef-bounded as partitions grow, but recall@10
        at ef=64 decays (0.86 @ 8k → 0.61 @ 32k) because a fixed entry
        spends the beam traveling; the coarse entry restores ~9 recall
        points at 32k with FEWER visits. Ties break to the lowest
        sampled index (argmin first-hit), so it is deterministic."""
        import math

        stride = max(1, self.n // max(1, math.isqrt(self.n)))
        sample = np.arange(0, self.n, stride, dtype=np.int64)
        d = self._dist(q, sample)
        return int(sample[int(np.argmin(d))])

    def _prune(self, j: int) -> None:
        nb = np.asarray(self.neighbors[j], dtype=np.int64)
        d = self._dist(self.x[j], nb)
        keep = nb[np.argsort(d, kind="stable")[: 2 * self.m * self.gamma]]
        self.neighbors[j] = [int(v) for v in keep]

    def _search(
        self,
        q: np.ndarray,
        ef: int,
        *,
        upto: int | None = None,
        max_visits: int | None = None,
        coarse_entry: bool = False,
    ) -> tuple[list[int], int]:
        """Best-first beam search. Returns (candidate ids sorted by
        distance, visit count). ``upto`` restricts to nodes < upto
        (build-time incremental view); ``max_visits`` is the X2 budget —
        expansion stops once that many nodes have been popped.
        ``coarse_entry`` starts from the nearest of a √n sample instead
        of node 0 (see ``_coarse_entry``; search-time only — builds keep
        entry 0 so graphs, and everything persisted from them, are
        byte-stable across this change). The sample scoring is the
        descent phase, not expansion, so it does not count against
        ``max_visits`` — mirroring hnswlib, whose upper-layer hops are
        outside the ef budget."""
        n = self.n if upto is None else upto
        if n == 0:
            return [], 0
        entry = self._coarse_entry(q) if coarse_entry and n == self.n and n > 1 else 0
        d0 = float(self._dist(q, np.asarray([entry]))[0])
        visited = {entry}
        frontier = [(d0, entry)]  # min-heap by distance
        result: list[tuple[float, int]] = [(-d0, entry)]  # max-heap (neg)
        visits = 0
        while frontier:
            if max_visits is not None and visits >= max_visits:
                break
            d, node = heapq.heappop(frontier)
            if result and d > -result[0][0] and len(result) >= ef:
                break
            visits += 1
            nbrs = [v for v in self.neighbors[node] if v < n and v not in visited]
            if not nbrs:
                continue
            visited.update(nbrs)
            nd = self._dist(q, np.asarray(nbrs, dtype=np.int64))
            for v, dv in zip(nbrs, nd):
                dv = float(dv)
                if len(result) < ef or dv < -result[0][0]:
                    heapq.heappush(result, (-dv, v))
                    if len(result) > ef:
                        heapq.heappop(result)
                    heapq.heappush(frontier, (dv, v))
        # Exact-mode safety net: at full beam (ef ≥ n) with no visit
        # budget the contract is brute-force-equivalent results. The
        # connectivity repair should make every node reachable; if any
        # node was still never scored, score the remainder directly
        # rather than silently returning a wrong "exact" answer.
        if max_visits is None and ef >= n and len(visited) < n:
            rest = np.setdiff1d(
                np.arange(n, dtype=np.int64),
                np.fromiter(visited, dtype=np.int64, count=len(visited)),
            )
            if rest.size:
                rd = self._dist(q, rest)
                for v, dv in zip(rest, rd):
                    result.append((-float(dv), int(v)))
        out = sorted((-nd, v) for nd, v in result)
        return [v for _, v in out], visits

    def _search_subgraph(
        self,
        q: np.ndarray,
        ef: int,
        mask: np.ndarray,
        *,
        m_cap: int = 8,
        max_visits: int | None = None,
    ) -> tuple[list[int], int]:
        """ACORN-γ traversal (Patel et al., SIGMOD'24 §4): best-first
        search over the PREDICATE SUBGRAPH — only mask-passing nodes are
        entered, scored, or returned. Neighbor selection per expansion:
        the first ``2·m_cap`` passing neighbors of the node's (γ-dense)
        list; when fewer than ``m_cap`` pass, the paper's TWO-HOP
        compensation kicks in — failing neighbors contribute their own
        passing neighbors (their lists provide connectivity without
        being visited). Contrast with ``_search`` + result-mask (the
        reference's ACORN-1 / filter-functor shape): that walk SPENDS
        its ``ef``/``max_visits`` budget traversing failing nodes; this
        one spends it only on nodes that can be returned, so
        recall-per-visit under a selective predicate is higher
        (measured: BENCH_LADDER ``acorn_gamma``).

        Entry is predicate-aware: the nearest of a deterministic ⌈√p⌉
        stride sample of the passing set (the `_coarse_entry` analog on
        the subgraph — the subgraph has no canonical node 0). Exactness
        contract: at full beam (``ef ≥ #passing``, no visit budget) any
        never-scored passing node is scored directly, so the full-beam
        answer equals the exact pre-filter answer regardless of
        subgraph connectivity."""
        import math

        pass_idx = np.flatnonzero(mask)
        p = int(pass_idx.size)
        if p == 0:
            return [], 0
        stride = max(1, p // max(1, math.isqrt(p)))
        sample = pass_idx[::stride]
        sd = self._dist(q, sample)
        entry = int(sample[int(np.argmin(sd))])
        d0 = float(self._dist(q, np.asarray([entry]))[0])
        visited = {entry}
        frontier = [(d0, entry)]
        result: list[tuple[float, int]] = [(-d0, entry)]
        visits = 0
        while frontier:
            if max_visits is not None and visits >= max_visits:
                break
            d, node = heapq.heappop(frontier)
            if result and d > -result[0][0] and len(result) >= ef:
                break
            visits += 1
            # candidates are kept UNIQUE as they are collected so the
            # 2·m_cap fan-out cap buys 2·m_cap distinct expansions — a
            # hub appearing in many failing neighbors' lists must not
            # eat the budget (adjacency lists can also repeat a node
            # via repair edges)
            nbrs: list[int] = []
            cand_seen: set[int] = set()
            scarce = 0
            for v in self.neighbors[node]:
                if mask[v]:
                    scarce += 1
                    if v not in visited and v not in cand_seen:
                        nbrs.append(v)
                        cand_seen.add(v)
                    if len(nbrs) >= 2 * m_cap:
                        break
            if scarce < m_cap:  # two-hop compensation through failing nodes
                for v in self.neighbors[node]:
                    if len(nbrs) >= 2 * m_cap:
                        break
                    if mask[v]:
                        continue
                    for w in self.neighbors[v]:
                        if (
                            mask[w]
                            and w not in visited
                            and w not in cand_seen
                            and w != node
                        ):
                            nbrs.append(w)
                            cand_seen.add(w)
                            if len(nbrs) >= 2 * m_cap:
                                break
            if not nbrs:
                continue
            visited.update(nbrs)
            nd = self._dist(q, np.asarray(nbrs, dtype=np.int64))
            for v, dv in zip(nbrs, nd):
                dv = float(dv)
                if len(result) < ef or dv < -result[0][0]:
                    heapq.heappush(result, (-dv, v))
                    if len(result) > ef:
                        heapq.heappop(result)
                    heapq.heappush(frontier, (dv, v))
        if max_visits is None and ef >= p and len(visited) < p:
            rest = np.setdiff1d(
                pass_idx,
                np.fromiter(visited, dtype=np.int64, count=len(visited)),
            )
            if rest.size:
                rd = self._dist(q, rest)
                for v, dv in zip(rest, rd):
                    result.append((-float(dv), int(v)))
        out = sorted((-nd, v) for nd, v in result)
        return [v for _, v in out], visits


def _local_topk_frame(
    g: NswGraph,
    ids: np.ndarray,
    qids: list[int],
    qmat: np.ndarray,
    k: int,
    ef: int,
    max_visits: int | None,
    blocked_set: frozenset[int],
    id_col: str,
    dist_col: str,
    pass_mask: "np.ndarray | dict[int, np.ndarray] | None" = None,
    strategy: str = "traverse_all",
    m_cap: int = 8,
    deleted_mask: "np.ndarray | None" = None,
) -> pd.DataFrame:
    """One partition's local top-k for every query — shared by the
    build-and-search and the load-persisted paths so both emit
    bit-identical candidates. ``pass_mask`` (r8) generalizes the
    blocked SET to a per-node PREDICATE verdict: failing nodes are
    traversed but never returned — exactly the reference's
    filter-functor semantics (hnswlib bindings.cpp:83-87), which is
    what ACORN-style hybrid search over the graph store is. A dict
    maps query_id → that query's own mask (the batched-serving form:
    every query in the batch carries its own §2.3 predicate, like the
    reference's per-row filter functor under knn_query's ParallelFor);
    queries absent from the dict are unfiltered. ``deleted_mask`` (r9)
    is the tombstone verdict: deleted nodes are traversed — their
    edges keep the small world navigable, exactly why hnswlib's
    markDelete flags instead of unlinking (hnswalg.h) — but never
    returned; under the subgraph strategy they fold into the walk
    mask (not returnable ⇒ not worth a visit, like any other failing
    node)."""
    rows_q, rows_i, rows_d = [], [], []
    for qi, qid in enumerate(qids):
        mask = pass_mask.get(qid) if isinstance(pass_mask, dict) else pass_mask
        if strategy == "subgraph" and mask is not None:
            # ACORN-γ: walk ONLY the predicate subgraph — the budget is
            # spent on returnable nodes (vs traverse-all, which pays
            # visits on failing nodes and filters at collection)
            walk_mask = (
                mask & ~deleted_mask if deleted_mask is not None else mask
            )
            cand, _ = g._search_subgraph(
                qmat[qi], max(ef, k), walk_mask, m_cap=m_cap,
                max_visits=max_visits,
            )
        else:
            cand, _ = g._search(
                qmat[qi], max(ef, k), max_visits=max_visits,
                coarse_entry=True,
            )
        kept = 0
        for local in cand:
            if deleted_mask is not None and deleted_mask[local]:
                continue
            gid = int(ids[local])
            if gid in blocked_set:
                continue
            if mask is not None and not mask[local]:
                continue
            rows_q.append(qid)
            rows_i.append(gid)
            rows_d.append(float(g._dist(qmat[qi], np.asarray([local]))[0]))
            kept += 1
            if kept >= k:
                break
    return pd.DataFrame({"query_id": rows_q, id_col: rows_i, dist_col: rows_d})


def nsw_batch_topk(
    df: DataFrame,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    *,
    m: int = 8,
    ef_construction: int = 32,
    gamma: int = 1,
    ef: int = 64,
    max_visits: int | None = None,
    blocked: frozenset[int] | set[int] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
) -> DataFrame:
    """Approximate batch top-k via per-partition NSW graphs.

    Plan: mapInPandas builds ONE graph per partition (amortized over all
    ``queries`` — the bounded driver-side parameter, as in
    ``knn.knn_batch``), runs the budgeted search per query, emits each
    partition's local top-k (≤ |Q|·k rows per partition), and a global
    per-query ``row_number() ≤ k`` merges partitions. ``max_visits``
    bounds work per (query, partition): with P partitions the effective
    global budget is P·max_visits, degrading gracefully to partial
    results exactly like the reference's anytime search.

    ``blocked`` ids are traversed but never returned (the reference's
    declared blocked-set semantics) — post-search exclusion keeps the
    graph walk identical, matching hnswlib's BaseFilterFunctor.
    """
    qids, qmat = query_batch_matrix(queries)
    blocked_set = frozenset(int(b) for b in (blocked or ()))

    out_schema = f"query_id long, {id_col} long, {dist_col} double"

    def gen(batches):
        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        if not len(pdf):
            return
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        g = NswGraph(x, m=m, ef_construction=ef_construction, gamma=gamma)
        yield _local_topk_frame(
            g, ids, qids, qmat, k, max(ef, k), max_visits, blocked_set,
            id_col, dist_col,
        )

    cand = df.select(id_col, vec_col).mapInPandas(gen, out_schema)
    return merge_topk(cand, k, id_col, dist_col)


def nsw_write(
    df: DataFrame,
    path: str,
    *,
    m: int = 8,
    ef_construction: int = 32,
    gamma: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
    vector_dtype: str = "float64",
) -> None:
    """Build per-partition NSW graphs ONCE and persist them — the
    ``save_index`` analog (hnswlib bindings.cpp; the reference re-pays
    a ~51 s build per process, README.md:232; SURVEY §4 "Index
    persistence").

    ``vector_dtype='float32'`` (r11) stores the vector column as
    ``array<float>`` — the reference's OWN precision (hnswlib indexes
    hold float32, bindings.cpp `data_t = float`; the embeddings it
    ingests are float32 ResNet-50 outputs), while the default float64
    store pays 2× its scan + Arrow bytes on every walk. Vectors are
    quantized once at build; full-beam search is exact w.r.t. the
    float32-cast corpus, and maintenance ops (append/compact/
    recluster) inherit the store's dtype from its parquet schema so a
    float32 store never grows mixed-precision shards.

    Layout: one parquet row per graph node —
    ``(part_id, seq, <id_col>, vector double[], neighbors long[]
    [, payload...])`` (``payload_cols`` stores node metadata for
    predicate-filtered search, see ``nsw_read_topk(predicate=...)``) —
    written ``partitionBy(part_id)`` so each partition's graph is its
    own directory (the ``ivf_write`` pattern): a search
    loads every graph in parallel, one task per directory, and a future
    partition-pruned variant can skip graphs wholesale. ``seq`` is the
    node's insertion position — local neighbor ids index into the
    seq-sorted order, and vectors are stored as the float64 the build
    used, so a reconstructed graph searches bit-identically.

    Store writers invalidate the pinned-materialization cache: a
    semantically-equal read plan over the same path must never serve a
    pre-rewrite snapshot.
    """
    invalidate()
    clear_sidecars(path, df.sparkSession)
    nsw_nodes(
        df, m=m, ef_construction=ef_construction, gamma=gamma,
        vec_col=vec_col, id_col=id_col, part_offset=0,
        payload_cols=payload_cols, vector_dtype=vector_dtype,
    ).write.mode("overwrite").partitionBy("part_id").parquet(path)
    bump_store_version(path)


def nsw_nodes(
    df: DataFrame,
    *,
    m: int,
    ef_construction: int,
    gamma: int = 1,
    vec_col: str,
    id_col: str,
    part_offset: int,
    payload_cols: Sequence[str] = (),
    part_col: str | None = None,
    vector_dtype: str = "float64",
) -> DataFrame:
    """``payload_cols`` (r8): metadata columns stored alongside each
    node — what makes PREDICATE-FILTERED search over the persisted
    store possible (`nsw_read_topk(predicate=...)`), the ACORN shape
    over the graph store. Stored in seq order like everything else.

    The build's ``gamma`` is persisted as a (constant, RLE-compressed)
    ``gamma`` column so maintenance ops can default to the store's own
    densification — ``nsw_append(gamma=None)`` / ``nsw_compact(
    gamma=None)`` read it back instead of silently rebuilding a γ=4
    store at γ=1 (legacy stores without the column read as γ=1).

    ``part_col`` (r9): build one graph per VALUE of this column
    (groupBy + applyInPandas) instead of one per arrival partition —
    shard ids become ``part_offset + value``. This is what
    ``nsw_write_clustered`` needs for CLUSTER-PURE shards: a hash
    ``repartition(n, cluster_id)`` merges arbitrary distant clusters
    into one task (measured: 64 blobs → 5 shards at n_shards=8, ball
    radii spanning the merged blobs, kept-fraction ≈ 1.0 — pruning
    dead on arrival), while grouping BY the cluster value keeps every
    shard's ball tight."""
    if gamma < 1:
        raise ValueError(f"gamma must be >= 1, got {gamma}")
    if vector_dtype not in ("float64", "float32"):
        raise ValueError(
            f"vector_dtype must be 'float64' or 'float32', got "
            f"{vector_dtype!r}"
        )
    payload_cols = [
        c for c in payload_cols if c not in (id_col, vec_col, part_col)
    ]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    extra_schema = "".join(f", {c} {types[c]}" for c in payload_cols)
    vec_sql = "float" if vector_dtype == "float32" else "double"
    out_schema = (
        f"part_id int, seq long, {id_col} long, "
        f"vector array<{vec_sql}>, neighbors array<long>, "
        f"gamma int{extra_schema}"
    )

    def build_frame(pdf: pd.DataFrame, part_ids) -> pd.DataFrame:
        # float32: quantize ONCE at build time, then construct the graph
        # over the quantized values (NswGraph upcasts internally, which
        # is lossless on float32-representable inputs) — so the persisted
        # adjacency, the stored bytes, and every later search all see the
        # SAME vectors: full-beam search stays exact w.r.t. the
        # float32-cast corpus
        x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        if vector_dtype == "float32":
            x = x.astype(np.float32)
        g = NswGraph(x, m=m, ef_construction=ef_construction, gamma=gamma)
        out = {
            "part_id": part_ids,
            "seq": np.arange(g.n, dtype=np.int64),
            id_col: pdf[id_col].to_numpy(dtype=np.int64),
            # ndarray.tolist() is 3-4× faster than a per-row float()
            # map at wide dims (identical values — C-level conversion)
            "vector": x.tolist(),
            "neighbors": [list(map(int, nb)) for nb in g.neighbors],
            "gamma": np.full(g.n, gamma, dtype=np.int32),
        }
        for c in payload_cols:
            out[c] = pdf[c]
        return pd.DataFrame(out)

    if part_col is not None:
        grouped = df.select(
            id_col, vec_col, *payload_cols,
            F.col(part_col).cast("int").alias("_pc"),
        )

        def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
            # id-sorted so the shard graph is a pure function of
            # (members, knobs) — the nsw_compact determinism contract
            pdf = pdf.sort_values(id_col, ignore_index=True)
            pid = int(pdf["_pc"].iloc[0]) + int(part_offset)
            return build_frame(
                pdf, np.full(len(pdf), pid, dtype=np.int32)
            )

        return grouped.groupBy("_pc").applyInPandas(build_group, out_schema)

    tagged = df.select(id_col, vec_col, *payload_cols).withColumn(
        "part_id", F.spark_partition_id() + F.lit(int(part_offset))
    )

    def build(batches):
        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        if not len(pdf):
            return
        yield build_frame(pdf, pdf["part_id"].astype("int32"))

    return tagged.mapInPandas(build, out_schema)



# ---------------------------------------------------------------------------
# deletion lifecycle (r9): the mark_deleted / unmark_deleted /
# add_items(replace_deleted=True) surface of the reference's hnswlib
# (hnswlib/python_bindings/bindings.cpp mark_deleted/unmark_deleted;
# hnswalg.h markDelete — the node STAYS in the graph, is traversed, and
# is filtered from results), adapted to the persisted shard store as a
# TOMBSTONE SIDECAR: deleting k ids writes k sidecar rows — no store
# rewrite, the O(1)-flag economics of hnswlib's markDelete at any store
# size. Each tombstone records the store's max part_id at delete time
# (``part_ceiling``): it kills copies of the id in shards written BEFORE
# the delete, so a later nsw_append/nsw_upsert re-adding the id stays
# live. Physical reclaim is nsw_compact's job (it drops tombstoned rows
# and clears the sidecar — hnswlib itself never reclaims without
# replace_deleted; FAISS remove_ids is the same rebuild-shaped cost).


def nsw_delete(
    spark,
    path: str,
    ids,
    *,
    id_col: str = "vec_id",
    strict: bool = True,
) -> None:
    """Mark ids deleted in a persisted NSW store — the ``mark_deleted``
    analog (hnswlib bindings.cpp ``mark_deleted``; hnswalg.h
    ``markDelete``): the nodes STAY in their graphs and are traversed
    by every search (their edges keep the small world navigable —
    exactly why hnswlib flags instead of unlinking), but are never
    returned. Cost is O(|ids|) sidecar rows appended — no store
    rewrite at any store size.

    ``ids``: a sequence of ids or a DataFrame with ``id_col`` (the
    distributed form — nothing is collected). ``strict=True`` raises
    when any id is absent from the store (hnswlib's mark_deleted
    throws for an unknown label) at the cost of one store scan; pass
    ``strict=False`` on the hot ingest path to tombstone blindly.
    Reclaim + permanence: ``nsw_compact`` drops tombstoned rows and
    clears the sidecar (after which ``nsw_undelete`` can no longer
    restore them)."""
    delete_ids(spark, path, ids, NSW, id_col=id_col, strict=strict, op="nsw_delete")


def nsw_undelete(spark, path: str, ids, *, id_col: str = "vec_id") -> int:
    """Reverse ``nsw_delete`` — the ``unmark_deleted`` analog (hnswlib
    bindings.cpp ``unmark_deleted``). Removes EVERY tombstone for the
    given ids, restoring all stored copies they covered; returns the
    number of distinct ids that had tombstones. Contract caveat,
    stated: undeleting an id that was UPSERTED since its delete brings
    the old copy back beside the new one (duplicate id in results) —
    the same undefined territory as unmark after replace_deleted in
    hnswlib; compact first if the history is unknown. Local paths only
    (the sidecar rewrite swaps directories)."""
    import shutil

    require_local(path, "nsw_undelete")
    tomb = read_tombstones(spark, path)
    if tomb is None:
        return 0
    ids_df = ids_frame(spark, ids, id_col)
    restored = (
        tomb.join(ids_df, id_col, "left_semi").select(id_col).distinct().count()
    )
    if restored == 0:
        return 0
    keep = tomb.join(ids_df, id_col, "left_anti")
    tpath = tombstones_path(path)
    if keep.limit(1).count() == 0:
        # nothing left: drop the sidecar entirely so readers (and the
        # prune tombstone guard) see a tombstone-free store
        shutil.rmtree(tpath)
        bump_store_version(path)
        invalidate()
    else:
        replace_dir(path, tpath, lambda tmp: keep.write.mode("overwrite").parquet(tmp))
    return int(restored)


def _check_payload(meta: NswMeta, path: str, id_col: str, payload_cols, verb: str) -> None:
    """New shards must carry the SAME node columns as the store: a
    payload mismatch would silently create a mixed-schema store whose
    predicate-filtered searches see NULLs on half the shards."""
    want = {id_col, "vector", *payload_cols}
    have = set(meta.df.columns) - {"part_id", "seq", "neighbors", "gamma"}
    if want != have:
        raise ValueError(
            f"payload mismatch vs store at {path}: store has "
            f"{sorted(have)}, {verb} would write {sorted(want)}"
        )


def nsw_upsert(
    df: DataFrame,
    path: str,
    *,
    m: int = 8,
    ef_construction: int = 32,
    gamma: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
) -> None:
    """Replace-or-insert a batch of vectors in a persisted NSW store —
    the ``add_items(replace_deleted=True)`` analog (hnswlib
    bindings.cpp addItems with replace_deleted; the reference's
    add_items path, /root/reference/acorn.py:35-40, overwrites an
    existing label in place). Distributed adaptation: tombstone every
    incoming id at the CURRENT ceiling (ids not yet stored are plain
    inserts — the blind tombstone is harmless and skips the existence
    scan), then append the batch as fresh shards past the ceiling, so
    searches return the NEW vector for every updated id. O(batch)
    cost, no store rewrite; ``nsw_compact`` later folds the
    deleted-old-copy history away. The store is read once; both
    halves use that read."""
    spark = df.sparkSession
    meta = read_nsw_meta(spark, path)
    # validate payload compatibility BEFORE the tombstone write: the
    # delete must not land if the append is doomed — a failed append
    # after the tombstones would leave the incoming ids' live copies
    # silently invisible with no replacement written
    _check_payload(meta, path, id_col, payload_cols, "upsert")
    delete_ids(
        spark, path, df.select(id_col), NSW, id_col=id_col, strict=False,
        op="nsw_upsert", ceiling=meta.max_part,
    )
    _append_shards(
        df, path, meta, m=m, ef_construction=ef_construction, gamma=gamma,
        vec_col=vec_col, id_col=id_col, payload_cols=payload_cols,
    )


def nsw_append(
    df: DataFrame,
    path: str,
    *,
    m: int = 8,
    ef_construction: int = 32,
    gamma: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
) -> None:
    """Add new vectors to a persisted NSW store WITHOUT rebuilding — the
    ``add_items`` analog (the reference grows its hnswlib index
    incrementally, /root/reference/acorn.py:35-40 add_items after
    init_index). The distributed adaptation appends GRAPH SHARDS: the
    new batch builds its own per-partition graphs under part_ids past
    the stored maximum, and ``nsw_read_topk`` searches old + new
    uniformly (one task per graph directory, same global rank), so
    results at full beam remain exact over the UNION. Trade-off vs
    hnswlib's in-place insert, stated: per-query work grows with shard
    count (each shard answers k candidates) — when that fan-out has
    grown past the cluster's appetite, ``nsw_compact`` re-packs the
    store in one rebuild (the same build-amortization economics as the
    reference's one-off 51 s build).

    ``gamma`` is a per-shard build knob with no stored metadata to
    validate against (unlike payload columns, which ARE validated):
    appending with a different γ than the store was built with is
    legal — full-beam searches stay exact — but budgeted
    ``strategy='subgraph'`` walks will be weaker on the sparser
    shards; pass the store's γ here (and to ``nsw_compact``) to keep
    densification uniform.
    """
    meta = read_nsw_meta(df.sparkSession, path)
    _check_payload(meta, path, id_col, payload_cols, "append")
    _append_shards(
        df, path, meta, m=m, ef_construction=ef_construction, gamma=gamma,
        vec_col=vec_col, id_col=id_col, payload_cols=payload_cols,
    )


def _append_shards(
    df: DataFrame, path: str, meta: NswMeta, *, m, ef_construction, gamma,
    vec_col, id_col, payload_cols,
) -> None:
    invalidate()
    # bump BEFORE the shard write as well as after: a crash between a
    # committed data write and a trailing bump would leave the recorded
    # token equal to the on-disk one, so the O(1) fast path would read
    # the pre-append stats as provably fresh; the leading bump makes the
    # crash window conservative (token mismatch → fingerprint walk →
    # the new shards read as stale)
    bump_store_version(path)
    nsw_nodes(
        df, m=m, ef_construction=ef_construction,
        gamma=meta.gamma if gamma is None else gamma,
        vec_col=vec_col, id_col=id_col, part_offset=meta.max_part + 1,
        payload_cols=payload_cols, vector_dtype=meta.vector_dtype,
    ).write.mode("append").partitionBy("part_id").parquet(path)
    bump_store_version(path)


def _count_shards(path: str) -> int:
    import os

    return sum(d.startswith("part_id=") for d in os.listdir(path))


def _write_shards(packed: DataFrame):
    """A ``replace_dir`` writer for a re-packed shard store; returns the
    new shard count."""

    def write(tmp: str) -> int:
        packed.write.mode("overwrite").partitionBy("part_id").parquet(tmp)
        return _count_shards(tmp)

    return write


def _payload_of(raw: DataFrame, id_col: str) -> list[str]:
    return [
        c for c in raw.columns
        if c not in {"part_id", "seq", "neighbors", "gamma", id_col, "vector"}
    ]


def nsw_compact(
    spark,
    path: str,
    *,
    n_shards: int | None = None,
    m: int = 8,
    ef_construction: int = 32,
    gamma: int | None = None,
    id_col: str = "vec_id",
) -> int:
    """Re-pack an append-grown NSW shard store into fresh graphs — the
    build-amortization operator ``nsw_append`` defers to (its docstring
    used to say "many small appends should be compacted by re-running
    nsw_write"; VERDICT r6 ask #2 made that an operator, not a comment).
    The reference amortizes ONE 51 s hnswlib build (README.md:232); the
    analog for the shard store is: appends are cheap at ingest time,
    and when per-query fan-out (one k-candidate search per shard) has
    grown past the cluster's appetite, ``nsw_compact`` pays one rebuild
    to restore it.

    Semantics: reads the stored (id, vector) union, re-partitions into
    ``n_shards`` graphs (default: the cluster's default parallelism)
    hash-partitioned and sorted BY ID — so the compacted store is a
    pure function of (data, n_shards), independent of the append
    history — and swaps the store in place. Returns the new shard
    count. Full-beam searches are exact over the union both before and
    after, so compacted ≡ grown results hash-exactly (pinned by
    tests + the nsw_compact_topk oracle); budgeted searches may differ
    (different graphs ⇒ different greedy paths — same contract as any
    ANN rebuild).

    Tombstoned rows are dropped HERE — compaction is the physical-delete
    step the mark_deleted sidecar defers to (hnswlib never reclaims
    marked nodes; FAISS remove_ids pays this same rebuild-shaped cost).
    The sidecar vanishes with the swapped-out directory, which is
    REQUIRED: compacted shards renumber to 0..n-1 below every old
    ceiling, so a surviving tombstone would kill live re-added copies.
    Corollary: compaction makes deletions permanent (``nsw_undelete``
    can no longer restore them), and a store whose every row is
    tombstoned is refused (``StoreEmptied``, a ValueError).

    The swap is write-tmp → replace: atomic enough for a local store;
    on an object store, write a versioned prefix and flip a pointer
    (manifest) instead — the parquet layout is identical either way.
    """
    require_local(path, "nsw_compact")
    meta = read_nsw_meta(spark, path)
    raw = live_rows(spark, path, meta.df, id_col=id_col, op="nsw_compact")
    # payload columns survive compaction: re-packing is a layout change,
    # node metadata rides along (r8 predicate-filtered store search)
    extras = _payload_of(raw, id_col)
    stored = raw.select(id_col, "vector", *extras)
    if n_shards is None:
        n_shards = max(1, spark.sparkContext.defaultParallelism)
    packed = nsw_nodes(
        stored.repartition(n_shards, F.col(id_col)).sortWithinPartitions(id_col),
        m=m,
        ef_construction=ef_construction,
        # default to the store's OWN densification: a maintenance
        # compaction must not silently rebuild a γ=4 store at γ=1
        gamma=meta.gamma if gamma is None else gamma,
        vec_col="vector",
        id_col=id_col,
        part_offset=0,
        payload_cols=extras,
        vector_dtype=meta.vector_dtype,
    )
    return replace_dir(path, path, _write_shards(packed))


# ---------------------------------------------------------------------------
# shard pruning (r9): the SPANN shape (Chen et al., NeurIPS'21 — coarse
# cluster per shard, ball-bound shard selection, fine index inside) over
# the NSW store. Today every stored graph answers every query; at 100 TB
# a store has thousands of shards and per-query fan-out IS the query
# cost. With per-shard ball stats (centroid, max-member radius — the
# bound ivf_search_exact uses) most shards are provably unable to
# contain a top-k point and are skipped BEFORE their directory is read
# (part_id is the partition column, so the kept-set filter is partition
# pruning at the scan).


def _conj_shard_stats(
    conj: "dict[str, tuple]",
    attr_counts: dict,
    num_stats: dict,
    stat_parts: np.ndarray,
    member_counts: np.ndarray,
) -> "tuple[np.ndarray, np.ndarray]":
    """(certain_passing_lower_bounds, may_pass) over all shards for a
    CONJUNCTION of exact-match / range constraints (r11, VERDICT r10
    ask #3 — the reference's literal class-2 query shape is a
    two-attribute conjunction, acorn.py:296-298). Per shard with n
    members: each constraint i has a certain per-shard passing count
    lb_i and a may-pass verdict (``term_verdicts`` — exact/substring:
    the sidecar's exact count; range: n_present on all-pass, else 0).
    Bonferroni gives the sound conjunction bound |∩ P_i| ≥ n − Σ (n −
    lb_i): under-counting only widens the τ cover
    (``prune_plan(possible=...)``), a shard where ANY constraint is
    none-pass provably holds no passing member, and a cover falling
    short of k keeps every possible shard. For one term the bound is
    lb_1 itself, so a one-term conjunction returns that term's own
    verdicts."""
    deficits = np.zeros(len(stat_parts), dtype=np.int64)
    possible = np.ones(len(stat_parts), dtype=bool)
    for attr, (op, value) in conj.items():
        zone = (attr_counts if op in ("exact", "substring") else num_stats)[attr]
        passing, may = term_verdicts(op, value, zone, stat_parts)
        possible &= may
        deficits += member_counts - passing
    lb = np.maximum(0, member_counts - deficits)
    return np.where(possible, lb, 0), possible


def nsw_stats_write(
    spark,
    path: str,
    *,
    attrs: Sequence[str] = (),
    numeric_attrs: Sequence[str] = (),
) -> int:
    """Compute and persist per-shard ball stats — ``(part_id, centroid,
    radius, n)``, radius = max member L2 distance to the shard mean —
    as a ``_shard_stats`` sidecar ("_"-hidden from store reads). One
    map-side pass (applyInPandas per shard, S-row output). Call after
    ``nsw_write``/``nsw_append``/``nsw_compact`` change the shard set
    (``nsw_write_clustered`` does it for you); ``nsw_read_topk(
    prune=True)`` refuses stale stats (shard-set mismatch) rather than
    pruning unsoundly. Returns the number of shards covered.

    ``attrs`` (r9b): payload columns to also aggregate EXACT per-shard
    value counts for — ``(part_id, attr, value, n)`` in a
    ``_shard_attr_stats`` sidecar, values canonicalized to strings.
    These counts are what make pruning sound UNDER an exact-match or
    substring term (``nsw_read_topk(prune_conj=...)``): the τ cover bound
    can then count PASSING members per shard instead of all members —
    and a shard with zero passing members is skipped outright, the
    zone-map/partition-statistics idea applied to graph shards. One
    partial-agg pass over (part_id, attr, value) — output is
    shard × attr × distinct-value rows, the usual zone-map economics
    (intended for categorical/low-cardinality attributes; exact-match
    on canonicalized strings, so float-valued attrs are a caller
    mistake).

    ``numeric_attrs`` (r10): numeric payload columns to aggregate
    per-shard (vmin, vmax, n_present) zone maps for — the
    ``_shard_numeric_stats`` sidecar behind the range terms of
    ``nsw_read_topk(prune_conj=...)``, which makes pruning sound under
    §2.3's leq/geq/</> range predicates (reference acorn.py:176-185,
    item_weight/model_year — its class-2/3 queries are range-shaped):
    a shard whose whole [vmin, vmax] passes contributes its exact
    present count to the τ cover, one whose whole range fails is
    never read, a straddling shard stays searchable but certifies
    nothing. One S-row partial-agg pass per attribute; columns must
    be numeric (min/max over a string column would compare
    lexicographically and silently break the bound)."""
    # snapshot the store-version token and the shard-content
    # fingerprints BEFORE any aggregation: a mutation landing mid-write
    # bumps the token (and changes shard content), so the recorded
    # evidence reads as stale — never as falsely fresh
    # (check_stats_fresh). A store with no token yet (pre-r11 layout)
    # gets one initialized here so its sidecars join the O(1) protocol.
    ver = None
    if "://" not in path:
        ver = read_store_version(path) or bump_store_version(path)
    fps = None if "://" in path else snapshot_store_fp(path)
    stored = spark.read.parquet(path)
    out_schema = "part_id int, centroid array<double>, radius double, n long"

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.asarray(list(pdf["vector"]), dtype=np.float64)
        c = x.mean(axis=0)
        d = np.sqrt(((x - c) ** 2).sum(axis=1))
        return pd.DataFrame(
            {
                "part_id": [int(pdf["part_id"].iloc[0])],
                "centroid": [[float(v) for v in c]],
                "radius": [float(d.max())],
                "n": [int(len(pdf))],
            }
        )

    sdf = (
        stored.select("part_id", "vector")
        .groupBy("part_id")
        .applyInPandas(stats, out_schema)
    )
    sdf.write.mode("overwrite").parquet(stats_path(path))
    if fps is not None:
        record_store_fp(path, stats_path(path), fps, ver)
    if attrs:
        missing = [a for a in attrs if a not in stored.columns]
        if missing:
            raise ValueError(
                f"attr stats requested for columns not in the store at "
                f"{path}: {missing} — store them via "
                f"nsw_write(payload_cols=...)"
            )
        counts = None
        for a in attrs:
            part = (
                stored.groupBy(
                    "part_id",
                    F.lit(a).alias("attr"),
                    F.col(a).cast("string").alias("value"),
                )
                .agg(F.count("*").alias("n"))
            )
            counts = part if counts is None else counts.unionByName(part)
        counts.write.mode("overwrite").parquet(attr_stats_path(path))
        if fps is not None:
            record_store_fp(path, attr_stats_path(path), fps, ver)
    if numeric_attrs:
        from pyspark.sql.types import NumericType

        by_name = {f.name: f.dataType for f in stored.schema.fields}
        bad = [
            a for a in numeric_attrs
            if a not in by_name or not isinstance(by_name[a], NumericType)
        ]
        if bad:
            raise ValueError(
                f"numeric zone maps requested for non-numeric or missing "
                f"columns in the store at {path}: {bad} — min/max over a "
                f"non-numeric column would order lexicographically and "
                f"silently break the range bound"
            )
        zones = None
        for a in numeric_attrs:
            part = stored.groupBy(
                "part_id", F.lit(a).alias("attr")
            ).agg(
                F.min(F.col(a).cast("double")).alias("vmin"),
                F.max(F.col(a).cast("double")).alias("vmax"),
                F.count(F.col(a)).alias("n_present"),
            )
            zones = part if zones is None else zones.unionByName(part)
        zones.write.mode("overwrite").parquet(numeric_stats_path(path))
        if fps is not None:
            record_store_fp(path, numeric_stats_path(path), fps, ver)
    invalidate()
    return len(load_stats(spark, stats_path(path))[0])


def prune_plan(
    parts: np.ndarray,
    cents: np.ndarray,
    radii: np.ndarray,
    counts: np.ndarray,
    qmat: np.ndarray,
    k: int,
    *,
    possible: np.ndarray | None = None,
) -> list[np.ndarray]:
    """Per query: the sound kept-shard set. For shard s with centroid
    c_s and radius r_s, every member's squared distance to q lies in
    [max(0, ‖q−c_s‖−r_s)², (‖q−c_s‖+r_s)²]. Sort shards by upper
    bound; τ = the upper bound of the first prefix holding ≥ k points
    (so the exact kth-NN distance ≤ τ); shards whose LOWER bound
    exceeds τ cannot contribute a top-k point and are dropped. Fewer
    than k points in the whole store ⇒ keep everything (that still
    counts).

    ``possible`` (the predicate-aware form, r9b/r10): a boolean mask
    of shards that MAY contain a passing member, with ``counts`` the
    CERTAIN passing counts per shard — exact for exact-match value
    counts (``possible = counts > 0``: a zero-passing shard is dropped
    even when the cover falls short of k), only LOWER bounds for a
    min/max zone map (which proves all-pass or none-pass per shard; a
    straddling shard contributes certain count 0 but must stay
    searchable). The ball bounds hold for every member, so covering k
    passing members bounds the kth passing distance, and soundness
    carries: under-counting only grows the τ cover prefix (τ never
    shrinks below the exact-count τ, so the kept set only widens), a
    shard outside ``possible`` provably has no passing member, and a
    cover falling short of k keeps every possible shard.
    Defaults to all shards."""
    if possible is None:
        possible = np.ones(len(parts), bool)
    out = []
    for qi in range(qmat.shape[0]):
        d = np.sqrt(((cents - qmat[qi]) ** 2).sum(axis=1))
        lb = np.maximum(0.0, d - radii) ** 2
        ub = (d + radii) ** 2
        order = np.argsort(ub, kind="stable")
        order = order[possible[order]]
        if order.size == 0:
            out.append(parts[:0].copy())
            continue
        cum = np.cumsum(counts[order])
        if cum[-1] < k:
            out.append(parts[possible].copy())
            continue
        tau = float(ub[order[int(np.searchsorted(cum, k))]])
        out.append(parts[(lb <= tau) & possible])
    return out


def nsw_write_clustered(
    df: DataFrame,
    path: str,
    *,
    n_shards: int = 16,
    m: int = 8,
    ef_construction: int = 32,
    gamma: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
    stats_attrs: Sequence[str] = (),
    numeric_stats_attrs: Sequence[str] = (),
    sample_rows: int = 20_000,
    n_iter: int = 10,
    seed: int = 42,
    vector_dtype: str = "float64",
) -> None:
    """Build the store with CLUSTER-PURE shards — the layout that
    makes ball-bound pruning bite. ``nsw_write`` shards by arrival
    order (hash-ish locality), so every shard's ball covers most of
    the space and nothing prunes; here a bounded-sample k-means (the
    ``ivf_build`` trainer, ``ann._kmeans``) assigns each vector to its nearest
    of ``n_shards`` centroids and each CLUSTER becomes its own shard
    (one graph per cluster_id group — a hash repartition would merge
    arbitrary distant clusters into one shard and fatten its ball;
    see ``nsw_nodes(part_col=...)``), so shard balls are tight and
    distant ones are provably skippable. Writes the ``_shard_stats``
    sidecar as the final step. Same store layout as ``nsw_write``
    otherwise — every reader/maintenance op works unchanged."""
    from acorn_hybrid_vector_search_spark.operators.ann import train_assign

    if "cluster_id" in df.columns or "cluster_id" in payload_cols:
        raise ValueError(
            "nsw_write_clustered claims the 'cluster_id' column for its "
            "kmeans assignment — a corpus column (or payload) of that "
            "name would be silently overwritten / dropped; rename it"
        )
    _, assigned = train_assign(
        df, n_shards, vec_col=vec_col, sample_rows=sample_rows,
        n_iter=n_iter, seed=seed,
    )
    invalidate()
    clear_sidecars(path, df.sparkSession)
    nsw_nodes(
        assigned, m=m, ef_construction=ef_construction, gamma=gamma,
        vec_col=vec_col, id_col=id_col, part_offset=0,
        payload_cols=payload_cols, part_col="cluster_id",
        vector_dtype=vector_dtype,
    ).write.mode("overwrite").partitionBy("part_id").parquet(path)
    bump_store_version(path)
    nsw_stats_write(
        df.sparkSession, path,
        attrs=stats_attrs, numeric_attrs=numeric_stats_attrs,
    )


def _fresh_zone_attrs(spark, path: str, side: str, load) -> frozenset:
    """The attrs covered by the zone-map sidecar ``side`` when it and
    the ball-stats sidecar are present and content-fresh, else the empty
    set (remote stores are uncheckable and answer from the sidecar)."""
    import os

    spath = stats_path(path)
    if "://" not in path and not (
        os.path.exists(spath)
        and os.path.exists(side)
        and not check_stats_fresh(path, spath)
        and not check_stats_fresh(path, side)
    ):
        return frozenset()
    return frozenset(load(spark, side) or ())


def pruned_match_attrs(spark, path: str) -> frozenset:
    """The attrs a clustered store can serve exact-match zone-map-pruned
    queries for RIGHT NOW: covered by a ``_shard_attr_stats`` sidecar
    that is present and content-fresh (and whose ball-stats sidecar is
    too). Returns the empty set on any missing/stale sidecar — the
    router consults this BEFORE picking the ``nsw_pruned_match`` rung,
    so it never routes into ``nsw_read_topk``'s staleness guards."""
    return _fresh_zone_attrs(spark, path, attr_stats_path(path), load_attr_stats)


def pruned_range_attrs(spark, path: str) -> frozenset:
    """The attrs a clustered store can serve RANGE zone-map-pruned
    queries for right now: covered by a ``_shard_numeric_stats``
    sidecar that is present and content-fresh (ball stats too). Empty
    set on any missing/stale sidecar — the ``pruned_match_attrs``
    contract for the numeric rung (router rule 6's range arm never
    routes into a staleness guard)."""
    return _fresh_zone_attrs(
        spark, path, numeric_stats_path(path), load_numeric_stats
    )


def store_has_tombstones(spark, path: str) -> bool:
    """True when the store carries LIVE tombstone rows — the condition
    under which every ``prune=True`` read refuses (stats count dead
    members). The router consults this before treating a clustered
    store as prunable at all (review r10: rule 5/6 used to dispatch a
    tombstoned store straight into the guard). Local stores answer
    from the sidecar directory listing (emptied sidecars are rmtree'd
    by nsw_undelete — r9); remote stores pay one bounded read."""
    if "://" not in path:
        return has_data(tombstones_path(path))
    tomb = read_tombstones(spark, path)
    return tomb is not None and tomb.limit(1).count() > 0


def estimate_kept_fraction(
    spark, path: str, query_vec, k: int
) -> "float | None":
    """Row-weighted kept fraction the ball-bound prune plan would give
    THIS query — a driver-side estimate from the S-row stats sidecar
    (one memoized load, zero jobs after the first): Σ n over kept
    shards / Σ n. The router consults it before preferring the
    ``nsw_pruned`` rung — ball bounds weaken with dimension (the
    BENCH_LADDER ``nsw_prune_dim`` rung measures it), and a plan that
    keeps ~everything pays the stats machinery for no skipped I/O, so
    a high fraction falls back to ``ivf_exact``. ``None`` when stats
    are missing/stale (the rung's own guards then decide)."""
    import os

    spath = stats_path(path)
    if "://" not in path and not os.path.exists(spath):
        return None
    if check_stats_fresh(path, spath):
        return None
    loaded = load_stats(spark, spath)
    if loaded is None:
        return None
    parts, cents, radii, counts = loaded
    total = int(counts.sum())
    if not total:
        return None
    kept = prune_plan(
        parts, cents, radii, counts,
        np.asarray([list(query_vec)], dtype=np.float64), k,
    )[0]
    kept_set = set(kept.tolist())
    kept_rows = sum(
        int(c) for p, c in zip(parts.tolist(), counts.tolist())
        if p in kept_set
    )
    return kept_rows / total


def pruned_full_beam(spark, path: str, k: int) -> int:
    """The ef that makes a pruned store search PROVABLY exact: the beam
    must cover the largest shard — a hardcoded cap would silently go
    approximate once a shard outgrew it (review r9b). Reads max shard
    size off the stats sidecar (memoized); a missing sidecar returns k
    and falls through to ``nsw_read_topk``'s own guard."""
    loaded = load_stats(spark, stats_path(path))
    if loaded is not None and loaded[3].size:
        return max(k, int(loaded[3].max()))
    return k


def nsw_recluster(
    spark,
    path: str,
    *,
    n_shards: int = 16,
    m: int = 8,
    ef_construction: int = 32,
    gamma: int | None = None,
    stats_attrs: Sequence[str] = (),
    numeric_stats_attrs: Sequence[str] = (),
    sample_rows: int = 20_000,
    n_iter: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
) -> int:
    """Cluster-preserving compaction (r10 — closes the lifecycle hole
    VERDICT r9 named): ``nsw_compact`` re-packs into id-HASH shards,
    which merges distant clusters, fattens every shard ball and kills
    pruning (measured, see ``nsw_write_clustered``); ``nsw_append``
    onto a clustered store breaks cluster purity the same way — so a
    clustered store that grows or reclaims tombstones used to lose
    prunability permanently. ``nsw_recluster`` is the compaction that
    RESTORES it: read the live rows (tombstones reclaimed — deletions
    become permanent, exactly the ``nsw_compact`` contract), re-train
    the coarse k-means on a bounded sample, rebuild CLUSTER-PURE
    shards, swap the store in place with no loss window, and write
    fresh ``_shard_stats`` (plus any requested attr / numeric
    zone-map sidecars). Full-beam searches are exact over the union
    before and after (pinned); pruned searches work again immediately
    after — no manual stats refresh. Returns the new shard count.
    Local paths only (directory swap), like ``nsw_compact``."""
    from acorn_hybrid_vector_search_spark.operators.ann import train_assign

    require_local(path, "nsw_recluster")
    meta = read_nsw_meta(spark, path)
    raw = live_rows(spark, path, meta.df, id_col=id_col, op="nsw_recluster")
    extras = _payload_of(raw, id_col)
    if "cluster_id" in extras:
        raise ValueError(
            "nsw_recluster claims the 'cluster_id' column for its kmeans "
            "assignment — a stored payload of that name would be "
            "silently dropped; rebuild via nsw_write_clustered instead"
        )
    stored = raw.select(id_col, "vector", *extras)
    _, assigned = train_assign(
        stored, n_shards, vec_col="vector", sample_rows=sample_rows,
        n_iter=n_iter, seed=seed,
    )
    packed = nsw_nodes(
        assigned, m=m, ef_construction=ef_construction,
        gamma=meta.gamma if gamma is None else gamma,
        vec_col="vector", id_col=id_col, part_offset=0,
        payload_cols=extras, part_col="cluster_id",
        vector_dtype=meta.vector_dtype,
    )
    # the swap drops the tombstone and stats sidecars with the old
    # directory — REQUIRED (reclustered shards renumber below every old
    # ceiling), and the fresh stats land right after (recording the
    # fresh version token the swap wrote)
    n_new = replace_dir(path, path, _write_shards(packed))
    nsw_stats_write(
        spark, path, attrs=stats_attrs, numeric_attrs=numeric_stats_attrs
    )
    return n_new


_ZONE_MAPS = {
    "attrs": (attr_stats_path, load_attr_stats, "_shard_attr_stats"),
    "numeric_attrs": (numeric_stats_path, load_numeric_stats, "_shard_numeric_stats"),
}


def _zone_map(spark, path: str, kw: str, need, op: str) -> dict:
    """The zone-map sidecar ``nsw_stats_write(<kw>=...)`` writes, for a
    pruned read: refused when absent, stale against the shards, or not
    covering every attr in ``need`` — pruning on missing or stale
    evidence would silently break the exactness contract."""
    side_of, load, name = _ZONE_MAPS[kw]
    side = side_of(path)
    hint = f"run nsw_stats_write({kw}={list(need)!r})"
    zones = load(spark, side)
    if zones is None:
        raise ValueError(f"{op} but no {name} sidecar at {path} — {hint}")
    if newer := check_stats_fresh(path, side):
        raise ValueError(
            f"stale {name} at {path}: shard dir(s) {sorted(newer)[:3]}… "
            f"were rewritten at or after the zone map — {hint}"
        )
    if missing := [a for a in need if a not in zones]:
        raise ValueError(
            f"{name} at {path} does not cover {missing} (covered: "
            f"{sorted(zones)}) — {hint}"
        )
    return zones


def nsw_read_topk(
    spark,
    path: str,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    *,
    ef: int = 64,
    max_visits: int | None = None,
    blocked: frozenset[int] | set[int] | None = None,
    predicate=None,
    predicates=None,
    strategy: str = "traverse_all",
    subgraph_m: int = 8,
    prune: bool = False,
    prune_conj: "Mapping[str, Sequence] | Mapping[int, Mapping[str, Sequence]] | None" = None,
    id_col: str = "vec_id",
    dist_col: str = "dist",
) -> DataFrame:
    """Answer a query batch from graphs persisted by ``nsw_write`` —
    zero rebuild (the reference's build-once/query-many lifecycle made
    durable). Each stored graph directory is one ``applyInPandas``
    group: reconstruct via ``NswGraph.from_adjacency``, run the same
    budgeted best-first search, merge with the same global rank — so
    persisted results are bit-for-bit the rebuilt results (pytest
    pins this).

    ``predicate`` (r8): a Column over the store's payload columns
    (``nsw_write(payload_cols=...)``) — HYBRID search over the
    persisted graph, the reference's actual ACORN surface (its modified
    hnswlib traverses every node but returns only filter-functor
    passes, bindings.cpp:83-87 + hnswalg.h). The predicate is evaluated
    by CATALYST on the stored node table (one boolean column riding
    into each shard's walk — NULL fails, SQL filter semantics), so the
    full §2.3 builder (functions/predicates.py) works unchanged, and
    the walk applies the reference's traversed-but-never-returned rule
    per node. At full beam this answers the exact pre-filter oracle
    over the stored rows (pytest + the nsw_hybrid_topk registry gate);
    budgeted, it is the anytime ACORN trade.

    ``predicates`` (r8): a mapping ``query_id → Column`` giving EVERY
    query in the batch its OWN predicate — the reference's full
    serving surface (knn_query's ParallelFor runs one filter functor
    per query row, bindings.cpp:627-646). Each column becomes one
    Catalyst-evaluated ``_pass_<qid>`` boolean on the stored node
    table (|Q| cheap projections on ONE scan, never |Q| scans); the
    per-shard walk reads the matching mask per query. Queries absent
    from the mapping are unfiltered. Mutually exclusive with
    ``predicate`` (which applies one shared filter to all queries).

    ``strategy`` (r8b): ``'traverse_all'`` (default) is the
    reference's ACORN-1 / filter-functor walk — failing nodes are
    traversed (they spend budget) but never returned. ``'subgraph'``
    is the ACORN-γ walk (Patel et al., SIGMOD'24; see
    ``NswGraph._search_subgraph``): only predicate-passing nodes are
    entered or scored, with two-hop compensation through failing
    neighbors — pair it with a store built at ``nsw_write(gamma>1)``
    so the passing sublists stay navigable (γ ≈ 1/selectivity is the
    paper's sizing). ``subgraph_m`` is the per-expansion
    passing-neighbor cap (the M of the γ·M list). Both strategies
    answer the exact pre-filter oracle at full beam; under a budget,
    subgraph spends every visit on a returnable node.

    Tombstones (r9): ids deleted via ``nsw_delete``/``nsw_upsert`` are
    traversed but never returned — hnswlib's markDelete semantics read
    straight off the sidecar (one broadcast join tagging each node
    with ``_deleted``; version-aware: a copy appended AFTER the delete
    has part_id above the tombstone's ceiling and stays live).

    ``prune`` (r9): skip whole shards whose ball bound (``_shard_stats``
    sidecar — write it via ``nsw_write_clustered`` or
    ``nsw_stats_write``) proves they cannot hold a top-k point. The
    kept-set filter is a partition filter on ``part_id``, so pruned
    shard DIRECTORIES are never read; per kept shard, only the
    queries that need it are walked. Sound for plain top-k only:
    predicates/blocked sets raise (the τ bound covers the kth
    UNFILTERED neighbor; the kth PASSING neighbor can be farther, so
    a pruned shard could hide a passing point), as do tombstones
    (stats still count dead members — compact first) and a stale
    shard set. Full beam ⇒ pruned ≡ unpruned ≡ exact (the bound
    argument in ``prune_plan``); budgeted, kept-shard walks are
    bit-identical but a pruned shard no longer contributes its
    beyond-τ candidates.

    ``prune_conj`` (r9b-r11, the ACORN×SPANN composition):
    ``{attr: (op, value)}`` — a CONJUNCTION of exact-match, substring
    and range (``< <= > >=``, ``leq``/``geq`` — §2.3's spelling)
    terms, the reference's class-2/3 query shape (``item_weight < 2 ∧
    brand exact …``, acorn.py:176-185, 296-298), and the only
    predicate that pruning is sound under. Exact and substring terms
    read the exact per-shard value counts of the ``_shard_attr_stats``
    sidecar (``nsw_stats_write(attrs=[attr])``; values compare on
    their canonical string form, so intended for categorical
    payloads); range terms read the per-shard (vmin, vmax, n_present)
    zone maps of ``_shard_numeric_stats`` (``nsw_stats_write(
    numeric_attrs=[attr])``), where a shard whose whole range passes
    certifies its present count, one whose whole range fails holds no
    passing member, and a straddling one may pass but certifies
    nothing. Both sidecars must be fresh and cover every constrained
    attr. ``_conj_shard_stats`` combines the terms: a shard where ANY
    term is none-pass is provably empty of passing members and its
    directory is never read, and the τ cover counts the certain lower
    bound ``max(0, n − Σ(n − lb_i))`` per shard — the ball bounds hold
    for every member, so covering k passing members bounds the kth
    passing distance, and under-counting only widens the kept set
    (``prune_plan(possible=...)``), so full beam stays provably
    exact. The conjunction rides the walk as ONE Catalyst mask
    (traversed-never-returned, or the γ-subgraph walk under
    ``strategy='subgraph'``; NULL/missing attr rejects, §2.3), so at
    full beam the result answers the exact pre-filter oracle. A
    one-term conjunction is the plain exact-match or range prune: its
    counts and ``possible`` mask are the term's own verdicts (for an
    exact term ``possible = counts > 0``), and its walk mask is
    ``F.col(attr) == F.lit(value)`` or ``range_pred_col(attr, op,
    value)`` — so its kept sets, rows and ``dist`` bits are those of a
    dedicated exact-match or range prune by construction.

    ``prune_conj`` as a MAPPING ``query_id → {attr: (op, value)}``
    (r10, the serving shape mirroring r8b's per-query ``predicates``):
    every query in the batch prunes and filters on its OWN conjunction
    from ONE store read — each query's own bounds drive its own τ
    cover, and each conjunction becomes that query's Catalyst
    ``_pass_<qid>`` boolean on the shared node scan. Queries absent
    from the mapping prune on plain ball bounds and walk unfiltered;
    the router's batched dispatch (``ann_search_batch``) folds all
    pruned rungs into this shape. Mutually exclusive with
    ``predicate``/``predicates``; requires ``prune=True``."""
    qids, qmat = query_batch_matrix(queries)
    blocked_set = frozenset(int(b) for b in (blocked or ()))
    out_schema = f"query_id long, {id_col} long, {dist_col} double"
    has_pred = predicate is not None
    if has_pred and predicates:
        raise ValueError("pass either predicate or predicates, not both")
    preds = {int(q): c for q, c in (predicates or {}).items()}
    pred_qids = sorted(preds)
    qset = set(qids)
    if unknown := [q for q in pred_qids if q not in qset]:
        raise ValueError(f"predicates for ids not in the batch: {unknown}")
    if strategy not in ("traverse_all", "subgraph"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    if strategy == "subgraph" and not (
        has_pred or pred_qids or prune_conj is not None
    ):
        raise ValueError(
            "strategy='subgraph' is the ACORN-γ predicate-subgraph walk "
            "— it requires predicate, predicates, or prune_conj"
        )

    if prune_conj is not None and not prune:
        raise ValueError("prune_conj requires prune=True")
    stored = read_parquet(spark, path)
    conj_shared: "dict[str, tuple] | None" = None
    conj_by_qid: "dict[int, dict[str, tuple]] | None" = None
    if prune_conj is not None:
        conj_keys = list(dict(prune_conj))
        if not conj_keys:
            raise ValueError(
                "empty prune_conj — pass None for an unfiltered pruned "
                "search, or a {attr: (op, value)} conjunction"
            )
        if all(isinstance(ck, str) for ck in conj_keys):
            conj_shared = normalize_conj(prune_conj, stored)
        else:
            conj_by_qid = {
                int(q): normalize_conj(c, stored)
                for q, c in dict(prune_conj).items()
            }
            if unknown := [q for q in sorted(conj_by_qid) if q not in qset]:
                raise ValueError(
                    f"prune_conj for ids not in the batch: {unknown}"
                )
    tomb = read_tombstones(spark, path)
    allowed: dict[int, np.ndarray] | None = None
    if prune:
        import os

        if has_pred or pred_qids or blocked_set:
            raise ValueError(
                "prune=True is sound for plain top-k only — arbitrary "
                "predicates and blocked sets change which kth distance "
                "bounds the search, so ball-bound shard pruning could "
                "drop a shard holding a passing point (a conjunction "
                "backed by per-shard zone maps IS sound: prune_conj)"
            )
        if tomb is not None and tomb.limit(1).count() > 0:
            raise ValueError(
                "prune=True with tombstones present: shard stats count "
                "deleted members, so the τ bound can undercount live "
                "candidates — run nsw_compact (which reclaims and clears "
                "the sidecar), then nsw_stats_write"
            )
        spath = stats_path(path)
        loaded = load_stats(spark, spath)
        if loaded is None:
            raise ValueError(
                f"prune=True but no _shard_stats sidecar at {path} — "
                f"build with nsw_write_clustered or run nsw_stats_write"
            )
        stat_parts, cents, radii, counts = loaded
        # shard set from the partition directory listing when local —
        # free vs a distinct() job on every pruned query
        if "://" not in path:
            store_parts = {
                int(d.split("=", 1)[1])
                for d in os.listdir(path)
                if d.startswith("part_id=")
            }
        else:
            store_parts = {
                int(r["part_id"])
                for r in stored.select("part_id").distinct().collect()
            }
        if set(stat_parts.tolist()) != store_parts:
            raise ValueError(
                f"stale _shard_stats at {path}: stats cover "
                f"{len(stat_parts)} shard(s), store has "
                f"{len(store_parts)} — run nsw_stats_write after "
                f"append/compact changed the shard set"
            )
        # CONTENT staleness, not just the shard-id set (review r9): a
        # same-set rewrite (streaming replay, dynamic-mode rebuild)
        # leaves the ids identical while the balls moved — any shard
        # directory rewritten at-or-after the sidecar means the stats
        # no longer describe it (>=: same-tick is ambiguous ⇒ stale)
        if newer := check_stats_fresh(path, spath):
            raise ValueError(
                f"stale _shard_stats at {path}: shard dir(s) "
                f"{sorted(newer)[:3]}… were rewritten at or after the "
                f"stats — run nsw_stats_write"
            )
        possible = None
        per_query: "list[tuple] | None" = None
        if prune_conj is not None:
            # exact and substring terms read the per-shard value counts
            # (substring is decidable exactly over the distinct keys);
            # range terms read the numeric zone maps
            terms = [
                (a, c_op)
                for c in ([conj_shared] if conj_by_qid is None else conj_by_qid.values())
                for a, (c_op, _) in c.items()
            ]
            need_exact = sorted({a for a, c_op in terms if c_op in ("exact", "substring")})
            need_range = sorted({a for a, c_op in terms if c_op not in ("exact", "substring")})
            attr_counts = (
                _zone_map(spark, path, "attrs", need_exact, "prune_conj")
                if need_exact else {}
            )
            num_stats = (
                _zone_map(spark, path, "numeric_attrs", need_range, "prune_conj")
                if need_range else {}
            )
            if conj_shared is not None:
                counts, possible = _conj_shard_stats(
                    conj_shared, attr_counts, num_stats, stat_parts, counts
                )
                predicate = conj_pred_col(conj_shared)
                has_pred = True
            else:
                # per-query serving shape: each query's own Bonferroni
                # lower bounds and may-pass mask drive its own τ cover;
                # unmatched queries prune on plain ball bounds and walk
                # unfiltered
                per_query = [
                    _conj_shard_stats(
                        conj_by_qid[q], attr_counts, num_stats, stat_parts, counts
                    )
                    if q in conj_by_qid
                    else (counts, None)
                    for q in qids
                ]
                preds = {
                    q: conj_pred_col(c) for q, c in conj_by_qid.items()
                }
                pred_qids = sorted(preds)
        if per_query is not None:
            kept = [
                prune_plan(
                    stat_parts, cents, radii, lb, qmat[qi : qi + 1], k,
                    possible=poss,
                )[0]
                for qi, (lb, poss) in enumerate(per_query)
            ]
        else:
            kept = prune_plan(
                stat_parts, cents, radii, counts, qmat, k, possible=possible
            )
        allowed = {}
        for qi, parts in enumerate(kept):
            for p in parts.tolist():
                allowed.setdefault(int(p), []).append(qi)
        allowed = {p: np.asarray(v, dtype=np.int64) for p, v in allowed.items()}
        union = sorted(allowed)
        stored = stored.where(F.col("part_id").isin(union))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq", ignore_index=True)
        x = np.asarray(list(pdf["vector"]), dtype=np.float64)
        g = NswGraph.from_adjacency(x, list(pdf["neighbors"]))
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mask: np.ndarray | dict[int, np.ndarray] | None = None
        if has_pred:
            mask = pdf["_pass"].fillna(False).to_numpy(dtype=bool)
        elif pred_qids:
            mask = {
                q: pdf[f"_pass_{q}"].fillna(False).to_numpy(dtype=bool)
                for q in pred_qids
            }
        deleted = (
            pdf["_deleted"].to_numpy(dtype=bool)
            if "_deleted" in pdf.columns
            else None
        )
        my_qids, my_qmat = qids, qmat
        if allowed is not None:
            sel = allowed[int(pdf["part_id"].iloc[0])]
            my_qids = [qids[i] for i in sel.tolist()]
            my_qmat = qmat[sel]
        return _local_topk_frame(
            g, ids, my_qids, my_qmat, k, max(ef, k), max_visits,
            blocked_set, id_col, dist_col, pass_mask=mask,
            strategy=strategy, m_cap=subgraph_m, deleted_mask=deleted,
        )

    if tomb is not None:
        stored = apply_tombstones(stored, tomb, id_col)
    if has_pred:
        stored = stored.withColumn("_pass", predicate)
    elif pred_qids:
        stored = stored.withColumns(
            {f"_pass_{q}": preds[q] for q in pred_qids}
        )
    cand = stored.groupBy("part_id").applyInPandas(run, out_schema)
    return merge_topk(cand, k, id_col, dist_col)


def _batch_filters(stored: DataFrame, predicate, predicates, match, blocked, id_col: str) -> DataFrame:
    """The dense kernels' batch-wide filters: the shared ``predicate``
    (NULL fails) and the ``blocked`` ids."""
    if predicate is not None:
        if predicates or match:
            raise ValueError("pass either predicate or predicates, not both")
        stored = stored.where(predicate)
    if blocked:
        stored = stored.where(~F.col(id_col).isin(sorted(int(b) for b in blocked)))
    return stored


def nsw_dense_topk(
    spark,
    path: str,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    *,
    predicate=None,
    predicates=None,
    match=None,
    blocked: frozenset[int] | set[int] | None = None,
    id_col: str = "vec_id",
    dist_col: str = "dist",
) -> DataFrame:
    """BATCH-DENSE serving kernel over the same persisted store: the
    EXACT brute-force answer for a whole query batch, where the walk
    (``nsw_read_topk``) pays a Python best-first search per (query,
    shard). It is ``knn.knn_batch``'s scan over the store's live rows, so
    ``dist`` is ``knn_exact``'s strict sum bit for bit. The walk remains
    the kernel for SMALL batches and tight visit budgets (the anytime
    ACORN contract); the router's ``DENSE_SERVE_MIN_BATCH`` is the
    crossover.

    Semantics: the shared ``predicate`` and ``blocked`` (anti-membership
    ids) are Catalyst filters on the scan; per-query ``predicates`` and
    ``match`` templates are ``DenseMaskPlan`` masks (NULL fails, the §2.3
    builder works unchanged). Being exact, a failing row is simply not a
    candidate (there is no traversed-but-not-returned distinction in a
    scan). Tombstoned ids are never returned. The scan reads only the id,
    the vector and the mask inputs: ``neighbors``/``gamma`` never ship.

    NO SHUFFLE: unlike the walk, whose seq-indexed adjacency forces a
    ``groupBy(part_id)`` that reshuffles the vector payload on every
    call, a brute top-k over any FRAGMENT of the store, merged by the
    global (dist, id) rank, is still exact — so the only shuffled rows
    are the O(fragments·|Q|·k) candidates.

    Returns ``(query_id, <id_col>, <dist_col>)``.
    """
    qids, qmat = query_batch_matrix(queries)
    plan = DenseMaskPlan(predicates, qids, match=match)
    stored = live_rows(spark, path, read_parquet(spark, path), id_col=id_col)
    stored = _batch_filters(stored, predicate, predicates, match, blocked, id_col)
    cand = scan_topk(stored, qids, qmat, k, plan, keep=[id_col], carry=False,
                     vec_col="vector", id_col=id_col, dist_col=dist_col)
    return cand.select("query_id", id_col, dist_col)


def nsw_write_int8(spark, path: str, *, id_col: str = "vec_id") -> None:
    """Materialize the INT8 CODE SIDECAR for the two-phase batch-dense
    kernel (r13, VERDICT r12 ask #4). The 100 TB lever is bytes-per-row:
    at the reference shape a float32 vector is 8 KB/row and the dense
    scan is bandwidth-bound, so the sidecar stores each vector as
    ``qcode`` = d bytes of two's-complement int8 (a packed BINARY —
    parquet encodes ``array<tinyint>`` elements as INT32 physical, so
    the binary blob is the only real 1-byte/component layout) plus one
    ``qscale`` double — 4× fewer scanned bytes than float32, 8× than
    float64. Quantization is quantize.py's symmetric max-abs scheme
    (scale = max|x|/127, q = floor(x/scale + 0.5), zero vectors keep
    scale 0), giving the per-row EXACTNESS RADIUS the search kernel's
    candidate bound uses: |x_i − scale·q_i| ≤ scale/2 per component ⇒
    ‖x − x̂‖₂ ≤ scale·√d/2.

    Payload columns ride along so §2.3 predicate masks evaluate on the
    sidecar scan itself (same Catalyst machinery as ``nsw_dense_topk``).
    Freshness: the sidecar records the store-version token + per-shard
    content fingerprints (the ``record_store_fp`` protocol); the
    kernel REFUSES on staleness — codes quantized against a mutated
    store would silently break the exactness bound. Local stores only
    (the fingerprint walk is os-level, like every stats sidecar)."""
    require_local(path, "nsw_write_int8")
    from pyspark.sql import types as sqlt

    stored = spark.read.parquet(path)
    payload = [
        c
        for c in stored.columns
        if c not in ("part_id", "seq", "vector", "neighbors", "gamma", id_col)
    ]
    # part_id rides along (as a plain column — sidecar fragments stay
    # anonymous): tombstone semantics are ceiling-scoped per shard
    # (apply_tombstones reads part_id), and the search kernel applies
    # tombstones to the SIDECAR scan
    fields = [
        sqlt.StructField(id_col, sqlt.LongType()),
        sqlt.StructField("part_id", sqlt.IntegerType()),
        sqlt.StructField("qcode", sqlt.BinaryType()),
        sqlt.StructField("qscale", sqlt.DoubleType()),
    ] + [stored.schema[c] for c in payload]
    schema = sqlt.StructType(fields)

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(list(pdf["vector"]), dtype=np.float64)
            scale = np.abs(X).max(axis=1) / 127.0
            safe = np.where(scale > 0.0, scale, 1.0)
            q = np.floor(X / safe[:, None] + 0.5).astype(np.int8)
            q[scale == 0.0] = 0
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "part_id": pdf["part_id"].to_numpy(),
                    "qcode": [r.tobytes() for r in q],
                    "qscale": scale,
                }
            )
            for c in payload:
                out[c] = pdf[c].reset_index(drop=True)
            yield out

    sidecar = int8_path(path)
    # snapshot BEFORE the scan (the stats-writer discipline): a mutation
    # racing the encode reads as stale, never as silently fresh
    version = read_store_version(path)
    fps = snapshot_store_fp(path)
    cols = [id_col, "part_id", "vector"] + payload
    (
        stored.select(*cols)
        .mapInPandas(enc, schema)
        .write.mode("overwrite")
        .parquet(sidecar)
    )
    record_store_fp(path, sidecar, fps, version)
    # sidecar writers follow the store-writer contract: session-memoized
    # reads (read_parquet/read_parquet) would otherwise keep serving a
    # DataFrame whose file listing points at the pre-overwrite files
    invalidate()


def nsw_int8_fresh(spark, path: str) -> bool:
    """True iff an int8 code sidecar exists under ``path`` AND is fresh
    against the store (the ``nsw_write_int8`` version-token/fingerprint
    protocol — O(1) when the version token matches). This is the probe
    behind ``ann_search_batch``'s ``dense_dtype="auto"`` (r14, VERDICT
    r13 ask #1): building the sidecar is the caller's opt-in signal for
    the bandwidth-bound rung, and a STALE sidecar resolves to the
    full-precision kernel instead of erroring — routing must degrade,
    not refuse (the direct ``nsw_dense_topk_int8`` call keeps its loud
    staleness refusal)."""
    import os

    sidecar = int8_path(path)
    if "://" in sidecar or not os.path.isdir(sidecar):
        return False
    return not check_stats_fresh(path, sidecar)


def nsw_dense_topk_int8(
    spark,
    path: str,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    *,
    predicate=None,
    predicates=None,
    match=None,
    blocked: frozenset[int] | set[int] | None = None,
    mode: str = "certified",
    rerank_width: int | None = None,
    rerank_isin_max: int = 4096,
    id_col: str = "vec_id",
    dist_col: str = "dist",
) -> DataFrame:
    """TWO-PHASE INT8 batch-dense serving kernel (r13, VERDICT r12 ask
    #4): the same answers as ``nsw_dense_topk`` — provably, not
    approximately — from a scan that reads 4× fewer bytes.

    Phase 1 (int8 gemm + certified bounds): ``mapInPandas`` over the
    ``nsw_write_int8`` code sidecar. Per fragment, ONE f64 gemm over
    the dequantized codes scores every (row, query) pair, and the
    quantization radius ε_row = qscale·√d/2 (see ``nsw_write_int8``)
    brackets every true distance: √d̂ ± ε. Per query the fragment
    emits every passing row whose LOWER bound is ≤ the k-th smallest
    UPPER bound — by the bracket, any row it drops has ≥ k rows
    strictly closer, so the true top-k provably survives. Predicates /
    blocked / tombstones apply in this phase (Catalyst filters on the
    sidecar scan, and per-query masks on the sidecar's payload columns
    via the same ``DenseMaskPlan`` machinery, NULL fails).

    Phase 2 (exact re-rank, candidate-sized): the certified candidates
    are reduced once more against the GLOBAL k-th upper bound (window
    rank — no driver loop), then joined back to the full-precision
    store and re-scored with ``knn.strict_sq_l2``, the sum
    ``nsw_dense_topk`` and ``knn_exact`` use — so certified results equal
    ``nsw_dense_topk``'s (query_id, id, dist) bit for bit. The candidate set
    is O(|Q|·k) rows: the re-rank reads vectors for candidates only
    (an ``isin`` pushed to parquet row-group stats when the distinct
    candidate ids fit ``rerank_isin_max``; the bounded driver-side id
    collect is candidate-sized, the same contract as every candidate
    load in this repo). At 100 TB the economics: phase 1 streams the
    whole corpus at 1/4 the bytes, phase 2 touches only row groups
    containing winners.

    ``mode`` (r13b): the certified bound is a TRIANGLE bound — its
    candidate window in d² units is ~4·dist·ε with ε = qscale·√d/2,
    while concentration of measure shrinks the corpus's RELATIVE
    distance spread as d grows, so past a few hundred dimensions the
    certified set approaches the whole corpus (measured at 32k×2048:
    certified pure-shape 168 s vs 3.4 s for the f64 dense kernel — the
    bound kept ~everything). ``mode="certified"`` (default) keeps the
    provable contract — right for the moderate-dimension stores the
    driver tables use; ``mode="rerank"`` is the SCALE path: phase 1
    keeps the top-``rerank_width`` (default 4·k) rows per (fragment,
    query) by d̂ — EXACT w.r.t. the DEQUANTIZED corpus, the same
    redefined-ground-truth contract the float32 store established —
    and phase 2 re-ranks those at full precision. Recall vs the
    full-precision corpus is no longer certified (the standard SQ8
    rerank trade, FAISS's memory rung); int8-vs-f64 agreement is
    pytest-pinned on the test shapes and the width is the caller's
    recall lever.

    Refuses on a stale sidecar (store mutated since ``nsw_write_int8``
    — the version-token/fingerprint protocol); tombstones alone do not
    stale the codes (they exclude rows in phase 1, like the dense
    kernel).

    Parallelism note (r13b, measured): Spark sizes scan splits by
    BYTES (``spark.sql.files.maxPartitionBytes``), but phase 1's cost
    is per ROW × |Q| — the 4-8× smaller code sidecar therefore gets
    4-8× fewer scan partitions than the vector store for the same
    work, strangling the gemm's parallelism. Serving deployments
    should size ``maxPartitionBytes`` down by the compression factor
    for the sidecar scan (the bench tools set 16 MB at the reference
    shape) or cache the sidecar pre-partitioned.

    Reference anchor: this is the quantized serving rung the
    reference's float32-only hnswlib store cannot express
    (bindings.cpp ``data_t = float``); SQ8-then-rerank is the standard
    FAISS ``SQ8`` memory rung with an exactness guarantee instead of a
    recall curve."""
    import os

    from pyspark.sql.window import Window

    qids, qmat = query_batch_matrix(queries)
    mask_plan = DenseMaskPlan(predicates, qids, match=match)
    if mode not in ("certified", "rerank"):
        raise ValueError(
            f"mode must be 'certified' or 'rerank', got {mode!r}"
        )
    certified = mode == "certified"
    k_emit = k if certified else max(int(rerank_width or 4 * k), k)
    sidecar = int8_path(path)
    if "://" not in sidecar and not os.path.isdir(sidecar):
        raise ValueError(
            f"no int8 code sidecar under {path!r} — run nsw_write_int8 "
            "first (the two-phase kernel scans codes, not vectors)"
        )
    if stale := check_stats_fresh(path, sidecar):
        raise ValueError(
            f"int8 code sidecar is stale against shards {stale} — the "
            "store was mutated since nsw_write_int8; rebuild the codes "
            "(searching stale codes would break the exactness bound)"
        )

    # the sidecar carries part_id, so the store's tombstones apply to it
    codes = live_rows(spark, path, read_parquet(spark, sidecar), id_col=id_col)
    codes = _batch_filters(codes, predicate, predicates, match, blocked, id_col)
    codes, reads = mask_plan.attach(codes)
    codes = codes.select(*dict.fromkeys([id_col, "qcode", "qscale", *reads]))

    n_q = len(qids)
    qn = (qmat * qmat).sum(axis=1)
    extract_masks = mask_plan.extractor()
    cand_schema = f"query_id long, {id_col} long, lb double, ub double"

    def frag_bounds(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        # r14 (ADVICE r13): the code dimension is inferred from the packed
        # bytes — a corrupted or mixed-dimension sidecar would silently
        # mis-reshape into wrong distances where the f64 kernel fails
        # loudly on a ragged vector column. Validate uniformity first.
        lens = np.fromiter(
            (len(b) for b in pdf["qcode"]), dtype=np.int64, count=n
        )
        if lens.size and (lens != lens[0]).any():
            raise ValueError(
                "int8 code sidecar has mixed qcode lengths "
                f"{sorted(set(lens.tolist()))[:4]} within one fragment — "
                "the store is corrupted or mixes dimensions; rebuild with "
                "nsw_write_int8"
            )
        raw = np.frombuffer(b"".join(pdf["qcode"]), dtype=np.int8)
        if n and raw.size % n != 0:
            raise ValueError(
                f"int8 qcode bytes ({raw.size}) are not a multiple of the "
                f"fragment row count ({n}) — corrupted sidecar"
            )
        dim = raw.size // n
        scale = pdf["qscale"].to_numpy(dtype=np.float64)
        # dequantize, then one gemm scores every (row, query) pair —
        # the win is the 4× smaller scan feeding it
        Xh = raw.reshape(n, dim).astype(np.float64) * scale[:, None]
        eps = scale * (np.sqrt(dim) / 2.0)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        xn = (Xh * Xh).sum(axis=1)
        masks = extract_masks(pdf)
        rows_q, rows_i, rows_lb, rows_ub = [], [], [], []
        kk = min(k_emit, n)
        if kk == 0:
            return pd.DataFrame(
                {"query_id": [], id_col: [], "lb": [], "ub": []}
            )
        for lo in range(0, n_q, QUERY_BLOCK):
            hi = min(lo + QUERY_BLOCK, n_q)
            D = xn[:, None] - 2.0 * (Xh @ qmat[lo:hi].T) + qn[None, lo:hi]
            np.maximum(D, 0.0, out=D)
            # the bracket arithmetic needs √d̂ only in certified mode
            S = np.sqrt(D) if certified else None
            for j in range(lo, hi):
                m = masks.get(qids[j])
                bad = np.zeros(n, dtype=bool) if m is None else ~m
                if bad.all():
                    continue
                if certified:
                    s = S[:, j - lo]
                    ub = np.where(bad, np.inf, (s + eps) ** 2)
                    lb = np.where(
                        bad, np.inf, np.maximum(s - eps, 0.0) ** 2
                    )
                    kj = min(kk, int((~bad).sum()))
                    tau = ub[np.argpartition(ub, kj - 1)[kj - 1]]
                    cand = np.flatnonzero(lb <= tau)
                else:
                    # rerank mode: top-k_emit by d̂ (exact w.r.t. the
                    # dequantized corpus), boundary ties widened like
                    # the dense kernel so the global cut stays
                    # deterministic; lb = ub = d̂ keeps the global
                    # rank machinery shared with certified mode
                    dm = np.where(bad, np.inf, D[:, j - lo])
                    kj = min(kk, int((~bad).sum()))
                    thresh = dm[np.argpartition(dm, kj - 1)[kj - 1]]
                    cand = np.flatnonzero(dm <= thresh)
                    lb = ub = dm
                rows_q.extend([qids[j]] * len(cand))
                rows_i.extend(ids[cand].tolist())
                rows_lb.extend(lb[cand].tolist())
                rows_ub.extend(ub[cand].tolist())
        return pd.DataFrame(
            {
                "query_id": rows_q,
                id_col: rows_i,
                "lb": rows_lb,
                "ub": rows_ub,
            }
        )

    def run(batches):
        for pdf in batches:
            if len(pdf):
                yield frag_bounds(pdf)

    cand = codes.mapInPandas(run, cand_schema)
    # global certified cut: keep rows whose lower bound is within the
    # k-th smallest upper bound ACROSS fragments (distributed window
    # rank over the O(fragments·|Q|·k) candidate stream — no driver loop)
    w = Window.partitionBy("query_id").orderBy(
        F.col("ub").asc(), F.col(id_col).asc()
    )
    # persist the candidate stream: tau (an aggregation of cand) and
    # surv (cand ⋈ tau) would otherwise each re-run the phase-1 sidecar
    # scan inside one action — halving the bandwidth win the sidecar
    # exists for (r13b self-review)
    cand = cand.persist()
    # r15 (measured): materialize the persist EAGERLY — AQE submits the
    # stage-materialization jobs of tau's shuffle and the join's probe
    # side concurrently, and both raced the LAZY cache fill, so the
    # phase-1 scan+gemm ran twice per call anyway (two ~550 ms jobs in
    # the job trace). One count serializes the fill; every dependent
    # job then reads the cache (guide §5: persist is only worth it when
    # the reuse actually hits).
    cand.count()
    try:
        tau = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k_emit)
            .groupBy("query_id")
            .agg(F.max("ub").alias("_tau"))
        )
        surv = (
            cand.join(F.broadcast(tau), "query_id")
            .where(F.col("lb") <= F.col("_tau"))
            .select("query_id", id_col)
        )
        # guard the bounded-collect contract (r13b self-review): in
        # certified mode at high dimension the triangle bound can keep
        # ~the whole corpus (the mode docstring's measurement) — refuse
        # a corpus-sized driver collect with the actionable fix instead
        # of OOMing the driver
        surv_bound = 64 * k_emit * len(qids)
        # ONE bounded candidate load (O(|Q|·k) by the bound/width); the
        # limit enforces the guard inside the same job a separate
        # count() used to pay for (r14) — limit(bound+1) stops the scan
        # at the first over-bound row, so the driver never holds more
        # than bound+1 rows either way
        surv_rows = surv.limit(surv_bound + 1).collect()
        if len(surv_rows) > surv_bound:
            raise ValueError(
                f"certified candidate set exceeds {surv_bound} rows — "
                "the triangle bound degrades with dimension (see the "
                "mode docstring); use mode='rerank' for "
                "high-dimensional stores"
            )
    finally:
        cand.unpersist()
    cand_ids = sorted({int(r[id_col]) for r in surv_rows})
    surv_df = spark.createDataFrame(
        [(int(r["query_id"]), int(r[id_col])) for r in surv_rows],
        f"query_id long, {id_col} long",
    )
    # phase 2 must see the SAME liveness view as phase 1 (r13b
    # self-review): an upsert history leaves tombstoned OLD copies of
    # a candidate id in earlier shards — joining on the id alone would
    # re-score (and possibly return) the deleted vector
    full = live_rows(spark, path, read_parquet(spark, path), id_col=id_col)
    full = full.select(id_col, "vector")
    if cand_ids and len(cand_ids) <= rerank_isin_max:
        # pushed to parquet row-group stats: the re-rank reads only
        # row groups containing candidates
        full = full.where(F.col(id_col).isin(cand_ids))
    rerank = full.join(F.broadcast(surv_df), id_col)

    qvec = {int(q): qmat[i] for i, q in enumerate(qids)}
    out_schema = f"query_id long, {id_col} long, {dist_col} double"
    sq_l2 = strict_sq_l2()

    def exact(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(list(pdf["vector"]), dtype=np.float64)
            Qm = np.asarray(
                [qvec[int(q)] for q in pdf["query_id"]], dtype=np.float64
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    id_col: pdf[id_col].to_numpy(),
                    # each candidate paired with its own query
                    dist_col: sq_l2(X.T, Qm.T),
                }
            )

    return merge_topk(rerank.mapInPandas(exact, out_schema), k, id_col, dist_col)
