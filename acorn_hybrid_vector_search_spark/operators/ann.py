"""Approximate nearest-neighbor search at scale: IVF (inverted-file) index.

The reference's ANN index is a single-process HNSW graph
(/root/reference/acorn.py:26-49, modified hnswlib). A pointer-chasing
graph doesn't distribute; the standard cluster-scale design is IVF:

- **build**: learn C centroids (distributed KMeans on a sample), assign
  every row to its nearest centroid, store ``cluster_id`` as a column —
  at 100 TB, write the table ``partitionBy("cluster_id")`` so each list
  is its own file group.
- **search**: rank centroids by distance to the query (driver-side — the
  centroid table is tiny), take the ``nprobe`` nearest, scan ONLY those
  clusters (partition pruning via ``cluster_id IN (...)``), exact top-k
  inside. Recall is tunable via nprobe; nprobe = C degrades gracefully to
  exact search.

This mirrors the reference's attribute-specific-index insight
(/root/reference/acorn_attribute_specific.py:44-65 — "search a smaller
index") with a data-driven partitioning instead of a metadata-driven one.

Assignment/search distance runs on NumPy via an Arrow-batched pandas UDF:
one (batch × dim) @ (dim × C) matmul per batch — BLAS replaces the
reference's hand-SIMD (hnswlib/hnswlib/space_l2.h).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType

from acorn_hybrid_vector_search_spark.functions.predicates import (
    build_predicate,
    flat_accessors,
)
from acorn_hybrid_vector_search_spark.operators._cache import invalidate
from acorn_hybrid_vector_search_spark.operators.knn import (
    knn_batch,
    knn_exact,
    query_batch_matrix,
)
from acorn_hybrid_vector_search_spark.operators.store import (
    IVF,
    bump_store_version,
    clear_sidecars,
    conj_pred_col,
    data_root,
    delete_ids,
    ivf_attr_stats_path,
    ivf_codebook_path,
    ivf_numeric_stats_path,
    live_rows,
    normalize_conj,
    replace_dir,
    require_local,
    term_verdicts,
    tombstones_path,
)


@dataclass
class IVFIndex:
    """Driver-side handle: the indexed table + its (tiny) codebook."""

    df: DataFrame  # original columns + cluster_id
    centroids: np.ndarray  # (C, dim) float64
    vec_col: str
    id_col: str
    radii: np.ndarray | None = None  # (C,) max L2 member distance per cluster
    # r10 zone maps on the inverted lists — {attr: {cluster_id:
    # {value_str: n}}}, the SAME per-(partition, attr, value) exact-count
    # contract as the graph store's _shard_attr_stats (graph_ann.py):
    # ivf_search_exact(conj=...) skips zero-passing lists outright
    # under exact and substring terms
    attr_counts: dict | None = None
    # r10b numeric zone maps — {attr: {cluster_id: (vmin, vmax,
    # n_present)}}, the graph store's _shard_numeric_stats contract on
    # the lists: ivf_search_exact(conj=...) skips provably-failing
    # lists under §2.3 range terms
    numeric_stats: dict | None = None

    @property
    def n_clusters(self) -> int:
        return int(self.centroids.shape[0])


def _ivf_attr_counts(
    assigned: DataFrame, attrs: Sequence[str]
) -> dict:
    """Exact per-list value counts — one partial-agg pass per attr over
    (cluster_id, value), C×V-row collects (zone-map economics: meant
    for categorical/low-cardinality attributes). Values canonicalize
    to strings, mirroring the graph store's sidecar exactly."""
    missing = [a for a in attrs if a not in assigned.columns]
    if missing:
        raise ValueError(
            f"attr stats requested for columns not in the indexed "
            f"table: {missing}"
        )
    out: dict = {}
    for a in attrs:
        rows = (
            assigned.groupBy(
                "cluster_id", F.col(a).cast("string").alias("value")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        )
        per = out.setdefault(a, {})
        for r in rows:
            per.setdefault(int(r["cluster_id"]), {})[r["value"]] = int(r["n"])
    return out


def _ivf_numeric_stats(
    assigned: DataFrame, attrs: Sequence[str]
) -> dict:
    """Per-list (vmin, vmax, n_present) numeric zone maps — the graph
    store's ``_shard_numeric_stats`` shape on the inverted lists. Like
    ``nsw_stats_write(numeric_attrs=...)``, non-numeric columns are
    refused (lexicographic min/max would silently break the range
    bound)."""
    from pyspark.sql.types import NumericType

    by_name = {f.name: f.dataType for f in assigned.schema.fields}
    bad = [
        a for a in attrs
        if a not in by_name or not isinstance(by_name[a], NumericType)
    ]
    if bad:
        raise ValueError(
            f"numeric zone maps requested for non-numeric or missing "
            f"columns in the indexed table: {bad}"
        )
    out: dict = {}
    for a in attrs:
        rows = (
            assigned.groupBy("cluster_id")
            .agg(
                F.min(F.col(a).cast("double")).alias("vmin"),
                F.max(F.col(a).cast("double")).alias("vmax"),
                F.count(F.col(a)).alias("n_present"),
            )
            .collect()
        )
        out[a] = {
            int(r["cluster_id"]): (r["vmin"], r["vmax"], int(r["n_present"]))
            for r in rows
        }
    return out


def _kmeans(sample: np.ndarray, n_clusters: int, n_iter: int, seed: int) -> np.ndarray:
    """Plain Lloyd's iterations on a driver-side sample (NumPy). The sample
    is bounded (≤ ~100k rows regardless of table size) — training cost is
    independent of data scale; only assignment is distributed."""
    rng = np.random.RandomState(seed)
    n = sample.shape[0]
    k = min(n_clusters, n)
    centroids = sample[rng.choice(n, size=k, replace=False)]
    for _ in range(n_iter):
        d2 = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            m = assign == c
            if m.any():
                centroids[c] = sample[m].mean(axis=0)
            else:  # re-seed empty cluster deterministically
                centroids[c] = sample[rng.randint(n)]
    return centroids.astype(np.float64)


def assign_clusters(
    df: DataFrame, centroids: np.ndarray, *, vec_col: str = "embedding"
) -> DataFrame:
    """Add ``cluster_id`` = argmin_c ‖v − centroid_c‖². Arrow-batched: one
    BLAS matmul per batch, no per-row Python."""
    cent = centroids  # captured; broadcast with the serialized UDF
    cent_sq = (cent**2).sum(axis=1)  # (C,)

    @F.pandas_udf(IntegerType())
    def assign(v: pd.Series) -> pd.Series:
        x = np.asarray(list(v), dtype=np.float64)  # (B, dim)
        # argmin over ‖x‖² − 2x·c + ‖c‖²; ‖x‖² is constant per row → drop
        scores = -2.0 * (x @ cent.T) + cent_sq[None, :]
        return pd.Series(scores.argmin(axis=1).astype(np.int32))

    return df.withColumn("cluster_id", assign(F.col(vec_col)))


def train_assign(
    df: DataFrame,
    n_clusters: int,
    *,
    vec_col: str,
    sample_rows: int,
    n_iter: int,
    seed: int,
) -> tuple[np.ndarray, DataFrame]:
    """(centroids, ``df`` + ``cluster_id``): k-means trained on a bounded
    sample of ``df`` (all of it when it has at most ``sample_rows``
    rows), then every row assigned to its nearest centroid."""
    n = df.count()
    frac = min(1.0, sample_rows / max(n, 1))
    sample_df = df.select(vec_col) if frac >= 1.0 else df.select(vec_col).sample(frac, seed=seed)
    sample = np.asarray([r[0] for r in sample_df.collect()], dtype=np.float64)
    centroids = _kmeans(sample, n_clusters, n_iter, seed)
    return centroids, assign_clusters(df, centroids, vec_col=vec_col)


def ivf_build(
    df: DataFrame,
    n_clusters: int = 16,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_rows: int = 20_000,
    n_iter: int = 10,
    seed: int = 42,
    with_radii: bool = False,
    stats_attrs: Sequence[str] = (),
    numeric_stats_attrs: Sequence[str] = (),
) -> IVFIndex:
    """Train the codebook on a bounded sample and tag every row with its
    cluster. (Persist with ``index.df.write.partitionBy('cluster_id')`` to
    make nprobe pruning a file-skip at rest.)

    ``with_radii=True`` additionally computes each cluster's radius (max
    member L2 distance to its centroid) with one extra aggregate pass —
    the build artifact ``ivf_search_exact`` needs for provably-exact
    pruned search. Build-time-only cost, like the reference's index
    construction (/root/reference/acorn.py:274-277).

    ``stats_attrs`` (r10): payload columns to aggregate exact per-LIST
    value counts for — the zone-map sidecar contract shared with the
    graph store (``nsw_stats_write(attrs=...)``), consumed by
    ``ivf_search_exact(conj=...)`` to skip zero-passing lists under
    exact-match and substring terms. ``numeric_stats_attrs`` (r10b):
    numeric payload columns to aggregate per-list (vmin, vmax,
    n_present) zone maps for — ``ivf_search_exact(conj=...)``'s
    evidence under §2.3 range terms, mirroring
    ``nsw_stats_write(numeric_attrs=...)``.
    """
    centroids, assigned = train_assign(
        df, n_clusters, vec_col=vec_col, sample_rows=sample_rows,
        n_iter=n_iter, seed=seed,
    )
    radii = None
    if with_radii:
        radii = _cluster_radii(assigned, centroids, vec_col=vec_col)
    attr_counts = _ivf_attr_counts(assigned, stats_attrs) if stats_attrs else None
    numeric_stats = (
        _ivf_numeric_stats(assigned, numeric_stats_attrs)
        if numeric_stats_attrs
        else None
    )
    return IVFIndex(
        df=assigned,
        centroids=centroids,
        vec_col=vec_col,
        id_col=id_col,
        radii=radii,
        attr_counts=attr_counts,
        numeric_stats=numeric_stats,
    )


def _cluster_radii(
    assigned: DataFrame, centroids: np.ndarray, *, vec_col: str
) -> np.ndarray:
    """(C,) max L2 distance of any member to its own centroid — a tiny
    groupBy over one Arrow-batched distance projection (map-side partial
    max, C-row result)."""
    cent = centroids

    @F.pandas_udf(DoubleType())
    def dist_to_own(v: pd.Series, cid: pd.Series) -> pd.Series:
        x = np.asarray(list(v), dtype=np.float64)
        c = cent[cid.to_numpy(dtype=np.int64)]
        d = x - c
        return pd.Series(np.sqrt(np.einsum("ij,ij->i", d, d)))

    rows = (
        assigned.select(
            F.col("cluster_id"),
            dist_to_own(F.col(vec_col), F.col("cluster_id")).alias("d"),
        )
        .groupBy("cluster_id")
        .agg(F.max("d").alias("r"))
        .collect()
    )
    radii = np.zeros(cent.shape[0], dtype=np.float64)
    for r in rows:
        radii[int(r["cluster_id"])] = float(r["r"])
    return radii


def refresh_radii(index: IVFIndex) -> IVFIndex:
    """Recompute cluster radii over the index's CURRENT lists — restores
    ``ivf_search_exact``'s pruning bound after streaming ingest appended
    members beyond the build-time radii. One bounded aggregate pass; the
    codebook stays frozen."""
    return IVFIndex(
        df=index.df,
        centroids=index.centroids,
        vec_col=index.vec_col,
        id_col=index.id_col,
        radii=_cluster_radii(index.df, index.centroids, vec_col=index.vec_col),
        # zone-map counts stay: radii refresh doesn't change membership,
        # and post-ingest loads already recompute them (ivf_read)
        attr_counts=index.attr_counts,
        numeric_stats=index.numeric_stats,
    )


def ivf_write(index: IVFIndex, path: str) -> None:
    """Persist the index: rows partitioned BY cluster_id (each inverted
    list is its own directory → nprobe pruning is a file skip, verified
    via PartitionFilters in the scan plan) + the codebook as a tiny
    parquet sidecar. The reference rebuilds its HNSW graph every run
    (~51 s, /root/reference/acorn.py:274-277, README.md:232); here build
    once, prune forever."""
    # a REBUILD owns the WHOLE store: clearing only the tombstone
    # sidecar while mode('overwrite') replaces only batch=-1 would let
    # old streaming lists/batch=<id> subtrees survive — resurrecting
    # ids whose tombstones were just wiped and duplicating every
    # re-ingested id; drop lists/ and the sidecars together (a remote
    # rebuild fails fast: clear_sidecars)
    spark = index.df.sparkSession
    lists = data_root(path, IVF)
    clear_sidecars(path, spark, also=(IVF.data,))
    # base rows live under batch=-1: streaming ingest appends sibling
    # batch=<id> directories (streaming/indexing.py), so every writer owns
    # exactly one subtree and a replayed micro-batch can overwrite its own
    # idempotently. Partition discovery needs consistent depth, hence the
    # level exists from the start.
    index.df.write.mode("overwrite").partitionBy("cluster_id").parquet(
        f"{lists}/batch=-1"
    )
    rows = [
        (
            i,
            [float(x) for x in c],
            float(index.radii[i]) if index.radii is not None else None,
        )
        for i, c in enumerate(index.centroids)
    ]
    spark.createDataFrame(
        rows, "cluster_id INT, centroid ARRAY<DOUBLE>, radius DOUBLE"
    ).coalesce(1).write.mode("overwrite").parquet(ivf_codebook_path(path))
    # r10: persist the per-list zone maps (same row shape as the graph
    # store's _shard_attr_stats sidecar — one contract, two stores)
    if index.attr_counts:
        arows = [
            (int(c), a, v, int(n))
            for a, per in index.attr_counts.items()
            for c, vals in per.items()
            for v, n in vals.items()
        ]
        spark.createDataFrame(
            arows, "cluster_id INT, attr STRING, value STRING, n LONG"
        ).coalesce(1).write.mode("overwrite").parquet(ivf_attr_stats_path(path))
    if index.numeric_stats:
        nrows = [
            (int(c), a, vmin, vmax, int(np_))
            for a, per in index.numeric_stats.items()
            for c, (vmin, vmax, np_) in per.items()
        ]
        spark.createDataFrame(
            nrows,
            "cluster_id INT, attr STRING, vmin DOUBLE, vmax DOUBLE, "
            "n_present LONG",
        ).coalesce(1).write.mode("overwrite").parquet(
            ivf_numeric_stats_path(path)
        )
    # store writers drop pinned materializations: a semantically-equal
    # read plan over this path must never serve the pre-rewrite
    # snapshot (the r7 rule every other writer already follows)
    bump_store_version(path)
    invalidate()


def ivf_read(
    spark, path: str, *, vec_col: str = "embedding", id_col: str = "vec_id"
) -> IVFIndex:
    """Load a persisted index. The lists DataFrame carries cluster_id as a
    PARTITION column, so `cluster_id IN (...)` prunes at file-listing time.

    Tombstones (r9): ids deleted via ``ivf_delete`` are filtered out HERE
    — one broadcast join at load, so every search over the returned
    handle (nprobe, exact-pruned, predicate) honors deletions with zero
    per-search cost. Version-aware on the ``batch`` ownership level: a
    streaming micro-batch that re-adds a deleted id lands above the
    tombstone's ceiling and stays live (the graph store's part_ceiling
    contract, store.py). Radii stay sound — they upper-bound a
    superset of the live members."""
    cb = spark.read.parquet(ivf_codebook_path(path)).orderBy("cluster_id").collect()
    centroids = np.asarray([r["centroid"] for r in cb], dtype=np.float64)
    radii = None
    if cb and "radius" in cb[0].asDict() and cb[0]["radius"] is not None:
        radii = np.asarray([r["radius"] for r in cb], dtype=np.float64)
    df = live_rows(
        spark, path, spark.read.parquet(data_root(path, IVF)), kind=IVF,
        id_col=id_col,
    )
    # `batch` is a writer-ownership detail (base load vs streaming
    # micro-batches) — drop it from the logical schema; cluster_id pruning
    # is unaffected (both are partition levels).
    has_extra_batches = _ivf_has_stream_batches(path)
    df = df.drop("batch")
    attr_counts = None
    apath = ivf_attr_stats_path(path)
    if os.path.exists(apath):
        rows = spark.read.parquet(apath).collect()
        if has_extra_batches:
            # streaming ingest appended rows the persisted counts never
            # saw — a zero-count list could now hold passing members,
            # so zero-skip would be UNSOUND on stale counts. Recompute
            # from the LIVE view (tombstones applied above): exact and
            # fresh, one bounded aggregate per attr at load time.
            attr_counts = _ivf_attr_counts(df, sorted({r["attr"] for r in rows}))
        else:
            # tombstones alone keep persisted counts sound for skipping:
            # deletions only SHRINK a list's passing set, so zero stays
            # zero (a stale-high count just prunes less — never wrong)
            attr_counts = {}
            for r in rows:
                attr_counts.setdefault(r["attr"], {}).setdefault(
                    int(r["cluster_id"]), {}
                )[r["value"]] = int(r["n"])
    numeric_stats = None
    npath = ivf_numeric_stats_path(path)
    if os.path.exists(npath):
        rows = spark.read.parquet(npath).collect()
        if has_extra_batches:
            # same staleness argument: appended rows can widen a
            # list's [vmin, vmax] — a none-pass verdict on stale
            # bounds would skip passing members
            numeric_stats = _ivf_numeric_stats(df, sorted({r["attr"] for r in rows}))
        else:
            # deletions only NARROW the true range, so stale-wide
            # bounds stay sound (a straddle verdict where none-pass
            # now holds just prunes less)
            numeric_stats = {}
            for r in rows:
                numeric_stats.setdefault(r["attr"], {})[
                    int(r["cluster_id"])
                ] = (r["vmin"], r["vmax"], int(r["n_present"]))
    return IVFIndex(
        df=df, centroids=centroids, vec_col=vec_col, id_col=id_col,
        radii=radii, attr_counts=attr_counts, numeric_stats=numeric_stats,
    )


def _ivf_has_stream_batches(path: str) -> bool:
    """True when streaming ingest added lists/batch=<id> subtrees beyond
    the base batch=-1 (local stores only — ivf_write refuses remote)."""
    lists = data_root(path, IVF)
    if "://" in path or not os.path.isdir(lists):
        return False
    return any(
        d.startswith("batch=") and d != "batch=-1" for d in os.listdir(lists)
    )


def ivf_delete(
    spark, path: str, ids, *, id_col: str = "vec_id", strict: bool = True
) -> None:
    """Mark ids deleted in a persisted IVF store — the same tombstone
    sidecar contract as the graph store (store.delete_ids, the graph store's nsw_delete / the
    hnswlib mark_deleted analog): O(|ids|) sidecar rows appended, no
    list rewrite at any store size. The ceiling is the store's max
    ``batch`` ownership id, so a later streaming micro-batch re-adding
    the id stays live. ``ivf_read`` applies tombstones at load;
    ``ivf_reclaim`` is the physical delete."""
    delete_ids(spark, path, ids, IVF, id_col=id_col, strict=strict, op="ivf_delete")


def ivf_reclaim(spark, path: str, *, id_col: str = "vec_id") -> int:
    """Physical delete for the IVF store — the nsw_compact analog, far
    cheaper here because lists are flat rows (no graph rebuild): rewrite
    the lists with tombstoned rows dropped, collapse streaming batch
    history into the base subtree, and clear the sidecar (required, as
    in nsw_compact: the collapsed rows land at batch=-1, below every
    ceiling). Returns the live row count. Local paths only (directory
    swap)."""
    require_local(path, "ivf_reclaim")
    lists = data_root(path, IVF)
    live = live_rows(
        spark, path, spark.read.parquet(lists), kind=IVF, id_col=id_col,
        op="ivf_reclaim",
    ).drop("batch")
    n_live = live.count()
    replace_dir(
        path, lists,
        lambda tmp: live.write.mode("overwrite").partitionBy("cluster_id")
        .parquet(f"{tmp}/batch=-1"),
        drop=(tombstones_path(path),),
    )
    return int(n_live)


def ivf_search(
    index: IVFIndex,
    query_vec: Sequence[float],
    k: int,
    *,
    nprobe: int = 4,
    predicate: Column | None = None,
) -> DataFrame:
    """Top-k by L2² among the ``nprobe`` clusters nearest the query.

    The cluster ranking is a C-row NumPy computation on the driver; the
    scan applies ``cluster_id IN (...)`` FIRST (partition-prunable), then
    the optional metadata predicate, then exact top-k — so the expensive
    distance work touches ~nprobe/C of the data.
    """
    q = np.asarray(list(query_vec), dtype=np.float64)
    d2 = ((index.centroids - q[None, :]) ** 2).sum(axis=1)
    probe = [int(c) for c in np.argsort(d2, kind="stable")[:nprobe]]
    scan = index.df.filter(F.col("cluster_id").isin(probe))
    if predicate is not None:
        scan = scan.filter(predicate)
    return knn_exact(scan, list(query_vec), k, vec_col=index.vec_col, id_col=index.id_col)


def ivf_search_exact(
    index: IVFIndex,
    query_vec: Sequence[float],
    k: int,
    *,
    conj=None,
) -> DataFrame:
    """PROVABLY EXACT top-k with data-adaptive cluster pruning — the
    IVF answer to "approximate is not acceptable, full scan is too much".

    Ball-bound argument (triangle inequality): for any member x of
    cluster c, ‖x−q‖ ≥ ‖q−centroid_c‖ − radius_c. So after finding a
    candidate k-th distance d_k from the nearest cluster, any cluster
    whose lower bound exceeds d_k provably contains no better neighbor
    and is skipped — same guarantee as ball-tree pruning, expressed as
    partition pruning:

      phase 1: exact top-k inside the single nearest cluster (scans
               ~1/C of the data; bounded k-row collect);
      phase 2: one plan over the clusters whose ball could still beat
               d_k (often just a few; worst case — e.g. uniform data
               with overlapping balls — degrades to the full scan, still
               exact).

    Requires ``with_radii=True`` at build. How much phase 2 prunes is a
    property of the data's cluster structure; exactness never depends
    on it.

    SOUNDNESS CAVEAT: radii describe the lists at build time. Streaming
    ingest (streaming/indexing.py) appends members that may exceed a
    stored radius — recompute radii after ingest (one cheap aggregate)
    before using exact pruned search on a grown index.

    ``conj`` (r10-r11, the graph store's ``prune_conj`` on the
    inverted lists — one shared zone-map contract): ``{attr: (op,
    value)}``, a CONJUNCTION of exact / substring / range (``< <= >
    >=``, ``leq``/``geq``) terms, the reference's class-2/3 shape
    (acorn.py:176-185, 296-298). Exact and substring terms read the
    per-list exact value counts (``ivf_build(stats_attrs=[attr])``),
    range terms the per-list (vmin, vmax, n_present) zone maps
    (``ivf_build(numeric_stats_attrs=[attr])``); both are loaded by
    ``ivf_read``. A list where ANY term provably passes nowhere is
    skipped at EVERY stage (its directory is never read — the
    cluster_id filter is partition pruning), phase 1 runs in the
    nearest list that may hold passing members, the conjunction's
    Catalyst mask filters both scans, and the ball lower bound applies
    unchanged to the passing subset (every passing member is a
    member), so the result is the exact filtered top-k. The IVF form
    needs NO Bonferroni counts: the two-phase scan's exactness comes
    from the ball bound plus the predicate-filtered top-k. Zone maps
    persisted at build stay sound under deletions (passing sets only
    shrink, value ranges only narrow) and are recomputed at load when
    streaming batches appended rows they never saw (``ivf_read``).
    """
    if index.radii is None:
        raise ValueError("ivf_search_exact requires an index built with_radii=True")
    passing = pred = None
    if conj is not None:
        passing, pred = _ivf_conj(index, conj)
    if passing is not None and not passing.any():
        return knn_exact(
            index.df.filter(F.lit(False)), query_vec, k,
            vec_col=index.vec_col, id_col=index.id_col,
        )
    q = np.asarray(list(query_vec), dtype=np.float64)
    dc = np.sqrt(((index.centroids - q[None, :]) ** 2).sum(axis=1))  # (C,) L2
    order = np.argsort(dc, kind="stable")
    if passing is not None:
        order = order[passing[order]]
    first = int(order[0])

    scan1 = index.df.filter(F.col("cluster_id") == first)
    if pred is not None:
        scan1 = scan1.filter(pred)
    top1 = knn_exact(
        scan1,
        list(query_vec),
        k,
        vec_col=index.vec_col,
        id_col=index.id_col,
    ).collect()
    if len(top1) < k:
        probe = [int(c) for c in order]  # nearest cluster can't fill k: no bound
    else:
        d_k = float(np.sqrt(top1[-1]["dist"]))  # dist is squared L2
        lower = dc - index.radii  # per-cluster best-case distance
        probe = [first] + [
            int(c) for c in order[1:] if lower[int(c)] <= d_k + 1e-9
        ]
    scan = index.df.filter(F.col("cluster_id").isin(probe))
    if pred is not None:
        scan = scan.filter(pred)
    return knn_exact(
        scan,
        list(query_vec),
        k,
        vec_col=index.vec_col,
        id_col=index.id_col,
    )


def _ivf_conj(index: IVFIndex, conj) -> "tuple[np.ndarray, Column]":
    """(per-list may-hold-a-passing-member mask, Catalyst row filter)
    for one conjunction ``{attr: (op, value)}``: a list passes when
    every term's zone-map verdict (``store.term_verdicts``) says it
    may. Raises on an attr the index's zone maps do not cover."""
    terms = normalize_conj(conj, index.df)
    passing = np.ones(index.n_clusters, dtype=bool)
    for attr, (op, value) in terms.items():
        if op in ("exact", "substring"):
            zones, what, kw = index.attr_counts, "value counts", "stats_attrs"
        else:
            zones, what, kw = index.numeric_stats, "numeric zone maps", "numeric_stats_attrs"
        if not zones or attr not in zones:
            raise ValueError(
                f"{op} constraint on {attr!r} needs per-list {what} "
                f"(covered: {sorted(zones or ())}) — build with "
                f"ivf_build({kw}=[{attr!r}])"
            )
        passing &= term_verdicts(op, value, zones[attr], range(index.n_clusters))[1]
    return passing, conj_pred_col(terms)


def ivf_search_exact_batch(
    index: IVFIndex,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    *,
    conj=None,
    query_id_col: str = "query_id",
) -> DataFrame:
    """``ivf_search_exact`` for a QUERY BATCH — the IVF rung at the
    serving shape (r11, VERDICT r10 ask #6): per query the result is
    IDENTICAL to the single-query two-phase exact scan (pytest-pinned),
    but the whole batch pays TWO list scans total instead of two per
    query.

    ``conj``: a per-query mapping ``{query_id: {attr: (op, value)}}``
    of ``ivf_search_exact`` conjunctions (the graph store's per-query
    ``prune_conj`` shape): each query's own zone-map verdicts skip its
    provably-empty lists at every stage, and a query absent from the
    mapping probes on plain ball bounds. A query whose conjunction
    provably passes nowhere contributes an empty per-query result,
    exactly like the single-query scan.

    Plan: both phases are one ``knn_batch`` scan of the union of the
    lists they probe, each query masked to ``cluster_id IN probes(q)``
    and its own predicate (the single-query scan's Catalyst column), so
    cluster_id stays partition-prunable and no corpus×queries join
    exists.

      phase 1: each query's nearest PASSING list; ONE bounded ≤ |Q|·k
               collect gives every query's candidate d_k.
      phase 2: per-query ball-bound probe sets (driver-side C-row
               arithmetic; a query whose phase 1 under-fills probes
               every passing list)."""
    if index.radii is None:
        raise ValueError(
            "ivf_search_exact_batch requires an index built with_radii=True"
        )
    qids, qmat = query_batch_matrix(queries)
    conj = {int(q): c for q, c in dict(conj or {}).items()}
    if unknown := [q for q in sorted(conj) if q not in set(qids)]:
        raise ValueError(f"constraints for ids not in the batch: {unknown}")
    # each query's passing lists and row filter are the single-query
    # scan's own (_ivf_conj)
    by_q = {q: _ivf_conj(index, c) for q, c in conj.items()}
    preds = {q: pred for q, (_, pred) in by_q.items()}
    dc_all = np.sqrt(
        ((index.centroids[None, :, :] - qmat[:, None, :]) ** 2).sum(axis=2)
    )  # (|Q|, C) L2
    order_by_q: dict[int, np.ndarray] = {}
    for qi, q in enumerate(qids):
        order = np.argsort(dc_all[qi], kind="stable")
        if q in by_q:
            order = order[by_q[q][0][order]]
        if order.size:
            order_by_q[q] = order
    live = [(q, v) for q, v in queries if int(q) in order_by_q]
    if not live:
        empty = index.df.filter(F.lit(False)).select(
            F.lit(0).cast("long").alias(query_id_col),
            F.col(index.id_col),
        )
        return empty.withColumn("dist", F.lit(0.0))

    def probed(probe_by_q: dict) -> DataFrame:
        masks = {}
        for q, probe in probe_by_q.items():
            m = F.col("cluster_id").isin(probe)
            masks[q] = m if preds.get(q) is None else m & preds[q]
        union = sorted({c for probe in probe_by_q.values() for c in probe})
        return knn_batch(
            index.df.filter(F.col("cluster_id").isin(union)), live, k,
            predicates=masks, vec_col=index.vec_col, id_col=index.id_col,
            query_id_col=query_id_col,
        ).select(query_id_col, index.id_col, "dist")

    first_by_q = {q: int(order[0]) for q, order in order_by_q.items()}
    top1 = probed({q: [c] for q, c in first_by_q.items()}).collect()
    filled: dict[int, list] = {}
    for r in top1:
        filled.setdefault(int(r[query_id_col]), []).append(float(r["dist"]))
    probe_by_q: dict[int, list[int]] = {}
    for qi, q in enumerate(qids):
        if q not in order_by_q:
            continue
        order = order_by_q[q]
        dists = filled.get(q, [])
        if len(dists) < k:
            probe_by_q[q] = [int(c) for c in order]  # no bound: all passing
            continue
        d_k = float(np.sqrt(max(dists)))
        lower = dc_all[qi] - index.radii
        probe_by_q[q] = [first_by_q[q]] + [
            int(c) for c in order[1:] if lower[int(c)] <= d_k + 1e-9
        ]
    return probed(probe_by_q)


def ivf_search_batch(
    index: IVFIndex,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    *,
    nprobe: int = 4,
    predicates=None,
    accessors=None,
    query_id_col: str = "query_id",
) -> DataFrame:
    """``ivf_search`` for a QUERY BATCH (r11): each query's ``nprobe``
    nearest lists, answered from ONE ``knn_batch`` scan of the
    probed-list union (cluster_id partition-prunable). Each query's
    mask is ``cluster_id IN probes(q)`` and its own §2.3 predicate
    (``predicates``: ``{query_id: {attr: [op, value]}}``, through
    ``build_predicate``). Per query ≡ ``ivf_search`` (pytest-pinned) —
    same nprobe recall contract, batch-shaped cost."""
    qids, qmat = query_batch_matrix(queries)
    predicates = {int(q): p for q, p in dict(predicates or {}).items()}
    if unknown := [q for q in sorted(predicates) if q not in set(qids)]:
        raise ValueError(f"predicates for ids not in the batch: {unknown}")
    d2 = ((index.centroids[None, :, :] - qmat[:, None, :]) ** 2).sum(axis=2)
    acc = accessors or flat_accessors(index.df)
    masks, union = {}, set()
    for qi, q in enumerate(qids):
        probe = [int(c) for c in np.argsort(d2[qi], kind="stable")[:nprobe]]
        union.update(probe)
        masks[q] = F.col("cluster_id").isin(probe)
        if q in predicates:
            masks[q] = masks[q] & build_predicate(predicates[q], acc)
    return knn_batch(
        index.df.filter(F.col("cluster_id").isin(sorted(union))), queries, k,
        predicates=masks, vec_col=index.vec_col, id_col=index.id_col,
        query_id_col=query_id_col,
    ).select(query_id_col, index.id_col, "dist")
