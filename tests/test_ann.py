"""IVF ANN index, BLAS similarity kernels, LSH bucketing, strategy router.

FIXTURES.md-style property tests (no SQL oracle exists for trained
indexes): exactness at nprobe=C, recall at small nprobe, candidate-subset
invariants, and router decision logic.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.operators.ann import (
    assign_clusters,
    ivf_build,
    ivf_search,
)
from acorn_hybrid_vector_search_spark.operators.dedup import embedding_near_dups
from acorn_hybrid_vector_search_spark.operators.knn import knn_exact
from acorn_hybrid_vector_search_spark.sources.testdata import load_table
from acorn_hybrid_vector_search_spark.operators.similarity import (
    lsh_near_dup_pairs,
    with_lsh_bucket,
)
from acorn_hybrid_vector_search_spark.plans.router import (
    StrategyRouter,
    collect_stats,
    estimate_selectivity,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    return emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]


@pytest.fixture(scope="module")
def index(emb):
    return ivf_build(emb, n_clusters=8, seed=42)


def test_ivf_assignment_complete_and_in_range(index, emb):
    n = emb.count()
    assigned = index.df
    assert assigned.count() == n  # no rows lost
    mn, mx = assigned.agg(F.min("cluster_id"), F.max("cluster_id")).head()
    assert 0 <= mn and mx < index.n_clusters


def test_ivf_assignment_deterministic(emb, index):
    again = assign_clusters(emb, index.centroids).select("vec_id", "cluster_id")
    diff = (
        index.df.select("vec_id", "cluster_id")
        .exceptAll(again)
        .count()
    )
    assert diff == 0


def test_ivf_full_probe_equals_exact(index, emb, qvec):
    """nprobe = C degrades to exact search — same ids, same distances."""
    exact = [(r["vec_id"], round(r["dist"], 6)) for r in knn_exact(emb, qvec, 10).collect()]
    ivf = [
        (r["vec_id"], round(r["dist"], 6))
        for r in ivf_search(index, qvec, 10, nprobe=index.n_clusters).collect()
    ]
    assert ivf == exact


def test_ivf_partial_probe_recall(index, emb, qvec):
    """nprobe = 2/8 clusters must still find most of the true top-10 (the
    query vector IS row 0, so its own cluster holds the near neighbors)."""
    exact_ids = {r["vec_id"] for r in knn_exact(emb, qvec, 10).collect()}
    ivf_ids = {r["vec_id"] for r in ivf_search(index, qvec, 10, nprobe=2).collect()}
    assert len(ivf_ids & exact_ids) >= 7


def test_ivf_results_come_from_probed_clusters(index, qvec):
    res = ivf_search(index, qvec, 10, nprobe=2)
    d2 = ((index.centroids - np.asarray(qvec)[None, :]) ** 2).sum(axis=1)
    probe = set(np.argsort(d2, kind="stable")[:2].tolist())
    got = {
        r["cluster_id"]
        for r in res.join(index.df.select("vec_id", "cluster_id"), "vec_id").collect()
    }
    assert got <= probe


def test_ivf_search_with_predicate(index, emb, qvec):
    res = ivf_search(index, qvec, 5, nprobe=index.n_clusters, predicate=F.col("label") == 3)
    rows = res.collect()
    assert all(r["label"] == 3 for r in rows)
    exact = knn_exact(emb.filter("label = 3"), qvec, 5).collect()
    assert [r["vec_id"] for r in rows] == [r["vec_id"] for r in exact]


def test_ivf_persist_roundtrip_and_partition_pruning(index, emb, qvec, tmp_path):
    from acorn_hybrid_vector_search_spark.operators.ann import ivf_read, ivf_write

    ivf_write(index, str(tmp_path / "ivf"))
    loaded = ivf_read(emb.sparkSession, str(tmp_path / "ivf"))
    assert np.allclose(loaded.centroids, index.centroids)
    # identical results from the persisted index
    a = [(r["vec_id"], round(r["dist"], 6)) for r in ivf_search(index, qvec, 10, nprobe=2).collect()]
    b = [(r["vec_id"], round(r["dist"], 6)) for r in ivf_search(loaded, qvec, 10, nprobe=2).collect()]
    assert a == b
    # nprobe pruning happens at file-listing time (partition pruning)
    plan = (
        ivf_search(loaded, qvec, 10, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "cluster_id" in plan.split("PartitionFilters", 1)[1][:120]


# ---------------------------------------------------------------------------
# LSH


def test_lsh_bucket_deterministic_and_bounded(emb):
    dim = len(emb.select("embedding").head()[0])
    b1 = with_lsh_bucket(emb, dim, n_planes=8).select("vec_id", "lsh_bucket")
    b2 = with_lsh_bucket(emb, dim, n_planes=8).select("vec_id", "lsh_bucket")
    assert b1.exceptAll(b2).count() == 0
    mx = b1.agg(F.max("lsh_bucket")).head()[0]
    assert 0 <= mx < 2**8


def test_lsh_pairs_subset_of_exact(emb):
    dim = len(emb.select("embedding").head()[0])
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(emb, 0.5, bucket_col=None).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in lsh_near_dup_pairs(emb, 0.5, dim, n_planes=4).collect()
    }
    assert approx <= exact  # candidate-only: never a false positive
    if exact:
        assert len(approx) / len(exact) >= 0.3  # sane recall on tiny data


# ---------------------------------------------------------------------------
# strategy router


@pytest.fixture(scope="module")
def stats(emb):
    return collect_stats(emb, ["label"])


def test_collect_stats_counts(stats, emb):
    n = emb.count()
    assert stats.n_rows == n
    assert sum(stats.attrs["label"].counts.values()) + stats.attrs["label"].n_null == n


def test_selectivity_estimates(stats):
    # labels 0..9 roughly uniform → exact-match selectivity ≈ 0.1
    s = estimate_selectivity(stats, {"label": ["exact", 3]})
    assert 0.02 < s < 0.3
    assert estimate_selectivity(stats, None) == 1.0
    geq = estimate_selectivity(stats, {"label": ["geq", 0]})
    assert geq > 0.9  # everything matches


def test_router_routes_by_selectivity(stats):
    r = StrategyRouter(stats, default_large_k=50)
    # ~10% selectivity × 50 candidates ≈ 5 expected ≥ 2·k for k=2 → post
    assert r.route({"label": ["exact", 3]}, k=2).strategy == "postfilter"
    # k=10 needs 20 expected survivors out of 50 → pre-filter
    assert r.route({"label": ["exact", 3]}, k=10).strategy == "prefilter"
    assert r.route(None, k=10).strategy == "postfilter"  # sel=1.0


def test_router_ann_decision_matrix():
    """Pin the ANN escalation ladder (round-3 verdict item #7): the
    router chooses exact / ivf_exact / IVF(nprobe) / NSW(ef) from
    corpus size × k × selectivity × recall budget, with rungs taken
    from RECALL.md's committed curves."""
    from acorn_hybrid_vector_search_spark.plans.router import (
        AttributeStats,
        TableStats,
    )

    big = TableStats(
        n_rows=10_000_000,
        attrs={
            "label": AttributeStats(
                counts={i: 1_000_000 for i in range(10)},
                n_rows=10_000_000,
                n_null=0,
            )
        },
    )
    r = StrategyRouter(big)

    # 1. selective predicate → exact prefilter, indexes notwithstanding
    a = r.route_ann(
        10, predicates={"label": ["exact", 3]}, min_recall=0.9,
        has_nsw_index=True, has_ivf_index=True, selective_cutoff=0.15,
    )
    assert a.strategy == "prefilter" and abs(a.selectivity - 0.1) < 1e-9

    # 2. tiny corpus, no index → brute force
    assert StrategyRouter(TableStats(n_rows=50_000)).route_ann(10).strategy == "exact"

    # 3. recall budget met by NSW rungs, cheapest first (RECALL.md:
    #    0.90@ef16, 0.92@ef32, 0.945@ef64); ef never below k
    a = r.route_ann(10, min_recall=0.90, has_nsw_index=True, has_ivf_index=True)
    assert (a.strategy, a.ef, a.expected_recall) == ("nsw", 16, 0.900)
    a = r.route_ann(10, min_recall=0.94, has_nsw_index=True)
    assert (a.strategy, a.ef) == ("nsw", 64)
    assert r.route_ann(40, min_recall=0.9, has_nsw_index=True).ef == 40

    # 4. no NSW index → IVF rung from its cross-scale floor curve
    #    (0.285/0.383/0.492/0.742 — round 5 lowered the mid-nprobe
    #    floors with the 32k-vector ladder measurement)
    a = r.route_ann(10, min_recall=0.45, has_ivf_index=True)
    assert (a.strategy, a.nprobe, a.expected_recall) == ("ivf", 4, 0.492)
    assert r.route_ann(10, min_recall=0.28, has_ivf_index=True).nprobe == 1
    assert r.route_ann(10, min_recall=0.7, has_ivf_index=True).nprobe == 8
    # a budget the rungs can't honor at scale falls through to exact
    assert r.route_ann(10, min_recall=0.8, has_ivf_index=True).strategy == "ivf_exact"

    # 5. budget beyond every approximate rung → exact paths
    a = r.route_ann(10, min_recall=0.99, has_nsw_index=True, has_ivf_index=True)
    assert a.strategy == "ivf_exact"
    assert r.route_ann(10, min_recall=0.99, has_nsw_index=True).strategy == "exact"

    # 6. exact demanded (default min_recall=1.0)
    assert r.route_ann(10, has_ivf_index=True).strategy == "ivf_exact"
    assert r.route_ann(10).strategy == "exact"

    # 7. r8b: predicates + γ store → the subgraph rungs outrank plain
    #    NSW (the filtered-recall curve, BENCH_LADDER acorn_gamma);
    #    without predicates the γ store is irrelevant and NSW wins;
    #    γ even meets budgets plain NSW can't (0.99 → mv=32)
    pred = {"label": ["exact", 3]}
    a = r.route_ann(
        10, predicates=pred, min_recall=0.9,
        has_nsw_index=True, has_gamma_store=True,
    )
    assert (a.strategy, a.max_visits, a.expected_recall) == (
        "nsw_gamma", 16, 0.931,
    )
    a = r.route_ann(
        10, predicates=pred, min_recall=0.99,
        has_nsw_index=True, has_gamma_store=True,
    )
    assert (a.strategy, a.max_visits) == ("nsw_gamma", 32)
    a = r.route_ann(10, min_recall=0.9, has_nsw_index=True, has_gamma_store=True)
    assert a.strategy == "nsw"  # no predicate → subgraph rung skipped
    # selective-cutoff rule still wins over the γ rung
    a = r.route_ann(
        10, predicates=pred, min_recall=0.9, has_gamma_store=True,
        selective_cutoff=0.15,
    )
    assert a.strategy == "prefilter"

    # 8. r9: exact + NO predicate + clustered store with stats →
    #    nsw_pruned outranks ivf_exact (BENCH_LADDER nsw_prune: pruned
    #    cost flat in shard count, 1.6% rows walked at 256+ shards)
    a = r.route_ann(10, has_pruned_store=True, has_ivf_index=True)
    assert a.strategy == "nsw_pruned"
    # predicates exclude the rung (τ covers the kth UNFILTERED
    # neighbor only — the executor-level guard is never routed into)
    a = r.route_ann(10, predicates=pred, has_pruned_store=True,
                    has_ivf_index=True)
    assert a.strategy != "nsw_pruned"
    # a recall budget still prefers the cheaper approximate rungs
    a = r.route_ann(
        10, min_recall=0.9, has_nsw_index=True, has_pruned_store=True,
    )
    assert a.strategy == "nsw"
    # the pruned store counts as an index for the small-corpus rule
    small = StrategyRouter(TableStats(n_rows=50_000))
    assert small.route_ann(10, has_pruned_store=True).strategy == "nsw_pruned"


def test_router_prefers_registered_subset(stats, emb):
    r = StrategyRouter(stats, default_large_k=50)
    subset = emb.filter("label = 3")
    r.register_subset("label3", subset, ["label"], subset.count())
    route = r.route({"label": ["exact", 3]}, k=2)
    assert route.strategy == "subset" and route.subset_name == "label3"


def test_router_search_exactness(stats, emb, qvec):
    """Routed prefilter == direct prefilter; subset route returns the same
    rows as searching the full table with the predicate."""
    from acorn_hybrid_vector_search_spark.operators.hybrid import prefilter_search

    r = StrategyRouter(stats, default_large_k=50)
    got = r.search(emb, qvec, {"label": ["exact", 3]}, k=10).collect()
    want = prefilter_search(emb, qvec, {"label": ["exact", 3]}, k=10).collect()
    assert [x["vec_id"] for x in got] == [x["vec_id"] for x in want]


def test_ivf_search_exact_equals_brute_force(emb):
    """Ball-bound pruned search must be EXACT for every query — on this
    near-uniform data the bound may prune little, but results must equal
    brute force regardless."""
    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_search_exact,
    )

    idx = ivf_build(emb, n_clusters=8, with_radii=True)
    for qid in (0, 7, 33):
        qv = emb.filter(f"vec_id = {qid}").select("embedding").head()[0]
        got = [(r["vec_id"], round(r["dist"], 6)) for r in ivf_search_exact(idx, qv, 10).collect()]
        want = [(r["vec_id"], round(r["dist"], 6)) for r in knn_exact(emb, qv, 10).collect()]
        assert got == want


def test_ivf_search_exact_prunes_clustered_data(spark):
    """On well-separated clusters the ball bound must actually prune:
    build tight blobs far apart; a query inside one blob needs only that
    blob (plus any blob whose ball overlaps the k-th distance)."""
    import numpy as np

    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_search_exact,
    )
    from acorn_hybrid_vector_search_spark.operators.knn import knn_exact as ke

    rng = np.random.RandomState(7)
    rows = []
    for blob in range(4):
        center = np.zeros(8)
        center[blob] = 100.0  # far-apart blob centers
        for i in range(50):
            v = center + rng.normal(0, 0.5, 8)
            rows.append((blob * 50 + i, [float(x) for x in v], blob))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    idx = ivf_build(df, n_clusters=4, with_radii=True)

    qv = rows[10][1]
    got = [r["vec_id"] for r in ivf_search_exact(idx, qv, 5).collect()]
    want = [r["vec_id"] for r in ke(df, qv, 5).collect()]
    assert got == want
    # the pruning bound: with blobs ~100 apart and radius ~2, only the
    # query's own cluster can beat d_k — verify via the probe arithmetic
    q = np.asarray(qv, dtype=np.float64)
    dc = np.sqrt(((idx.centroids - q[None, :]) ** 2).sum(axis=1))
    d_k = max(np.sqrt(r["dist"]) for r in ke(df, qv, 5).collect())
    assert (np.sort(dc - idx.radii)[1:] > d_k).all(), "expected 3 of 4 blobs prunable"


def test_ivf_radii_roundtrip(emb, tmp_path):
    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_write,
    )

    idx = ivf_build(emb, n_clusters=4, with_radii=True)
    ivf_write(idx, str(tmp_path / "ivf"))
    loaded = ivf_read(emb.sparkSession, str(tmp_path / "ivf"))
    assert loaded.radii is not None
    assert np.allclose(loaded.radii, idx.radii)


def test_lsh_or_banding_grows_recall_monotonically(emb):
    """OR-banding: band 0 reuses the base seed, so n_bands=3's pair set
    must CONTAIN n_bands=1's, and both stay subsets of the exact pairs
    (verification in the join condition ⇒ zero false positives)."""
    from acorn_hybrid_vector_search_spark.operators.dedup import embedding_near_dups

    dim = len(emb.select("embedding").head()[0])
    one = {
        (r["id_a"], r["id_b"])
        for r in lsh_near_dup_pairs(emb, 0.5, dim, n_planes=8, n_bands=1).collect()
    }
    three = {
        (r["id_a"], r["id_b"])
        for r in lsh_near_dup_pairs(emb, 0.5, dim, n_planes=8, n_bands=3).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(emb, 0.5, bucket_col=None).collect()
    }
    assert one <= three <= exact


def test_projection_matrix_portable_and_deterministic():
    """The JL matrix is a pure function of (seed, i, j) through md5 —
    re-derive it with hashlib here (the same computation the DuckDB
    oracle literals come from) and pin shape, scale, and sparsity."""
    import hashlib
    import math

    from acorn_hybrid_vector_search_spark.operators.similarity import (
        projection_matrix,
    )

    R = projection_matrix(64, 16, seed="jl")
    s = math.sqrt(3.0 / 16)
    n_nonzero = 0
    for i in range(64):
        for j in range(16):
            h = int(hashlib.md5(f"rp:jl:{i}:{j}".encode()).hexdigest()[:15], 16) % 6
            want = s if h == 0 else (-s if h == 1 else 0.0)
            assert R[i][j] == want
            n_nonzero += R[i][j] != 0.0
    # Achlioptas sparsity: ~1/3 nonzero
    assert 0.2 < n_nonzero / (64 * 16) < 0.47
    assert projection_matrix(64, 16, seed="jl") == R  # deterministic


def test_projection_distortion_and_candidate_recall(spark):
    """JL distance preservation, measured: for 64→16 on the sf0.001
    embeddings, pairwise squared-L2 ratios (projected/original) stay
    within a loose (0.2, 3.0) band for ≥95% of sampled pairs, and the
    top-10-of-exact recall of the projected top-50 candidate set
    averages ≥0.3 at C=50 and ≥0.5 at C=100 (measured 0.40/0.62 on
    this fixture — 64 input dims give JL little headroom and these
    synthetic embeddings are label-clustered; the operator's regime is
    the reference's 2048-dim vectors, where in/out = 128x. The gates
    document the measured fixture floor, not a production promise)."""
    import numpy as np

    from acorn_hybrid_vector_search_spark.operators.similarity import (
        projection_matrix,
    )

    emb = load_table(spark, SF, "embeddings")
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    R = np.array(projection_matrix(64, 16, seed="jl"))
    P = X @ R
    rng = np.random.RandomState(7)
    n = len(X)
    idx = rng.randint(0, n, size=(400, 2))
    idx = idx[idx[:, 0] != idx[:, 1]]
    do = ((X[idx[:, 0]] - X[idx[:, 1]]) ** 2).sum(1)
    dp = ((P[idx[:, 0]] - P[idx[:, 1]]) ** 2).sum(1)
    ratio = dp / np.maximum(do, 1e-12)
    assert np.mean((ratio > 0.2) & (ratio < 3.0)) >= 0.95, ratio
    r50, r100 = [], []
    for qi in range(0, min(20, n)):
        exact = set(np.argsort(((X - X[qi]) ** 2).sum(1))[:10])
        order = np.argsort(((P - P[qi]) ** 2).sum(1))
        r50.append(len(exact & set(order[:50])) / 10)
        r100.append(len(exact & set(order[:100])) / 10)
    assert float(np.mean(r50)) >= 0.3, r50
    assert float(np.mean(r100)) >= 0.5, r100


def test_project_embedding_matches_numpy(spark):
    """The Catalyst fold projection equals the numpy matmul to 1e-9
    (same matrix, same doubles up to re-association tolerance)."""
    import numpy as np

    from acorn_hybrid_vector_search_spark.operators.similarity import (
        project_embedding,
        projection_matrix,
    )

    emb = load_table(spark, SF, "embeddings").limit(50)
    R = projection_matrix(64, 16, seed="jl")
    got = {
        r["vec_id"]: np.array(r["p"])
        for r in emb.select(
            "vec_id", project_embedding(F.col("embedding"), R).alias("p")
        ).collect()
    }
    want = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64) @ np.array(R)
        for r in emb.collect()
    }
    for vid, g in got.items():
        assert np.allclose(g, want[vid], atol=1e-9), vid


def test_rp_projection_paths_bit_identical(spark):
    """The Catalyst literal fold and the Arrow matmul UDF are the SAME
    arithmetic (left-to-right accumulation over i, zero entries
    skipped), so their doubles must agree bit-for-bit — the routing in
    project_embeddings_df is a pure physical choice (VERDICT r6 ask
    #3)."""
    from acorn_hybrid_vector_search_spark.operators.similarity import (
        project_embedding,
        project_embedding_udf,
        projection_matrix,
    )

    emb = load_table(spark, SF, "embeddings").limit(50)
    R = projection_matrix(64, 16, seed="jl")
    expr = {
        r["vec_id"]: r["p"]
        for r in emb.select(
            "vec_id", project_embedding(F.col("embedding"), R).alias("p")
        ).collect()
    }
    udf = {
        r["vec_id"]: r["p"]
        for r in emb.select(
            "vec_id", project_embedding_udf("embedding", R).alias("p")
        ).collect()
    }
    assert expr.keys() == udf.keys()
    import struct

    for k in expr:
        assert [struct.pack("d", v) for v in expr[k]] == [
            struct.pack("d", v) for v in udf[k]
        ], k  # BIT-identical, not approx


def test_rp_routing_pins(spark):
    """project_embeddings_df routes on max per-output-dim chain depth
    (the MEASURED constraint — the 2048-dim fold overflows the JVM
    stack during column-node conversion, BENCH_LADDER 'rp_scaling'):
    64→16 (depth ~32) stays Catalyst (no Python in the plan); the
    reference's 2048-dim regime (depth ~700 > RP_DEPTH_BUDGET) flips
    to the Arrow matmul."""
    from acorn_hybrid_vector_search_spark.operators.similarity import (
        RP_DEPTH_BUDGET,
        project_embeddings_df,
        projection_matrix,
    )

    emb = load_table(spark, SF, "embeddings").limit(5)
    small = project_embeddings_df(emb, projection_matrix(64, 16, seed="jl"))
    p_small = small._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in p_small and "BatchEvalPython" not in p_small

    R_big = projection_matrix(2048, 16, seed="jl")
    depth_big = max(sum(1 for r in col if r != 0.0) for col in zip(*R_big))
    assert depth_big > RP_DEPTH_BUDGET  # the reference's dims exceed the budget
    # routing itself exercised at a fast shape: force the flip with a
    # tiny budget
    big = project_embeddings_df(
        emb, projection_matrix(64, 16, seed="jl"), depth_budget=8
    )
    p_big = big._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in p_big or "BatchEvalPython" in p_big


def test_ann_search_executes_routed_rung(spark, tmp_path):
    """r8b: ann_search EXECUTES what route_ann decides — route → run in
    one call (the dedup_search symmetry). Dispatch pins: γ store +
    predicate + budget → the subgraph walk (answers ⊆ predicate,
    matches the direct nsw_read_topk call); no index + exact → the
    exact prefilter answer; IVF index + loose budget → the nprobe rung;
    exact-with-predicates never runs the predicate-less ball-bound
    executor (falls back to the exact filtered scan)."""
    import random

    from pyspark.sql import functions as F

    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.ann import ivf_build
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.plans.router import (
        AttributeStats,
        StrategyRouter,
        TableStats,
    )

    rows = [
        (
            i,
            [round(random.Random(f"r:{i}:{d}").uniform(-1, 1), 4) for d in range(6)],
            i % 10,
        )
        for i in range(150)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    stats = TableStats(
        n_rows=10_000_000,
        attrs={
            "label": AttributeStats(
                counts={i: 1_000_000 for i in range(10)},
                n_rows=10_000_000,
                n_null=0,
            )
        },
    )
    router = StrategyRouter(stats)
    acc = flat_accessors({"label": "int", "vec_id": "bigint"})
    store = str(tmp_path / "g4")
    nsw_write(df.repartition(2), store, gamma=4, payload_cols=["label"])
    q = rows[7][1]
    pred = {"label": ["exact", 3]}

    # γ rung: dispatched result ≡ the direct subgraph call at the
    # routed (ef, max_visits); all answers satisfy the predicate
    got = router.ann_search(
        df, q, pred, 5, min_recall=0.9, gamma_path=store, accessors=acc
    ).collect()
    assert got and all(r["vec_id"] % 10 == 3 for r in got)
    route = router.route_ann(
        5, predicates=pred, min_recall=0.9, has_gamma_store=True
    )
    assert route.strategy == "nsw_gamma"
    direct = nsw_read_topk(
        spark, store, [(0, q)], 5, ef=route.ef, max_visits=route.max_visits,
        predicate=F.col("label").isNotNull() & (F.col("label") == 3),
        strategy="subgraph",
    ).drop("query_id").collect()
    key = lambda rs: sorted((r["vec_id"], round(r["dist"], 9)) for r in rs)
    assert key(got) == key(direct)

    # exact (no index): equals the exact filtered scan
    exact = router.ann_search(df, q, pred, 5, accessors=acc).collect()
    want = (
        df.filter("label = 3")
        .withColumn(
            "dist",
            F.aggregate(
                F.zip_with(
                    "embedding",
                    F.array(*[F.lit(float(x)) for x in q]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc_, v: acc_ + v,
            ),
        )
        .orderBy("dist", "vec_id")
        .limit(5)
        .collect()
    )
    assert sorted(r["vec_id"] for r in exact) == sorted(r["vec_id"] for r in want)

    # IVF rung: loose budget + only an IVF index → nprobe dispatch
    idx = ivf_build(df, n_clusters=5)
    approx = router.ann_search(
        df, q, None, 5, min_recall=0.4, ivf_index=idx, accessors=acc
    )
    assert approx.count() == 5
    assert router.route_ann(5, min_recall=0.4, has_ivf_index=True).strategy == "ivf"

    # exact demanded WITH predicates + IVF index: never the
    # predicate-less ball-bound executor — the exact filtered scan
    ex2 = router.ann_search(
        df, q, pred, 5, ivf_index=idx, accessors=acc
    ).collect()
    assert sorted(r["vec_id"] for r in ex2) == sorted(r["vec_id"] for r in want)


def test_ivf_delete_read_reclaim_lifecycle(spark, emb, qvec, tmp_path):
    """r9 IVF tombstones (the graph store's mark_deleted contract on the
    flat lists): delete filters at load for every search, strict raises
    on unknown ids, a streaming re-add above the ceiling revives,
    reclaim drops rows physically and clears the sidecar, and a fresh
    ivf_write to the same path never inherits old tombstones."""
    import os

    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_delete,
        ivf_read,
        ivf_reclaim,
        ivf_search,
        ivf_write,
    )
    from acorn_hybrid_vector_search_spark.operators.knn import knn_exact

    path = str(tmp_path / "ivf")
    idx = ivf_build(emb, n_clusters=8, seed=42, with_radii=True)
    ivf_write(idx, path)
    n = emb.count()
    top2 = [r["vec_id"] for r in knn_exact(emb, qvec, 2).collect()]
    ivf_delete(spark, path, top2)
    with pytest.raises(ValueError, match="not present"):
        ivf_delete(spark, path, [10**9])
    live = ivf_read(spark, path)
    assert live.df.count() == n - 2
    got = [
        r["vec_id"]
        for r in ivf_search(live, qvec, 3, nprobe=len(idx.centroids)).collect()
    ]
    want = [
        r["vec_id"]
        for r in knn_exact(
            emb.filter(~F.col("vec_id").isin(top2)), qvec, 3
        ).collect()
    ]
    assert got == want
    # streaming re-add above the ceiling revives the id
    revived = emb.filter(F.col("vec_id") == top2[0])
    from acorn_hybrid_vector_search_spark.operators.ann import assign_clusters

    assign_clusters(revived, idx.centroids).write.mode("overwrite").partitionBy(
        "cluster_id"
    ).parquet(f"{path}/lists/batch=0")
    live2 = ivf_read(spark, path)
    assert live2.df.count() == n - 1
    assert live2.df.filter(F.col("vec_id") == top2[0]).count() == 1
    # reclaim: physical delete + sidecar cleared + history collapsed
    assert ivf_reclaim(spark, path) == n - 1
    assert not os.path.exists(path + "/_tombstones")
    raw = spark.read.parquet(f"{path}/lists")
    assert raw.count() == n - 1
    assert ivf_read(spark, path).df.count() == n - 1
    # rebuild to the same path never inherits tombstones
    ivf_delete(spark, path, [int(top2[0])])
    ivf_write(idx, path)
    assert ivf_read(spark, path).df.count() == n
    # ...nor leftover streaming batch subtrees (review r9b: clearing
    # only the sidecar while overwrite replaced only batch=-1 would
    # both resurrect the deleted id AND duplicate re-ingested ones)
    assign_clusters(
        emb.filter(F.col("vec_id") == top2[1]), idx.centroids
    ).write.mode("overwrite").partitionBy("cluster_id").parquet(
        f"{path}/lists/batch=5"
    )
    ivf_delete(spark, path, [int(top2[1])])
    ivf_write(idx, path)
    fresh = ivf_read(spark, path).df
    assert fresh.count() == n  # no leftover subtree, no dead id
    assert fresh.filter(F.col("vec_id") == top2[1]).count() == 1


def test_ann_search_pruned_rung_dispatch(spark, emb, qvec, tmp_path):
    """r9: ann_search executes the nsw_pruned rung — exact-demanded,
    predicate-free query over a clustered store answers brute force."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write_clustered,
    )
    from acorn_hybrid_vector_search_spark.plans.router import TableStats

    path = str(tmp_path / "gc")
    nsw_write_clustered(emb.select("vec_id", "embedding"), path, n_shards=4)
    router = StrategyRouter(TableStats(n_rows=emb.count()))
    assert router.route_ann(5, has_pruned_store=True).strategy == "nsw_pruned"
    got = (
        router.ann_search(emb, list(qvec), None, 5, pruned_path=path)
        .orderBy("dist", "vec_id")
        .collect()
    )
    want = knn_exact(emb, qvec, 5).select("vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]


def test_ivf_write_rejects_remote_paths(spark):
    """ADVICE r9: ivf_write's rebuild pre-clean (dropping stale
    lists/batch=<id> subtrees + the tombstone sidecar) is os-level and
    local-only; silently skipping it on a remote store would let a
    rebuild resurrect just-deleted ids and duplicate re-ingested ones,
    so the writer fails fast like ivf_reclaim / nsw_compact."""
    import numpy as np
    import pytest

    from acorn_hybrid_vector_search_spark.operators.ann import (
        IVFIndex,
        ivf_write,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 0.0], 0)], "vec_id long, embedding array<double>, cluster_id int"
    )
    idx = IVFIndex(
        df=df, centroids=np.zeros((1, 2)), vec_col="embedding", id_col="vec_id"
    )
    with pytest.raises(ValueError, match="local"):
        ivf_write(idx, "s3a://bucket/ivf")


def test_ivf_search_exact_match_skips_zero_passing_lists(spark, tmp_path):
    """r10 IVF zone-map symmetry (one shared contract with the graph
    store's exact-match pruning): per-list exact value counts let
    ivf_search_exact(conj={attr: ('exact', v)}) skip zero-passing lists at every
    stage, run phase 1 in the nearest list that HOLDS passing members,
    and stay provably exact (ball lower bounds apply to the passing
    subset). Persisted counts survive the write/read roundtrip, stay
    sound under tombstones, and are recomputed when streaming batches
    append rows the counts never saw."""
    import random

    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_delete,
        ivf_read,
        ivf_search_exact,
        ivf_write,
    )

    rng = random.Random(7)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(400):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(6)],
                b,
            )
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    idx = ivf_build(
        df, n_clusters=8, with_radii=True, stats_attrs=["label"]
    )
    # zero-passing lists exist (labels ride the blobs)
    per = idx.attr_counts["label"]
    zeros = [
        c for c in range(idx.n_clusters) if per.get(c, {}).get("3", 0) == 0
    ]
    assert zeros

    q = rows[1][1]  # a blob-1 point; blob 3 is the far corner

    def brute(pred, kq=5):
        return [
            i
            for _, i in sorted(
                (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
                for r in rows
                if pred(r[0], r[2])
            )[:kq]
        ]

    got = ivf_search_exact(idx, q, 5, conj={"label": ("exact", 3)}).collect()
    assert [r["vec_id"] for r in got] == brute(lambda i, b: b == 3)
    # guards: uncovered attr, absent value
    with pytest.raises(ValueError, match="stats_attrs"):
        ivf_search_exact(idx, q, 5, conj={"nope": ("exact", 1)})
    assert ivf_search_exact(idx, q, 5, conj={"label": ("exact", 99)}).count() == 0
    # persistence roundtrip keeps the counts + the result
    path = str(tmp_path / "ivf")
    ivf_write(idx, path)
    loaded = ivf_read(spark, path)
    assert loaded.attr_counts == idx.attr_counts
    got2 = ivf_search_exact(loaded, q, 5, conj={"label": ("exact", 3)}).collect()
    assert [r["vec_id"] for r in got2] == brute(lambda i, b: b == 3)
    # tombstones: persisted counts stay (stale-high is sound — zero
    # stays zero) and the search answers the LIVE filtered subset
    want_live = brute(lambda i, b: b == 3)
    ivf_delete(spark, path, [want_live[0]])
    loaded2 = ivf_read(spark, path)
    assert loaded2.attr_counts == idx.attr_counts  # not recomputed
    got3 = ivf_search_exact(loaded2, q, 5, conj={"label": ("exact", 3)}).collect()
    assert [r["vec_id"] for r in got3] == brute(
        lambda i, b: b == 3 and i != want_live[0]
    )
    # streaming append into a PREVIOUSLY-ZERO list: counts recompute at
    # load, so the new passing rows are found (zero-skip stays sound)
    from acorn_hybrid_vector_search_spark.operators.ann import assign_clusters

    new = spark.createDataFrame(
        [(9000, list(q), 3)], "vec_id long, embedding array<double>, label int"
    )
    assign_clusters(new, idx.centroids).write.mode("overwrite").partitionBy(
        "cluster_id"
    ).parquet(f"{path}/lists/batch=0")
    from acorn_hybrid_vector_search_spark.operators._cache import invalidate

    invalidate()
    loaded3 = ivf_read(spark, path)
    assert loaded3.attr_counts != idx.attr_counts  # recomputed
    got4 = ivf_search_exact(loaded3, q, 1, conj={"label": ("exact", 3)}).head()
    assert got4["vec_id"] == 9000 and got4["dist"] < 1e-12


def test_router_prune_match_rung_decision_matrix():
    """r10 rule 6: an exact-match SINGLE-attribute predicate with fresh
    zone maps on the clustered store routes to nsw_pruned_match;
    range/substring/multi-attr predicates and uncovered attrs still
    refuse; a sub-1.0 budget with a γ store still prefers the budgeted
    subgraph walk. Plus the rule-5 kept-fraction consult: a prune plan
    that would keep ~everything falls back to ivf_exact."""
    from acorn_hybrid_vector_search_spark.plans.router import (
        AttributeStats,
        StrategyRouter,
        TableStats,
    )

    big = TableStats(
        n_rows=10_000_000,
        attrs={
            "label": AttributeStats(
                counts={i: 1_000_000 for i in range(10)},
                n_rows=10_000_000,
                n_null=0,
            )
        },
    )
    r = StrategyRouter(big)
    cov = frozenset({"label"})
    pm = {"label": ["exact", 3]}

    a = r.route_ann(10, predicates=pm, has_pruned_store=True, pruned_attrs=cov)
    assert a.strategy == "nsw_pruned_match"
    # outranks the selective-prefilter rule (sel 0.1 <= cutoff 0.15)
    a = r.route_ann(
        10, predicates=pm, has_pruned_store=True, pruned_attrs=cov,
        selective_cutoff=0.15,
    )
    assert a.strategy == "nsw_pruned_match"
    # range / substring / multi-attr refuse
    for bad in (
        {"label": ["leq", 3]},
        {"label": ["substring", "3"]},
        {"label": ["exact", 3], "other": ["exact", 1]},
    ):
        a = r.route_ann(
            10, predicates=bad, has_pruned_store=True, pruned_attrs=cov
        )
        assert a.strategy != "nsw_pruned_match", bad
    # uncovered attr refuses (stale/missing sidecar reads as empty set)
    a = r.route_ann(
        10, predicates=pm, has_pruned_store=True, pruned_attrs=frozenset()
    )
    assert a.strategy != "nsw_pruned_match"
    # approximate budget + γ store: the budgeted subgraph walk wins
    a = r.route_ann(
        10, predicates=pm, min_recall=0.9, has_pruned_store=True,
        pruned_attrs=cov, has_gamma_store=True,
    )
    assert a.strategy == "nsw_gamma"
    # approximate budget WITHOUT a γ store: exact rung meets any budget
    a = r.route_ann(
        10, predicates=pm, min_recall=0.9, has_pruned_store=True,
        pruned_attrs=cov,
    )
    assert a.strategy == "nsw_pruned_match"
    # rule-5 kept-fraction consult (r10, VERDICT r9 #6)
    a = r.route_ann(
        10, has_pruned_store=True, has_ivf_index=True, est_kept_fraction=0.95
    )
    assert a.strategy == "ivf_exact"
    a = r.route_ann(
        10, has_pruned_store=True, has_ivf_index=True, est_kept_fraction=0.5
    )
    assert a.strategy == "nsw_pruned"
    # no IVF to fall back to → the pruned rung stays (still exact)
    a = r.route_ann(10, has_pruned_store=True, est_kept_fraction=0.95)
    assert a.strategy == "nsw_pruned"


def test_ann_search_dispatches_prune_match_rung(spark, tmp_path):
    """r10: ann_search derives zone-map coverage + the kept-fraction
    estimate from the store itself and EXECUTES the nsw_pruned_match
    rung — dispatched ≡ the direct one-term nsw_read_topk(prune_conj=...) call
    ≡ the exact pre-filter brute force; a STALE attr sidecar silently
    (and correctly) falls back to the exact prefilter scan instead of
    routing into the staleness guard."""
    import os
    import random
    import time as _time

    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write_clustered,
        pruned_full_beam,
    )
    from acorn_hybrid_vector_search_spark.plans.router import (
        AttributeStats,
        StrategyRouter,
        TableStats,
    )

    rng = random.Random(29)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(320):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(6)],
                b,
            )
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    store = str(tmp_path / "gc")
    nsw_write_clustered(
        df, store, n_shards=8, payload_cols=["label"], stats_attrs=["label"]
    )
    stats = TableStats(
        n_rows=10_000_000,
        attrs={
            "label": AttributeStats(
                counts={i: 2_500_000 for i in range(4)},
                n_rows=10_000_000,
                n_null=0,
            )
        },
    )
    router = StrategyRouter(stats)
    acc = flat_accessors({"label": "int", "vec_id": "bigint"})
    q = rows[1][1]
    pred = {"label": ["exact", 3]}

    got = router.ann_search(
        df, q, pred, 5, pruned_path=store, accessors=acc
    ).collect()
    direct = (
        nsw_read_topk(
            spark, store, [(0, list(q))], 5,
            ef=pruned_full_beam(spark, store, 5),
            prune=True, prune_conj={"label": ("exact", 3)},
        )
        .drop("query_id")
        .collect()
    )
    key = lambda rs: [(r["vec_id"], round(r["dist"], 9)) for r in rs]
    brute = sorted(
        (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
        for r in rows
        if r[2] == 3
    )[:5]
    assert key(got) == key(direct)
    assert [r["vec_id"] for r in got] == [i for _, i in brute]
    # stale attr sidecar → coverage reads empty → exact prefilter
    # fallback, same answer, no guard exception (r10: staleness is a
    # CONTENT change — a bare mtime touch correctly stays fresh)
    part = next(d for d in os.listdir(store) if d.startswith("part_id="))
    _time.sleep(0.01)
    with open(os.path.join(store, part, "_rewrite_marker"), "w") as f:
        f.write("x")
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        pruned_match_attrs,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        bump_store_version,
    )

    # a writer's rewrite bumps the token (r11 — every in-API mutator
    # does); the fallback fingerprint walk then catches the content
    bump_store_version(store)

    assert pruned_match_attrs(spark, store) == frozenset()  # now stale
    got2 = router.ann_search(
        df, q, pred, 5, pruned_path=store, accessors=acc
    ).collect()
    assert sorted(r["vec_id"] for r in got2) == sorted(i for _, i in brute)
    # tombstones also de-prune the store through the router: the
    # dispatch falls back instead of crashing in the prune guard
    # (review r10) — and a predicate-free query routes off the rung too
    os.remove(os.path.join(store, part, "_rewrite_marker"))
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_delete,
        nsw_stats_write,
    )

    nsw_stats_write(spark, store, attrs=["label"])
    nsw_delete(spark, store, [rows[0][0]])
    got3 = router.ann_search(
        df, q, pred, 5, pruned_path=store, accessors=acc
    ).collect()
    assert sorted(r["vec_id"] for r in got3) == sorted(i for _, i in brute)
    got4 = router.ann_search(
        df, q, None, 5, pruned_path=store, accessors=acc
    ).collect()
    brute_all = sorted(
        (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0]) for r in rows
    )[:5]
    assert sorted(r["vec_id"] for r in got4) == sorted(
        i for _, i in brute_all
    )


def test_router_prune_range_rung_matrix_and_dispatch(spark, tmp_path):
    """r10b: rule 6's RANGE arm — a single-attr leq/geq/</> predicate
    with fresh numeric zone maps routes to nsw_pruned_range (the
    reference's class-2/3 query shape); uncovered attrs, substring and
    multi-attr still refuse; ann_search dispatch ≡ the direct
    one-term range prune_conj call ≡ the exact pre-filter brute force."""
    import random

    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write_clustered,
        pruned_full_beam,
        pruned_range_attrs,
    )
    from acorn_hybrid_vector_search_spark.plans.router import (
        AttributeStats,
        StrategyRouter,
        TableStats,
    )

    big = TableStats(
        n_rows=10_000_000,
        attrs={
            "weight": AttributeStats(
                counts={i: 250_000 for i in range(40)},
                n_rows=10_000_000,
                n_null=0,
            )
        },
    )
    r = StrategyRouter(big)
    cov = frozenset({"weight"})
    for op in ("leq", "geq", "<", ">"):
        a = r.route_ann(
            10, predicates={"weight": [op, 12]},
            has_pruned_store=True, pruned_range_attrs=cov,
        )
        assert a.strategy == "nsw_pruned_range", op
    # '<='/'>=' are NOT §2.3 ops — build_predicate IGNORES them, so
    # routing them to the enforcing rung would change semantics with
    # sidecar freshness (review r10); they refuse
    for op in ("<=", ">="):
        a = r.route_ann(
            10, predicates={"weight": [op, 12]},
            has_pruned_store=True, pruned_range_attrs=cov,
        )
        assert a.strategy != "nsw_pruned_range", op
    # uncovered / substring / multi-attr refuse
    a = r.route_ann(
        10, predicates={"weight": ["<", 12]},
        has_pruned_store=True, pruned_range_attrs=frozenset(),
    )
    assert a.strategy != "nsw_pruned_range"
    a = r.route_ann(
        10, predicates={"weight": ["substring", "1"]},
        has_pruned_store=True, pruned_range_attrs=cov,
    )
    assert a.strategy != "nsw_pruned_range"
    a = r.route_ann(
        10, predicates={"weight": ["<", 12], "other": ["exact", 1]},
        has_pruned_store=True, pruned_range_attrs=cov,
    )
    assert a.strategy != "nsw_pruned_range"

    # dispatch over a real store
    rng = random.Random(31)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(320):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(6)],
                float(b * 10 + i % 5),
            )
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, weight double"
    )
    store = str(tmp_path / "gr")
    nsw_write_clustered(
        df, store, n_shards=8, payload_cols=["weight"],
        numeric_stats_attrs=["weight"],
    )
    assert pruned_range_attrs(spark, store) == frozenset({"weight"})
    router = StrategyRouter(big)
    acc = flat_accessors({"weight": "double", "vec_id": "bigint"})
    q = rows[1][1]
    pred = {"weight": ["leq", 12]}
    got = router.ann_search(
        df, q, pred, 5, pruned_path=store, accessors=acc
    ).collect()
    direct = (
        nsw_read_topk(
            spark, store, [(0, list(q))], 5,
            ef=pruned_full_beam(spark, store, 5),
            prune=True, prune_conj={"weight": ("leq", 12)},
        )
        .drop("query_id")
        .collect()
    )
    key = lambda rs: [(r["vec_id"], round(r["dist"], 9)) for r in rs]
    brute = sorted(
        (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
        for r in rows
        if r[2] <= 12
    )[:5]
    assert key(got) == key(direct)
    assert [r["vec_id"] for r in got] == [i for _, i in brute]


def test_ivf_search_exact_range_pred_zone_maps(spark, tmp_path):
    """r10b IVF numeric zone maps (the graph store's range pruning on
    the inverted lists — one shared verdict helper): per-list
    (vmin, vmax, n_present) skip provably-failing lists, straddling
    lists stay scanned, results equal the exact filtered brute force
    for every §2.3 range op; persisted stats roundtrip and guard."""
    import random

    import pytest

    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_search_exact,
        ivf_write,
    )

    rng = random.Random(41)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(400):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(6)],
                float(b * 10 + i % 5),
            )
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, weight double"
    )
    idx = ivf_build(
        df, n_clusters=8, with_radii=True, numeric_stats_attrs=["weight"]
    )
    q = rows[1][1]

    def brute(pred, kq=5):
        return [
            i
            for _, i in sorted(
                (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
                for r in rows
                if pred(r[2])
            )[:kq]
        ]

    cases = [
        ({"weight": ("<", 10)}, lambda w: w < 10),
        ({"weight": ("leq", 12)}, lambda w: w <= 12),
        ({"weight": (">", 30)}, lambda w: w > 30),
        ({"weight": (">=", 33)}, lambda w: w >= 33),
    ]
    for rp, py in cases:
        got = ivf_search_exact(idx, q, 5, conj=rp).collect()
        assert [r["vec_id"] for r in got] == brute(py), rp
    # provably-failing lists exist for weight < 10
    from acorn_hybrid_vector_search_spark.operators.store import (
        range_shard_verdict,
    )

    zones = idx.numeric_stats["weight"]
    fails = [
        c
        for c in range(idx.n_clusters)
        if not range_shard_verdict(*zones[c], "<", 10.0)[1]
    ]
    assert fails
    # empty result (nothing passes), not an error
    assert ivf_search_exact(idx, q, 5, conj={"weight": (">", 99)}).count() == 0
    # guards
    with pytest.raises(ValueError, match="op must be"):
        ivf_search_exact(idx, q, 5, conj={"weight": ("==", 10)})
    with pytest.raises(ValueError, match="numeric_stats_attrs"):
        ivf_search_exact(idx, q, 5, conj={"nope": ("<", 10)})
    with pytest.raises(ValueError, match="non-numeric"):
        ivf_build(df, n_clusters=4, numeric_stats_attrs=["embedding"])
    # persistence roundtrip
    path = str(tmp_path / "ivfr")
    ivf_write(idx, path)
    loaded = ivf_read(spark, path)
    assert loaded.numeric_stats == idx.numeric_stats
    got2 = ivf_search_exact(loaded, q, 5, conj={"weight": ("leq", 12)}).collect()
    assert [r["vec_id"] for r in got2] == brute(lambda w: w <= 12)


# ---------------------------------------------------------------------------
# r11: rule-6 conjunction arm + accessor passthrough gate + rule-5
# stale-stats demotion (VERDICT r10 ask #3, ADVICE r10)


def _conj_blob_store(spark, tmp_path, seed=31):
    import random as _random

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write_clustered,
    )

    rng = _random.Random(seed)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(320):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(6)],
                b,
                float(b * 10 + i % 5),
            )
        )
    df = spark.createDataFrame(
        rows,
        "vec_id long, embedding array<double>, label int, weight double",
    )
    store = str(tmp_path / "gcj")
    nsw_write_clustered(
        df, store, n_shards=8,
        payload_cols=["label", "weight"],
        stats_attrs=["label"],
        numeric_stats_attrs=["weight"],
    )
    return df, rows, store


def _flat_router(n=10_000_000):
    from acorn_hybrid_vector_search_spark.plans.router import (
        AttributeStats,
        StrategyRouter,
        TableStats,
    )

    stats = TableStats(
        n_rows=n,
        attrs={
            "label": AttributeStats(
                counts={i: n // 4 for i in range(4)}, n_rows=n, n_null=0
            ),
            "weight": AttributeStats(
                counts={float(i): n // 40 for i in range(40)},
                n_rows=n,
                n_null=0,
            ),
        },
    )
    return StrategyRouter(stats)


def test_route_ann_conjunction_arm_matrix():
    """Rule 6's r11 conjunction arm: multi-attr §2.3 conjunctions route
    to nsw_pruned_conj iff EVERY constraint is zone-map-covered with
    the matching sidecar kind; any uncovered attr, substring op, or
    '<='-spelled op refuses; a sub-1.0 recall budget over a γ store
    still prefers the budgeted subgraph walk."""
    router = _flat_router()
    covered = dict(
        has_pruned_store=True,
        pruned_attrs=frozenset({"label"}),
        pruned_range_attrs=frozenset({"weight"}),
    )
    conj = {"label": ["exact", 3], "weight": ["<", 12]}
    assert (
        router.route_ann(10, predicates=conj, **covered).strategy
        == "nsw_pruned_conj"
    )
    # every constraint must be covered by ITS sidecar kind
    r = router.route_ann(
        10, predicates=conj, has_pruned_store=True,
        pruned_attrs=frozenset({"label"}), pruned_range_attrs=frozenset(),
    )
    assert r.strategy != "nsw_pruned_conj"
    r = router.route_ann(
        10,
        predicates={"label": ["<", 2], "weight": ["<", 12]},
        **covered,
    )  # range op on the match-covered attr: numeric maps don't cover it
    assert r.strategy != "nsw_pruned_conj"
    r = router.route_ann(
        10,
        predicates={"label": ["exact", 3], "weight": ["<=", 12]},
        **covered,
    )  # '<=' is not a build_predicate op — routing would flip semantics
    assert r.strategy != "nsw_pruned_conj"
    r = router.route_ann(
        10,
        predicates={"label": ["exact", 3], "brand": ["substring", "X"]},
        **covered,
    )
    assert r.strategy != "nsw_pruned_conj"
    # recall budget + γ store outranks the conjunction arm
    r = router.route_ann(
        10, predicates=conj, min_recall=0.9, has_gamma_store=True, **covered
    )
    assert r.strategy == "nsw_gamma"
    # single-attr arms still take their dedicated rungs
    assert (
        router.route_ann(
            10, predicates={"label": ["exact", 3]}, **covered
        ).strategy
        == "nsw_pruned_match"
    )


def test_ann_search_dispatches_conjunction_rung(spark, tmp_path):
    """ann_search derives per-kind zone-map coverage from the store's
    own sidecars and dispatches the reference's class-2 conjunction
    (weight < 32 ∧ label exact 3) to nsw_read_topk(prune_conj=...) at
    the provably-exact full beam — dispatched ≡ direct ≡ brute; a
    stale sidecar demotes to the exact prefilter scan with the same
    answer (never a guard exception)."""
    import os
    import time as _time

    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        pruned_full_beam,
        pruned_match_attrs,
        pruned_range_attrs,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        bump_store_version,
    )

    df, rows, store = _conj_blob_store(spark, tmp_path)
    router = _flat_router()
    acc = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    q = rows[1][1]
    pred = {"weight": ["<", 32], "label": ["exact", 3]}
    route = router.route_ann(
        5, predicates=pred, has_pruned_store=True,
        pruned_attrs=pruned_match_attrs(spark, store),
        pruned_range_attrs=pruned_range_attrs(spark, store),
    )
    assert route.strategy == "nsw_pruned_conj", route
    got = router.ann_search(
        df, q, pred, 5, pruned_path=store, accessors=acc
    ).collect()
    direct = (
        nsw_read_topk(
            spark, store, [(0, list(q))], 5,
            ef=pruned_full_beam(spark, store, 5),
            prune=True,
            prune_conj={"weight": ("<", 32), "label": ("exact", 3)},
        )
        .drop("query_id")
        .collect()
    )
    brute = [
        i
        for _, i in sorted(
            (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
            for r in rows
            if r[3] < 32 and r[2] == 3
        )[:5]
    ]
    key = lambda rs: [(r["vec_id"], round(r["dist"], 9)) for r in rs]
    assert key(got) == key(direct)
    assert [r["vec_id"] for r in got] == brute
    # stale numeric sidecar → conj arm reads uncovered → exact
    # prefilter fallback, same answer
    part = next(d for d in os.listdir(store) if d.startswith("part_id="))
    _time.sleep(0.01)
    with open(os.path.join(store, part, "_rewrite_marker"), "w") as f:
        f.write("x")
    bump_store_version(store)
    assert pruned_range_attrs(spark, store) == frozenset()
    got2 = router.ann_search(
        df, q, pred, 5, pruned_path=store, accessors=acc
    ).collect()
    assert sorted(r["vec_id"] for r in got2) == sorted(brute)


def test_ann_search_accessor_gate_blocks_non_passthrough(spark, tmp_path):
    """ADVICE r10: rule 6 dispatch is gated on the accessor being a
    flat passthrough of the same-named store column — a derived-value
    accessor (here: weight halved) must NOT route into the pruned rung
    (whose walk mask reads the raw column), and the answer must match
    build_predicate over the DERIVED accessor via the prefilter
    fallback. A string-kind accessor likewise blocks the range arm
    (build_predicate ignores range ops on strings)."""
    from pyspark.sql import functions as F

    from acorn_hybrid_vector_search_spark.functions.predicates import (
        AttributeAccessor,
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.plans.router import (
        _flat_passthrough,
    )

    df, rows, store = _conj_blob_store(spark, tmp_path)
    router = _flat_router()
    q = rows[1][1]
    # derived accessor: weight/2 — NOT the raw store column
    acc = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    acc["weight"] = AttributeAccessor(
        F.col("weight") / 2, F.col("weight").isNotNull(), "numeric"
    )
    assert not _flat_passthrough(acc, "weight", numeric=True)
    assert _flat_passthrough(acc, "label", numeric=False)
    pred = {"weight": ["<", 16]}  # halved semantics: raw weight < 32
    got = router.ann_search(
        df, q, pred, 5, pruned_path=store, accessors=acc
    ).collect()
    brute = [
        i
        for _, i in sorted(
            (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
            for r in rows
            if r[3] / 2 < 16
        )[:5]
    ]
    assert [r["vec_id"] for r in got] == brute
    # string-kind accessor: build_predicate IGNORES range ops → the
    # fallback is presence-only; routing would have filtered
    acc2 = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    acc2["weight"] = AttributeAccessor(
        F.col("weight"), F.col("weight").isNotNull(), "string"
    )
    assert not _flat_passthrough(acc2, "weight", numeric=True)
    got2 = router.ann_search(
        df, q, pred, 5, pruned_path=store, accessors=acc2
    ).collect()
    brute_all = [
        i
        for _, i in sorted(
            (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
            for r in rows
        )[:5]
    ]
    assert [r["vec_id"] for r in got2] == brute_all


def test_ann_search_rule5_demotes_on_stale_stats(spark, tmp_path):
    """ADVICE r10: a predicate-free query over a pruned store whose
    ball stats are stale/missing must fall back (estimate_kept_fraction
    is None ⇒ no pruned store), not raise nsw_read_topk's staleness
    guard."""
    import os
    import time as _time

    from acorn_hybrid_vector_search_spark.operators.store import (
        bump_store_version,
    )

    df, rows, store = _conj_blob_store(spark, tmp_path)
    router = _flat_router()
    q = rows[1][1]
    part = next(d for d in os.listdir(store) if d.startswith("part_id="))
    _time.sleep(0.01)
    with open(os.path.join(store, part, "_rewrite_marker"), "w") as f:
        f.write("x")
    bump_store_version(store)
    got = router.ann_search(df, q, None, 5, pruned_path=store).collect()
    brute = [
        i
        for _, i in sorted(
            (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
            for r in rows
        )[:5]
    ]
    assert [r["vec_id"] for r in got] == brute


def test_ivf_search_exact_batch_equals_per_query_loop(spark):
    """r11 (VERDICT r10 ask #6): the batch form answers every query
    identically to the single-query two-phase scan — per-query match,
    per-query range, and unconstrained queries mixed in ONE batch (two
    list scans total); queries whose constraint passes nowhere come
    back empty; guard matrix (unknown qid, uncovered attr)."""
    import random as _random

    import pytest

    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_search_exact,
        ivf_search_exact_batch,
    )

    rng = _random.Random(23)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(320):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(6)],
                b,
                float(b * 10 + i % 5),
            )
        )
    df = spark.createDataFrame(
        rows,
        "vec_id long, embedding array<double>, label int, weight double",
    )
    idx = ivf_build(
        df, n_clusters=8, with_radii=True,
        stats_attrs=["label"], numeric_stats_attrs=["weight"],
    )
    queries = [(100 + j, rows[j][1]) for j in range(4)]
    conj = {
        100: {"label": ("exact", 3)},
        101: {"label": ("exact", 99)},  # passes nowhere
        102: {"weight": ("<", 23)},
    }
    got = ivf_search_exact_batch(idx, queries, 5, conj=conj).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["vec_id"], round(r["dist"], 9))
        )
    for qid, qv in queries:
        kw = {"conj": conj[qid]} if qid in conj else {}
        single = [
            (r["vec_id"], round(r["dist"], 9))
            for r in ivf_search_exact(idx, qv, 5, **kw).collect()
        ]
        assert by_q.get(qid, []) == single, qid
    assert 101 not in by_q  # provably-empty constraint → empty result
    # plan shape: one knn_batch scan of the probed lists, the queries
    # never joined to the corpus
    plan = ivf_search_exact_batch(
        idx, queries, 5, conj=conj
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Join" not in plan
    # guards
    with pytest.raises(ValueError, match="not in the batch"):
        ivf_search_exact_batch(
            idx, queries, 5, conj={999: {"label": ("exact", 3)}}
        )
    with pytest.raises(ValueError, match="value counts"):
        ivf_search_exact_batch(
            idx, queries, 5, conj={100: {"nope": ("exact", 3)}}
        )


def test_ann_search_batch_folds_pruned_arms_and_matches_single(spark, tmp_path):
    """r11 (VERDICT r10 ask #4): ann_search_batch routes every query of
    a mixed batch (exact-match / range / conjunction / predicate-free /
    unroutable-predicate), FOLDS all pruned rungs into one store read
    via the per-query prune_conj mapping, lands the unroutable query on
    the prefilter batch arm — and per query the answer is IDENTICAL to
    the single-query ann_search dispatch."""
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )

    df, rows, store = _conj_blob_store(spark, tmp_path)
    router = _flat_router()
    acc = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    batch = [
        (1, rows[1][1], {"label": ["exact", 3]}),
        (2, rows[2][1], {"weight": ["<", 32]}),
        (3, rows[3][1], {"weight": ["<", 32], "label": ["exact", 3]}),
        (4, rows[4][1], None),
        (5, rows[5][1], {"vec_id": ["<", 160]}),  # uncovered → fallback
    ]
    routes = router.route_ann_batch(
        df, batch, 5, pruned_path=store, accessors=acc
    )
    assert routes[1].strategy == "nsw_pruned_match"
    assert routes[2].strategy == "nsw_pruned_range"
    assert routes[3].strategy == "nsw_pruned_conj"
    assert routes[4].strategy == "nsw_pruned"
    assert routes[5].strategy in ("prefilter", "exact")
    got = router.ann_search_batch(
        df, batch, 5, pruned_path=store, accessors=acc
    ).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["vec_id"], round(r["dist"], 9))
        )
    for qid, qv, preds in batch:
        single = [
            (r["vec_id"], round(r["dist"], 9))
            for r in router.ann_search(
                df, qv, preds, 5, pruned_path=store, accessors=acc
            ).select("vec_id", "dist").collect()
        ]
        assert sorted(by_q[qid]) == sorted(single), qid
        # per-query rank order: rows arrive (dist, id)-ascending
        assert by_q[qid] == sorted(by_q[qid], key=lambda p: (p[1], p[0])), qid


def test_ann_search_batch_ivf_and_nsw_arms_match_single(spark, tmp_path):
    """The non-pruned arms of the batched dispatch: predicate-free
    exact → ONE ivf_search_exact_batch; sub-1.0 recall with an NSW
    store → ONE nsw_read_topk; sub-NSW recall budget with only IVF →
    ONE ivf_search_batch — each per-query ≡ ann_search."""
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.ann import ivf_build
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write,
    )

    df, rows, _store = _conj_blob_store(spark, tmp_path, seed=37)
    router = _flat_router()
    acc = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    idx = ivf_build(df, n_clusters=8, with_radii=True)
    nsw = str(tmp_path / "gnb")
    nsw_write(
        df.select("vec_id", "embedding", "label", "weight").repartition(4),
        nsw, payload_cols=["label", "weight"],
    )
    batch = [(j, rows[j][1], None) for j in range(3)]
    pred_batch = [
        (j, rows[j][1], {"label": ["exact", j % 4]}) for j in range(3)
    ]

    def compare(batch_, **kw):
        routes = router.route_ann_batch(df, batch_, 5, accessors=acc, **kw)
        got = router.ann_search_batch(
            df, batch_, 5, accessors=acc, **kw
        ).collect()
        by_q: dict = {}
        for r in got:
            by_q.setdefault(int(r["query_id"]), []).append(
                (r["vec_id"], round(r["dist"], 9))
            )
        for qid, qv, preds in batch_:
            single = [
                (r["vec_id"], round(r["dist"], 9))
                for r in router.ann_search(df, qv, preds, 5, accessors=acc, **kw)
                .select("vec_id", "dist")
                .collect()
            ]
            assert sorted(by_q.get(qid, [])) == sorted(single), (qid, routes[qid])
        return routes

    r1 = compare(batch, ivf_index=idx)
    assert {r.strategy for r in r1.values()} == {"ivf_exact"}
    r2 = compare(pred_batch, nsw_path=nsw, min_recall=0.9)
    assert {r.strategy for r in r2.values()} == {"nsw"}
    r3 = compare(batch, ivf_index=idx, min_recall=0.7)
    assert {r.strategy for r in r3.values()} == {"ivf"}


def test_ivf_exact_match_boolean_payload(spark):
    """VERDICT r11 ask #7 — the IVF twin of the graph store's boolean
    zone-map pin: Spark's CAST(boolcol AS STRING) spells 'true'/'false'
    while str(True) is 'True'; `canon_value_count` canonicalizes, so
    `ivf_search_exact(conj={'flag': ('exact', True)})` over a boolean payload
    answers the exact filtered oracle end-to-end instead of reading
    every zero-passing list as empty-of-evidence (or, worse, pruning
    every list and returning nothing)."""
    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_search_exact,
    )

    rows = [
        (i, [float(i % 4) * 3.0, float(i) / 7.0], i % 3 == 0)
        for i in range(48)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, flag boolean"
    )
    idx = ivf_build(
        df, n_clusters=4, with_radii=True, stats_attrs=["flag"]
    )
    # the sidecar stores Spark's lowercase spellings, never 'True'/'1'
    spellings = {
        v for per in idx.attr_counts["flag"].values() for v in per
    }
    assert spellings <= {"true", "false"}

    q = rows[1][1]
    for want_flag in (True, False):
        got = [
            r["vec_id"]
            for r in ivf_search_exact(
                idx, q, 5, conj={"flag": ("exact", want_flag)}
            ).collect()
        ]
        brute = [
            i
            for _, i in sorted(
                (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
                for r in rows
                if r[2] is want_flag
            )[:5]
        ]
        assert got == brute, want_flag


def test_ann_search_batch_groups_by_budget_tuple(spark, tmp_path):
    """r12 (VERDICT r11 ask #4): the batched dispatch groups by the FULL
    (arm, ef, max_visits, nprobe) tuple, not the arm alone — a rule that
    assigns different budgets to different queries of one batch must
    yield one store read per distinct budget, each group served under
    ITS OWN budget, and batch ≡ per-query must still hold. Exercised
    with a router subclass whose route_ann doubles ef/max_visits for
    even-valued label predicates (a stand-in for any future
    selectivity-dependent budget rule)."""
    import dataclasses

    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.plans.router import StrategyRouter

    df, rows, _store = _conj_blob_store(spark, tmp_path, seed=41)
    acc = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    nsw = str(tmp_path / "gbt")
    nsw_write(
        df.select("vec_id", "embedding", "label", "weight").repartition(4),
        nsw, payload_cols=["label", "weight"],
    )

    class VariableBudgetRouter(type(_flat_router())):
        def route_ann(self, k, *, predicates=None, **kw):
            r = super().route_ann(k, predicates=predicates, **kw)
            if (
                r.strategy == "nsw"
                and predicates
                and int(dict(predicates)["label"][1]) % 2 == 0
            ):
                r = dataclasses.replace(
                    r,
                    ef=(r.ef or 32) * 2,
                    max_visits=None
                    if r.max_visits is None
                    else r.max_visits * 2,
                )
            return r

    base = _flat_router()
    assert isinstance(base, StrategyRouter)
    router = VariableBudgetRouter(
        base.stats, default_large_k=base.default_large_k, safety=base.safety
    )
    batch = [
        (j, rows[j][1], {"label": ["exact", j % 4]}) for j in range(4)
    ]
    routes = router.route_ann_batch(
        df, batch, 5, nsw_path=nsw, min_recall=0.9, accessors=acc
    )
    assert {r.strategy for r in routes.values()} == {"nsw"}
    # the rule really produced TWO distinct budgets inside one arm
    assert len({(r.ef, r.max_visits) for r in routes.values()}) == 2

    # dense_min_batch=None pins the WALK (r13: dense is the default at
    # |union| >= 4) — this test is about the walk's budget grouping,
    # and batch ≡ per-query is only bit-compatible on the walk path
    got = router.ann_search_batch(
        df, batch, 5, nsw_path=nsw, min_recall=0.9, accessors=acc,
        dense_min_batch=None,
    ).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["vec_id"], round(r["dist"], 9))
        )
    for qid, qv, preds in batch:
        single = [
            (r["vec_id"], round(r["dist"], 9))
            for r in router.ann_search(
                df, qv, preds, 5, nsw_path=nsw, min_recall=0.9, accessors=acc
            )
            .select("vec_id", "dist")
            .collect()
        ]
        assert sorted(by_q.get(qid, [])) == sorted(single), (qid, routes[qid])


def test_ann_search_batch_dense_arm(spark, tmp_path):
    """dense_min_batch routes a large-enough walk-arm group through
    nsw_dense_topk — results are EXACT (≡ the brute-force filtered
    oracle per query, i.e. at least the walk's recall; every route's
    recall contract holds trivially), a group below the threshold
    keeps the walk, and r13 (VERDICT r12 ask #1): the DEFAULT is dense
    at |union| ≥ DENSE_SERVE_MIN_BATCH=4; dense_min_batch=None pins
    the walk (bit-compatible with per-query ann_search)."""
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write,
    )

    df, rows, _store = _conj_blob_store(spark, tmp_path, seed=43)
    router = _flat_router()
    acc = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    nsw = str(tmp_path / "gda")
    nsw_write(
        df.select("vec_id", "embedding", "label", "weight").repartition(4),
        nsw, payload_cols=["label", "weight"],
    )
    data = {r[0]: (list(r[1]), int(r[2])) for r in df.collect()}
    batch = [
        (j, rows[j][1], {"label": ["exact", j % 4]}) for j in range(6)
    ]
    routes = router.route_ann_batch(
        df, batch, 5, nsw_path=nsw, min_recall=0.9, accessors=acc
    )
    assert {r.strategy for r in routes.values()} == {"nsw"}

    def by_query(res):
        out: dict = {}
        for r in res.collect():
            out.setdefault(int(r["query_id"]), []).append(
                (round(r["dist"], 9), int(r["vec_id"]))
            )
        return {q: sorted(v) for q, v in out.items()}

    dense = by_query(
        router.ann_search_batch(
            df, batch, 5, nsw_path=nsw, min_recall=0.9, accessors=acc,
            dense_min_batch=4,
        )
    )
    # exact per query: ≡ brute-force filtered top-5
    for qid, qv, preds in batch:
        want = int(dict(preds)["label"][1])
        brute = sorted(
            (
                round(
                    sum((a - b) ** 2 for a, b in zip(vec, qv)), 9
                ),
                vid,
            )
            for vid, (vec, lab) in data.items()
            if lab == want
        )[:5]
        assert dense[qid] == brute, qid
    # below the threshold → the walk serves it, and None disables the
    # dense rung entirely — both must agree with each other
    walk = by_query(
        router.ann_search_batch(
            df, batch, 5, nsw_path=nsw, min_recall=0.9, accessors=acc,
            dense_min_batch=100,
        )
    )
    walk_none = by_query(
        router.ann_search_batch(
            df, batch, 5, nsw_path=nsw, min_recall=0.9, accessors=acc,
            dense_min_batch=None,
        )
    )
    assert walk == walk_none
    # r13: NO knob → dense serves the 6-query union (the default is
    # DENSE_SERVE_MIN_BATCH=4), so the default answers the exact oracle
    default = by_query(
        router.ann_search_batch(
            df, batch, 5, nsw_path=nsw, min_recall=0.9, accessors=acc,
        )
    )
    assert default == dense

    # the dense decision is made on the ARM UNION, not per budget
    # group (r12 self-review): a budget rule splitting the 6-query arm
    # into two groups of 3 must still fire dense at dense_min_batch=5
    import dataclasses

    class SplitBudgetRouter(type(router)):
        def route_ann(self, k, *, predicates=None, **kw):
            r = super().route_ann(k, predicates=predicates, **kw)
            if (
                r.strategy == "nsw"
                and predicates
                and int(dict(predicates)["label"][1]) % 2 == 0
            ):
                r = dataclasses.replace(r, ef=(r.ef or 32) * 2)
            return r

    sr = SplitBudgetRouter(
        router.stats,
        default_large_k=router.default_large_k,
        safety=router.safety,
    )
    sroutes = sr.route_ann_batch(
        df, batch, 5, nsw_path=nsw, min_recall=0.9, accessors=acc
    )
    assert len({(r.ef, r.max_visits) for r in sroutes.values()}) == 2
    dense_union = by_query(
        sr.ann_search_batch(
            df, batch, 5, nsw_path=nsw, min_recall=0.9, accessors=acc,
            dense_min_batch=5,
        )
    )
    assert dense_union == dense  # exact answers, single union call


def test_ann_search_batch_dense_dtype_int8(spark, tmp_path):
    """r14 (VERDICT r13 ask #1): the int8 rung is REACHABLE from the
    routed surface — ``dense_dtype="auto"`` (the default) lands the
    densified walk arm on ``nsw_dense_topk_int8`` iff the store has a
    FRESH ``nsw_write_int8`` sidecar (building it is the opt-in), an
    explicit ``"int8"`` demands it (loud error without a sidecar), a
    STALE sidecar degrades auto to the vector kernel instead of
    refusing, and certified-mode results are identical to the vector
    kernel's throughout. Rerank mode forwards through the surface."""
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_append,
        nsw_int8_fresh,
        nsw_write,
        nsw_write_int8,
    )

    df, rows, _store = _conj_blob_store(spark, tmp_path, seed=47)
    router = _flat_router()
    acc = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    nsw = str(tmp_path / "gi8")
    base = df.select("vec_id", "embedding", "label", "weight")
    nsw_write(base.repartition(4), nsw, payload_cols=["label", "weight"])
    batch = [
        (j, rows[j][1], {"label": ["exact", j % 4]} if j % 2 else None)
        for j in range(6)
    ]
    kw = dict(nsw_path=nsw, min_recall=0.9, accessors=acc)

    def by_query(res):
        out: dict = {}
        for r in res.collect():
            out.setdefault(int(r["query_id"]), []).append(
                (round(r["dist"], 9), int(r["vec_id"]))
            )
        return {q: sorted(v) for q, v in out.items()}

    vector = by_query(
        router.ann_search_batch(df, batch, 5, dense_dtype="vector", **kw)
    )
    # no sidecar: explicit int8 refuses loudly, auto degrades silently
    with pytest.raises(Exception, match="nsw_write_int8"):
        router.ann_search_batch(
            df, batch, 5, dense_dtype="int8", **kw
        ).collect()
    assert not nsw_int8_fresh(spark, nsw)
    assert by_query(
        router.ann_search_batch(df, batch, 5, dense_dtype="auto", **kw)
    ) == vector
    # fresh sidecar: auto (and the no-knob default) land on int8 —
    # certified mode is provably identical to the vector kernel
    nsw_write_int8(spark, nsw)
    assert nsw_int8_fresh(spark, nsw)
    routes = router.route_ann_batch(df, batch, 5, **kw)
    plan = router.plan_ann_batch(
        routes, batch, dense_dtype={"nsw": "int8", "nsw_gamma": "vector"}
    )
    assert [(d.arm, d.kernel) for d in plan] == [("nsw", "nsw_dense_int8")]
    assert by_query(
        router.ann_search_batch(df, batch, 5, **kw)
    ) == vector
    assert by_query(
        router.ann_search_batch(df, batch, 5, dense_dtype="int8", **kw)
    ) == vector
    # rerank mode forwards through the surface (small dim: wide default
    # width keeps it exact here)
    assert by_query(
        router.ann_search_batch(
            df, batch, 5, dense_dtype="int8", dense_int8_mode="rerank",
            **kw,
        )
    ) == vector
    with pytest.raises(ValueError, match="dense_dtype"):
        router.ann_search_batch(df, batch, 5, dense_dtype="f16", **kw)
    # mutate the store → the sidecar goes stale → auto degrades to the
    # vector kernel (fresh answers including the appended rows) while
    # explicit int8 keeps the kernel's loud staleness refusal
    extra = spark.createDataFrame(
        [
            (900 + i, [25.0 + i, 25.0] + [0.0] * 6, int(i % 4), 1.0)
            for i in range(3)
        ],
        "vec_id long, embedding array<double>, label int, weight double",
    )
    nsw_append(extra, nsw, payload_cols=["label", "weight"])
    assert not nsw_int8_fresh(spark, nsw)
    after = by_query(
        router.ann_search_batch(df, batch, 5, **kw)
    )
    assert after == by_query(
        router.ann_search_batch(df, batch, 5, dense_dtype="vector", **kw)
    )
    with pytest.raises(Exception, match="stale"):
        router.ann_search_batch(
            df, batch, 5, dense_dtype="int8", **kw
        ).collect()


def test_plan_ann_batch_dense_decision_matrix():
    """r13 (VERDICT r12 ask #1): the dense-default decision matrix,
    read from the SAME ``plan_ann_batch`` the dispatcher executes —
    |Q| ∈ {1, 3, 4, 64} × every arm. Walk arms (nsw / nsw_gamma) land
    on the dense gemm kernel from |Q|=4 up (the measured BENCH_LADDER
    ``serving_crossover``) and keep the walk below it;
    ``dense_min_batch=None`` pins the walk at every |Q| (the
    anytime-ACORN bounded-cost contract); non-walk arms (prefilter /
    pruned / ivf / ivf_exact) never densify — their zone-map /
    two-phase rungs skip I/O the dense scan would pay."""
    from acorn_hybrid_vector_search_spark.plans.router import (
        DENSE_SERVE_MIN_BATCH,
        AnnRoute,
    )

    assert DENSE_SERVE_MIN_BATCH == 4  # the measured serving crossover
    router = _flat_router()
    vec = [0.0, 0.0]
    route_of = {
        "nsw": AnnRoute("nsw", 1.0, ef=64, expected_recall=0.945),
        "nsw_gamma": AnnRoute(
            "nsw_gamma", 0.1, ef=64, max_visits=64, expected_recall=1.0
        ),
        "prefilter": AnnRoute("prefilter", 0.02),
        "pruned": AnnRoute("nsw_pruned", 1.0),
        "ivf": AnnRoute("ivf", 1.0, nprobe=4, expected_recall=0.9),
        "ivf_exact": AnnRoute("ivf_exact", 1.0),
    }
    pred_of = {
        "prefilter": {"label": ["exact", 1]},
        "pruned": None,
        "nsw": None,
        "nsw_gamma": {"label": ["exact", 1]},
        "ivf": None,
        "ivf_exact": None,
    }

    def kernels(arm, n, **kw):
        batch = [(j, vec, pred_of[arm]) for j in range(n)]
        routes = {j: route_of[arm] for j in range(n)}
        plan = router.plan_ann_batch(routes, batch, **kw)
        assert sorted(q[0] for d in plan for q in d.queries) == list(range(n))
        return [(d.arm if arm in ("nsw", "nsw_gamma") else arm, d.kernel)
                for d in plan]

    for walk_arm in ("nsw", "nsw_gamma"):
        for n in (1, 3):
            assert kernels(walk_arm, n) == [(walk_arm, "nsw_walk")], (walk_arm, n)
        for n in (4, 64):
            assert kernels(walk_arm, n) == [(walk_arm, "nsw_dense")], (walk_arm, n)
            # opt-out pins the walk at every |Q|
            assert kernels(walk_arm, n, dense_min_batch=None) == [
                (walk_arm, "nsw_walk")
            ], (walk_arm, n)
    expect = {
        "prefilter": "prefilter_batch",
        "pruned": "pruned_fold",
        "ivf": "ivf_batch",
        "ivf_exact": "ivf_exact_batch",
    }
    for arm_name, kern in expect.items():
        for n in (1, 3, 4, 64):
            assert kernels(arm_name, n) == [(arm_name, kern)], (arm_name, n)

    # the dense decision is on the ARM UNION across budget groups: two
    # ef-budget groups of 2 still reach the threshold together
    batch = [(j, vec, None) for j in range(4)]
    routes = {
        j: AnnRoute("nsw", 1.0, ef=32 if j < 2 else 64, expected_recall=0.9)
        for j in range(4)
    }
    plan = router.plan_ann_batch(routes, batch)
    assert [d.kernel for d in plan] == ["nsw_dense"]
    # ...and with the dense rung disabled, each budget keeps ITS OWN read
    plan = router.plan_ann_batch(routes, batch, dense_min_batch=None)
    assert sorted((d.kernel, d.ef) for d in plan) == [
        ("nsw_walk", 32), ("nsw_walk", 64),
    ]

    # r14 (VERDICT r13 ask #1): dense_dtype picks the int8 kernel for a
    # densified arm — string applies to both walk arms, a mapping picks
    # per arm, sub-threshold unions keep the walk regardless, and the
    # pure planner rejects unresolved 'auto' (no I/O in the planning
    # half — ann_search_batch resolves it against the store)
    plan = router.plan_ann_batch(routes, batch, dense_dtype="int8")
    assert [d.kernel for d in plan] == ["nsw_dense_int8"]
    mixed = {
        j: AnnRoute(
            "nsw" if j < 4 else "nsw_gamma", 1.0, ef=64,
            expected_recall=0.9,
        )
        for j in range(8)
    }
    mbatch = [(j, vec, None) for j in range(8)]
    plan = router.plan_ann_batch(
        mixed, mbatch, dense_dtype={"nsw": "int8", "nsw_gamma": "vector"}
    )
    assert sorted((d.arm, d.kernel) for d in plan) == [
        ("nsw", "nsw_dense_int8"), ("nsw_gamma", "nsw_dense"),
    ]
    small = {j: AnnRoute("nsw", 1.0, ef=64, expected_recall=0.9)
             for j in range(2)}
    plan = router.plan_ann_batch(
        small, [(j, vec, None) for j in range(2)], dense_dtype="int8"
    )
    assert [d.kernel for d in plan] == ["nsw_walk"]
    with pytest.raises(ValueError, match="dense_dtype"):
        router.plan_ann_batch(routes, batch, dense_dtype="auto")


def test_dense_match_template_eligibility(spark):
    """r14 (VERDICT r13 ask #4 + ADVICE r13): the template fast-path
    eligibility contract, read from the SAME ``dense_match_template``
    the dispatcher consults — every supported (kind, op) pair templates;
    multi-attribute, malformed-arity (the r13 IndexError), coercion-
    needing, NaN, bool, unsupported-(kind,op), unknown-attr and
    nested-accessor specs all keep the Catalyst path."""
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        abo_accessors,
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.plans.router import (
        dense_match_template,
    )

    acc = flat_accessors(
        {"label": "bigint", "name": "string", "w": "double"}
    )
    assert dense_match_template({"label": ["exact", 3]}, acc) == (
        "label", "exact", 3,
    )
    assert dense_match_template({"name": ["substring", "Ama"]}, acc) == (
        "name", "substring", "Ama",
    )
    assert dense_match_template({"name": ["exact", "x"]}, acc) == (
        "name", "exact", "x",
    )
    for op in ("leq", "geq", "<", ">"):
        assert dense_match_template({"w": [op, 2.5]}, acc) == (
            "w", op, 2.5,
        ), op
    # Catalyst keepers
    assert dense_match_template(None, acc) is None
    assert dense_match_template({}, acc) is None
    assert (
        dense_match_template({"label": ["exact", 3], "w": ["<", 1]}, acc)
        is None
    )  # conjunction
    assert dense_match_template({"label": ["exact"]}, acc) is None  # arity
    assert dense_match_template({"label": ["exact", 3, 4]}, acc) is None
    assert dense_match_template({"label": ["exact", "3"]}, acc) is None
    assert (
        dense_match_template({"w": ["leq", float("nan")]}, acc) is None
    )
    assert dense_match_template({"label": ["exact", True]}, acc) is None
    assert dense_match_template({"name": ["leq", "a"]}, acc) is None
    assert dense_match_template({"w": ["substring", "a"]}, acc) is None
    assert dense_match_template({"nope": ["exact", 1]}, acc) is None
    # nested/derived accessors read extracted expressions, not raw cols
    assert (
        dense_match_template(
            {"brand": ["substring", "Amazon"]}, abo_accessors()
        )
        is None
    )


def test_ivf_search_batch_equals_per_query_loop(spark, tmp_path):
    """ivf_search_batch ≡ ivf_search per query — same nprobe lists,
    same per-query §2.3 predicate semantics, equi-join plan."""
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_search,
        ivf_search_batch,
    )
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        build_predicate,
    )

    df, rows, _store = _conj_blob_store(spark, tmp_path, seed=41)
    idx = ivf_build(df, n_clusters=8)
    acc = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    queries = [(j, rows[j][1]) for j in range(4)]
    preds = {
        0: {"label": ["exact", 0]},
        2: {"weight": ["<", 23]},
    }
    got = ivf_search_batch(
        idx, queries, 5, nprobe=3, predicates=preds, accessors=acc
    ).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["vec_id"], round(r["dist"], 9))
        )
    for qid, qv in queries:
        pc = build_predicate(preds[qid], acc) if qid in preds else None
        single = [
            (r["vec_id"], round(r["dist"], 9))
            for r in ivf_search(idx, qv, 5, nprobe=3, predicate=pc)
            .select("vec_id", "dist")
            .collect()
        ]
        assert by_q.get(qid, []) == single, qid
    plan = ivf_search_batch(
        idx, queries, 5, nprobe=3, predicates=preds, accessors=acc
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Join" not in plan


def test_ivf_exact_batch_enforces_le_ge_spellings(spark, tmp_path):
    """review r11: '<='/'>=' range spellings must be canonicalized to
    the §2.3 ops the batch row-filter grammar enforces — an
    un-normalized '<=' pruned lists by the zone maps but never filtered
    rows (single-query parity broken silently)."""
    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_search_exact,
        ivf_search_exact_batch,
    )

    df, rows, _store = _conj_blob_store(spark, tmp_path, seed=43)
    idx = ivf_build(
        df, n_clusters=8, with_radii=True, numeric_stats_attrs=["weight"]
    )
    queries = [(0, rows[0][1]), (1, rows[1][1])]
    got = ivf_search_exact_batch(
        idx, queries, 5,
        conj={0: {"weight": ("<=", 12)}, 1: {"weight": (">=", 20)}},
    ).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["vec_id"], round(r["dist"], 9))
        )
    for qid, qv, rp in (
        (0, rows[0][1], {"weight": ("<=", 12)}),
        (1, rows[1][1], {"weight": (">=", 20)}),
    ):
        single = [
            (r["vec_id"], round(r["dist"], 9))
            for r in ivf_search_exact(idx, qv, 5, conj=rp).collect()
        ]
        assert by_q.get(qid, []) == single, qid
    # every returned row actually satisfies its query's predicate
    w = {r[0]: r[3] for r in rows}
    assert all(w[v] <= 12 for v, _ in by_q.get(0, []))
    assert all(w[v] >= 20 for v, _ in by_q.get(1, []))


def test_covering_index_accessors_route_to_pruned_rungs(spark, tmp_path):
    """review r11: extract_attribute_payloads' flat accessors (presence
    = the stored <attr>__present boolean) are the library's OWN
    covering-index contract — they must pass the passthrough gate and
    route, and the routed result must equal the exact filtered oracle
    over the covering-index semantics."""
    from pyspark.sql import functions as F

    from acorn_hybrid_vector_search_spark.functions.predicates import (
        AttributeAccessor,
        extract_attribute_payloads,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write_clustered,
        pruned_match_attrs,
    )
    from acorn_hybrid_vector_search_spark.plans.router import (
        _flat_passthrough,
    )

    import random as _random

    rng = _random.Random(47)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(320):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(6)],
                None if i % 13 == 0 else b,  # sparse attr
            )
        )
    raw = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    nested_acc = {
        "label": AttributeAccessor(
            F.col("label"), F.col("label").isNotNull(), "numeric"
        )
    }
    cols, flat_acc = extract_attribute_payloads(nested_acc)
    df = raw.select(
        "vec_id", "embedding", *(c.alias(n) for n, c in cols.items())
    )
    assert _flat_passthrough(flat_acc, "label", numeric=False)
    store = str(tmp_path / "gcov")
    nsw_write_clustered(
        df, store, n_shards=8,
        payload_cols=["label", "label__present"], stats_attrs=["label"],
    )
    router = _flat_router()
    pred = {"label": ["exact", 3]}
    route = router.route_ann(
        5, predicates=pred, has_pruned_store=True,
        pruned_attrs=pruned_match_attrs(spark, store),
    )
    assert route.strategy == "nsw_pruned_match"
    got = router.ann_search(
        df, rows[1][1], pred, 5, pruned_path=store, accessors=flat_acc
    ).collect()
    brute = [
        i
        for _, i in sorted(
            (sum((a - b) ** 2 for a, b in zip(r[1], rows[1][1])), r[0])
            for r in rows
            if r[2] == 3
        )[:5]
    ]
    assert [r["vec_id"] for r in got] == brute


def test_router_substring_conjunction_arm(spark, tmp_path):
    """r11b: the reference's LITERAL class-2 shape — a range ∧ substring
    conjunction — routes to nsw_pruned_conj when the substring attr has
    fresh value counts AND a string-kind passthrough accessor; a
    numeric-kind accessor refuses (build_predicate ignores substring on
    numeric kinds); dispatched ≡ brute."""
    import random as _random

    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write_clustered,
    )

    rng = _random.Random(59)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(320):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(6)],
                float(b * 10 + i % 5),
                f"brand{b}",
            )
        )
    df = spark.createDataFrame(
        rows,
        "vec_id long, embedding array<double>, weight double, tag string",
    )
    store = str(tmp_path / "gsub")
    nsw_write_clustered(
        df, store, n_shards=8,
        payload_cols=["weight", "tag"],
        stats_attrs=["tag"], numeric_stats_attrs=["weight"],
    )
    router = _flat_router()
    acc = flat_accessors(
        {"weight": "double", "tag": "string", "vec_id": "bigint"}
    )
    pred = {"weight": ["<", 32], "tag": ["substring", "nd3"]}
    routes = router.route_ann_batch(
        df, [(0, rows[1][1], pred)], 5, pruned_path=store, accessors=acc
    )
    assert routes[0].strategy == "nsw_pruned_conj", routes
    got = router.ann_search(
        df, rows[1][1], pred, 5, pruned_path=store, accessors=acc
    ).collect()
    brute = [
        i
        for _, i in sorted(
            (sum((a - b) ** 2 for a, b in zip(r[1], rows[1][1])), r[0])
            for r in rows
            if r[2] < 32 and "nd3" in r[3]
        )[:5]
    ]
    assert [r["vec_id"] for r in got] == brute
    # lone substring → the conj rung too
    lone = {"tag": ["substring", "nd3"]}
    routes2 = router.route_ann_batch(
        df, [(0, rows[1][1], lone)], 5, pruned_path=store, accessors=acc
    )
    assert routes2[0].strategy == "nsw_pruned_conj", routes2
    # numeric-kind accessor for the substring attr → refuses to route
    acc_num = flat_accessors(
        {"weight": "double", "tag": "string", "vec_id": "bigint"}
    )
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        AttributeAccessor,
    )
    from pyspark.sql import functions as F

    acc_num["tag"] = AttributeAccessor(
        F.col("tag"), F.col("tag").isNotNull(), "numeric"
    )
    routes3 = router.route_ann_batch(
        df, [(0, rows[1][1], lone)], 5, pruned_path=store, accessors=acc_num
    )
    assert routes3[0].strategy != "nsw_pruned_conj", routes3


def test_ivf_search_exact_conj_and_batch_conj(spark, tmp_path):
    """r11b IVF conjunction symmetry (the graph store's prune_conj on
    the inverted lists): single-query conj (exact ∧ range, substring ∧
    range) answers the exact filtered oracle — the two-phase ball
    bound needs no Bonferroni counts, only ANY-none-pass list skipping
    — and the batch form's per-query conj mapping ≡ the single-query
    loop. Guards: substring on a non-string column refuses in the
    single-query and the batch form, uncovered attr raises."""
    import random as _random

    import pytest

    from acorn_hybrid_vector_search_spark.operators.ann import (
        _ivf_conj,
        ivf_build,
        ivf_search_exact,
        ivf_search_exact_batch,
    )

    rng = _random.Random(61)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(320):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(6)],
                b,
                float(b * 10 + i % 5),
                f"brand{b}",
            )
        )
    df = spark.createDataFrame(
        rows,
        "vec_id long, embedding array<double>, label int, weight double, "
        "tag string",
    )
    idx = ivf_build(
        df, n_clusters=8, with_radii=True,
        stats_attrs=["label", "tag"], numeric_stats_attrs=["weight"],
    )
    q = rows[1][1]

    def brute(pred):
        return [
            (i, round(d, 9))
            for d, i in sorted(
                (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
                for r in rows
                if pred(r)
            )[:5]
        ]

    got = [
        (r["vec_id"], round(r["dist"], 9))
        for r in ivf_search_exact(
            idx, q, 5,
            conj={"label": ("exact", 3), "weight": ("<", 32)},
        ).collect()
    ]
    assert got == brute(lambda r: r[2] == 3 and r[3] < 32)
    got2 = [
        (r["vec_id"], round(r["dist"], 9))
        for r in ivf_search_exact(
            idx, q, 5,
            conj={"tag": ("substring", "nd3"), "weight": ("<", 32)},
        ).collect()
    ]
    assert got2 == brute(lambda r: "nd3" in r[4] and r[3] < 32)
    # provably-failing lists exist for the substring term
    mask, _ = _ivf_conj(idx, {"tag": ("substring", "nd3")})
    assert (~mask).any()
    # unsatisfiable → empty
    assert (
        ivf_search_exact(
            idx, q, 5, conj={"label": ("exact", 3), "weight": (">", 999)}
        ).count()
        == 0
    )
    # batch conj mapping ≡ single-query loop
    queries = [(0, rows[0][1]), (1, rows[1][1]), (2, rows[2][1])]
    conj_map = {
        0: {"label": ("exact", 3), "weight": ("<", 32)},
        1: {"tag": ("substring", "nd2"), "weight": ("geq", 20)},
    }
    res = ivf_search_exact_batch(idx, queries, 5, conj=conj_map).collect()
    by_q: dict = {}
    for r in res:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["vec_id"], round(r["dist"], 9))
        )
    for qid, qv in queries:
        kw = {"conj": conj_map[qid]} if qid in conj_map else {}
        single = [
            (r["vec_id"], round(r["dist"], 9))
            for r in ivf_search_exact(idx, qv, 5, **kw).collect()
        ]
        assert by_q.get(qid, []) == single, qid
    # guards
    # substring on a non-string column refuses in BOTH forms: the §2.3
    # grammar ignores it while the Catalyst mask would stringify the
    # column, so the single-query scan must not answer what the batch
    # scan refuses
    with pytest.raises(ValueError, match="non-string column 'weight'"):
        ivf_search_exact_batch(
            idx, queries, 5, conj={0: {"weight": ("substring", "2")}}
        )
    with pytest.raises(ValueError, match="non-string column 'label'"):
        ivf_search_exact(idx, q, 5, conj={"label": ("substring", "3")})
    with pytest.raises(ValueError, match="value counts"):
        ivf_search_exact(idx, q, 5, conj={"nope": ("exact", 1)})


def test_routed_dense_uses_match_template(spark, tmp_path):
    """The routed dispatch hands single-attr EXACT predicates over FLAT
    passthrough accessors to the kernel's template path (no _pass_g
    Catalyst mask columns in the dense part's plan), and batch results
    still answer the exact filtered brute-force oracle."""
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write,
    )

    df, rows_, _store = _conj_blob_store(spark, tmp_path)
    router = _flat_router()
    acc = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    nsw = str(tmp_path / "grm")
    nsw_write(
        df.select("vec_id", "embedding", "label", "weight").repartition(4),
        nsw, payload_cols=["label", "weight"],
    )
    batch = [
        (j, rows_[j][1], {"label": ["exact", j % 4]}) for j in range(6)
    ]
    res = router.ann_search_batch(
        df, batch, 5, nsw_path=nsw, min_recall=0.9, accessors=acc
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "_pass_g" not in plan  # templates, not Catalyst mask columns
    data = {r[0]: (list(r[1]), int(r[2])) for r in df.collect()}
    by_q: dict = {}
    for r in res.collect():
        by_q.setdefault(int(r["query_id"]), []).append(
            (round(r["dist"], 9), int(r["vec_id"]))
        )
    for qid, qv, preds in batch:
        want_lab = int(dict(preds)["label"][1])
        brute = sorted(
            (
                round(sum((a - b) ** 2 for a, b in zip(vec, qv)), 9),
                vid,
            )
            for vid, (vec, lab) in data.items()
            if lab == want_lab
        )[:5]
        assert sorted(by_q[qid]) == brute, qid

    # r13b self-review: a TYPE-MISMATCHED exact value (stringified
    # number against a numeric accessor) must NOT take the template
    # path — pandas == does no coercion where Catalyst casts — and the
    # Catalyst fallback must still answer the same brute oracle
    sbatch = [
        (j, rows_[j][1], {"label": ["exact", str(j % 4)]})
        for j in range(6)
    ]
    sres = router.ann_search_batch(
        df, sbatch, 5, nsw_path=nsw, min_recall=0.9, accessors=acc
    )
    splan = sres._jdf.queryExecution().executedPlan().toString()
    # Catalyst predicate machinery serves it (here the stringified
    # value also skews the selectivity estimate onto the prefilter
    # batch arm — fine: that path coerces too); what must NOT happen
    # is the template fast path silently returning empty
    assert "_pass_g" in splan or "_p_label" in splan
    by_q2: dict = {}
    for r in sres.collect():
        by_q2.setdefault(int(r["query_id"]), []).append(
            (round(r["dist"], 9), int(r["vec_id"]))
        )
    for qid, qv, preds in sbatch:
        want_lab = int(dict(preds)["label"][1])
        brute = sorted(
            (
                round(sum((a - b) ** 2 for a, b in zip(vec, qv)), 9),
                vid,
            )
            for vid, (vec, lab) in data.items()
            if lab == want_lab
        )[:5]
        assert sorted(by_q2[qid]) == brute, qid
