"""Partition-local NSW graph ANN (operators/graph_ann.py): recall gate
vs exact, max_visits budget semantics, blocked-set exclusion,
determinism — the X1/X2 parity contract."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.operators.graph_ann import (
    NswGraph,
    nsw_batch_topk,
    nsw_read_topk,
    nsw_write,
)

N, DIM, K = 300, 8, 10


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(7)
    rows = [
        (i, [round(rng.uniform(-1, 1), 4) for _ in range(DIM)]) for i in range(N)
    ]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        .repartition(3)
        .cache()
    )


@pytest.fixture(scope="module")
def vectors(corpus):
    rows = corpus.collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, x


def _exact_topk(ids, x, q, k, exclude=()):
    d = ((x - q) ** 2).sum(axis=1)
    order = sorted(range(len(ids)), key=lambda i: (d[i], ids[i]))
    return [int(ids[i]) for i in order if ids[i] not in exclude][:k]


QUERY_IDS = [0, 5, 9]


def _queries(vectors):
    ids, x = vectors
    pos = {int(v): i for i, v in enumerate(ids)}
    return [(qid, list(x[pos[qid]])) for qid in QUERY_IDS]


def test_recall_floor_vs_exact(spark, corpus, vectors):
    ids, x = vectors
    got = nsw_batch_topk(corpus, _queries(vectors), K, ef=64).collect()
    by_q: dict[int, list[int]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert set(by_q) == set(QUERY_IDS)
    for qid, found in by_q.items():
        assert len(found) == K
        exact = _exact_topk(ids, x, x[list(ids).index(qid)], K)
        recall = len(set(found) & set(exact)) / K
        assert recall >= 0.9, f"query {qid}: recall {recall}"


def test_distances_are_exact_for_returned_rows(spark, corpus, vectors):
    """Approximation affects WHICH rows come back, never their distances
    (candidates are real rows re-scored exactly)."""
    ids, x = vectors
    pos = {int(v): i for i, v in enumerate(ids)}
    for r in nsw_batch_topk(corpus, _queries(vectors), K, ef=64).collect():
        q = x[pos[r["query_id"]]]
        d = float(((x[pos[r["vec_id"]]] - q) ** 2).sum())
        assert r["dist"] == pytest.approx(d, rel=1e-9)


def test_max_visits_budget_bounds_and_degrades(spark, corpus, vectors):
    """X2 semantics: a tiny budget still answers (anytime search) with
    recall ≤ the unbounded run; the unbounded run dominates."""
    ids, x = vectors
    tiny = nsw_batch_topk(corpus, _queries(vectors), K, ef=64, max_visits=1).collect()
    assert tiny, "budget=1 must still return the entry neighborhood"
    by_q: dict[int, set[int]] = {}
    for r in tiny:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert all(len(v) <= K for v in by_q.values())

    def recall_at(mv):
        got = nsw_batch_topk(
            corpus, _queries(vectors), K, ef=64, max_visits=mv
        ).collect()
        bq: dict[int, set[int]] = {}
        for r in got:
            bq.setdefault(r["query_id"], set()).add(r["vec_id"])
        tot = 0.0
        for qid in QUERY_IDS:
            exact = set(_exact_topk(ids, x, x[list(ids).index(qid)], K))
            tot += len(bq.get(qid, set()) & exact) / K
        return tot / len(QUERY_IDS)

    assert recall_at(None) >= recall_at(2) - 1e-9


def test_blocked_ids_never_returned_and_next_best_fills(spark, corpus, vectors):
    """Blocked-set semantics (M1 / hnswlib filter): excluded from
    results, still traversed — so blocking the true NN yields the
    next-nearest, not a hole."""
    ids, x = vectors
    qid = QUERY_IDS[0]
    q = x[list(ids).index(qid)]
    exact = _exact_topk(ids, x, q, K)
    blocked = frozenset(exact[:2])  # block the 2 nearest (incl. self)
    got = [
        r["vec_id"]
        for r in nsw_batch_topk(
            corpus, [(qid, list(q))], K, ef=64, blocked=blocked
        ).collect()
    ]
    assert not (set(got) & blocked)
    want = _exact_topk(ids, x, q, K, exclude=blocked)
    assert len(set(got) & set(want)) / K >= 0.9


def test_deterministic_across_runs(spark, corpus, vectors):
    a = sorted(
        map(tuple, nsw_batch_topk(corpus, _queries(vectors), K, ef=64).collect())
    )
    b = sorted(
        map(tuple, nsw_batch_topk(corpus, _queries(vectors), K, ef=64).collect())
    )
    assert a == b


def test_graph_build_connectivity():
    rng = np.random.RandomState(3)
    g = NswGraph(rng.standard_normal((50, 4)), m=4, ef_construction=16)
    assert all(len(nb) >= 1 for nb in g.neighbors)
    # degree bound: pruning caps lists at 2m
    assert max(len(nb) for nb in g.neighbors) <= 8
    # single-node and two-node graphs degenerate cleanly
    g1 = NswGraph(rng.standard_normal((1, 4)), m=4)
    cand, _ = g1._search(np.zeros(4), 8)
    assert cand == [0]


def test_exact_at_full_beam(spark, corpus, vectors):
    """Degenerate-exactness gate (the IVF nprobe=C / overcomplete-PQ
    pattern): with ef ≥ N the beam never saturates, so best-first
    traverses the whole graph and the merged result IS the exact top-k.
    NOTE: insertion alone does NOT guarantee connectivity (_prune can
    drop a node's last in-link); exactness here rests on the post-build
    connectivity repair plus the exact-mode remainder scan — see
    test_prune_orphans_are_repaired for the direct regression."""
    ids, x = vectors
    got = nsw_batch_topk(corpus, _queries(vectors), K, ef=N).collect()
    by_q: dict[int, list[tuple]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["dist"], r["vec_id"]))
    for qid in QUERY_IDS:
        want = _exact_topk(ids, x, x[list(ids).index(qid)], K)
        assert [v for _, v in sorted(by_q[qid])] == want


def test_prune_orphans_are_repaired():
    """Regression: _prune keeps only a node's 2m closest neighbors, so
    it can drop another node's LAST in-link and orphan it from entry 0
    (observed on ~half of Gaussian seeds at the defaults — e.g. seeds
    1, 3, 5 orphan 1-2 of 500 nodes). Pre-fix, a full-beam "exact"
    search for an orphaned node's own vector missed that node. The
    build must (a) detect and re-link every orphan, and (b) return the
    true NN for a query sitting exactly on a previously-orphaned node."""
    found_orphan_seed = False
    for seed in (1, 3, 5):
        rng = np.random.RandomState(seed)
        x = rng.standard_normal((500, 16))
        g = NswGraph(x, m=8, ef_construction=32)
        if not g.repair_edges:
            continue
        found_orphan_seed = True
        # every node reachable from entry 0 after repair
        assert len(g._reachable_from(0)) == g.n
        # full-beam search lands exactly on each previously-orphaned node
        for _, orphan in g.repair_edges:
            cand, _ = g._search(x[orphan], g.n)
            assert cand[0] == orphan
            # and the full result IS the brute-force order for the top-10
            d = ((x - x[orphan]) ** 2).sum(axis=1)
            want = sorted(range(len(x)), key=lambda i: (d[i], i))[:10]
            assert cand[:10] == want
    assert found_orphan_seed, "expected at least one seed to exercise repair"


def test_persisted_graph_equals_rebuilt(spark, corpus, vectors, tmp_path):
    """save_index analog (nsw_write/nsw_read_topk): searching graphs
    loaded from parquet must be BIT-FOR-BIT the searching of freshly
    built graphs — across the exact, budgeted, and blocked regimes —
    because the stored adjacency IS the built adjacency (repair edges
    included) and both paths share the same search/merge code."""
    path = str(tmp_path / "nsw_index")
    nsw_write(corpus, path)
    variants = (
        {"ef": 64},
        {"ef": N},  # degenerate-exact
        {"ef": 32, "max_visits": 4},  # anytime budget
        {"ef": 64, "blocked": frozenset([0, 5, 9])},  # blocked set
    )
    for kw in variants:
        rebuilt = sorted(
            map(tuple, nsw_batch_topk(corpus, _queries(vectors), K, **kw).collect())
        )
        loaded = sorted(
            map(
                tuple,
                nsw_read_topk(spark, path, _queries(vectors), K, **kw).collect(),
            )
        )
        assert rebuilt == loaded, f"variant {kw}"


def test_from_adjacency_preserves_search_including_repairs():
    """Reconstruction from adjacency (the load path) must reproduce the
    built graph's searches exactly — including on a graph whose
    connectivity depended on repair edges (seed 3 orphans 2 of 500)."""
    rng = np.random.RandomState(3)
    x = rng.standard_normal((500, 16))
    g = NswGraph(x, m=8, ef_construction=32)
    assert g.repair_edges, "seed 3 should exercise repair"
    g2 = NswGraph.from_adjacency(g.x, g.neighbors)
    probe = [x[7], x[g.repair_edges[0][1]], rng.standard_normal(16)]
    for q in probe:
        for kw in ({"max_visits": None}, {"max_visits": 5}):
            a, _ = g._search(q, 500, **kw)
            b, _ = g2._search(q, 500, **kw)
            assert a == b


def test_acorn_loop_composes_over_nsw(spark, corpus, vectors):
    """The reference's ACORN-1 control loop (acorn.py:149-238) composed
    over the distributed graph operator: escalating max_visits rounds,
    predicate-failing candidates accumulate into the blocked set
    (negative cache, acorn.py:154,220-223), survivors accumulate, and
    the final escalation runs at full beam (the escape hatch's
    degenerate-exact endpoint). The composed result must satisfy the
    predicate everywhere and match the exact filtered top-k."""
    ids, x = vectors
    qid = QUERY_IDS[1]
    q = x[list(ids).index(qid)]
    passes = lambda v: v % 2 == 0  # stand-in metadata predicate

    blocked: set[int] = set()
    survivors: dict[int, float] = {}
    large_k = 3 * K  # the reference oversamples (large_k=200 for k=3)
    for mv, ef in ((2, 16), (8, 32), (None, N)):  # escalate; last = exact
        rows = nsw_batch_topk(
            corpus, [(qid, list(q))], large_k, ef=ef, max_visits=mv,
            blocked=frozenset(blocked),
        ).collect()
        for r in rows:
            if passes(r["vec_id"]):
                survivors[r["vec_id"]] = r["dist"]
            else:
                blocked.add(r["vec_id"])  # never traversed into results again
        if len(survivors) >= K and mv is not None:
            continue  # keep escalating anyway to pin the exact endpoint

    final = [v for v, _ in sorted(survivors.items(), key=lambda kv: (kv[1], kv[0]))][:K]
    assert all(passes(v) for v in final)
    want = [v for v in _exact_topk(ids, x, q, 3 * K) if passes(v)][:K]
    assert final == want


def test_nsw_append_preserves_shards_and_stays_exact(spark, tmp_path):
    """r6 add_items analog: appending a new batch (a) leaves the
    existing graph shards byte-untouched, (b) adds shards at fresh
    part_ids, and (c) full-beam search over the grown store equals
    brute force over the UNION — incremental growth loses nothing."""
    import numpy as np

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_append,
        nsw_read_topk,
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "graph")
    nsw_write(emb.filter("vec_id % 3 != 0"), path)
    before = {
        r["part_id"]: (r["n"], r["ids"])
        for r in spark.read.parquet(path)
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sort_array(F.collect_list("vec_id")).alias("ids"),
        )
        .collect()
    }
    nsw_append(emb.filter("vec_id % 3 = 0"), path)
    after = {
        r["part_id"]: (r["n"], r["ids"])
        for r in spark.read.parquet(path)
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sort_array(F.collect_list("vec_id")).alias("ids"),
        )
        .collect()
    }
    for pid, rec in before.items():
        assert after[pid] == rec  # old shards untouched
    new_parts = set(after) - set(before)
    assert new_parts and min(new_parts) > max(before)
    appended_ids = {i for p in new_parts for i in after[p][1]}
    assert appended_ids == {
        r["vec_id"] for r in emb.filter("vec_id % 3 = 0").collect()
    }

    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = X[list(ids).index(5)]
    d2 = ((X - q) ** 2).sum(1)
    order = sorted(range(len(ids)), key=lambda i: (d2[i], ids[i]))[:10]
    want = [(int(ids[i]), round(float(d2[i]), 9)) for i in order]
    got = [
        (r["vec_id"], round(r["dist"], 9))
        for r in nsw_read_topk(spark, path, [(5, list(q))], k=10, ef=10**6)
        .orderBy("dist", "vec_id")
        .collect()
    ]
    assert got == want


def test_nsw_compact_repacks_and_stays_exact(spark, tmp_path):
    """r7 compaction (VERDICT r6 ask #2): after N appends, nsw_compact
    (a) re-packs the store into exactly n_shards fresh graphs under
    part_ids 0..n_shards-1, (b) preserves the id/vector UNION exactly,
    (c) full-beam search over the compacted store equals the grown
    store equals brute force, and (d) the compacted store is a pure
    function of (data, n_shards) — append history erased."""
    import numpy as np

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_append,
        nsw_compact,
        nsw_read_topk,
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "graph")
    nsw_write(emb.filter("vec_id % 4 = 0"), path)
    for r in (1, 2, 3):
        nsw_append(emb.filter(f"vec_id % 4 = {r}"), path)
    shards_before = spark.read.parquet(path).select("part_id").distinct().count()
    ids_before = sorted(
        r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()
    )
    q = emb.filter("vec_id = 5").head()["embedding"]
    grown = sorted(
        map(tuple, nsw_read_topk(spark, path, [(5, list(q))], K, ef=10**6)
            .select("vec_id", F.round("dist", 6)).collect())
    )

    n_new = nsw_compact(spark, path, n_shards=2)
    assert n_new == 2 and shards_before > 2
    stored = spark.read.parquet(path)
    assert stored.select("part_id").distinct().count() == 2
    assert set(
        r["part_id"] for r in stored.select("part_id").distinct().collect()
    ) == {0, 1}
    ids_after = sorted(r["vec_id"] for r in stored.select("vec_id").collect())
    assert ids_after == ids_before  # union preserved exactly

    compacted = sorted(
        map(tuple, nsw_read_topk(spark, path, [(5, list(q))], K, ef=10**6)
            .select("vec_id", F.round("dist", 6)).collect())
    )
    assert compacted == grown  # full-beam exactness invariant

    # brute-force agreement
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    d2 = ((X - np.asarray(q, dtype=np.float64)) ** 2).sum(1)
    order = np.lexsort((ids, d2))[:K]
    assert [p[0] for p in sorted(compacted, key=lambda p: (p[1], p[0]))] == [
        int(ids[i]) for i in order
    ]

    # determinism: compacting an identical store again yields the same
    # node layout (pure function of data + n_shards)
    digest1 = sorted(
        map(tuple, stored.select("part_id", "seq", "vec_id").collect())
    )
    nsw_compact(spark, path, n_shards=2)
    digest2 = sorted(
        map(tuple,
            spark.read.parquet(path).select("part_id", "seq", "vec_id").collect())
    )
    assert digest1 == digest2


def test_nsw_compact_rejects_remote_paths(spark):
    """nsw_compact swaps via os.rename (local-only); a remote URI must
    fail fast BEFORE the tmp write rather than strand a *__compact_tmp
    directory after it (r8 ADVICE)."""
    import pytest

    from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_compact

    with pytest.raises(ValueError, match="local"):
        nsw_compact(spark, "s3a://bucket/graph")


def test_coarse_entry_full_beam_exact_and_deterministic():
    """r8 entry strategy (VERDICT r7 ask #3): searches seeded by the
    coarse √n-sample entry must (a) remain EXACT at full beam — entry
    choice can't change a result the beam never prunes — and (b) be
    deterministic call-over-call; and the build must be byte-stable
    (coarse entry is search-time only, so persisted graphs are
    unchanged by this feature)."""
    rng = np.random.RandomState(11)
    x = rng.standard_normal((400, 8))
    g = NswGraph(x, m=8, ef_construction=32)
    g2 = NswGraph(x, m=8, ef_construction=32)
    assert g.neighbors == g2.neighbors  # build untouched by the feature
    for qi in (0, 7, 123):
        q = x[qi]
        exact = np.argsort(((x - q) ** 2).sum(axis=1), kind="stable")[:10]
        a, _ = g._search(q, 400, coarse_entry=True)
        b, _ = g._search(q, 400, coarse_entry=True)
        assert a == b
        assert a[:10] == [int(v) for v in exact]


def test_coarse_entry_recall_not_worse_on_clustered_data():
    """On clustered data the fixed entry's beam burns visits traveling
    from cluster 0; the coarse entry starts inside the right cluster.
    Recall at a tight ef must be >= the entry-0 recall (the measured
    BENCH_LADDER nsw_partition_scaling effect, pinned directionally)."""
    rng = np.random.RandomState(5)
    centers = rng.standard_normal((20, 16)) * 10.0
    x = np.vstack([c + rng.standard_normal((100, 16)) * 0.5 for c in centers])
    g = NswGraph(x, m=8, ef_construction=32)
    qs = x[rng.randint(0, x.shape[0], 12)]

    def recall(coarse: bool) -> float:
        hits = 0
        for q in qs:
            truth = set(
                np.argsort(((x - q) ** 2).sum(axis=1), kind="stable")[:10].tolist()
            )
            cand, _ = g._search(q, 32, coarse_entry=coarse)
            hits += len(set(cand[:10]) & truth)
        return hits / (10 * len(qs))

    assert recall(True) >= recall(False)


def test_nsw_payload_predicate_search_equals_prefilter(spark, tmp_path):
    """r8 hybrid-over-store: nsw_write(payload_cols=['label']) +
    nsw_read_topk(predicate=...) at full beam must answer exactly the
    pre-filter oracle over the stored rows — the reference's
    filter-functor semantics (traverse all, return passing) made exact
    by the unbounded beam. NULL payload fails the predicate (SQL
    filter semantics)."""
    import random

    from pyspark.sql import functions as F

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write,
    )

    rows = [
        (
            i,
            [round(random.Random(f"p:{i}:{d}").uniform(-1, 1), 4) for d in range(8)],
            None if i % 17 == 0 else i % 4,
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    path = str(tmp_path / "graph")
    nsw_write(df.repartition(3), path, payload_cols=["label"])
    q = rows[5][1]
    got = nsw_read_topk(
        spark, path, [(0, q)], k=7, ef=1_000_000, predicate=F.col("label") == 2
    ).collect()
    want = (
        df.filter(F.col("label") == 2)
        .withColumn(
            "dist",
            F.aggregate(
                F.zip_with(
                    "embedding",
                    F.array(*[F.lit(float(x)) for x in q]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .orderBy("dist", "vec_id")
        .limit(7)
        .collect()
    )
    assert [r["vec_id"] for r in sorted(got, key=lambda r: (r["dist"], r["vec_id"]))] == [
        r["vec_id"] for r in want
    ]
    # NULL-label rows (vec_id % 17 == 0) never surface
    assert all(r["vec_id"] % 17 != 0 for r in got)


def test_nsw_payload_survives_compact_and_append_validates(spark, tmp_path):
    from pyspark.sql import functions as F

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_append,
        nsw_compact,
        nsw_read_topk,
        nsw_write,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 9), float((i * 7) % 5)], i % 3) for i in range(60)],
        "vec_id long, embedding array<double>, label int",
    )
    path = str(tmp_path / "graph")
    nsw_write(df.filter("vec_id < 40").repartition(4), path, payload_cols=["label"])
    # append without the payload → loud schema error, no mixed store
    import pytest as _pytest

    with _pytest.raises(ValueError, match="payload"):
        nsw_append(df.filter("vec_id >= 40"), path)
    nsw_append(df.filter("vec_id >= 40"), path, payload_cols=["label"])
    nsw_compact(spark, path, n_shards=2)
    stored = spark.read.parquet(path)
    assert "label" in stored.columns and stored.count() == 60
    got = nsw_read_topk(
        spark, path, [(0, [1.0, 2.0])], k=5, ef=1_000_000,
        predicate=F.col("label") == 1,
    ).collect()
    assert got and all(r["vec_id"] % 3 == 1 for r in got)


def test_nsw_per_query_predicates_batch_equals_per_query(spark, tmp_path):
    """r8 batched serving over the store: nsw_read_topk(predicates=
    {qid: Column}) gives every query its OWN filter functor (the
    reference's knn_query ParallelFor surface, bindings.cpp:627-646).
    At full beam each query must answer (a) its exact pre-filter
    oracle and (b) exactly what the single-predicate call returns —
    batch ≡ per-query loop. Queries absent from the mapping are
    unfiltered; predicate+predicates together, or a predicate for an
    id not in the batch, raise."""
    import random

    import pytest as _pytest
    from pyspark.sql import functions as F

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write,
    )

    rows = [
        (
            i,
            [round(random.Random(f"b:{i}:{d}").uniform(-1, 1), 4) for d in range(8)],
            None if i % 17 == 0 else i % 4,
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    path = str(tmp_path / "graph")
    nsw_write(df.repartition(3), path, payload_cols=["label"])
    batch = [(0, rows[5][1]), (1, rows[9][1]), (2, rows[14][1])]
    preds = {1: F.col("label") == 2, 2: F.col("label") <= 1}
    got = nsw_read_topk(
        spark, path, batch, k=7, ef=1_000_000, predicates=preds
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)

    def exact(q, pred):
        base = df if pred is None else df.filter(pred)
        return [
            r["vec_id"]
            for r in base.withColumn(
                "dist",
                F.aggregate(
                    F.zip_with(
                        "embedding",
                        F.array(*[F.lit(float(x)) for x in q]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )
            .orderBy("dist", "vec_id")
            .limit(7)
            .collect()
        ]

    for qid, (_, qv) in enumerate(batch):
        mine = [
            r["vec_id"]
            for r in sorted(by_q[qid], key=lambda r: (r["dist"], r["vec_id"]))
        ]
        assert mine == exact(qv, preds.get(qid)), f"query {qid}"
        # batch ≡ the single-query call with the same predicate
        single = nsw_read_topk(
            spark, path, [(qid, qv)], k=7, ef=1_000_000,
            predicate=preds.get(qid),
        ).collect()
        assert mine == [
            r["vec_id"]
            for r in sorted(single, key=lambda r: (r["dist"], r["vec_id"]))
        ], f"query {qid} vs single"
    # NULL payload fails every per-query predicate
    assert all(
        r["vec_id"] % 17 != 0 for r in got if r["query_id"] in preds
    )
    with _pytest.raises(ValueError, match="not both"):
        nsw_read_topk(
            spark, path, batch, k=3, ef=64,
            predicate=F.col("label") == 1, predicates=preds,
        )
    with _pytest.raises(ValueError, match="not in the batch"):
        nsw_read_topk(spark, path, batch, k=3, ef=64,
                      predicates={9: F.col("label") == 1})
    # the ACORN-γ walk composes with per-query predicates: at full beam
    # the batched subgraph answers equal the traverse-all answers
    # (both are the exact pre-filter result; unfiltered queries fall
    # back to the standard walk inside the same batch)
    sub = nsw_read_topk(
        spark, path, batch, k=7, ef=1_000_000, predicates=preds,
        strategy="subgraph",
    ).collect()
    assert sorted(
        (r["query_id"], r["vec_id"]) for r in sub
    ) == sorted((r["query_id"], r["vec_id"]) for r in got)


def test_acorn_gamma_subgraph_search(spark, tmp_path):
    """ACORN-γ (r8b): a γ-densified store searched with
    strategy='subgraph' — only predicate-passing nodes are entered or
    scored (two-hop compensation through failing neighbors). Gates:
    (a) γ build densifies (mean stored degree grows with γ);
    (b) full-beam subgraph search answers the exact pre-filter oracle;
    (c) deterministic across runs; (d) under the SAME visit budget on a
    selective predicate, subgraph recall ≥ traverse-all recall (the
    budget is spent on returnable nodes only); (e) strategy validation
    raises without a predicate and on unknown names."""
    import random

    import pytest as _pytest
    from pyspark.sql import functions as F

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write,
    )

    rows = [
        (
            i,
            [round(random.Random(f"g:{i}:{d}").uniform(-1, 1), 4) for d in range(8)],
            i % 8,
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    p1 = str(tmp_path / "g1")
    p4 = str(tmp_path / "g4")
    nsw_write(df.repartition(2), p1, payload_cols=["label"])
    nsw_write(df.repartition(2), p4, gamma=4, payload_cols=["label"])

    def mean_degree(path):
        agg = (
            spark.read.parquet(path)
            .select(F.size("neighbors").alias("d"))
            .agg(F.avg("d"))
            .head()[0]
        )
        return float(agg)

    assert mean_degree(p4) > 1.5 * mean_degree(p1)  # (a) densified

    pred = F.col("label") == 3
    q = rows[10][1]
    got = nsw_read_topk(
        spark, p4, [(0, q)], k=10, ef=1_000_000,
        predicate=pred, strategy="subgraph",
    ).collect()
    want = (
        df.filter(pred)
        .withColumn(
            "dist",
            F.aggregate(
                F.zip_with(
                    "embedding",
                    F.array(*[F.lit(float(x)) for x in q]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .orderBy("dist", "vec_id")
        .limit(10)
        .collect()
    )
    key = lambda rs: [
        r["vec_id"] for r in sorted(rs, key=lambda r: (r["dist"], r["vec_id"]))
    ]
    exact_ids = key(want)
    assert key(got) == exact_ids  # (b) full-beam exact
    again = nsw_read_topk(
        spark, p4, [(0, q)], k=10, ef=1_000_000,
        predicate=pred, strategy="subgraph",
    ).collect()
    assert key(again) == key(got)  # (c) deterministic

    # (d) recall-per-visit: same tight budget, selective predicate
    def recall(strategy, path):
        res = nsw_read_topk(
            spark, path, [(0, q)], k=10, ef=16, max_visits=12,
            predicate=pred, strategy=strategy,
        ).collect()
        return len(set(r["vec_id"] for r in res) & set(exact_ids))

    assert recall("subgraph", p4) >= recall("traverse_all", p4)

    with _pytest.raises(ValueError, match="requires predicate"):
        nsw_read_topk(spark, p4, [(0, q)], k=5, ef=16, strategy="subgraph")
    with _pytest.raises(ValueError, match="unknown strategy"):
        nsw_read_topk(
            spark, p4, [(0, q)], k=5, ef=16, predicate=pred, strategy="acorn"
        )


def test_gamma_persisted_and_maintenance_inherits(spark, tmp_path):
    """Review r8b: γ rides the store as a constant column, so
    maintenance defaults to the store's own densification —
    nsw_compact/nsw_append without an explicit gamma must NOT silently
    rebuild a γ=4 store at γ=1. Also: gamma < 1 raises at build, and
    duplicate query ids in a batch raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_append,
        nsw_compact,
        nsw_read_topk,
        nsw_write,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 9), float((i * 7) % 5)]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "g")
    nsw_write(df.filter("vec_id < 80").repartition(2), path, gamma=4)

    def degree_and_gamma(p):
        row = (
            spark.read.parquet(p)
            .agg(F.avg(F.size("neighbors")), F.max("gamma"))
            .head()
        )
        return float(row[0]), row[1]

    d0, g0 = degree_and_gamma(path)
    assert g0 == 4
    # append WITHOUT gamma: new shards inherit the store's 4
    nsw_append(df.filter("vec_id >= 80"), path)
    assert spark.read.parquet(path).select("gamma").distinct().collect() == [
        spark.read.parquet(path).select("gamma").distinct().head()
    ]
    # compact WITHOUT gamma: densification survives the rebuild
    nsw_compact(spark, path, n_shards=2)
    d1, g1 = degree_and_gamma(path)
    assert g1 == 4
    assert d1 > 0.6 * d0  # still dense, not de-densified to γ=1
    # full-beam search still exact over the maintained store
    got = nsw_read_topk(spark, path, [(0, [1.0, 2.0])], k=5, ef=1_000_000)
    assert got.count() == 5

    with _pytest.raises(ValueError, match="gamma must be >= 1"):
        nsw_write(df, str(tmp_path / "bad"), gamma=0)
    with _pytest.raises(ValueError, match="duplicate query ids"):
        nsw_read_topk(
            spark, path, [(0, [1.0, 2.0]), (0, [2.0, 1.0])], k=3, ef=16
        )


# ---------------------------------------------------------------------------
# r9: deletion lifecycle (mark_deleted / unmark_deleted / replace_deleted
# analogs) + clustered-store ball-bound shard pruning


def _store_from(corpus, tmp_path, name="g", **kw):
    from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_write

    path = str(tmp_path / name)
    nsw_write(corpus, path, **kw)
    return path


def test_nsw_delete_excluded_and_next_best_fills(spark, corpus, vectors, tmp_path):
    """Deleted ids behave like hnswlib markDelete: never returned, the
    next-best live row fills the kth slot, full beam stays exact over
    the live subset."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_delete

    ids, x = vectors
    path = _store_from(corpus, tmp_path)
    q = _queries(vectors)[0]
    top = [
        r["vec_id"]
        for r in nsw_read_topk(spark, path, [q], K, ef=10**6).collect()
    ]
    dead = top[:2]  # delete the two nearest
    nsw_delete(spark, path, dead)
    got = [
        r["vec_id"]
        for r in nsw_read_topk(spark, path, [q], K, ef=10**6).collect()
    ]
    assert got == _exact_topk(ids, x, np.asarray(q[1]), K, exclude=set(dead))
    assert not (set(dead) & set(got))


def test_nsw_delete_strict_contract(spark, corpus, tmp_path):
    from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_delete

    path = _store_from(corpus, tmp_path)
    with pytest.raises(ValueError, match="not present"):
        nsw_delete(spark, path, [10_000])
    nsw_delete(spark, path, [10_000], strict=False)  # blind tombstone ok


def test_nsw_undelete_restores_exactly(spark, corpus, vectors, tmp_path):
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_delete,
        nsw_undelete,
    )

    ids, x = vectors
    path = _store_from(corpus, tmp_path)
    q = _queries(vectors)[0]
    nsw_delete(spark, path, [q[0], 42])
    assert nsw_undelete(spark, path, [q[0]]) == 1
    got = [
        r["vec_id"]
        for r in nsw_read_topk(spark, path, [q], K, ef=10**6).collect()
    ]
    assert got == _exact_topk(ids, x, np.asarray(q[1]), K, exclude={42})
    assert nsw_undelete(spark, path, [q[0]]) == 0  # nothing left to restore


def test_nsw_upsert_replaces_and_inserts(spark, corpus, vectors, tmp_path):
    """replace_deleted analog: an upserted id answers with its NEW
    vector (old copy dead), a fresh id is a plain insert, and full
    beam equals brute force over the updated corpus."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_upsert

    ids, x = vectors
    path = _store_from(corpus, tmp_path)
    moved = [2.0] * DIM  # far outside the [-1,1] cube
    up = spark.createDataFrame(
        [(5, moved), (9_000, [1.9] * DIM)],
        "vec_id long, embedding array<float>",
    )
    nsw_upsert(up, path)
    got = nsw_read_topk(spark, path, [(0, [2.0] * DIM)], 3, ef=10**6).collect()
    nearest_original = _exact_topk(
        ids, x, np.asarray([2.0] * DIM), 1, exclude={5}
    )[0]
    assert [r["vec_id"] for r in got] == [5, 9_000, nearest_original]
    # the OLD location of id 5 must be dead: querying at its old vector
    # must NOT return id 5 at distance 0
    pos = {int(v): i for i, v in enumerate(ids)}
    old5 = list(x[pos[5]])
    near_old = nsw_read_topk(spark, path, [(0, old5)], 1, ef=10**6).head()
    assert not (near_old["vec_id"] == 5 and near_old["dist"] < 1e-9)


def test_nsw_append_after_delete_revives_id(spark, corpus, vectors, tmp_path):
    """Version-aware tombstones: a copy appended AFTER the delete sits
    above the tombstone's part ceiling and is live, while the old copy
    stays dead."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_append,
        nsw_delete,
    )

    path = _store_from(corpus, tmp_path)
    nsw_delete(spark, path, [5])
    fresh = [1.5] * DIM
    nsw_append(
        spark.createDataFrame([(5, fresh)], "vec_id long, embedding array<float>"),
        path,
    )
    got = nsw_read_topk(spark, path, [(0, fresh)], 1, ef=10**6).head()
    assert got["vec_id"] == 5 and got["dist"] < 1e-9


def test_nsw_compact_reclaims_tombstones(spark, corpus, vectors, tmp_path):
    """Compaction is the physical delete: tombstoned rows leave the
    store, the sidecar is cleared (undelete now a no-op), results are
    unchanged."""
    import os

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_compact,
        nsw_delete,
        nsw_undelete,
    )

    ids, x = vectors
    path = _store_from(corpus, tmp_path)
    nsw_delete(spark, path, [1, 2, 3])
    q = _queries(vectors)[0]
    before = [
        r["vec_id"]
        for r in nsw_read_topk(spark, path, [q], K, ef=10**6).collect()
    ]
    nsw_compact(spark, path, n_shards=2)
    assert spark.read.parquet(path).count() == N - 3
    assert not os.path.exists(path + "/_tombstones")
    after = [
        r["vec_id"]
        for r in nsw_read_topk(spark, path, [q], K, ef=10**6).collect()
    ]
    assert after == before == _exact_topk(
        ids, x, np.asarray(q[1]), K, exclude={1, 2, 3}
    )
    assert nsw_undelete(spark, path, [1]) == 0  # permanence, documented


def test_deleted_excluded_under_predicate_both_strategies(spark, tmp_path):
    """Tombstones compose with hybrid search: full-beam filtered
    results equal the exact pre-filter oracle minus deleted ids, for
    the traverse-all AND the ACORN-γ subgraph walks."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_delete,
        nsw_write,
    )

    rng = random.Random(3)
    rows = [
        (i, [round(rng.uniform(-1, 1), 4) for _ in range(DIM)], i % 3)
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    path = str(tmp_path / "gh")
    nsw_write(df.repartition(3), path, gamma=2, payload_cols=["label"])
    nsw_delete(spark, path, [r[0] for r in rows if r[2] == 0][:4])
    dead = set([r[0] for r in rows if r[2] == 0][:4])
    q = rows[7][1]
    exact = sorted(
        ((sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
         for r in rows if r[2] == 0 and r[0] not in dead),
    )[:5]
    want = [i for _, i in exact]
    for strat in ("traverse_all", "subgraph"):
        got = nsw_read_topk(
            spark, path, [(0, list(q))], 5, ef=10**6,
            predicate=F.col("label") == 0, strategy=strat,
        ).collect()
        assert [r["vec_id"] for r in got] == want, strat


@pytest.fixture(scope="module")
def blob_corpus(spark):
    """Four well-separated Gaussian blobs — the clustered layout where
    ball-bound pruning provably bites."""
    rng = random.Random(11)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(400):
        cx, cy = centers[i % 4]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(DIM - 2)],
            )
        )
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()


def test_clustered_prune_full_beam_exact_and_actually_prunes(
    spark, blob_corpus, tmp_path
):
    """Full-beam pruned search ≡ exact brute force (the ball-bound
    soundness argument end to end), and on blob data the kept-shard
    sets are PROPER subsets — the 100 TB fan-out win is real, not
    vacuous."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write_clustered,
        prune_plan,
    )

    rows = blob_corpus.collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    path = str(tmp_path / "gc")
    nsw_write_clustered(blob_corpus, path, n_shards=8)
    queries = [(qid, list(x[qid])) for qid in (0, 1, 2, 3)]
    got = nsw_read_topk(spark, path, queries, K, ef=10**6, prune=True)
    by_q: dict[int, list[int]] = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    for qid, qv in queries:
        assert by_q[qid] == _exact_topk(ids, x, np.asarray(qv), K), qid
    # the decision layer itself: every query prunes at least one shard
    srows = spark.read.parquet(path + "/_shard_stats").collect()
    parts = np.asarray([r["part_id"] for r in srows], dtype=np.int64)
    cents = np.asarray([list(r["centroid"]) for r in srows], np.float64)
    radii = np.asarray([r["radius"] for r in srows], np.float64)
    counts = np.asarray([r["n"] for r in srows], dtype=np.int64)
    qmat = np.asarray([qv for _, qv in queries], dtype=np.float64)
    kept = prune_plan(parts, cents, radii, counts, qmat, K)
    assert all(len(kp) < len(parts) for kp in kept), [len(kp) for kp in kept]
    # and unpruned agrees at full beam (pruned ≡ unpruned ≡ exact)
    unpruned = nsw_read_topk(spark, path, queries, K, ef=10**6)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, unpruned.collect())
    )


def test_prune_guards(spark, blob_corpus, corpus, tmp_path):
    """prune=True refuses every configuration where the τ bound is
    unsound or the stats are untrustworthy: predicates, blocked sets,
    tombstones, missing sidecar, stale shard set after append — and
    recovers after nsw_stats_write."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_append,
        nsw_delete,
        nsw_read_topk,
        nsw_stats_write,
        nsw_undelete,
        nsw_write_clustered,
    )

    rows = blob_corpus.collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    path = str(tmp_path / "gg")
    nsw_write_clustered(blob_corpus, path, n_shards=4)
    q = [(0, list(x[0]))]
    with pytest.raises(ValueError, match="sound"):
        nsw_read_topk(spark, path, q, K, prune=True, predicate=F.lit(True))
    with pytest.raises(ValueError, match="sound"):
        nsw_read_topk(spark, path, q, K, prune=True, blocked={1})
    nsw_delete(spark, path, [17])
    with pytest.raises(ValueError, match="tombstones"):
        nsw_read_topk(spark, path, q, K, prune=True)
    assert nsw_undelete(spark, path, [17]) == 1
    # append changes the shard set → stats stale → refuse, then refresh
    extra = spark.createDataFrame(
        [(10_000, [9.0] * DIM)], "vec_id long, embedding array<double>"
    )
    nsw_append(extra, path)
    with pytest.raises(ValueError, match="stale"):
        nsw_read_topk(spark, path, q, K, prune=True)
    nsw_stats_write(spark, path)
    got = [
        r["vec_id"]
        for r in nsw_read_topk(spark, path, q, K, ef=10**6, prune=True).collect()
    ]
    all_ids = np.concatenate([ids, [10_000]])
    all_x = np.vstack([x, [[9.0] * DIM]])
    assert got == _exact_topk(all_ids, all_x, np.asarray(q[0][1]), K)
    # a store with no sidecar at all refuses too
    path2 = str(tmp_path / "gn")
    nsw_write(blob_corpus, path2)
    with pytest.raises(ValueError, match="_shard_stats"):
        nsw_read_topk(spark, path2, q, K, prune=True)


def test_prune_decisions_relational_twin_matches_numpy(spark):
    """The registry's nsw_prune_decisions relation (order-free
    decimal-sum DataFrame arithmetic, SQL-replayed by the oracle) must
    agree with the numpy `prune_plan` that the REAL prune path
    executes — same kept verdicts per (query, shard) on the same
    inputs. Radius/centroid floats travel different pipelines
    (decimal-rounded vs raw float64), so the pin is on the DECISIONS,
    with stats agreement to 1e-9."""
    import __spark_entry__ as entry
    from acorn_hybrid_vector_search_spark.operators.graph_ann import prune_plan

    sf = "/root/testdata/sf0.001"
    rel = {
        (r["query_id"], r["part_id"]): r["kept"]
        for r in entry._q_nsw_prune_decisions(spark, sf).collect()
    }
    emb = entry._clustered_embeddings(spark, sf).collect()
    ids = np.asarray([r["vec_id"] for r in emb])
    x = np.asarray([list(r["embedding"]) for r in emb], dtype=np.float64)
    shard = np.asarray([int(r["label"]) % 8 for r in emb], dtype=np.int64)
    parts = np.unique(shard)
    cents = np.stack([x[shard == s].mean(axis=0) for s in parts])
    radii = np.asarray(
        [
            np.sqrt(((x[shard == s] - c) ** 2).sum(axis=1)).max()
            for s, c in zip(parts, cents)
        ]
    )
    counts = np.asarray([(shard == s).sum() for s in parts], dtype=np.int64)
    pos = {int(v): i for i, v in enumerate(ids)}
    qmat = np.stack([x[pos[q]] for q in entry._PRUNE_QIDS])
    kept = prune_plan(parts, cents, radii, counts, qmat, 10)
    for qi, qid in enumerate(entry._PRUNE_QIDS):
        for s in parts.tolist():
            assert rel[(qid, s)] == (s in set(kept[qi].tolist())), (qid, s)
    # and the relation shows BOTH verdicts (pruning is real, not vacuous)
    vals = set(rel.values())
    assert vals == {True, False}, vals


def test_nsw_upsert_payload_mismatch_leaves_store_intact(spark, tmp_path):
    """r9 review: a doomed upsert must fail BEFORE its tombstones land —
    otherwise the incoming ids' live copies go invisible with no
    replacement written."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_upsert

    rng = random.Random(5)
    rows = [
        (i, [round(rng.uniform(-1, 1), 4) for _ in range(DIM)], i % 2)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    path = str(tmp_path / "gp")
    nsw_write(df, path, payload_cols=["label"])
    bad = spark.createDataFrame(
        [(7, [0.5] * DIM)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="payload mismatch"):
        nsw_upsert(bad, path)  # no label column
    import os

    assert not os.path.exists(path + "/_tombstones")
    got = nsw_read_topk(
        spark, path, [(0, list(rows[7][1]))], 1, ef=10**6
    ).head()
    assert got["vec_id"] == 7  # still live


def test_nsw_write_rebuild_clears_sidecars(spark, corpus, vectors, tmp_path):
    """r9 review: under dynamic partitionOverwriteMode a rebuild
    replaces only part_id dirs — stale tombstones (whose ceilings
    cover the new 0-based shards) would silently delete rebuilt rows,
    so the writers clear the sidecars explicitly."""
    import os

    from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_delete

    ids, x = vectors
    path = _store_from(corpus, tmp_path)
    nsw_delete(spark, path, [int(ids[0])])
    assert os.path.exists(path + "/_tombstones")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        nsw_write(corpus, path)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert not os.path.exists(path + "/_tombstones")
    q = _queries(vectors)[0]
    got = [
        r["vec_id"]
        for r in nsw_read_topk(spark, path, [q], K, ef=10**6).collect()
    ]
    assert got == _exact_topk(ids, x, np.asarray(q[1]), K)  # nothing dead


def test_prune_refuses_content_stale_stats(spark, blob_corpus, tmp_path):
    """r9 review: a same-shard-set rewrite must not serve old ball
    stats — any shard directory younger than the sidecar refuses."""
    import os
    import time as _time

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write_clustered,
    )

    path = str(tmp_path / "gs")
    nsw_write_clustered(blob_corpus, path, n_shards=4)
    rows = blob_corpus.collect()
    q = [(0, list(rows[0]["embedding"]))]
    nsw_read_topk(spark, path, q, K, ef=10**6, prune=True).count()  # fine
    part = next(
        d for d in os.listdir(path) if d.startswith("part_id=")
    )
    _time.sleep(0.01)
    _mutate_shard_dir(path, part)  # simulate a same-set rewrite
    with pytest.raises(ValueError, match="rewritten"):
        nsw_read_topk(spark, path, q, K, prune=True)
    # r10: a bare TOUCH (mtime moves, content identical) stays FRESH —
    # the fingerprint evidence reads bytes, not timestamps
    os.remove(os.path.join(path, part, "_rewrite_marker"))
    os.utime(os.path.join(path, part))
    nsw_read_topk(spark, path, q, K, ef=10**6, prune=True).count()


def test_nsw_write_clustered_rejects_cluster_id_column(spark, blob_corpus, tmp_path):
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write_clustered,
    )

    bad = blob_corpus.withColumn("cluster_id", F.lit(1))
    with pytest.raises(ValueError, match="cluster_id"):
        nsw_write_clustered(bad, str(tmp_path / "gx"), n_shards=4)


def test_prune_match_sound_and_prunes_by_passing_counts(spark, tmp_path):
    """r9b predicate-aware pruning: with per-shard exact-match counts,
    the τ cover counts PASSING members and zero-passing shards are
    skipped outright — full beam answers the exact pre-filter oracle,
    kept sets shrink vs plain pruning when the value is concentrated,
    and the guard matrix holds (needs prune, uncovered attr, stale
    attr sidecar)."""
    import os
    import time as _time

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_stats_write,
        nsw_write_clustered,
        prune_plan,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        attr_stats_path,
        load_attr_stats,
    )

    rng = random.Random(13)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(400):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(DIM - 2)],
                b,  # label IS the blob → the value concentrates spatially
            )
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    path = str(tmp_path / "gm")
    nsw_write_clustered(
        df, path, n_shards=8, payload_cols=["label"], stats_attrs=["label"]
    )
    q = rows[1][1]  # a blob-1 point; search for label 3 (the FAR blob)
    got = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6,
        prune=True, prune_conj={"label": ("exact", 3)},
    ).collect()
    exact = sorted(
        (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
        for r in rows
        if r[2] == 3
    )[:5]
    assert [r["vec_id"] for r in got] == [i for _, i in exact]
    # kept sets: passing counts prune strictly harder here (the value
    # lives in a far corner — plain pruning must keep the near shards,
    # match pruning skips every zero-passing one)
    srows = spark.read.parquet(path + "/_shard_stats").collect()
    parts = np.asarray([r["part_id"] for r in srows], dtype=np.int64)
    cents = np.asarray([list(r["centroid"]) for r in srows], np.float64)
    radii = np.asarray([r["radius"] for r in srows], np.float64)
    counts = np.asarray([r["n"] for r in srows], dtype=np.int64)
    ac = load_attr_stats(spark, attr_stats_path(path))
    pc = np.asarray(
        [ac["label"].get(int(p), {}).get("3", 0) for p in parts],
        dtype=np.int64,
    )
    assert (pc == 0).any()  # zero-passing shards exist
    qm = np.asarray([q], dtype=np.float64)
    plain = prune_plan(parts, cents, radii, counts, qm, 5)[0]
    match = prune_plan(parts, cents, radii, pc, qm, 5, possible=pc > 0)[0]
    assert len(match) < len(plain), (len(match), len(plain))
    assert set(match.tolist()) <= {
        int(p) for p, c in zip(parts, pc) if c > 0
    }
    # guards
    with pytest.raises(ValueError, match="requires prune"):
        nsw_read_topk(spark, path, [(0, list(q))], 5, prune_conj={"label": ("exact", 3)})
    with pytest.raises(ValueError, match="cover"):
        nsw_read_topk(
            spark, path, [(0, list(q))], 5, prune=True,
            prune_conj={"nope": ("exact", 3)},
        )
    # absent value everywhere → empty result, not an error
    assert (
        nsw_read_topk(
            spark, path, [(0, list(q))], 5, ef=10**6,
            prune=True, prune_conj={"label": ("exact", 99)},
        ).count()
        == 0
    )
    # content-stale attr sidecar refuses
    part = next(d for d in os.listdir(path) if d.startswith("part_id="))
    _time.sleep(0.01)
    _mutate_shard_dir(path, part)
    with pytest.raises(ValueError, match="stale"):
        nsw_read_topk(
            spark, path, [(0, list(q))], 5, prune=True,
            prune_conj={"label": ("exact", 3)},
        )
    # refresh restores service
    nsw_stats_write(spark, path, attrs=["label"])
    got2 = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6,
        prune=True, prune_conj={"label": ("exact", 3)},
    ).collect()
    assert [r["vec_id"] for r in got2] == [i for _, i in exact]


def test_rebuild_sidecar_clear_rejects_remote_paths(spark):
    """ADVICE r9: clear_sidecars used to silently no-op on remote
    paths, so rebuilding a tombstoned remote store via nsw_write /
    nsw_write_clustered left stale tombstones whose ceilings cover the
    rebuilt 0-based shard ids (silently deleting arbitrary rebuilt
    rows). Rebuild-over-existing-path writers now fail fast on '://'
    — remote rebuilds go through a fresh versioned prefix."""
    import pytest

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        clear_sidecars,
    )

    with pytest.raises(ValueError, match="versioned prefix"):
        clear_sidecars("s3a://bucket/graph")
    df = spark.createDataFrame(
        [(0, [0.0] * 4)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="versioned prefix"):
        nsw_write(df, "s3a://bucket/graph")


def test_prune_staleness_same_tick_reads_as_stale(spark, tmp_path):
    """ADVICE r9, upgraded r10: a shard REWRITTEN in the same
    filesystem-timestamp tick as the stats must read as stale. The
    evidence is the per-shard CONTENT fingerprint nsw_stats_write
    records into the sidecar — so the guard catches a same-tick
    rewrite even when every mtime is forced EQUAL (where any
    mtime-comparison rule is blind); stores written before the
    fingerprint existed fall back to the >= mtime rule (ambiguity
    reads as stale)."""
    import os

    import pytest

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write_clustered,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        stats_path,
        STORE_FP_FILE,
    )

    path = str(tmp_path / "graph")
    df = spark.createDataFrame(
        [(i, [float(i % 4) * 3.0, float(i)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    nsw_write_clustered(df, path, n_shards=4)
    # sanity: fresh stats prune fine
    nsw_read_topk(spark, path, [(0, [0.0, 2.0])], 3, ef=10**6, prune=True)
    # same-tick rewrite: content changes, then ALL mtimes forced equal
    stats_m = os.stat(stats_path(path)).st_mtime_ns
    shard = next(d for d in os.listdir(path) if d.startswith("part_id="))
    _mutate_shard_dir(path, shard)
    os.utime(os.path.join(path, shard), ns=(stats_m, stats_m))
    with pytest.raises(ValueError, match="stale _shard_stats"):
        nsw_read_topk(spark, path, [(0, [0.0, 2.0])], 3, ef=10**6, prune=True)
    # legacy stores (no fingerprint file): the >= mtime fallback still
    # reads a same-tick shard as stale
    os.remove(os.path.join(path, shard, "_rewrite_marker"))
    os.remove(os.path.join(stats_path(path), STORE_FP_FILE))
    # removing the fp file bumped the sidecar dir mtime — pin it back
    # so the fallback compares against the original stats tick
    os.utime(stats_path(path), ns=(stats_m, stats_m))
    os.utime(os.path.join(path, shard), ns=(stats_m - 10, stats_m - 10))
    nsw_read_topk(spark, path, [(0, [0.0, 2.0])], 3, ef=10**6, prune=True)
    os.utime(os.path.join(path, shard), ns=(stats_m, stats_m))
    with pytest.raises(ValueError, match="stale _shard_stats"):
        nsw_read_topk(spark, path, [(0, [0.0, 2.0])], 3, ef=10**6, prune=True)


def test_stats_memo_rekeys_on_content_change(spark, tmp_path):
    """ADVICE r9: the load_stats memo key is a per-file content
    fingerprint (name+size+mtime of every sidecar file), not the bare
    directory mtime — a sidecar rewritten within the same timestamp
    tick must still invalidate the memo."""
    import os

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_stats_write,
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        load_stats,
        stats_path,
    )

    path = str(tmp_path / "graph")
    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    nsw_write(df.repartition(2), path)
    nsw_stats_write(spark, path)
    spath = stats_path(path)
    first = load_stats(spark, spath)
    dir_m = os.stat(spath).st_mtime_ns
    # rewrite the sidecar (new part-file names/sizes), then force the
    # DIRECTORY mtime back to the old tick — a bare-mtime key would
    # serve the stale memo entry
    nsw_stats_write(spark, path)
    os.utime(spath, ns=(dir_m, dir_m))
    second = load_stats(spark, spath)
    assert second is not first  # re-loaded, not the memoized object


def _blob_rows_with(rng_seed=13, n=400, extra=None):
    """Four well-separated blobs; `extra(i, blob)` appends a payload."""
    rng = random.Random(rng_seed)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(n):
        b = i % 4
        cx, cy = centers[b]
        vec = [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)] + [
            round(rng.gauss(0, 0.5), 4) for _ in range(DIM - 2)
        ]
        rows.append((i, vec, b) if extra is None else (i, vec, *extra(i, b)))
    return rows


def test_prune_range_zone_maps_sound_and_skip_fail_shards(spark, tmp_path):
    """r10 numeric zone maps: per-shard (vmin, vmax, n_present) make
    ball-bound pruning sound under §2.3's range ops — all-pass shards
    contribute exact counts to the τ cover, none-pass shards are
    skipped outright, straddling shards stay searchable; full beam
    answers the exact pre-filter oracle for <, <= (leq), >, >=."""
    import os
    import time as _time

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_stats_write,
        nsw_write_clustered,
        prune_plan,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        load_numeric_stats,
        numeric_stats_path,
        range_shard_verdict,
    )

    # weight rides the blob: blob b has weights in [10b, 10b+4]
    rows = _blob_rows_with(extra=lambda i, b: (b * 10 + i % 5,))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, weight int"
    )
    path = str(tmp_path / "gz")
    nsw_write_clustered(
        df, path, n_shards=8, payload_cols=["weight"],
        numeric_stats_attrs=["weight"],
    )
    q = rows[1][1]  # a blob-1 point

    def brute(pred, kq=5):
        return [
            i
            for _, i in sorted(
                (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
                for r in rows
                if pred(r[2])
            )[:kq]
        ]

    # weight < 10: only blob 0 passes — blob 1-3 shards are none-pass
    got = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6,
        prune=True, prune_conj={"weight": ("<", 10)},
    ).collect()
    assert [r["vec_id"] for r in got] == brute(lambda w: w < 10)
    # zone-map verdicts: none-pass shards exist and are excluded
    zones = load_numeric_stats(spark, numeric_stats_path(path))["weight"]
    srows = spark.read.parquet(path + "/_shard_stats").collect()
    parts = np.asarray([r["part_id"] for r in srows], dtype=np.int64)
    cents = np.asarray([list(r["centroid"]) for r in srows], np.float64)
    radii = np.asarray([r["radius"] for r in srows], np.float64)
    verdicts = [
        range_shard_verdict(*zones[int(p)], "<", 10.0) for p in parts
    ]
    cert = np.asarray([c for c, _ in verdicts], dtype=np.int64)
    poss = np.asarray([m for _, m in verdicts], dtype=bool)
    assert (~poss).any()  # provably-failing shards exist
    kept = prune_plan(
        parts, cents, radii, cert, np.asarray([q]), 5, possible=poss
    )[0]
    assert set(kept.tolist()) <= set(parts[poss].tolist())
    # straddling ranges stay exact: weight < 12 splits blob 1's shards
    got2 = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6,
        prune=True, prune_conj={"weight": ("leq", 12)},
    ).collect()
    assert [r["vec_id"] for r in got2] == brute(lambda w: w <= 12)
    v2 = [range_shard_verdict(*zones[int(p)], "<=", 12.0) for p in parts]
    assert any(c == 0 and m for c, m in v2)  # straddlers certify nothing
    # open-ended ranges: everything passes ≡ plain pruned top-k;
    # nothing passes → empty result, not an error
    got3 = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6,
        prune=True, prune_conj={"weight": (">=", -1)},
    ).collect()
    assert [r["vec_id"] for r in got3] == brute(lambda w: True)
    assert (
        nsw_read_topk(
            spark, path, [(0, list(q))], 5, ef=10**6,
            prune=True, prune_conj={"weight": (">", 999)},
        ).count()
        == 0
    )
    # guard matrix
    with pytest.raises(ValueError, match="requires prune"):
        nsw_read_topk(
            spark, path, [(0, list(q))], 5, prune_conj={"weight": ("<", 10)}
        )
    with pytest.raises(ValueError, match="op must be"):
        nsw_read_topk(
            spark, path, [(0, list(q))], 5, prune=True,
            prune_conj={"weight": ("==", 10)},
        )
    with pytest.raises(ValueError, match="does not cover"):
        nsw_read_topk(
            spark, path, [(0, list(q))], 5, prune=True,
            prune_conj={"nope": ("<", 10)},
        )
    with pytest.raises(ValueError, match="non-numeric"):
        nsw_stats_write(spark, path, numeric_attrs=["vector"])
    # content-stale zone maps refuse; refresh restores
    part = next(d for d in os.listdir(path) if d.startswith("part_id="))
    _time.sleep(0.01)
    _mutate_shard_dir(path, part)
    # (the ball-stats guard fires first — any sidecar staleness refuses)
    with pytest.raises(ValueError, match="stale _shard"):
        nsw_read_topk(
            spark, path, [(0, list(q))], 5, prune=True,
            prune_conj={"weight": ("<", 10)},
        )
    nsw_stats_write(spark, path, numeric_attrs=["weight"])
    got4 = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6,
        prune=True, prune_conj={"weight": ("<", 10)},
    ).collect()
    assert [r["vec_id"] for r in got4] == brute(lambda w: w < 10)


def test_prune_match_per_query_batch_equals_loop(spark, tmp_path):
    """r10 per-query exact-match pruning: a prune_conj mapping
    query_id → {attr: ('exact', value)} gives every query its OWN
    zone-map prune + walk mask from ONE store read; each query's rows
    equal (a) the exact pre-filter brute force for its match and (b)
    the single-query shared-conjunction call — and unmatched queries
    prune/walk plain."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write_clustered,
    )

    rows = _blob_rows_with()
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    path = str(tmp_path / "gpm")
    nsw_write_clustered(
        df, path, n_shards=8, payload_cols=["label"], stats_attrs=["label"]
    )
    qs = [(0, rows[1][1]), (1, rows[2][1]), (2, rows[3][1])]
    matches = {0: {"label": ("exact", 3)}, 1: {"label": ("exact", 0)}}  # qid 2: unfiltered
    got = nsw_read_topk(
        spark, path, qs, 5, ef=10**6, prune=True, prune_conj=matches,
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])

    def brute(qv, pred):
        return [
            i
            for _, i in sorted(
                (sum((a - b) ** 2 for a, b in zip(r[1], qv)), r[0])
                for r in rows
                if pred(r[2])
            )[:5]
        ]

    assert by_q[0] == brute(qs[0][1], lambda b: b == 3)
    assert by_q[1] == brute(qs[1][1], lambda b: b == 0)
    assert by_q[2] == brute(qs[2][1], lambda b: True)
    # batch ≡ per-query loop (shared conjunction / plain prune)
    for qid, qv in qs:
        if qid in matches:
            solo = nsw_read_topk(
                spark, path, [(qid, qv)], 5, ef=10**6,
                prune=True, prune_conj=matches[qid],
            ).collect()
        else:
            solo = nsw_read_topk(
                spark, path, [(qid, qv)], 5, ef=10**6, prune=True,
            ).collect()
        assert by_q[qid] == [r["vec_id"] for r in solo]
    # guards: unknown qid, empty mapping
    with pytest.raises(ValueError, match="not in the batch"):
        nsw_read_topk(
            spark, path, qs, 5, prune=True,
            prune_conj={9: {"label": ("exact", 1)}},
        )
    with pytest.raises(ValueError, match="empty prune_conj"):
        nsw_read_topk(spark, path, qs, 5, prune=True, prune_conj={})


def test_nsw_recluster_restores_prunability_after_growth(spark, tmp_path):
    """r10 lifecycle close (VERDICT r9 'compaction and clustering are
    mutually destructive'): write_clustered → append (breaks cluster
    purity, stats go stale) → delete → nsw_recluster → pruned search
    hash-equals brute force over the live corpus, shards actually
    prune again, and the attr sidecar is refreshed for exact-match
    pruning."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_delete,
        nsw_read_topk,
        nsw_recluster,
        nsw_write_clustered,
        prune_plan,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        load_stats,
        stats_path,
    )

    rows = _blob_rows_with(n=320)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    path = str(tmp_path / "grc")
    nsw_write_clustered(
        df, path, n_shards=8, payload_cols=["label"], stats_attrs=["label"]
    )
    # growth: a new batch of blob-0-adjacent points lands as appended
    # shards — cluster purity broken, stats stale
    from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_append

    extra = _blob_rows_with(rng_seed=99, n=80)
    extra = [(i + 1000, v, b) for (i, v, b) in extra]
    nsw_append(
        spark.createDataFrame(
            extra, "vec_id long, embedding array<double>, label int"
        ),
        path,
        payload_cols=["label"],
    )
    q = rows[1][1]
    with pytest.raises(ValueError, match="stale _shard_stats"):
        nsw_read_topk(spark, path, [(0, list(q))], 5, prune=True)
    # delete a slice, then recluster: reclaims tombstones + re-purifies
    dead = [i for i, _, _ in rows if i % 10 == 7]
    nsw_delete(spark, path, dead)
    n_new = nsw_recluster(
        spark, path, n_shards=8, stats_attrs=["label"]
    )
    assert n_new == 8
    live = [r for r in rows if r[0] % 10 != 7] + extra

    def brute(qv, pred):
        return [
            i
            for _, i in sorted(
                (sum((a - b) ** 2 for a, b in zip(r[1], qv)), r[0])
                for r in live
                if pred(r[2])
            )[:5]
        ]

    got = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6, prune=True
    ).collect()
    assert [r["vec_id"] for r in got] == brute(q, lambda b: True)
    # prunability restored: the plan drops shards again
    parts, cents, radii, counts = load_stats(spark, stats_path(path))
    kept = prune_plan(parts, cents, radii, counts, np.asarray([q]), 5)[0]
    assert len(kept) < len(parts), (len(kept), len(parts))
    # the refreshed attr sidecar serves exact-match pruning immediately
    got_m = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6,
        prune=True, prune_conj={"label": ("exact", 3)},
    ).collect()
    assert [r["vec_id"] for r in got_m] == brute(q, lambda b: b == 3)
    # deletions are permanent (the nsw_compact contract): a deleted id
    # never reappears
    all_ids = {
        r["vec_id"]
        for r in nsw_read_topk(
            spark, path, [(0, list(q))], 300, ef=10**6
        ).collect()
    }
    assert not (all_ids & set(dead))
    # remote refuses
    with pytest.raises(ValueError, match="local"):
        nsw_recluster(spark, "s3a://bucket/graph")


def test_range_decisions_relational_twin_matches_verdict_helper(spark):
    """r10b disclosure pin: the nsw_range_decisions relation (per-shard
    vmin/vmax/n_present + all-pass/none-pass/straddle verdict +
    certain/possible) agrees with the `range_shard_verdict` the real
    prune path executes, shard by shard."""
    import __spark_entry__ as entrymod
    from acorn_hybrid_vector_search_spark.operators.store import (
        range_shard_verdict,
    )

    rows = entrymod._q_nsw_range_decisions(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    seen_verdicts = set()
    for r in rows:
        certain, possible = range_shard_verdict(
            r["vmin"], r["vmax"], r["n_present"], "<", 25.0
        )
        assert certain == r["certain"], r
        assert possible == r["possible"], r
        seen_verdicts.add(r["verdict"])
        if r["verdict"] == "all_pass":
            assert certain == r["n_present"] and possible
        elif r["verdict"] == "none_pass":
            assert certain == 0 and not possible
        else:
            assert certain == 0 and possible
    # the corpus exercises all three verdict classes
    assert seen_verdicts == {"all_pass", "none_pass", "straddle"}


def _mutate_shard_dir(path, part):
    """Simulate a WRITER's shard rewrite for staleness tests: change the
    shard directory's CONTENT fingerprint (the r10 fallback evidence —
    a real rewrite lands fresh part-file names; a bare mtime touch is
    correctly fresh now) with a spark-invisible "_"-prefixed file, and
    bump the store-version token exactly like every in-API mutator does
    (r11: the token is the O(1) fast path; a matching token short-
    circuits the fingerprint walk by design — see
    test_store_version_token_protocol for the fast-path pins)."""
    import os

    from acorn_hybrid_vector_search_spark.operators.store import (
        bump_store_version,
    )

    with open(os.path.join(path, part, "_rewrite_marker"), "w") as f:
        f.write("x")
    bump_store_version(path)


def test_prune_match_canonical_value_lookup(spark, tmp_path):
    """review r10: the sidecar stores CAST(col AS STRING); the walk
    mask uses Catalyst equality with numeric coercion — so the counts
    lookup must find the '3' key for value 3.0 (and vice versa), or a
    type-spelling mismatch silently prunes every shard and returns
    empty where the prefilter answer has rows."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write_clustered,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        canon_value_count,
    )

    assert canon_value_count({"3": 7}, 3.0) == 7
    assert canon_value_count({"3.0": 7}, 3) == 7
    assert canon_value_count({"3": 7}, "3") == 7
    assert canon_value_count({"3": 7}, 4) == 0
    assert canon_value_count({"x": 7}, 3) == 0

    rows = _blob_rows_with(n=200)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    path = str(tmp_path / "gcv")
    nsw_write_clustered(
        df, path, n_shards=8, payload_cols=["label"], stats_attrs=["label"]
    )
    q = rows[1][1]
    want = [
        i
        for _, i in sorted(
            (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
            for r in rows
            if r[2] == 3
        )[:5]
    ]
    # float spelling of the int label: the mask matches via coercion,
    # and the counts lookup must agree
    got = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6,
        prune=True, prune_conj={"label": ("exact", 3.0)},
    ).collect()
    assert [r["vec_id"] for r in got] == want


def test_router_sidecar_helpers_remote_missing_read_as_uncovered(spark):
    """review r10: the router-facing helpers must stay TOTAL on remote
    paths (ann_search calls them on every invocation) — a remote store
    missing an optional sidecar reads as uncovered/None, never an
    AnalysisException. file:// is '://'-shaped, so a nonexistent
    file:// path exercises exactly the remote branch."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        estimate_kept_fraction,
        pruned_full_beam,
        pruned_match_attrs,
        pruned_range_attrs,
        store_has_tombstones,
    )

    missing = "file:///nonexistent_acorn_probe_xyz/graph"
    assert pruned_match_attrs(spark, missing) == frozenset()
    assert pruned_range_attrs(spark, missing) == frozenset()
    assert estimate_kept_fraction(spark, missing, [0.0, 0.0], 5) is None
    assert pruned_full_beam(spark, missing, 5) == 5
    assert store_has_tombstones(spark, missing) is False


# ---------------------------------------------------------------------------
# r11: O(1) store-version freshness protocol (VERDICT r10 ask #1)


def test_store_version_token_protocol(spark, tmp_path):
    """The token fast path and its two fallback directions:

    - every in-API mutator bumps ``_store_version.json``; nsw_stats_write
      records the token it computed against, so the serving-path
      freshness check is ONE file compare (no per-shard walk);
    - token MATCH short-circuits the fingerprint walk by design (the
      accepted trade: out-of-API writes are out-of-contract — pinned so
      the behavior is a documented decision, not an accident);
    - token MISMATCH falls back to the r10 content fingerprints rather
      than refusing outright: a mutation that changed shard content
      refuses (stale-token-refuses), while a mutation that did NOT
      touch shard content (tombstone write) keeps the stats fresh —
      delete/undelete must not permanently demote prunability;
    - a store with no token at all (legacy layout) uses the fingerprint
      walk exactly as in r10 (legacy-fallback pin)."""
    import json
    import os

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_delete,
        nsw_undelete,
        nsw_write_clustered,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        bump_store_version,
        check_stats_fresh,
        read_store_version,
        stats_path,
        STORE_FP_FILE,
        STORE_VERSION_FILE,
    )

    path = str(tmp_path / "gv")
    df = spark.createDataFrame(
        [(i, [float(i % 4) * 3.0, float(i)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    nsw_write_clustered(df, path, n_shards=4)
    spath = stats_path(path)
    tok = read_store_version(path)
    assert tok is not None and tok["v"] >= 1
    with open(os.path.join(spath, STORE_FP_FILE)) as f:
        recorded = json.load(f)
    assert recorded["__store_version__"] == tok
    assert check_stats_fresh(path, spath) == []

    # fast path pin: an out-of-API content change WITHOUT a bump is
    # invisible to the token compare (the walk would have caught it)
    shard = next(d for d in os.listdir(path) if d.startswith("part_id="))
    with open(os.path.join(path, shard, "_oob_marker"), "w") as f:
        f.write("x")
    assert check_stats_fresh(path, spath) == []

    # stale-token-refuses: a bump (what every writer does) drops to the
    # fingerprint walk, which catches the content change
    bump_store_version(path)
    assert check_stats_fresh(path, spath) == [shard]

    # token mismatch with UNCHANGED content stays fresh: tombstone
    # writers bump but never touch shard bytes, and prunability must
    # come back after undelete without a stats rewrite
    os.remove(os.path.join(path, shard, "_oob_marker"))
    assert check_stats_fresh(path, spath) == []
    v_before = read_store_version(path)["v"]
    nsw_delete(spark, path, [0])
    assert read_store_version(path)["v"] > v_before
    nsw_undelete(spark, path, [0])
    assert read_store_version(path)["v"] > v_before + 1
    assert check_stats_fresh(path, spath) == []

    # legacy-fallback pin: no token file at all → the r10 fingerprint
    # walk governs alone (fresh content passes, a marker refuses)
    os.remove(os.path.join(path, STORE_VERSION_FILE))
    assert read_store_version(path) is None
    assert check_stats_fresh(path, spath) == []
    with open(os.path.join(path, shard, "_oob_marker"), "w") as f:
        f.write("x")
    assert check_stats_fresh(path, spath) == [shard]


def test_stats_fresh_detects_deleted_shard(spark, tmp_path):
    """ADVICE r10: a shard RECORDED in the fingerprint snapshot but
    since deleted from disk must read as stale — the old one-way
    iteration over current dirs reported coverage for a shard set the
    stats no longer describe, and the router then dispatched into
    nsw_read_topk's shard-set guard."""
    import os
    import shutil

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write_clustered,
        pruned_match_attrs,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        bump_store_version,
        check_stats_fresh,
        stats_path,
    )

    path = str(tmp_path / "gd")
    df = spark.createDataFrame(
        [(i, [float(i % 4) * 3.0, float(i)], i % 4) for i in range(24)],
        "vec_id long, embedding array<double>, label int",
    )
    nsw_write_clustered(
        df, path, n_shards=4, payload_cols=["label"], stats_attrs=["label"]
    )
    shard = sorted(
        d for d in os.listdir(path) if d.startswith("part_id=")
    )[0]
    shutil.rmtree(os.path.join(path, shard))
    bump_store_version(path)  # what any real shard-deleting writer does
    assert shard in check_stats_fresh(path, stats_path(path))
    # and the router-facing coverage helper reports uncovered, so rule 6
    # falls back instead of routing into the shard-set guard
    assert pruned_match_attrs(spark, path) == frozenset()


def test_canon_value_count_booleans(spark, tmp_path):
    """ADVICE r10 (medium): Spark's CAST(boolcol AS STRING) spells
    'true'/'false' while str(True) is 'True' — a boolean predicate
    value must find the lowercase key, must NOT cross over to a
    numeric column's '1' key, and the end-to-end exact-match prune over a
    boolean payload answers the exact filtered oracle instead of
    silently pruning every shard."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write_clustered,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        canon_value_count,
    )

    assert canon_value_count({"true": 5, "false": 3}, True) == 5
    assert canon_value_count({"true": 5, "false": 3}, False) == 3
    assert canon_value_count({"1": 7, "0": 2}, True) == 0
    assert canon_value_count({"true": 5}, 1) == 0

    rows = [
        (i, [float(i % 4) * 3.0, float(i)], i % 3 == 0) for i in range(24)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, flag boolean"
    )
    path = str(tmp_path / "gb")
    nsw_write_clustered(
        df, path, n_shards=4, payload_cols=["flag"], stats_attrs=["flag"]
    )
    q = rows[1][1]
    got = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6,
        prune=True, prune_conj={"flag": ("exact", True)},
    ).collect()
    exact = sorted(
        (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
        for r in rows
        if r[2]
    )[:5]
    assert [r["vec_id"] for r in got] == [i for _, i in exact]


def test_absent_ok_swallows_legacy_path_message():
    """ADVICE r10: older Spark versions raise 'Path does not exist'
    without error classes — a remote store lacking an optional sidecar
    must read as uncovered on those versions too, and every other
    AnalysisException still propagates."""
    import pytest
    from pyspark.errors import AnalysisException

    from acorn_hybrid_vector_search_spark.operators.store import (
        absent_ok,
    )

    def boom_legacy():
        raise AnalysisException("Path does not exist: s3a://b/x/_shard_stats")

    assert absent_ok(boom_legacy, frozenset()) == frozenset()

    def boom_other():
        raise AnalysisException("TABLE_OR_VIEW_NOT_FOUND: nope")

    with pytest.raises(AnalysisException):
        absent_ok(boom_other, None)


# ---------------------------------------------------------------------------
# r11: conjunctive zone-map pruning (VERDICT r10 ask #3 — the
# reference's literal class-2 query shape, acorn.py:296-298)


@pytest.fixture(scope="module")
def conj_store(spark, tmp_path_factory):
    """Blob corpus with BOTH zone-map kinds: a categorical label that
    concentrates spatially (blob id) and a numeric weight slab riding
    the label — built clustered with both sidecars."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write_clustered,
    )

    rng = random.Random(17)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(400):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)]
                + [round(rng.gauss(0, 0.5), 4) for _ in range(DIM - 2)],
                b,
                float(b * 10 + i % 5),  # weight slab per blob
            )
        )
    df = spark.createDataFrame(
        rows,
        "vec_id long, embedding array<double>, label int, weight double",
    )
    path = str(tmp_path_factory.mktemp("conj") / "gc")
    nsw_write_clustered(
        df, path, n_shards=8,
        payload_cols=["label", "weight"],
        stats_attrs=["label"],
        numeric_stats_attrs=["weight"],
    )
    return path, rows


def _conj_brute(rows, q, k, pred):
    return [
        i
        for _, i in sorted(
            (sum((a - b) ** 2 for a, b in zip(r[1], q)), r[0])
            for r in rows
            if pred(r)
        )[:k]
    ]


def test_prune_conj_exact_and_bonferroni_sound(spark, conj_store):
    """Full-beam conjunction-pruned search answers the exact filtered
    oracle for exact∧range, and the verdict arithmetic holds: shards where ANY constraint is none-pass
    are outside every kept set, and the Bonferroni lower bounds under-
    count (never over-count) the true per-shard passing members."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        _conj_shard_stats,
        nsw_read_topk,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        attr_stats_path,
        load_attr_stats,
        load_numeric_stats,
        load_stats,
        numeric_stats_path,
        stats_path,
    )

    path, rows = conj_store
    q = rows[1][1]  # a blob-1 point
    # the reference's class-2 shape: weight < 32 ∧ label exact 3 (the
    # FAR blob; its slab is 30..34, so the range straddles it)
    got = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6, prune=True,
        prune_conj={"label": ("exact", 3), "weight": ("<", 32)},
    ).collect()
    want = _conj_brute(rows, q, 5, lambda r: r[2] == 3 and r[3] < 32)
    assert [r["vec_id"] for r in got] == want

    # verdict arithmetic vs ground truth, shard by shard
    parts, cents, radii, counts = load_stats(spark, stats_path(path))
    ac = load_attr_stats(spark, attr_stats_path(path))
    ns = load_numeric_stats(spark, numeric_stats_path(path))
    conj = {"label": ("exact", 3), "weight": ("<", 32)}
    lb, possible = _conj_shard_stats(conj, ac, ns, parts, counts)
    stored = spark.read.parquet(path).collect()
    true_pass = {
        int(p): sum(
            1
            for r in stored
            if r["part_id"] == p and r["label"] == 3 and r["weight"] < 32
        )
        for p in parts.tolist()
    }
    for p, lo, may in zip(parts.tolist(), lb.tolist(), possible.tolist()):
        assert lo <= true_pass[int(p)]  # certain lower bound
        if not may:
            assert true_pass[int(p)] == 0  # none-pass is provable
    assert (~possible).any()  # provably-failing shards exist on blobs

    # unsatisfiable conjunction → empty result, not an error
    assert (
        nsw_read_topk(
            spark, path, [(0, list(q))], 5, ef=10**6, prune=True,
            prune_conj={"label": ("exact", 3), "weight": (">", 999)},
        ).count()
        == 0
    )


def test_prune_conj_per_query_mapping(spark, conj_store):
    """The serving shape: each query prunes and filters on its OWN
    conjunction from one store read; absent queries prune on plain
    ball bounds and walk unfiltered — per query ≡ the single-query
    call ≡ brute force."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
    )

    path, rows = conj_store
    q0, q1, q2 = rows[1][1], rows[2][1], rows[3][1]
    conj0 = {"label": ("exact", 3), "weight": ("<", 32)}
    conj1 = {"weight": ("geq", 20), "label": ("exact", 2)}
    batch = [(10, list(q0)), (11, list(q1)), (12, list(q2))]
    got = nsw_read_topk(
        spark, path, batch, 5, ef=10**6, prune=True,
        prune_conj={10: conj0, 11: conj1},
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert by_q[10] == _conj_brute(
        rows, q0, 5, lambda r: r[2] == 3 and r[3] < 32
    )
    assert by_q[11] == _conj_brute(
        rows, q1, 5, lambda r: r[3] >= 20 and r[2] == 2
    )
    assert by_q[12] == _conj_brute(rows, q2, 5, lambda r: True)
    # ≡ the single-query calls
    for qid, qv, conj in ((10, q0, conj0), (11, q1, conj1)):
        single = nsw_read_topk(
            spark, path, [(qid, list(qv))], 5, ef=10**6, prune=True,
            prune_conj=conj,
        ).collect()
        assert [r["vec_id"] for r in single] == by_q[qid]


def test_prune_conj_guard_matrix(spark, conj_store):
    """requires prune; empty dict refuses;
    non-zone-map ops refuse; uncovered attrs refuse; unknown qids
    refuse; stale sidecars refuse."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
    )

    path, rows = conj_store
    q = [(0, list(rows[1][1]))]
    conj = {"label": ("exact", 3), "weight": ("<", 32)}
    with pytest.raises(ValueError, match="requires prune"):
        nsw_read_topk(spark, path, q, 5, prune_conj=conj)
    with pytest.raises(ValueError, match="empty prune_conj"):
        nsw_read_topk(spark, path, q, 5, prune=True, prune_conj={})
    # substring on a NUMERIC column refuses (r11b: the walk mask would
    # implicitly stringify while build_predicate's grammar ignores the
    # constraint — same refusal as both IVF forms); bogus ops still
    # refuse at normalization
    with pytest.raises(ValueError, match="non-string column"):
        nsw_read_topk(
            spark, path, q, 5, prune=True,
            prune_conj={"label": ("substring", "3")},
        )
    with pytest.raises(ValueError, match="op must be"):
        nsw_read_topk(
            spark, path, q, 5, prune=True,
            prune_conj={"label": ("regex", "3")},
        )
    with pytest.raises(ValueError, match="does not cover"):
        nsw_read_topk(
            spark, path, q, 5, prune=True,
            prune_conj={"nope": ("exact", 3), "weight": ("<", 32)},
        )
    with pytest.raises(ValueError, match="does not cover"):
        nsw_read_topk(
            spark, path, q, 5, prune=True,
            prune_conj={"label": ("<", 3)},  # numeric maps don't cover label
        )
    with pytest.raises(ValueError, match="not in the batch"):
        nsw_read_topk(
            spark, path, q, 5, prune=True, prune_conj={99: conj},
        )


def test_conj_decisions_relation_matches_helper(spark):
    """The nsw_conj_decisions disclosure relation (entry registry) and
    `_conj_shard_stats` must compute the SAME Bonferroni arithmetic:
    build the %8-shard zone maps two ways — as SQL-style aggregates and
    as the helper's sidecar-shaped dict inputs — and compare lb /
    possible shard by shard."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        _conj_shard_stats,
    )

    rows = [(i, i % 10, float((i % 10) * 10 + i % 5)) for i in range(200)]
    parts = sorted({r[1] % 8 for r in rows})
    member_counts = np.asarray(
        [sum(1 for r in rows if r[1] % 8 == p) for p in parts],
        dtype=np.int64,
    )
    attr_counts = {
        "label": {
            p: {
                str(v): sum(
                    1 for r in rows if r[1] % 8 == p and r[1] == v
                )
                for v in {r[1] for r in rows if r[1] % 8 == p}
            }
            for p in parts
        }
    }
    num_stats = {
        "weight": {
            p: (
                min(r[2] for r in rows if r[1] % 8 == p),
                max(r[2] for r in rows if r[1] % 8 == p),
                sum(1 for r in rows if r[1] % 8 == p),
            )
            for p in parts
        }
    }
    lb, possible = _conj_shard_stats(
        {"label": ("exact", 3), "weight": ("<", 32)},
        attr_counts, num_stats,
        np.asarray(parts, dtype=np.int64), member_counts,
    )
    # the relation's arithmetic, replayed in plain python
    for i, p in enumerate(parts):
        n = int(member_counts[i])
        pass_label = attr_counts["label"][p].get("3", 0)
        vmin, vmax, n_present = num_stats["weight"][p]
        certain_range = n_present if vmax < 32 else 0
        poss = pass_label > 0 and not (vmin >= 32)
        want_lb = (
            max(0, n - (n - pass_label) - (n - certain_range)) if poss else 0
        )
        assert bool(possible[i]) == poss, p
        assert int(lb[i]) == want_lb, p


def test_prune_conj_substring_exact_counts(spark, conj_store, tmp_path):
    """r11b: substring constraints are EXACTLY decidable from the
    per-shard distinct-value counts (sum over keys containing the
    needle) — the reference's literal class-2 flagship shape
    ``weight < 2 ∧ brand substring …`` (acorn.py:296-298) runs through
    prune_conj. The conj store lacks a string payload, so this builds
    a tagged twin; full beam answers the exact filtered oracle and
    `substring_value_count` is pinned against ground truth."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write_clustered,
    )
    from acorn_hybrid_vector_search_spark.operators.store import (
        substring_value_count,
    )

    assert substring_value_count({"cat3": 5, "cat13": 2, "dog": 9}, "at") == 7
    assert substring_value_count({"cat3": 5, None: 4}, "3") == 5
    assert substring_value_count({"cat3": 5}, "x") == 0

    path, rows = conj_store
    tagged_rows = [
        (i, emb, lab, w, f"cat{lab}") for i, emb, lab, w in rows
    ]
    df = spark.createDataFrame(
        tagged_rows,
        "vec_id long, embedding array<double>, label int, "
        "weight double, tag string",
    )
    tpath = str(tmp_path / "g")
    nsw_write_clustered(
        df, tpath, n_shards=8,
        payload_cols=["weight", "tag"],
        stats_attrs=["tag"], numeric_stats_attrs=["weight"],
    )
    q = rows[1][1]
    got = nsw_read_topk(
        spark, tpath, [(0, list(q))], 5, ef=10**6, prune=True,
        prune_conj={"weight": ("<", 32), "tag": ("substring", "3")},
    ).collect()
    want = _conj_brute(
        rows, q, 5, lambda r: r[3] < 32 and "3" in f"cat{r[2]}"
    )
    assert [r["vec_id"] for r in got] == want
    # lone substring through the conj rung
    got2 = nsw_read_topk(
        spark, tpath, [(0, list(q))], 5, ef=10**6, prune=True,
        prune_conj={"tag": ("substring", "t3")},
    ).collect()
    want2 = _conj_brute(rows, q, 5, lambda r: "t3" in f"cat{r[2]}")
    assert [r["vec_id"] for r in got2] == want2


def test_nsw_float32_store_lifecycle_exact(spark, tmp_path):
    """r11 float32 store: the reference's own precision (hnswlib
    bindings.cpp `data_t = float`) as an opt-in — halves scan + Arrow
    bytes on every walk. Vectors are quantized ONCE at build, so
    full-beam search is exact w.r.t. the float32-CAST corpus; append /
    compact inherit the store dtype from the parquet schema (a mixed
    store would fail to merge array<float> with array<double>)."""
    import pytest

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_append,
        nsw_compact,
    )

    rng = random.Random(31)
    dim = 6
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(240)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(3)
    path = str(tmp_path / "g32")
    nsw_write(df, path, vector_dtype="float32")

    stored = spark.read.parquet(path)
    el = stored.schema["vector"].dataType.elementType.simpleString()
    assert el == "float"
    x64 = np.asarray([r[1] for r in rows], dtype=np.float64)
    x32 = x64.astype(np.float32).astype(np.float64)
    # quantization is REAL on this corpus — exactness below is not
    # trivially the float64 result
    assert np.any(x32 != x64)
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    q = np.asarray(rows[5][1], dtype=np.float64)

    def cast_brute(ids_, x_, k):
        d = ((x_ - q) ** 2).sum(axis=1)
        order = sorted(range(len(ids_)), key=lambda i: (d[i], ids_[i]))
        return [int(ids_[i]) for i in order[:k]]

    got = nsw_read_topk(spark, path, [(0, list(q))], K, ef=10**6).collect()
    assert [r["vec_id"] for r in got] == cast_brute(ids, x32, K)
    # the stored bytes really are the quantized values, not rounded
    # doubles
    srow = stored.filter(F.col("vec_id") == 5).head()
    assert list(srow["vector"]) == list(x64[5].astype(np.float32))

    # append WITHOUT a dtype arg inherits float32 from the store schema
    rows2 = [
        (1000 + i, [rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(60)
    ]
    df2 = spark.createDataFrame(
        rows2, "vec_id long, embedding array<double>"
    ).repartition(2)
    nsw_append(df2, path)
    stored2 = spark.read.parquet(path)
    assert (
        stored2.schema["vector"].dataType.elementType.simpleString()
        == "float"
    )
    all64 = np.vstack([x64, np.asarray([r[1] for r in rows2])])
    all32 = all64.astype(np.float32).astype(np.float64)
    all_ids = np.concatenate(
        [ids, np.asarray([r[0] for r in rows2], dtype=np.int64)]
    )
    got2 = nsw_read_topk(spark, path, [(0, list(q))], K, ef=10**6).collect()
    assert [r["vec_id"] for r in got2] == cast_brute(all_ids, all32, K)

    # compact re-packs at the inherited precision (quantized values are
    # a fixed point of re-quantization, so results are unchanged)
    nsw_compact(spark, path, n_shards=2)
    stored3 = spark.read.parquet(path)
    assert (
        stored3.schema["vector"].dataType.elementType.simpleString()
        == "float"
    )
    got3 = nsw_read_topk(spark, path, [(0, list(q))], K, ef=10**6).collect()
    assert [r["vec_id"] for r in got3] == cast_brute(all_ids, all32, K)

    with pytest.raises(ValueError, match="vector_dtype"):
        nsw_write(df, str(tmp_path / "bad"), vector_dtype="float16")


def test_nsw_float32_clustered_prune_and_recluster(spark, tmp_path):
    """float32 × the clustered store: ball/zone-map sidecars are
    computed FROM the stored (quantized) vectors, so pruned full-beam
    search stays exact w.r.t. the cast corpus; nsw_recluster keeps the
    precision."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_recluster,
        nsw_write_clustered,
    )

    rng = random.Random(33)
    centers = [(-8, -8), (-8, 8), (8, -8), (8, 8)]
    rows = []
    for i in range(320):
        cx, cy = centers[i % 4]
        rows.append(
            (
                i,
                [rng.gauss(cx, 0.4), rng.gauss(cy, 0.4)]
                + [rng.gauss(0, 0.4) for _ in range(4)],
                i % 4,
            )
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).repartition(3)
    path = str(tmp_path / "gc32")
    nsw_write_clustered(
        df, path, n_shards=4, payload_cols=["label"],
        stats_attrs=["label"], vector_dtype="float32",
    )
    stored = spark.read.parquet(path)
    assert (
        stored.schema["vector"].dataType.elementType.simpleString()
        == "float"
    )
    x32 = (
        np.asarray([r[1] for r in rows], dtype=np.float64)
        .astype(np.float32)
        .astype(np.float64)
    )
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    q = np.asarray(rows[2][1], dtype=np.float64)
    d = ((x32 - q) ** 2).sum(axis=1)

    def brute(pred, k=5):
        order = sorted(
            (i for i in range(len(ids)) if pred(i)),
            key=lambda i: (d[i], ids[i]),
        )
        return [int(ids[i]) for i in order[:k]]

    got = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6, prune=True
    ).collect()
    assert [r["vec_id"] for r in got] == brute(lambda i: True)
    got_m = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6, prune=True,
        prune_conj={"label": ("exact", 2)},
    ).collect()
    assert [r["vec_id"] for r in got_m] == brute(lambda i: rows[i][2] == 2)

    nsw_recluster(spark, path, n_shards=4, stats_attrs=["label"])
    stored2 = spark.read.parquet(path)
    assert (
        stored2.schema["vector"].dataType.elementType.simpleString()
        == "float"
    )
    got2 = nsw_read_topk(
        spark, path, [(0, list(q))], 5, ef=10**6, prune=True,
        prune_conj={"label": ("exact", 2)},
    ).collect()
    assert [r["vec_id"] for r in got2] == brute(lambda i: rows[i][2] == 2)


# ---------------------------------------------------------------------------
# r12: the batch-dense serving kernel (VERDICT r11 ask #3)


def test_dense_topk_equals_walk_and_brute(spark, corpus, vectors, tmp_path):
    """nsw_dense_topk ≡ full-beam nsw_read_topk ≡ brute force — pure,
    shared-predicate, and per-query-predicate shapes, including distance
    values rounded to 9 places (the walk's ``_dist`` is the dot trick,
    the dense kernel the strict sum)."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_dense_topk,
    )

    ids, x = vectors
    path = _store_from(
        corpus.withColumn("label", (F.col("vec_id") % 5).cast("int")),
        tmp_path,
        payload_cols=["label"],
    )
    qs = _queries(vectors)

    def rows(df):
        return [
            (int(r["query_id"]), int(r["vec_id"]), round(r["dist"], 9))
            for r in df.orderBy("query_id", "dist", "vec_id").collect()
        ]

    # pure
    assert rows(nsw_dense_topk(spark, path, qs, K)) == rows(
        nsw_read_topk(spark, path, qs, K, ef=10**6)
    )
    # shared predicate
    shared = F.col("label") == 2
    assert rows(
        nsw_dense_topk(spark, path, qs, K, predicate=shared)
    ) == rows(
        nsw_read_topk(spark, path, qs, K, ef=10**6, predicate=shared)
    )
    # per-query predicates (one query unfiltered)
    per = {
        QUERY_IDS[0]: F.col("label") == 1,
        QUERY_IDS[1]: F.col("label") < 3,
    }
    assert rows(
        nsw_dense_topk(spark, path, qs, K, predicates=per)
    ) == rows(
        nsw_read_topk(spark, path, qs, K, ef=10**6, predicates=per)
    )
    # predicate-expression dedupe (r12b): many queries, few distinct
    # predicates → the plan carries one shared mask column per DISTINCT
    # expression, and results stay ≡ the walk's per-query columns
    many = {qid: F.col("label") == (i % 2) for i, qid in enumerate(QUERY_IDS)}
    dense_many = nsw_dense_topk(spark, path, qs, K, predicates=many)
    plan = dense_many._jdf.queryExecution().executedPlan().toString()
    assert "_pass_g0" in plan and "_pass_g1" in plan
    assert "_pass_g2" not in plan  # 3 queries, 2 distinct expressions
    assert rows(dense_many) == rows(
        nsw_read_topk(spark, path, qs, K, ef=10**6, predicates=many)
    )
    # brute-force cross-check on the pure shape
    got = nsw_dense_topk(spark, path, qs, K)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(int(r["query_id"]), []).append(
            (round(r["dist"], 9), int(r["vec_id"]))
        )
    for qid, qv in qs:
        want = _exact_topk(ids, x, np.asarray(qv, dtype=np.float64), K)
        assert [v for _, v in sorted(by_q[qid])] == want, qid


def test_dense_topk_tombstones_blocked_and_blocks(spark, corpus, vectors, tmp_path):
    """Tombstoned ids never return, and blocked is anti-membership."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_delete,
        nsw_dense_topk,
    )

    ids, x = vectors
    path = _store_from(corpus, tmp_path, name="gd")
    qs = _queries(vectors)
    q0 = qs[0]
    top = [
        r["vec_id"]
        for r in nsw_dense_topk(spark, path, [q0], K).collect()
    ]
    dead = top[:2]
    nsw_delete(spark, path, dead)
    got = [
        r["vec_id"]
        for r in nsw_dense_topk(spark, path, [q0], K).collect()
    ]
    assert got == _exact_topk(
        ids, x, np.asarray(q0[1]), K, exclude=set(dead)
    )
    blocked = set(got[:3])
    got2 = [
        r["vec_id"]
        for r in nsw_dense_topk(
            spark, path, [q0], K, blocked=blocked
        ).collect()
    ]
    assert got2 == _exact_topk(
        ids, x, np.asarray(q0[1]), K, exclude=set(dead) | blocked
    )


def test_dense_topk_float32_store_and_guards(spark, corpus, vectors, tmp_path):
    """A float32 store upcasts exactly like the walk (identical rounded
    distances); guard rails mirror nsw_read_topk's."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_dense_topk,
    )

    path = _store_from(corpus, tmp_path, name="g32", vector_dtype="float32")
    qs = _queries(vectors)

    def rows(df):
        return [
            (int(r["query_id"]), int(r["vec_id"]), round(r["dist"], 9))
            for r in df.orderBy("query_id", "dist", "vec_id").collect()
        ]

    assert rows(nsw_dense_topk(spark, path, qs, K)) == rows(
        nsw_read_topk(spark, path, qs, K, ef=10**6)
    )
    with pytest.raises(ValueError, match="duplicate query ids"):
        nsw_dense_topk(spark, path, [qs[0], qs[0]], K)
    with pytest.raises(ValueError, match="not both"):
        nsw_dense_topk(
            spark, path, qs, K,
            predicate=F.lit(True), predicates={QUERY_IDS[0]: F.lit(True)},
        )
    with pytest.raises(ValueError, match="not in the batch"):
        nsw_dense_topk(spark, path, qs, K, predicates={999: F.lit(True)})
    # ragged batch → driver-side guard, not an executor numpy error
    with pytest.raises(ValueError, match="share one dimension"):
        nsw_dense_topk(
            spark, path, [(0, [0.0, 1.0]), (1, [0.0, 1.0, 2.0])], K
        )


def test_dense_topk_tied_distances_deterministic(spark, tmp_path):
    """r12 self-review fix: rows equidistant from the query at the k
    boundary must resolve by (dist, id) ascending — argpartition alone
    picks an arbitrary tied subset. Corpus of duplicate vectors makes
    every distance tied; the exact contract is the lowest ids."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_dense_topk,
        nsw_write,
    )

    # 24 rows, only 2 distinct vectors → massive ties at every k
    rows = [(i, [float(i % 2), 1.0]) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "gt")
    nsw_write(df.repartition(3), path)
    got = [
        r["vec_id"]
        for r in nsw_dense_topk(spark, path, [(0, [0.0, 1.0])], 5).collect()
    ]
    # nearest = the even ids (dist 0), tie-broken ascending
    assert got == [0, 2, 4, 6, 8]
    got2 = [
        r["vec_id"]
        for r in nsw_dense_topk(spark, path, [(1, [1.0, 1.0])], 7).collect()
    ]
    assert got2 == [1, 3, 5, 7, 9, 11, 13]


def test_dense_int8_two_phase_exact(spark, corpus, vectors, tmp_path):
    """r13 int8 serving rung (VERDICT r12 ask #4): the two-phase kernel
    (int8-gemm certified candidates → exact f64 re-rank) answers
    EXACTLY like nsw_dense_topk — pure, shared- and per-query-predicate
    shapes, ``dist`` bits included — on float64 AND float32 stores;
    tombstones + blocked apply; a store mutated after nsw_write_int8
    is refused (the exactness bound would silently break); a store
    without codes is refused with the build hint."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_append,
        nsw_delete,
        nsw_dense_topk,
        nsw_dense_topk_int8,
        nsw_write_int8,
    )

    qs = _queries(vectors)

    def rows(df):
        return [
            (int(r["query_id"]), int(r["vec_id"]), repr(r["dist"]))
            for r in df.orderBy("query_id", "dist", "vec_id").collect()
        ]

    for dtype in ("float64", "float32"):
        path = _store_from(
            corpus.withColumn("label", (F.col("vec_id") % 5).cast("int")),
            tmp_path,
            name=f"gi8_{dtype}",
            payload_cols=["label"],
            vector_dtype=dtype,
        )
        with pytest.raises(ValueError, match="nsw_write_int8"):
            nsw_dense_topk_int8(spark, path, qs, K)
        nsw_write_int8(spark, path)
        assert rows(nsw_dense_topk_int8(spark, path, qs, K)) == rows(
            nsw_dense_topk(spark, path, qs, K)
        ), dtype
        # rerank mode (the scale path, r13b): top-4k by dequantized
        # distance + full-precision re-rank ≡ the certified answers
        assert rows(
            nsw_dense_topk_int8(spark, path, qs, K, mode="rerank")
        ) == rows(nsw_dense_topk(spark, path, qs, K)), dtype
        per = {
            QUERY_IDS[0]: F.col("label") == 1,
            QUERY_IDS[1]: F.col("label") < 3,
        }
        assert rows(
            nsw_dense_topk_int8(spark, path, qs, K, predicates=per)
        ) == rows(
            nsw_dense_topk(spark, path, qs, K, predicates=per)
        ), dtype
        shared = F.col("label") == 2
        assert rows(
            nsw_dense_topk_int8(spark, path, qs, K, predicate=shared)
        ) == rows(nsw_dense_topk(spark, path, qs, K, predicate=shared))

    # lifecycle on the float64 store: tombstones + blocked, then a
    # mutation staleness refusal, then rebuild-and-serve
    path = str(tmp_path / "gi8_float64")
    q0 = qs[0]
    top = [
        r["vec_id"] for r in nsw_dense_topk_int8(spark, path, [q0], K).collect()
    ]
    nsw_delete(spark, path, top[:2])
    blocked = {top[2]}
    assert rows(
        nsw_dense_topk_int8(spark, path, qs, K, blocked=blocked)
    ) == rows(nsw_dense_topk(spark, path, qs, K, blocked=blocked))
    extra = corpus.limit(5).selectExpr(
        "vec_id + 100000 AS vec_id", "embedding",
        "CAST(vec_id % 5 AS INT) AS label",
    )
    nsw_append(extra, path, payload_cols=["label"])
    with pytest.raises(ValueError, match="stale"):
        nsw_dense_topk_int8(spark, path, qs, K)
    with pytest.raises(ValueError, match="mode must be"):
        nsw_dense_topk_int8(spark, path, qs, K, mode="nope")
    nsw_write_int8(spark, path)
    assert rows(nsw_dense_topk_int8(spark, path, qs, K)) == rows(
        nsw_dense_topk(spark, path, qs, K)
    )

    # UPSERT history (r13b self-review): the store now holds a
    # tombstoned OLD copy of an id alongside its live replacement —
    # phase 2 must never re-score the dead vector (joining on the id
    # alone would), and both kernels must agree near the old location
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_upsert,
    )

    moved_id = int(qs[0][0])
    old_vec = list(qs[0][1])
    up = spark.createDataFrame(
        [(moved_id, [2.5] * len(old_vec), 1)],
        "vec_id long, embedding array<double>, label int",
    )
    nsw_upsert(up, path, payload_cols=["label"])
    nsw_write_int8(spark, path)
    probe = [(0, old_vec)]
    for kw in ({}, {"mode": "rerank"}):
        assert rows(
            nsw_dense_topk_int8(spark, path, probe, K, **kw)
        ) == rows(nsw_dense_topk(spark, path, probe, K)), kw


def test_dense_match_template_fast_path(spark, corpus, vectors, tmp_path):
    """r13 heterogeneous-predicate cliff fix (VERDICT r12 ask #3): the
    ``match={qid: (attr, value)}`` template path evaluates §2.3
    exact-match masks executor-side from the raw payload column — ZERO
    Catalyst expressions, results hash-identical to the equivalent
    ``predicates=`` Columns on BOTH dense kernels, mixed batches
    (templates + Catalyst predicates + unfiltered) compose, and the
    guards hold (unknown payload column, per-query overlap)."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_dense_topk,
        nsw_dense_topk_int8,
        nsw_write_int8,
    )

    path = _store_from(
        corpus.withColumn("label", (F.col("vec_id") % 5).cast("int")),
        tmp_path,
        name="gmt",
        payload_cols=["label"],
    )
    nsw_write_int8(spark, path)
    qs = _queries(vectors)

    def rows(df):
        return [
            (int(r["query_id"]), int(r["vec_id"]), round(r["dist"], 9))
            for r in df.orderBy("query_id", "dist", "vec_id").collect()
        ]

    tmpl = {qid: ("label", i + 1) for i, qid in enumerate(QUERY_IDS)}
    cols = {
        qid: F.col("label").isNotNull() & (F.col("label") == (i + 1))
        for i, qid in enumerate(QUERY_IDS)
    }
    want = rows(nsw_dense_topk(spark, path, qs, K, predicates=cols))
    got = nsw_dense_topk(spark, path, qs, K, match=tmpl)
    assert rows(got) == want
    # zero Catalyst mask columns in the template plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "_pass_g" not in plan
    assert rows(
        nsw_dense_topk_int8(spark, path, qs, K, match=tmpl)
    ) == want
    # mixed batch: one template, one Catalyst predicate, one unfiltered
    mixed_t = {QUERY_IDS[0]: ("label", 1)}
    mixed_p = {QUERY_IDS[1]: F.col("label") < 3}
    both_cols = {
        QUERY_IDS[0]: F.col("label").isNotNull() & (F.col("label") == 1),
        QUERY_IDS[1]: F.col("label") < 3,
    }
    want2 = rows(nsw_dense_topk(spark, path, qs, K, predicates=both_cols))
    assert rows(
        nsw_dense_topk(
            spark, path, qs, K, predicates=mixed_p, match=mixed_t
        )
    ) == want2
    assert rows(
        nsw_dense_topk_int8(
            spark, path, qs, K, predicates=mixed_p, match=mixed_t
        )
    ) == want2
    with pytest.raises(ValueError, match="not stored payload"):
        nsw_dense_topk(spark, path, qs, K, match={QUERY_IDS[0]: ("nope", 1)})
    with pytest.raises(ValueError, match="BOTH a predicate"):
        nsw_dense_topk(
            spark, path, qs, K,
            predicates={QUERY_IDS[0]: F.lit(True)},
            match={QUERY_IDS[0]: ("label", 1)},
        )
    with pytest.raises(ValueError, match="not in the batch"):
        nsw_dense_topk(spark, path, qs, K, match={777: ("label", 1)})


def test_dense_match_template_ops(spark, corpus, vectors, tmp_path):
    """r14 template-op extension (VERDICT r13 ask #4): the zero-Catalyst
    fast path evaluates substring and the numeric range ops executor-
    side with the same §2.3 NULL-fails semantics as ``build_predicate``
    — hash-identical to the Catalyst path on BOTH dense kernels over a
    store carrying NULLs in both a numeric and a string payload column,
    and the op grammar is validated."""
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        build_predicate,
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_dense_topk,
        nsw_dense_topk_int8,
        nsw_write_int8,
    )
    from acorn_hybrid_vector_search_spark.plans.router import (
        dense_match_template,
    )

    aug = corpus.withColumn(
        "score",
        F.when(
            F.col("vec_id") % 7 != 0, (F.col("vec_id") % 50).cast("double")
        ),
    ).withColumn(
        "name",
        F.when(
            F.col("vec_id") % 5 != 0,
            F.concat(F.lit("item-"), (F.col("vec_id") % 20).cast("string")),
        ),
    )
    path = _store_from(
        aug, tmp_path, name="gops", payload_cols=["score", "name"]
    )
    nsw_write_int8(spark, path)
    qs = _queries(vectors)
    acc = flat_accessors({"score": "double", "name": "string"})

    def rows(df):
        return [
            (int(r["query_id"]), int(r["vec_id"]), round(r["dist"], 9))
            for r in df.orderBy("query_id", "dist", "vec_id").collect()
        ]

    for specs in (
        {
            QUERY_IDS[0]: {"name": ["substring", "tem-1"]},
            QUERY_IDS[1]: {"score": ["leq", 20.0]},
            QUERY_IDS[2]: {"score": [">", 30]},
        },
        {
            QUERY_IDS[0]: {"name": ["exact", "item-3"]},
            QUERY_IDS[1]: {"score": ["geq", 25]},
            QUERY_IDS[2]: {"score": ["<", 10.0]},
        },
    ):
        tmpl = {q: dense_match_template(s, acc) for q, s in specs.items()}
        assert all(t is not None for t in tmpl.values()), tmpl
        cols = {q: build_predicate(s, acc) for q, s in specs.items()}
        want = rows(nsw_dense_topk(spark, path, qs, K, predicates=cols))
        got = nsw_dense_topk(spark, path, qs, K, match=tmpl)
        assert rows(got) == want
        # zero Catalyst mask columns in the template plan
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "_pass_g" not in plan
        assert rows(
            nsw_dense_topk_int8(spark, path, qs, K, match=tmpl)
        ) == want
    # op grammar validated; arity validated
    with pytest.raises(ValueError, match="not in"):
        nsw_dense_topk(
            spark, path, qs, K, match={QUERY_IDS[0]: ("score", "like", 1)}
        )
    with pytest.raises(ValueError, match="must be"):
        nsw_dense_topk(spark, path, qs, K, match={QUERY_IDS[0]: ("score",)})

