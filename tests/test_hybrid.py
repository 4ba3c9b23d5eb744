"""Hybrid-search strategy tests (FIXTURES.md §6 correctness protocol):
self-query sanity, cross-strategy agreement, post-filter underfill,
ACORN-equivalent == exact pre-filter, attribute routing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.operators.hybrid import (
    acorn_search,
    attribute_partitioned_search,
    postfilter_search,
    prefilter_search,
)
from acorn_hybrid_vector_search_spark.operators.knn import knn_exact


@pytest.fixture(scope="module")
def qvec(embeddings_df):
    return embeddings_df.filter("vec_id = 17").select("embedding").head()[0]


def test_self_query_returns_itself_first(embeddings_df, qvec):
    top = knn_exact(embeddings_df, qvec, k=1).head()
    assert top["vec_id"] == 17
    assert top["dist"] == pytest.approx(0.0, abs=1e-12)


def test_prefilter_subset_of_filter(embeddings_df, qvec):
    res = prefilter_search(embeddings_df, qvec, {"label": ["exact", 2]}, k=5).collect()
    assert len(res) == 5
    assert all(r["label"] == 2 for r in res)
    dists = [r["dist"] for r in res]
    assert dists == sorted(dists)


def test_cross_strategy_agreement_low_selectivity(embeddings_df, qvec):
    """Reference observed identical top-k for pre vs post on permissive
    filters (6400Project.ipynb cells SZTUGsWfz8Xr/-sLpc-BK0Mqr)."""
    pred = {"label": ["geq", 0]}  # matches everything
    pre = [r["vec_id"] for r in prefilter_search(embeddings_df, qvec, pred, k=3).collect()]
    post = [
        r["vec_id"]
        for r in postfilter_search(embeddings_df, qvec, pred, k=3, large_k=50).collect()
    ]
    assert pre == post


def test_postfilter_underfills_on_selective_predicate(embeddings_df, qvec):
    """The accuracy-collapse mode the reference studies: selective filter +
    small large_k can return fewer than k rows — and every returned row must
    appear in the candidate top-large_k."""
    pred = {"label": ["exact", 2]}  # 1/5 of rows
    post = postfilter_search(embeddings_df, qvec, pred, k=10, large_k=15).collect()
    assert len(post) <= 10
    cand_ids = {r["vec_id"] for r in knn_exact(embeddings_df, qvec, k=15).collect()}
    assert {r["vec_id"] for r in post} <= cand_ids


def test_acorn_equals_prefilter(embeddings_df, qvec):
    """K4 contract: exact recall vs the oracle strategy, even when the
    first oversample round under-fills."""
    for pred in ({"label": ["exact", 2]}, {"label": ["geq", 0]}, None):
        pre = [(r["vec_id"], round(r["dist"], 9))
               for r in prefilter_search(embeddings_df, qvec, pred, k=7).collect()]
        ac = [(r["vec_id"], round(r["dist"], 9))
              for r in acorn_search(embeddings_df, qvec, pred, k=7,
                                    initial_oversample=1, max_rounds=2).collect()]
        assert ac == pre


def test_empty_predicate_is_pure_topk(embeddings_df, qvec):
    a = [r["vec_id"] for r in prefilter_search(embeddings_df, qvec, {}, k=5).collect()]
    b = [r["vec_id"] for r in knn_exact(embeddings_df, qvec, k=5).collect()]
    assert a == b


def test_zero_match_predicate_returns_empty(embeddings_df, qvec):
    assert prefilter_search(embeddings_df, qvec, {"label": ["exact", 99]}, k=5).count() == 0


def test_attribute_partitioned_routing(embeddings_df, qvec):
    """K5: queries constrained on the subset attribute hit the subset and
    return the same answer as a full-table pre-filter."""
    subset = embeddings_df.filter("label IS NOT NULL AND label = 2")
    routed = attribute_partitioned_search(
        embeddings_df, subset, {"label"}, qvec, {"label": ["exact", 2]}, k=5
    ).collect()
    full = prefilter_search(embeddings_df, qvec, {"label": ["exact", 2]}, k=5).collect()
    assert [r["vec_id"] for r in routed] == [r["vec_id"] for r in full]


def test_topk_plan_is_take_ordered(embeddings_df, qvec):
    """Scale guard: the top-k must compile to TakeOrderedAndProject (per-
    partition heap + driver merge), not a global Sort."""
    plan = knn_exact(embeddings_df, qvec, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_materialized_subset_partition_pruning(embeddings_df, qvec, tmp_path):
    """K5 at rest: materialize the label-partitioned subset as parquet,
    route a constrained query to it, and confirm (a) result equality with
    the full-table pre-filter and (b) partition pruning in the scan."""
    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        materialize_attribute_subset,
    )

    path = str(tmp_path / "subset")
    materialize_attribute_subset(
        embeddings_df, F.col("label").isNotNull(), path, partition_cols=["label"]
    )
    subset = embeddings_df.sparkSession.read.parquet(path)

    q = {"label": ["exact", 2]}
    got = attribute_partitioned_search(
        embeddings_df, subset, {"label"}, qvec, q, k=5
    ).collect()
    want = prefilter_search(embeddings_df, qvec, q, k=5).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]

    plan = (
        prefilter_search(subset, qvec, q, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "label" in plan.split("PartitionFilters", 1)[1][:120]


def test_knn_batch_matches_per_query_loop(embeddings_df):
    """K1 batch form: one-scan multi-query top-k must equal running
    knn_exact once per query (ids AND distances, bit for bit)."""
    from acorn_hybrid_vector_search_spark.operators.knn import knn_batch

    qrows = embeddings_df.filter("vec_id < 3").select("vec_id", "embedding").collect()
    queries = [(r["vec_id"], r["embedding"]) for r in qrows]
    got: dict[int, list] = {}
    for r in knn_batch(embeddings_df, queries, k=5).collect():
        got.setdefault(r["query_id"], []).append((r["dist"], r["vec_id"]))
    assert set(got) == {0, 1, 2}
    for qid, qv in queries:
        want = [(r["dist"], r["vec_id"]) for r in knn_exact(embeddings_df, qv, 5).collect()]
        assert sorted(got[qid]) == want


def test_acorn_single_and_batch_equal_prefilter_all_branches(spark):
    """acorn_search ≡ acorn_search_batch ≡ prefilter_search, ids and
    ``dist`` exactly, on every branch the reference's rounds would take
    — round-1 fill, late-round fill, exact-prefilter fallback, and a
    predicate no row passes — at two knob settings. Under-fill returns
    the prepared fallback plan itself."""
    import numpy as np

    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        acorn_prepare,
        acorn_search_batch,
    )

    rng = np.random.RandomState(11)
    n, dim = 400, 8
    vecs = rng.rand(n, dim).round(3)
    # labels: 0 is common (round-1 fill), 1 is rare (late fill),
    # 2 is near-absent (fallback), 9 is absent (zero-match)
    labels = [0 if i % 2 == 0 else (1 if i % 29 == 0 else 3) for i in range(n)]
    labels[397] = 2
    labels[31] = 2
    rows = [(i, [float(x) for x in vecs[i]], labels[i]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = [float(x) for x in vecs[7]]
    cases = [(0, 5), (1, 4), (2, 2), (9, 3)]

    def key(rs):
        return sorted(((r["dist"], r["vec_id"]) for r in rs))

    for oversample, rounds in ((2, 3), (1, 1)):
        knobs = {"initial_oversample": oversample, "max_rounds": rounds}
        batch = acorn_search_batch(
            df, [(i, q, {"label": ["exact", lab]}) for i, (lab, _) in enumerate(cases)],
            k=5, **knobs,
        ).collect()
        for i, (label, k) in enumerate(cases):
            pred = {"label": ["exact", label]}
            want = key(prefilter_search(df, q, pred, k).collect())
            single = acorn_search(df, q, pred, k, payload_cols=["label"], **knobs)
            assert key(single.collect()) == want, (label, k, knobs)
            want5 = key(prefilter_search(df, q, pred, 5).collect())
            assert key(r for r in batch if r["query_id"] == i) == want5, (label, knobs)
    # at (2, 3) label 0 fills in round 1 and label 1 only in round 3 (L =
    # 128); the near-absent and absent labels under-fill and return the
    # fallback plan itself (at (1, 1) every label under-fills)
    for label, k, falls_back in ((0, 5, False), (1, 4, False), (2, 2, True), (9, 3, True)):
        prep = acorn_prepare(
            df, q, {"label": ["exact", label]}, k, initial_oversample=2, max_rounds=3
        )
        assert (prep.search() is prep.fallback) == falls_back, label


def test_acorn_rejects_knobs_below_one(embeddings_df, qvec):
    """``max_rounds=0`` used to make the candidate width a float that
    reached ``limit()``; both knobs must be at least 1."""
    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        acorn_prepare,
        acorn_search_batch,
    )

    for knobs in ({"initial_oversample": 0}, {"max_rounds": 0}, {"max_rounds": -1}):
        with pytest.raises(ValueError, match="must be >= 1"):
            acorn_prepare(embeddings_df, qvec, None, 5, **knobs)
        with pytest.raises(ValueError, match="must be >= 1"):
            acorn_search_batch(embeddings_df, [(0, qvec, None)], 5, **knobs)


# ---------------------------------------------------------------------------
# batched hybrid search (VERDICT r7 ask #1)


def _batch_queries(embeddings_df):
    rows = (
        embeddings_df.filter("vec_id IN (3, 17, 42, 99)")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: r["embedding"] for r in rows}
    return [
        (3, vecs[3], None),                              # class-1: pure top-k
        (17, vecs[17], {"label": ["exact", 2]}),         # exact
        (42, vecs[42], {"label": ["geq", 3]}),           # numeric range
        (99, vecs[99], {"label": ["<", 2]}),             # strict less-than
    ]


def test_prefilter_batch_matches_per_query_loop(embeddings_df):
    """The r8 contract: prefilter_search_batch over a batch with DISTINCT
    predicate classes returns, per query, exactly prefilter_search's
    answer (same rows, same order-by-(dist,id) semantics)."""
    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        prefilter_search_batch,
    )

    qs = _batch_queries(embeddings_df)
    # a None comparison value passes no row, as in prefilter_search
    qs.append((5, qs[1][1], {"label": ["exact", None]}))
    got = prefilter_search_batch(embeddings_df, qs, k=5)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {3, 17, 42, 99}
    for qid, vec, preds in qs:
        want = prefilter_search(embeddings_df, vec, preds, k=5).collect()
        have = sorted(by_q.get(qid, []), key=lambda r: (r["dist"], r["vec_id"]))
        assert [(r["vec_id"], r["label"], r["dist"]) for r in have] == [
            (r["vec_id"], r["label"], r["dist"]) for r in want
        ], qid


def test_prefilter_batch_missing_attr_and_unsupported_op(spark):
    """build_predicate parity in the batch path: strict missing-attribute
    rejection + unsupported (attr, op) falls through to presence-only."""
    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        prefilter_search_batch,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 0.0], "a"), (1, [1.0, 0.0], None), (2, [2.0, 0.0], "b")],
        "vec_id long, embedding array<double>, tag string",
    )
    out = prefilter_search_batch(
        df,
        [
            (100, [0.0, 0.0], {"tag": ["exact", "a"]}),
            # 'leq' is not a string op → presence-only: row 1 (NULL tag) out
            (200, [0.0, 0.0], {"tag": ["leq", "zzz"]}),
        ],
        k=10,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert by_q[100] == {0}
    assert by_q[200] == {0, 2}


def test_postfilter_batch_matches_per_query_loop(embeddings_df):
    """K3 batch parity, including the under-fill failure mode (small
    large_k + selective predicate can return < k rows — same per query)."""
    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        postfilter_search_batch,
    )

    qs = _batch_queries(embeddings_df)
    got = postfilter_search_batch(embeddings_df, qs, k=5, large_k=12)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, vec, preds in qs:
        want = postfilter_search(embeddings_df, vec, preds, k=5, large_k=12).collect()
        have = sorted(
            by_q.get(qid, []), key=lambda r: (r["dist"], r["vec_id"])
        )
        assert [r["vec_id"] for r in have] == [r["vec_id"] for r in want], qid


def test_routed_batch_splits_targets(embeddings_df, tmp_path, spark):
    """K5 batch: label-constrained queries answer from the subset table,
    unconstrained ones from the full table — per-query parity with
    attribute_partitioned_search throughout."""
    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        attribute_presence_cond,
        materialize_attribute_subset,
        routed_search_batch,
    )
    from acorn_hybrid_vector_search_spark.functions.predicates import flat_accessors

    acc = flat_accessors(embeddings_df)
    path = str(tmp_path / "subset")
    materialize_attribute_subset(
        embeddings_df, attribute_presence_cond(["label"], acc), path
    )
    subset = spark.read.parquet(path)
    qs = _batch_queries(embeddings_df)
    got = routed_search_batch(
        embeddings_df, subset, {"label"}, qs, k=5, accessors=acc
    )
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, vec, preds in qs:
        want = attribute_partitioned_search(
            embeddings_df, subset, {"label"}, vec, preds, k=5, accessors=acc
        ).collect()
        have = sorted(by_q[qid], key=lambda r: (r["dist"], r["vec_id"]))
        assert [r["vec_id"] for r in have] == [r["vec_id"] for r in want], qid


def test_acorn_batch_matches_per_query_loop(embeddings_df):
    """K4 batch ≡ per-query acorn_search across fill, selective and
    empty-predicate queries — including a query that under-fills every
    round and must take the exact-prefilter fallback branch."""
    from acorn_hybrid_vector_search_spark.operators.hybrid import acorn_search_batch

    rows = (
        embeddings_df.filter("vec_id IN (3, 17, 42, 99)")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: r["embedding"] for r in rows}
    qs = [
        (3, vecs[3], None),                          # class-1: fills round 1
        (17, vecs[17], {"label": ["exact", 2]}),     # moderate selectivity
        (42, vecs[42], {"vec_id": ["<", 7]}),        # 7 rows: escalates/falls back
        (99, vecs[99], {"label": ["geq", 4]}),
    ]
    got = acorn_search_batch(embeddings_df, qs, k=5, initial_oversample=2, max_rounds=2)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, vec, preds in qs:
        want = acorn_search(
            embeddings_df, vec, preds, k=5, initial_oversample=2, max_rounds=2
        ).collect()
        have = sorted(by_q.get(qid, []), key=lambda r: (r["dist"], r["vec_id"]))
        assert [r["vec_id"] for r in have] == [r["vec_id"] for r in want], qid
        assert [r["dist"] for r in have] == [r["dist"] for r in want], qid


def test_batch_collision_guard_covers_internals(embeddings_df, qvec):
    """The collision guard must reject corpus columns named like ANY
    batch internal — the kernel's per-query mask columns, its rank and
    verdict scratch, the query id — in ALL THREE hybrid batch
    functions."""
    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        acorn_search_batch,
        postfilter_search_batch,
        prefilter_search_batch,
    )

    queries = [(0, list(qvec), {"label": ["exact", 2]})]
    for bad_col in ("_pass_g0", "_rn", "_passes", "query_id"):
        bad_df = embeddings_df.withColumn(bad_col, F.lit(1))
        for fn in (
            prefilter_search_batch,
            postfilter_search_batch,
            acorn_search_batch,
        ):
            with pytest.raises(ValueError, match="collide"):
                fn(bad_df, queries, k=3)


def _batch_fns(df):
    """Every batch search, each as ``(name, batch_fn(queries, k),
    single_fn(vec, preds, k))`` over ``df``; queries are ``(id, vec,
    preds)`` triples and the IVF forms probe every list."""
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        build_predicate,
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_search,
        ivf_search_batch,
        ivf_search_exact,
        ivf_search_exact_batch,
    )
    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        acorn_search_batch,
        postfilter_search_batch,
        prefilter_search_batch,
        routed_search_batch,
    )
    from acorn_hybrid_vector_search_spark.operators.knn import knn_batch

    acc = flat_accessors(df)
    idx = ivf_build(df, n_clusters=3, with_radii=True, stats_attrs=["label"])

    def exact_match(preds):
        return {"conj": {"label": ("exact", preds["label"][1])}} if preds else {}

    return [
        ("knn_batch",
         lambda qs, k: knn_batch(df, [(q, v) for q, v, _ in qs], k),
         lambda v, p, k: knn_exact(df, v, k)),
        ("prefilter",
         lambda qs, k: prefilter_search_batch(df, qs, k),
         lambda v, p, k: prefilter_search(df, v, p, k)),
        ("postfilter",
         lambda qs, k: postfilter_search_batch(df, qs, k, large_k=12),
         lambda v, p, k: postfilter_search(df, v, p, k, large_k=12)),
        ("acorn",
         lambda qs, k: acorn_search_batch(df, qs, k, initial_oversample=2, max_rounds=2),
         lambda v, p, k: acorn_search(df, v, p, k, initial_oversample=2, max_rounds=2)),
        ("routed",
         lambda qs, k: routed_search_batch(df, df, {"label"}, qs, k),
         lambda v, p, k: prefilter_search(df, v, p, k)),
        ("ivf",
         lambda qs, k: ivf_search_batch(
             idx, [(q, v) for q, v, _ in qs], k, nprobe=3,
             predicates={q: p for q, _, p in qs if p}),
         lambda v, p, k: ivf_search(
             idx, v, k, nprobe=3, predicate=build_predicate(p, acc) if p else None)),
        ("ivf_exact",
         lambda qs, k: ivf_search_exact_batch(
             idx, [(q, v) for q, v, _ in qs], k,
             conj={q: {"label": ("exact", p["label"][1])} for q, _, p in qs if p}),
         lambda v, p, k: ivf_search_exact(idx, v, k, **exact_match(p))),
    ]


def test_batch_ties_match_single_query_across_arrow_batches(spark):
    """Duplicate vectors with ids out of row order, spread over many
    3-row Arrow batches: every batch search returns, per query, its
    single-query answer — the same ids in the same (dist, id) order and
    ``dist`` exactly equal — so the k-th-distance ties keep the smallest
    ids in every Arrow batch, not an arbitrary subset."""
    import numpy as np

    rng = np.random.RandomState(5)
    base = rng.rand(4, 6).round(2)
    ids = rng.permutation(48)
    rows = [
        (int(i), [float(x) for x in base[n % 4]], int(i) % 2)
        for n, i in enumerate(ids)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()
    queries = [
        (0, [float(x) for x in base[0]], None),                 # 12 exact ties
        (1, [float(x) for x in base[1] + 0.01], {"label": ["exact", 1]}),
        (2, [float(x) for x in base[3] - 0.02], {"label": ["exact", 0]}),
    ]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        for name, batch, single in _batch_fns(df):
            got: dict = {}
            for r in batch(queries, 5).collect():
                got.setdefault(r["query_id"], []).append((r["dist"], r["vec_id"]))
            for qid, vec, preds in queries:
                want = [(r["dist"], r["vec_id"]) for r in single(vec, preds, 5).collect()]
                assert sorted(got.get(qid, [])) == want, (name, qid)
    finally:
        spark.conf.set(key, old)
        df.unpersist()


def test_batch_functions_reject_duplicate_and_ragged_queries(spark, embeddings_df):
    """Every batch search validates its batch on the driver: duplicate
    query ids and vectors of different lengths raise ValueError."""
    v = embeddings_df.filter("vec_id = 0").head()["embedding"]
    df = embeddings_df.filter("vec_id < 40")
    for name, batch, _ in _batch_fns(df):
        with pytest.raises(ValueError, match="duplicate query ids"):
            batch([(1, v, None), (1, v, None)], 3)
        with pytest.raises(ValueError, match="one dimension"):
            batch([(1, v, None), (2, v[:-1], None)], 3)
