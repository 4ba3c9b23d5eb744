"""Driver snapshots (operators/snapshot.py): point queries over a
registered cached corpus answered without a Spark job, with the Spark
plan's rows, ``dist`` bits and schema; the statistics taken from the
snapshot; the predicate parity that makes serving from it sound; and the
snapshot's lifetime."""

from __future__ import annotations

import gc
import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.functions.predicates import (
    build_predicate,
    flat_accessors,
)
from acorn_hybrid_vector_search_spark.operators import _cache, snapshot
from acorn_hybrid_vector_search_spark.operators.hybrid import (
    acorn_prepare,
    postfilter_search,
    prefilter_search,
)
from acorn_hybrid_vector_search_spark.plans.router import StrategyRouter, collect_stats

ATTRS = ("brand", "country", "color", "item_weight", "model_year")
SCHEMA = (
    "vec_id long, embedding array<float>, brand string, country string, "
    "color string, item_weight double, model_year int, score float"
)
N, DIM, K = 400, 8, 10
# the §2.4 selectivity classes of the benchmark corpus
CLASSES = {
    "c1_none": {},
    "c2_weight_brand": {"item_weight": ["<", 4.0], "brand": ["substring", "Amazon"]},
    "c2_country_brand": {"country": ["exact", "IN"], "brand": ["substring", "Amazon Brand"]},
    "c3_country": {"country": ["exact", "US"]},
    "c3_year_color": {"model_year": ["leq", 2018], "color": ["substring", "Blue"]},
}
BRANDS = ["AmazonBasics", "Amazon Brand - Solimo", "Amazon Brand - Rivet", "Rubie's"]
COUNTRIES = ["IN", "IN", "US", "GB", "DE"]
COLORS = ["Black", "Blue", "Navy Blue", "Multicolor"]


def _rows(seed: int = 3):
    """ABO-shaped rows: absent attributes, NaN weights, a sparse
    model_year, rows 300+ repeating the vectors of rows 0-99 (distance
    ties), NULL vectors and vectors holding a NULL."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((N, DIM)).astype(np.float32)
    x[300:] = x[:100]
    rows = []
    for i in range(N):
        vec = [float(v) for v in x[i]]
        if i % 37 == 5:
            vec = None
        elif i % 41 == 7:
            vec[3] = None
        if i % 5 == 0:
            weight = None
        elif i % 17 == 0:
            weight = math.nan
        else:
            weight = round(float(rng.lognormal(0.5, 1.0)), 2)
        rows.append((
            i, vec,
            None if i % 50 == 0 else BRANDS[i % len(BRANDS)],
            COUNTRIES[int(rng.integers(len(COUNTRIES)))],
            None if i % 4 == 0 else COLORS[int(rng.integers(len(COLORS)))],
            weight,
            2010 + i % 11 if i % 6 == 0 else None,
            None if i % 9 == 0 else float(np.float32(rng.standard_normal() * 4)),
        ))
    return rows, x


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """A registered cached corpus (``collect_stats`` took its snapshot), a
    registered cached model_year subset, and an unregistered uncached
    parquet frame over the same rows for the Spark plans."""
    rows, x = _rows()
    path = str(tmp_path_factory.mktemp("snapshot") / "corpus")
    spark.createDataFrame(rows, SCHEMA).repartition(3).write.parquet(path)
    plain = spark.read.parquet(path)
    df = spark.read.parquet(path).cache()
    df.count()
    stats = collect_stats(df, ATTRS)
    sub = df.filter(F.col("model_year").isNotNull()).cache()
    n_sub = sub.count()
    router = StrategyRouter(stats)
    router.register_subset("model_year", sub, ["model_year"], n_sub)
    return {"df": df, "sub": sub, "plain": plain, "router": router, "x": x}


def _queries(x):
    """A perturbed row, a repeated row's own vector (zero-distance ties)
    and a point between two rows."""
    rng = np.random.default_rng(9)
    return [
        (x[11] + rng.standard_normal(DIM).astype(np.float32) * 0.5).tolist(),
        x[20].tolist(),
        ((x[30] + x[31]) / 2).tolist(),
    ]


def _got(df):
    return [(r["vec_id"], repr(r["dist"])) for r in df.select("vec_id", "dist").collect()]


def _is_local(df) -> bool:
    root = df._jdf.queryExecution().optimizedPlan().toString().splitlines()[0]
    return root.lstrip().startswith("LocalRelation")


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"snapshot-test-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_every_route_and_acorn_equal_the_spark_plan(spark, corpus):
    """For every route, and for ACORN at two knob settings, over the five
    §2.4 classes: the snapshot's (id, dist) rows and schema equal the
    Spark plan's, ties and NULL vectors included."""
    df, sub, plain, router = corpus["df"], corpus["sub"], corpus["plain"], corpus["router"]
    null_vec = {i for i in range(N) if i % 37 == 5 or i % 41 == 7}
    fills = set()
    for name, pred in CLASSES.items():
        for q in _queries(corpus["x"]):
            cases = {
                "prefilter": (snapshot.search(df, q, pred, K), prefilter_search(plain, q, pred, K)),
                "postfilter": (
                    snapshot.search(df, q, pred, K, large_k=50),
                    postfilter_search(plain, q, pred, K, large_k=50),
                ),
                "routed": (router.search(df, q, pred, K), None),
            }
            if "model_year" in pred:
                plain_sub = plain.filter(F.col("model_year").isNotNull())
                cases["subset"] = (snapshot.search(sub, q, pred, K),
                                   prefilter_search(plain_sub, q, pred, K))
            for route, (got, want) in cases.items():
                assert _is_local(got), (name, route)
                if want is not None:
                    assert got.schema == want.schema, (name, route)
                    assert _got(got) == _got(want), (name, route)
            r = router.route(pred, K)
            want = cases["subset" if r.strategy == "subset" else r.strategy][1]
            assert _got(cases["routed"][0]) == _got(want), name
            assert not {i for i, _ in _got(cases["postfilter"][0])} & null_vec
            for knobs in ({}, {"initial_oversample": 1, "max_rounds": 1}):
                for payload in (None, list(pred)):
                    served = acorn_prepare(df, q, pred, K, payload_cols=payload, **knobs)
                    spark_side = acorn_prepare(plain, q, pred, K, payload_cols=payload, **knobs)
                    got, want = served.search(), spark_side.search()
                    assert _is_local(got) and served._plans is None
                    assert got.schema == want.schema, (name, knobs, payload)
                    assert _got(got) == _got(want), (name, knobs, payload)
                    filled = got is not served.fallback
                    assert filled == (want is not spark_side.fallback), (name, knobs)
                    fills.add(filled)
    assert fills == {True, False}  # both ACORN branches ran


def test_snapshot_queries_run_no_job(spark, corpus):
    df, router = corpus["df"], corpus["router"]
    q = _queries(corpus["x"])[0]
    for pred in CLASSES.values():
        assert _jobs(spark, lambda: router.search(df, q, pred, K).collect()) == 0
        assert _jobs(
            spark, lambda: acorn_prepare(df, q, pred, K, payload_cols=list(pred)).search().collect()
        ) == 0


def test_acorn_spark_hit_path_runs_one_job(spark, corpus):
    """Without a snapshot, a filled ACORN answer is the candidate scan's
    one job: the hit rows come back as a local relation through Arrow,
    not through ``parallelize`` (which ran a second job)."""
    q = _queries(corpus["x"])[0]
    prep = acorn_prepare(corpus["plain"], q, {}, K, payload_cols=["brand"])
    res = []
    assert _jobs(spark, lambda: res.append(prep.search().collect())) == 1
    assert len(res[0]) == K and res[0] == prefilter_search(corpus["plain"], q, {}, K).select(
        "vec_id", "brand", "dist").collect()


def test_wrong_dimension_and_null_vectors(spark, corpus):
    df, plain = corpus["df"], corpus["plain"]
    with pytest.raises(ValueError, match="vector dimension 8 does not match query dimension 3"):
        snapshot.search(df, [0.0, 0.0, 0.0], {}, K)
    with pytest.raises(ValueError, match="vector dimension 8 does not match query dimension 3"):
        acorn_prepare(df, [0.0, 0.0, 0.0], {}, K).search()
    with pytest.raises(Exception, match="vector dimension 8 does not match query dimension 3"):
        prefilter_search(plain, [0.0, 0.0, 0.0], {}, K).collect()
    # a predicate no row with a vector passes scores nothing, so nothing raises
    assert snapshot.search(df, [0.0] * 3, {"vec_id": ["exact", 5]}, K).count() == 0
    # NULL vectors and vectors holding a NULL have no distance
    got = {i for i, _ in _got(snapshot.search(df, [0.0] * DIM, {}, N))}
    assert got == {i for i in range(N) if i % 37 != 5 and i % 41 != 7}


def test_empty_corpus(spark):
    df = spark.createDataFrame([], SCHEMA).cache()
    df.count()
    router = StrategyRouter(collect_stats(df, ATTRS))
    assert _cache.frame_memo(df, "snapshot") is not None
    assert snapshot.search(df, [0.0] * DIM, CLASSES["c3_country"], K).collect() == []
    assert router.search(df, [0.0] * DIM, {}, K).collect() == []
    df.unpersist()


def _stats_key(stats):
    """TableStats as comparable plain data (NaN keys made equal)."""
    def key(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    return (stats.n_rows, {
        a: ({key(v): c for v, c in s.counts.items()}, s.n_rows, s.n_null, getattr(s, "ndv", None))
        for a, s in stats.attrs.items()
    })


def test_collect_stats_snapshot_equals_spark(spark, monkeypatch):
    """NULLs, NaN, -0.0, ints, floats, strings and a high-NDV attribute:
    the snapshot's histograms equal the Spark aggregates'."""
    rows = [
        (
            i,
            None if i % 7 == 0 else f"s{i % 5}",
            None if i % 3 == 0 else i % 4,
            [math.nan, -0.0, 0.0, 1.5, None][i % 5],
            None if i % 11 == 0 else i,
            float(np.float32(i / 3)),
        )
        for i in range(120)
    ]
    schema = "id long, s string, n int, f double, hi long, f32 float"
    df = spark.createDataFrame(rows, schema).cache()
    df.count()  # the plan's size is the cache's own once materialized
    attrs = ["s", "n", "f", "hi", "f32"]
    monkeypatch.setattr(snapshot, "BUDGET_BYTES", 0)
    via_spark = collect_stats(df, attrs, max_distinct=50)
    assert _cache.frame_memo(df, "snapshot") is None
    monkeypatch.undo()
    via_snapshot = collect_stats(df, attrs, max_distinct=50)
    assert _cache.frame_memo(df, "snapshot") is not None
    assert _stats_key(via_snapshot) == _stats_key(via_spark)
    assert via_snapshot.attrs["hi"].ndv == 110 and via_snapshot.attrs["hi"].counts == {}
    assert via_snapshot.attrs["f"].counts[0.0] == 48
    df.unpersist()


# ---------------------------------------------------------------------------
# predicate parity

_VALUES = {
    "brand": ["Amazon", "AmazonBasics", "Amazon Brand", "Rubie's", "", "zzz"],
    "country": ["IN", "US", "I", "zz"],
    "color": ["Blue", "Navy Blue", "lue", "Black"],
    "item_weight": [0, 1, 2.5, 4.0, -1.0, 1e300, math.nan, math.inf],
    "model_year": [2010, 2015, 2018.5, 2020, -5, 1 << 40, math.nan],
    "score": [0, 1, -3, 2.5, 1 << 24, math.nan, -math.inf],
}
_OPS = ["exact", "leq", "geq", "<", ">", "substring", "bogus_op"]
_constraint = st.sampled_from(sorted(_VALUES)).flatmap(
    lambda a: st.tuples(st.just(a), st.sampled_from(_OPS), st.sampled_from(_VALUES[a]))
)
_predicate = st.lists(_constraint, min_size=0, max_size=3).map(
    lambda cs: {a: [op, v] for a, op, v in cs}
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(preds=st.lists(_predicate, min_size=1, max_size=8))
def test_snapshot_mask_equals_spark_filter(corpus, preds):
    """Every op on string and numeric attributes, with absent values, NaN
    and cross-type comparisons: the snapshot's mask passes exactly the
    rows ``df.filter(build_predicate(...))`` keeps."""
    df = corpus["df"]
    snap = _cache.frame_memo(df, "snapshot")
    acc = flat_accessors(df)
    verdicts = (build_predicate(p, acc).alias(f"p{i}") for i, p in enumerate(preds))
    got = df.select("vec_id", *verdicts)
    rows = got.collect()
    ids = snap.table.column("vec_id").to_numpy()
    for i, p in enumerate(preds):
        mask = snapshot.mask(snap, p)
        assert mask is not None, p
        want = {r["vec_id"] for r in rows if r[f"p{i}"]}
        assert set(ids[mask].tolist()) == want, p


def _answer(fn):
    """A search's (id, dist) rows, or the name of the exception it raised
    while being built or collected."""
    try:
        return _got(fn())
    except Exception as e:  # the Spark path's own verdict on the predicate
        return type(e).__name__


@pytest.mark.parametrize("case", ["column", "none", "bool", "str_for_number", "number_for_str",
                                  "accessors", "big_int_float32"])
def test_out_of_grammar_takes_the_spark_path(spark, corpus, case):
    """A Column predicate, explicit accessors, a None value or a value
    the snapshot would compare differently: no snapshot answer, and the
    router and ACORN give the Spark plan's answer (or its error)."""
    df, plain, router = corpus["df"], corpus["plain"], corpus["router"]
    q = _queries(corpus["x"])[0]
    preds = {
        "column": F.col("country") == "US",
        "none": {"country": ["exact", None]},
        "bool": {"item_weight": ["<", True]},
        "str_for_number": {"item_weight": ["<", "4.5"]},
        "number_for_str": {"country": ["exact", 5]},
        "accessors": {"country": ["exact", "US"]},
        "big_int_float32": {"score": ["<", (1 << 24) + 1]},
    }[case]
    kw = {"accessors": flat_accessors(df)} if case == "accessors" else {}
    assert snapshot.search(df, q, preds, K, **kw) is None
    want = _answer(lambda: prefilter_search(plain, q, preds, K, **kw))
    if case != "column":  # the router takes §2.3 dicts only
        assert _answer(lambda: router.search(df, q, preds, K, **kw)) == want
        if isinstance(want, list) and want:  # Spark folds an empty answer to a local one
            assert not _is_local(router.search(df, q, preds, K, **kw))
    assert _answer(lambda: acorn_prepare(df, q, preds, K, **kw).search()) == want
    if case in ("str_for_number", "big_int_float32"):
        assert isinstance(want, list) and want  # Spark answers these


def test_abo_accessors_take_the_spark_path(spark, items_df):
    from acorn_hybrid_vector_search_spark.functions.predicates import abo_accessors

    items = items_df.withColumn(
        "embedding", F.array(F.col("item_id").cast("float"), F.lit(1.0).cast("float"))
    ).cache()
    items.count()
    router = StrategyRouter(collect_stats(items, ["country"]))
    assert _cache.frame_memo(items, "snapshot") is not None
    pred = {"brand": ["substring", "Amazon"]}
    kw = {"accessors": abo_accessors(), "id_col": "item_id"}
    got = router.search(items, [3.0, 1.0], pred, 5, **kw)
    want = prefilter_search(items, [3.0, 1.0], pred, 5, **kw)
    assert not _is_local(got)
    assert [r["item_id"] for r in got.collect()] == [r["item_id"] for r in want.collect()]
    items.unpersist()


# ---------------------------------------------------------------------------
# lifetime


def _frame(spark, cache=True):
    """A fresh frame over new rows; cached ones are materialized, so their
    plan size is the cache's own."""
    rows, _ = _rows(seed=4)
    df = spark.createDataFrame(rows, SCHEMA)
    if cache:
        df.cache().count()
    return df


def test_unregistered_uncached_or_over_budget_frames_get_no_snapshot(spark, corpus, monkeypatch):
    q = _queries(corpus["x"])[0]
    unregistered = _frame(spark)
    assert _cache.frame_memo(unregistered, "snapshot") is None
    assert snapshot.search(unregistered, q, {}, K) is None
    uncached = _frame(spark, cache=False)
    collect_stats(uncached, ["country"])
    assert _cache.frame_memo(uncached, "snapshot") is None
    monkeypatch.setattr(snapshot, "BUDGET_BYTES", 1)
    big = _frame(spark)
    collect_stats(big, ["country"])
    assert _cache.frame_memo(big, "snapshot") is None
    unregistered.unpersist()
    big.unpersist()


@pytest.mark.parametrize("drop", ["unpersist", "reset"])
def test_unpersist_and_reset_drop_the_snapshot(spark, corpus, drop):
    q = _queries(corpus["x"])[0]
    df = _frame(spark)
    router = StrategyRouter(collect_stats(df, ATTRS))
    pred = CLASSES["c3_country"]
    served = router.search(df, q, pred, K)
    assert _is_local(served)
    if drop == "unpersist":
        df.unpersist()
    else:
        _cache.reset()
    assert _cache.frame_memo(df, "snapshot") is None
    again = router.search(df, q, pred, K)
    assert not _is_local(again) and _got(again) == _got(served)
    df.unpersist()


def test_dropped_frame_releases_its_snapshot(spark):
    def frames():
        return sum(1 for k in _cache._FRAMES if k[1] == "snapshot")

    before = frames()
    df = _frame(spark)
    collect_stats(df, ["country"])
    assert frames() == before + 1
    df.unpersist()
    del df
    gc.collect()
    assert frames() == before


def test_take_reads_the_size_of_the_materialized_cache(spark):
    """An RDD-backed frame has no size until its cache materializes; a
    size read before that must not stick to the frame."""
    df = spark.sparkContext.parallelize(_rows(seed=5)[0]).toDF(SCHEMA).cache()
    assert snapshot.take(df) is None
    df.count()
    assert snapshot.take(df) is not None
    df.unpersist()


def test_vector_column_is_held_once_and_rebuilt(spark):
    """A vector column without NULL elements lives only in the snapshot's
    matrix; the rows a query returns carry it as the Spark plan does."""
    rows = [(r[0], None if r[1] is not None and None in r[1] else r[1], *r[2:])
            for r in _rows(seed=5)[0]]
    df = spark.createDataFrame(rows, SCHEMA).cache()
    df.count()
    snap = snapshot.take(df)
    assert "embedding" not in snap.table.column_names
    assert snapshot.column(snap, "embedding").equals(df.toArrow().column("embedding").combine_chunks())
    q = _queries(_rows(seed=5)[1])[0]
    plain = spark.createDataFrame(rows, SCHEMA)
    for pred in CLASSES.values():
        got, want = snapshot.search(df, q, pred, K), prefilter_search(plain, q, pred, K)
        assert _is_local(got) and got.schema == want.schema
        assert [repr(r) for r in got.collect()] == [repr(r) for r in want.collect()]
    df.unpersist()
