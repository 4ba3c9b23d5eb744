"""Physical-plan regression guards: the plan SHAPES are the scale
contract (SURVEY.md §4 / README design rules). If a future change turns a
broadcast join into a cartesian product or drops TakeOrderedAndProject,
these fail before any benchmark does."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries(spark):
    import __spark_entry__ as m

    return {n: f(spark, SF) for n, f in m.queries().items()}


def test_topk_queries_use_take_ordered(queries):
    for name in ("pure_topk", "prefilter_exact", "prefilter_range", "ann_cosine_topk"):
        assert "TakeOrderedAndProject" in _plan(queries[name]), name


# queries whose INTENDED plan is a broadcast nested-loop join against a
# bounded relation (there is no equi-key by construction). Everything
# else must stay equi-join.
_BNLJ_BY_DESIGN = {
    # BM25's / the LM scorers' corpus-stats table is a broadcast 1-row
    # cross join
    "bm25_topk_docs",
    "hybrid_rrf_retrieval",
    "unigram_lm_quality",
    "bigram_lm_quality",
    # bounded broadcast query batch, label-mismatch filtered map-side
    "hard_negatives_topk",
    "mined_contrastive_pairs",
    # constant-size sampled-frame / fixture-image sets pair against
    # themselves; the row-scaled path for the same relations is
    # embedding_near_dups / the ANN family
    "video_frame_similarity",
    "image_similarity",
    # r6 bloom decontamination: the bitset is a 1-row broadcast scalar
    # (constant-size array<bigint>) crossed onto the gram stream for
    # the map-side screen — the designed shape, verified exact by the
    # downstream equi verify-join
    "decontaminate_docs_bloom",
}


def test_no_cartesian_products_anywhere(queries):
    for name, df in queries.items():
        p = _plan(df)
        assert "CartesianProduct" not in p, name
        # nested-loop joins are only acceptable broadcast-side, and only
        # where the broadcast side is a bounded query batch
        if name not in _BNLJ_BY_DESIGN:
            assert "BroadcastNestedLoopJoin" not in p, name


def test_dim_joins_broadcast(queries):
    assert "BroadcastHashJoin" in _plan(queries["join_revenue_by_nation"])


def test_aggregates_are_partial_before_shuffle(queries):
    # partial (map-side) HashAggregate must appear below the exchange
    p = _plan(queries["agg_lineitem_pricing"])
    assert p.count("HashAggregate") >= 2 and "Exchange" in p


def test_scans_prune_columns(queries):
    # the lineitem scan must not read all 8+ columns for a 5-column agg
    p = _plan(queries["agg_lineitem_pricing"])
    read = p.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_pair_joins_keep_threshold_out_of_project(queries):
    # near-dup joins evaluate similarity inside the join condition; the
    # post-join Project must not re-introduce a Filter over all pairs
    p = _plan(queries["ngram_jaccard_near_dups"])
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_nested_items_scan_prunes_and_pushes(queries):
    """Nested-schema scale contract: a hybrid query constraining brand +
    item_weight must scan ONLY those attribute subtrees of the items
    table (nestedSchemaPruning) and push the presence IsNotNulls into the
    parquet source — at 100 TB the unread nested columns are the bulk of
    the bytes."""
    p = _plan(queries["nested_prefilter_weight_brand"])
    import re

    items_schemas = [
        m.group(1)
        for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", p)
        if "brand" in m.group(1)
    ]
    assert items_schemas, "items scan not found in plan"
    for s in items_schemas:
        assert "color" not in s and "model_year" not in s and "country" not in s, s
    pushed = re.search(r"PushedFilters: \[([^\]]*)\].*brand", p)
    assert pushed and "IsNotNull" in pushed.group(1), p[:500]


def test_global_rank_filter_pushes_to_take_ordered(queries):
    """rn <= 1000 over a global row_number must rewrite to
    TakeOrderedAndProject feeding a 1000-row Window — never a
    corpus-sized single-partition Window."""
    p = _plan(queries["global_sort_orders"])
    assert "TakeOrderedAndProject" in p
    assert p.index("TakeOrderedAndProject") > p.index("Window")


# every batch entry answers its queries through knn_batch's map-side
# kernel; the value lists the joins its plan may still hold (the ABO
# corpus join), none of them with the queries
_BATCH_ENTRIES = {
    "knn_batch_topk": 0,
    "hybrid_batch_topk": 1,
    "acorn_batch_topk": 0,
    "postfilter_batch_topk": 0,
    "routed_batch_topk": 1,
    "routed_batch_dispatch_topk": 0,
    "ivf_exact_batch_topk": 0,
}


def test_knn_batch_driver_entry_is_map_side_reduced(queries):
    """Every batch entry must use the map-side-reduced kernel: candidates
    come out of a MapInArrow stage (O(batches·|Q|·k) rows), NOT an
    exploded N·|Q| pair join ranked by a window. A query relation in the
    plan (a local scan), a nested-loop join, or a join beyond the
    entry's own means the pair join leaked back in (VERDICT r2 'what's
    wrong' #2)."""
    import re

    for name, n_joins in _BATCH_ENTRIES.items():
        p = _plan(queries[name])
        assert "MapInArrow" in p, name
        for node in ("LocalTableScan", "BroadcastNestedLoopJoin", "CartesianProduct"):
            assert node not in p, f"{node} in {name} — pair join leaked back"
        joins = re.findall(r"(?:SortMerge|ShuffledHash|BroadcastHash)Join", p)
        assert len(joins) == n_joins, f"{name}: {joins}"


def test_acorn_batch_is_one_kernel_scan(queries):
    """Each query's K4 answer is its pre-filter answer, so the ACORN
    batch is one kernel pass: exactly one MapInArrow, and no Union or
    join (no escalation branch, round selection or fallback scan)."""
    p = _plan(queries["acorn_batch_topk"])
    assert p.count("MapInArrow") == 1, p
    assert "Union" not in p and "Join" not in p, p


def test_batch_kernel_output_drops_vectors(queries):
    """MapInArrow blocks column pruning, so the kernel itself must not
    hand the vector column back to the JVM: its output attributes hold
    no ``embedding``."""
    import re

    for name in ("hybrid_batch_topk", "ivf_exact_batch_topk"):
        outs = re.findall(r"MapInArrow [^\n]*?\)#\d+, \[([^\]]*)\]", _plan(queries[name]))
        assert outs, name
        for out in outs:
            assert "dist#" in out and "embedding#" not in out, (name, out)


def test_asof_driver_entry_is_chunked(queries):
    """The driver's as-of entry must run the skew-safe chunked variant:
    every Window must partition on (key, chunk) — a Window partitioned on
    the bare key serializes a hot key's entire history in one task
    (VERDICT r2 'what's wrong' #3). The chunk-granular carry window is
    exempt: its partitions hold only #chunks rows per key."""
    import re

    p = _plan(queries["asof_latest_order"])
    # every row-scaled window partitions on (user_id, _ck); the carry
    # window partitions on user_id but ranges over chunk rows only —
    # distinguishable because it orders by _ck, not _ots/ts.
    windows = re.findall(r"Window \[[^\n]*partitionBy=\[([^\]]*)\][^\n]*", p)
    # Spark 4 prints windowspec inside the Window line; fall back to
    # matching the windowspecdefinition exprs
    if not windows:
        windows = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert windows, p[:800]
    row_scaled = [w for w in windows if "_ots" in w or " ts" in w or "ts#" in w]
    for w in row_scaled:
        assert "_ck" in w, f"row-scaled window not chunk-partitioned: {w}"


def test_scaled_long_sum_matches_decimal_at_adversarial_magnitude(spark):
    """The _cents/_unscale fast path must agree with the pure decimal
    path even when the micro-unit sum exceeds 2^53 (where the former
    double/1e6 two-step could drift 1 ulp from the oracle's
    CAST(decimal AS DOUBLE) — the round-4 review finding). Sums here
    reach ~6e17 micro-units ≈ 66×2^53."""
    import sys

    sys.path.insert(0, "/root/repo")
    from pyspark.sql import functions as F

    import __spark_entry__ as m

    df = spark.range(600).select(
        (F.col("id") % 3).alias("g"),
        # 2-dp money values around 1e9: group micro-sums ≈ 2e17
        # (≈ 22×2^53) — past double-exactness, inside the documented
        # |Σ| < 2^63 long-accumulation contract
        (F.round(F.col("id") * 7.77 + 999_999_999.13, 2)).alias("v"),
    )
    fast = {
        r["g"]: r["s"]
        for r in df.groupBy("g")
        .agg(F.round(m._unscale(F.sum(m._cents_2dp(F.col("v")))), 6).alias("s"))
        .collect()
    }
    exact = {
        r["g"]: float(r["s"])
        for r in df.groupBy("g")
        .agg(F.round(F.sum(m._dec(F.col("v"))).cast("double"), 6).alias("s"))
        .collect()
    }
    assert fast == exact
    # and against an independent Python decimal recompute
    from decimal import Decimal

    rows = df.collect()
    py = {}
    for r in rows:
        q = Decimal(repr(r["v"])).quantize(Decimal("0.000001"))
        py[r["g"]] = py.get(r["g"], Decimal(0)) + q
    for g, s in py.items():
        assert fast[g] == round(float(s), 6), g


def test_substring_dedup_marking_has_no_window(queries):
    """Duplicate-gram marking must be partial-agg groupBy + join-back,
    never a Window over the raw gram hash: boilerplate grams are
    power-law heavy hitters (10^6-10^9 occurrences at corpus scale) and
    AQE has no skew mitigation for window partitions (VERDICT r4
    'what's wrong' #1). The groupBy's map-side combine bounds the count
    shuffle at one row per hash per mapper; the join-back is
    OptimizeSkewedJoin-splittable."""
    p = _plan(queries["dup_ngram_removal"])
    assert "Window" not in p, "gram-hash window reintroduced:\n" + p[:1200]
    # the marking must actually be agg + join: partial aggregation
    # (map-side combine) feeding a shuffled equi-join
    assert "HashAggregate" in p or "SortAggregate" in p
    assert any(j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), p[:1200]


def test_exact_dedup_survivors_has_no_window(queries):
    """Survivor selection must be partial-agg groupBy + semi-join-back,
    never a Window keyed on the text fingerprint: duplicate multiplicity
    is power-law in a web corpus (a boilerplate/empty page occurs
    10^6-10^8 times), so a Window.partitionBy(md5(text)) row_number
    lands the hottest fingerprint in ONE task with no AQE escape
    (VERDICT r5 'what's wrong' #1). exact_dedup_groups' min(id) is
    map-side-combinable; the (fingerprint, id)=(fingerprint, keep_id)
    semi-join is OptimizeSkewedJoin-splittable."""
    p = _plan(queries["dedup_survivors"])
    assert "Window" not in p, "fingerprint window reintroduced:\n" + p[:1200]
    assert "HashAggregate" in p or "SortAggregate" in p
    assert any(
        j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), p[:1200]


def test_domain_caps_no_window_on_bare_group_key(queries):
    """Per-domain capping must never rank a whole domain in one window
    partition: domain frequency is power-law and capping mega-domains IS
    the operator's job (VERDICT r5 'what's wrong' #2). The only Window
    allowed is the per-bucket local top-cap keyed on the COMPOSITE
    (group, salt-bucket); under-cap groups bypass ranking entirely via
    the partial-agg count join-back."""
    import re

    p = _plan(queries["domain_caps"])
    # every Window node's partition spec must include the salt bucket —
    # i.e. no windowspecdefinition partitioned on the bare group column
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, "expected the per-bucket local top-cap window:\n" + p[:1200]
    for spec in specs:
        part = spec.split("ASC")[0]
        assert "_b" in part, (
            "Window partitioned on bare group key:\n" + spec + "\n" + p[:1200]
        )
    # and the two-phase shape is real: agg (count join-back + bounded
    # sort-agg) feeding equi-joins, with a union of the bypass branch
    assert "HashAggregate" in p or "ObjectHashAggregate" in p or "SortAggregate" in p
    assert "Union" in p, p[:1200]


def test_prepared_queries_are_not_driver_local(spark):
    """The prepared-statement memoization (__spark_entry__._prepared) is
    only honest if every decorated query's plan remains DISTRIBUTED: a
    builder that collects internally and returns a local relation would
    make its bench number fake (plan 'execution' = replaying driver-side
    rows). Guard: no decorated query's optimized plan is rooted at a
    LocalRelation / LocalTableScan (VERDICT r4 'what's wrong' #2a)."""
    import __spark_entry__ as m

    decorated = {
        n: f for n, f in m.queries().items()
        if getattr(f, "_is_prepared", False)
    }
    assert decorated, "no queries carry the _prepared marker"
    for name, fn in decorated.items():
        df = fn(spark, SF)
        root = df._jdf.queryExecution().optimizedPlan().toString().splitlines()[0]
        assert not root.lstrip().startswith(("LocalRelation", "LocalTableScan")), (
            f"{name}: prepared query is driver-local: {root}"
        )
        exec_root = _plan(df).splitlines()[0]
        assert "LocalTableScan" not in exec_root, f"{name}: {exec_root}"


def test_prepared_cache_evicts_dead_sessions(spark):
    """Prepared plans keyed by a dead applicationId must be evicted on
    the next decorated call (VERDICT r4 'what's wrong' #2b: unbounded
    growth across session restarts)."""
    import types

    import __spark_entry__ as m
    from acorn_hybrid_vector_search_spark.operators import _cache

    dead = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId="app-dead-123")
    )
    _cache.memo(dead, ("prepared", SF, "_q_pure_topk"), lambda: None)
    m._q_pure_topk(spark, SF)
    assert all(k[0] != "app-dead-123" for k in _cache._ENTRIES)


def test_ivf_batch_index_repinned_after_invalidate(spark):
    """_cache.invalidate() unpersists the batch IVF index pin; the next
    call must rebuild and pin again, not hand out the unpinned index
    (whose plan re-runs the cluster-assignment UDF per search)."""
    import __spark_entry__ as m
    from acorn_hybrid_vector_search_spark.operators import _cache

    m._q_ivf_exact_batch_topk(spark, SF)
    _cache.invalidate()
    assert "InMemoryTableScan" in _plan(m._q_ivf_exact_batch_topk(spark, SF))


def test_lsh_bucket_cap_no_window_on_bare_bucket_key(queries):
    """The LSH emission cap (VERDICT r6 ask #1) must never rank a whole
    band bucket in one window partition — the over-cap bucket IS the hot
    key the cap exists to bound, and Spark skew-splits joins, never
    window partitions. Same two-phase contract as domain_caps: every
    Window's partition spec must include the salt sub-bucket (_sb);
    under-cap buckets bypass ranking via the count join-back (Union)."""
    import re

    for name in ("minhash_capped_pairs", "winnow_capped_pairs",
                 "simhash_capped_pairs"):
        p = _plan(queries[name])
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
        assert specs, f"{name}: expected the per-salt-bucket local top-cap window"
        for spec in specs:
            part = spec.split("ASC")[0]
            assert "_sb" in part, (
                f"{name}: Window partitioned on bare bucket key:\n" + spec
            )
        assert "Union" in p, f"{name}: missing the under-cap bypass branch"


def test_simhash_cap_stats_partial_agg_only(queries):
    """The no-silent-caps stats row set is a pure partial aggregate —
    no Window, no join, never row-scaled state."""
    p = _plan(queries["simhash_cap_stats"])
    assert "Window" not in p
    assert "HashAggregate" in p or "ObjectHashAggregate" in p or "SortAggregate" in p


def test_hybrid_batch_one_scan_and_mask_kernel(queries):
    """hybrid_batch_topk: one corpus scan answers the whole batch — the
    embeddings table must appear EXACTLY once in the executed plan —
    each distinct predicate is one boolean mask column (_pass_g<i>) on
    that scan, and the per-query top-k is the kernel's map-side cut
    followed by a bounded WindowGroupLimit merge (no per-query window
    over the corpus)."""
    p = _plan(queries["hybrid_batch_topk"])
    assert p.count("embeddings.parquet") == 1, "corpus scanned more than once"
    assert "MapInArrow" in p
    assert "_pass_g0" in p and "_pass_g2" in p
    assert "WindowGroupLimit" in p


def test_nsw_hybrid_batch_plan_single_scan(queries):
    """nsw_hybrid_batch_topk (r8b): the stored node table is scanned
    EXACTLY once for the whole batch — |Q| per-query predicates are
    Catalyst projections (named _pass_<qid> columns) riding that one
    scan into the per-shard walks, never |Q| scans or |Q| jobs."""
    p = _plan(queries["nsw_hybrid_batch_topk"])
    assert p.count("Scan parquet") == 1, "store scanned more than once"
    for q in (1, 2, 3):
        assert f"_pass_{q}" in p, f"missing per-query predicate _pass_{q}"
    assert "FlatMapGroupsInPandas" in p


def test_nsw_dense_batch_plan_shuffle_free(queries):
    """nsw_dense_batch_topk (r12): the dense kernel is a MAP-ONLY pass
    over one store scan — no FlatMapGroupsInPandas (the walk's groupBy
    re-shuffles the vector payload per call), exactly ONE Exchange in
    the whole plan (the O(fragments·|Q|·k) candidate merge window),
    per-query predicates deduped into shared _pass_g<i> mask columns,
    and the bounded top-k as WindowGroupLimit."""
    p = _plan(queries["nsw_dense_batch_topk"])
    assert p.count("Scan parquet") == 1, "store scanned more than once"
    assert "MapInPandas" in p
    assert "FlatMapGroupsInPandas" not in p, "dense kernel must not groupBy"
    assert p.count("Exchange") == 1, "only the candidate merge may shuffle"
    assert "WindowGroupLimit" in p
    assert "_pass_g0" in p


def test_prepared_wide_contract(spark):
    """r14: the widened prepared-statement set must (a) name only real
    registry queries, (b) never include a streaming run or a known
    per-call worker, (c) actually memoize — a second call returns the
    SAME DataFrame object (the plan re-executes per collect; nothing
    about results is cached). Build purity (zero jobs on warm rebuild)
    is audited by tools/build_vs_exec.py."""
    import __spark_entry__ as em

    reg = em.queries()
    assert em._PREPARED_WIDE <= set(reg), sorted(em._PREPARED_WIDE - set(reg))
    deny_prefixes = ("stream_",)
    deny = {
        "bpe_merges", "orc_roundtrip_orders", "near_dup_components",
        "ivf_exact_batch_topk", "ivf_conj_topk", "nsw_dense_int8_topk",
        "nsw_dense_int8_rerank_topk", "routed_dense_int8_topk",
    }
    for name in em._PREPARED_WIDE:
        assert not name.startswith(deny_prefixes), name
        assert name not in deny, name
    for name in sorted(em._PREPARED_WIDE)[:3]:
        fn = reg[name]
        assert getattr(fn, "_is_prepared", False), name
        a = fn(spark, "/root/testdata/sf0.001")
        b = fn(spark, "/root/testdata/sf0.001")
        assert a is b, name
