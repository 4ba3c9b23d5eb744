"""Structured Streaming: file-source ingest, windowed rollup, sessions,
custom stateful operator — each validated against its batch equivalent on
the same rows (stream/batch parity is the streaming correctness oracle;
SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.sources.testdata import load_table
from acorn_hybrid_vector_search_spark.streaming.pipeline import (
    hourly_rollup,
    ingest_to_parquet,
    running_user_totals,
    sessionize_by_window,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    # small deterministic slice; two "files" so file-source streams see
    # multiple micro-batches with maxFilesPerTrigger=1
    return load_table(spark, SF, "events").filter(F.col("user_id") < 40).cache()


@pytest.fixture(scope="module")
def stream_dir(events, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    first = events.filter("event_id % 2 = 0")
    second = events.filter("event_id % 2 = 1")
    first.coalesce(1).write.parquet(str(d / "batch0"))
    second.coalesce(1).write.parquet(str(d / "batch1"))
    return d


def _stream(spark, stream_dir, events, max_files=None):
    r = spark.readStream.schema(events.schema)
    if max_files is not None:
        r = r.option("maxFilesPerTrigger", max_files)
    return r.option("recursiveFileLookup", "true").parquet(str(stream_dir))


def _run_to_memory(df, name, mode):
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    return name


def test_stream_ingest_roundtrip(spark, events, stream_dir, tmp_path):
    out = tmp_path / "ingested"
    ckpt = tmp_path / "ckpt"
    q = ingest_to_parquet(
        _stream(spark, stream_dir, events), str(out), str(ckpt)
    )
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(str(out)).count() == events.count()


def test_streaming_rollup_matches_batch(spark, events, stream_dir):
    stream = _stream(spark, stream_dir, events)
    _run_to_memory(hourly_rollup(stream), "rollup_stream", "complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM rollup_stream").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in hourly_rollup(events).collect()
    }
    assert got == want


def test_streaming_sessions_match_batch(spark, events, stream_dir):
    stream = _stream(spark, stream_dir, events)
    _run_to_memory(
        sessionize_by_window(stream, gap="30 minutes"), "sessions_stream", "complete"
    )
    got = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_stream").collect()
    }
    want = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in sessionize_by_window(events, gap="30 minutes").collect()
    }
    assert got == want


def test_streaming_dedup_drops_replayed_rows(spark, events, tmp_path):
    """dropDuplicatesWithinWatermark semantics: the same keys delivered in
    two micro-batches (an at-least-once replay) come out once, matching
    the batch dropDuplicates result."""
    from acorn_hybrid_vector_search_spark.streaming.pipeline import streaming_dedup

    d = tmp_path / "dup_stream"
    sample = events.filter(F.col("event_id") % 3 == 0)
    sample.coalesce(1).write.parquet(str(d / "b0"))
    sample.coalesce(1).write.parquet(str(d / "b1"))  # full replay of b0

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )
    _run_to_memory(
        streaming_dedup(stream, key_cols=("event_id",)), "dedup_stream", "append"
    )
    got = {r["event_id"] for r in spark.sql("SELECT event_id FROM dedup_stream").collect()}
    want = {r["event_id"] for r in streaming_dedup(sample, key_cols=("event_id",)).collect()}
    assert got == want
    assert spark.sql("SELECT COUNT(*) FROM dedup_stream").head()[0] == len(want)


def test_running_totals_accumulate_across_batches(spark, events, stream_dir):
    """applyInPandasWithState carries state between micro-batches: with one
    file per trigger, the LAST emission per user equals the full batch
    count/total."""
    stream = _stream(spark, stream_dir, events, max_files=1)
    _run_to_memory(running_user_totals(stream), "totals_stream", "append")
    # cumulative n_events is monotonic per user → its max is the final state
    # (batch_ts can't order emissions: the two files cover the same span)
    rows = spark.sql(
        "SELECT user_id, max(n_events) AS n, max_by(total_value, n_events) AS tot,"
        " count(*) AS emissions FROM totals_stream GROUP BY user_id"
    ).collect()
    want = {
        r["user_id"]: (r["n"], r["tot"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 4).alias("tot"),
        )
        .collect()
    }
    assert rows, "stateful operator emitted nothing"
    multi = 0
    for r in rows:
        wn, wtot = want[r["user_id"]]
        assert r["n"] == wn
        assert r["tot"] == pytest.approx(wtot, abs=1e-3)
        if r["emissions"] > 1:
            multi += 1
    assert multi > 0, "expected users emitting in more than one micro-batch"


def test_streaming_incremental_ivf_indexing(spark, tmp_path):
    """Stream new embeddings into a persisted IVF index (frozen codebook):
    after ingest, searching the loaded index at nprobe=C equals exact
    search over ALL vectors (initial + streamed)."""
    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_write,
    )
    from acorn_hybrid_vector_search_spark.operators.knn import knn_exact
    from acorn_hybrid_vector_search_spark.streaming.indexing import (
        stream_index_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    initial = emb.filter("vec_id < 300")
    incoming = emb.filter("vec_id >= 300")

    index = ivf_build(initial, n_clusters=4)
    ivf_write(index, str(tmp_path / "ivf"))

    src = tmp_path / "incoming"
    incoming.coalesce(1).write.parquet(str(src / "b0"))
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = stream_index_embeddings(
        stream, index.centroids, str(tmp_path / "ivf"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    loaded = ivf_read(spark, str(tmp_path / "ivf"))
    assert loaded.df.count() == emb.count()
    qvec = emb.filter("vec_id = 350").select("embedding").head()[0]
    got = [r["vec_id"] for r in ivf_search(loaded, qvec, 10, nprobe=4).collect()]
    want = [r["vec_id"] for r in knn_exact(emb, qvec, 10).collect()]
    assert got == want  # full probe == exact over initial+streamed rows


def test_exact_search_after_ingest_with_refreshed_radii(spark, tmp_path):
    """ivf_search_exact's ball bound is only sound for the lists the radii
    describe; after streaming appends, refresh_radii restores it — exact
    results over initial + streamed vectors."""
    from acorn_hybrid_vector_search_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_search_exact,
        ivf_write,
        refresh_radii,
    )
    from acorn_hybrid_vector_search_spark.operators.knn import knn_exact
    from acorn_hybrid_vector_search_spark.streaming.indexing import (
        stream_index_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    initial = emb.filter("vec_id < 300")
    incoming = emb.filter("vec_id >= 300")

    index = ivf_build(initial, n_clusters=4, with_radii=True)
    ivf_write(index, str(tmp_path / "ivf"))
    src = tmp_path / "incoming"
    incoming.coalesce(1).write.parquet(str(src / "b0"))
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = stream_index_embeddings(
        stream, index.centroids, str(tmp_path / "ivf"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    grown = refresh_radii(ivf_read(spark, str(tmp_path / "ivf")))
    qvec = emb.filter("vec_id = 420").select("embedding").head()[0]
    got = [r["vec_id"] for r in ivf_search_exact(grown, qvec, 10).collect()]
    want = [r["vec_id"] for r in knn_exact(emb, qvec, 10).collect()]
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, events, stream_dir):
    """The watermarked stream-stream interval join must emit exactly the
    batch equi+range join's pairs — including across micro-batch
    boundaries (the stream_dir fixture splits events into 2 files; with
    maxFilesPerTrigger=1 view rows from batch 0 must still match
    purchase rows arriving in batch 1 out of the join state)."""
    from acorn_hybrid_vector_search_spark.streaming.pipeline import interval_join

    def sides(df):
        views = df.where(F.col("event_type") == "view").select(
            "event_id", "user_id", "ts"
        )
        purch = df.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        return views, purch

    sv, sp = sides(_stream(spark, stream_dir, events, max_files=1))
    joined = interval_join(
        sv, sp, horizon="1 hour", left_prefix="v_", right_prefix="p_"
    ).select("user_id", "v_event_id", "p_event_id")
    _run_to_memory(joined, "attrib_stream", "append")
    got = {
        (r["user_id"], r["v_event_id"], r["p_event_id"])
        for r in spark.sql("SELECT * FROM attrib_stream").collect()
    }

    bv, bp = sides(events)
    want = {
        (r["user_id"], r["v_event_id"], r["p_event_id"])
        for r in interval_join(
            bv, bp, horizon="1 hour", left_prefix="v_", right_prefix="p_"
        )
        .select("user_id", "v_event_id", "p_event_id")
        .collect()
    }
    assert got == want and want, "stream != batch (or empty join)"


def test_interval_join_batch_plan_no_cartesian(spark, events):
    """The batch shape must shuffle on the equi key with the range bound
    in the join condition — never a cartesian product."""
    from acorn_hybrid_vector_search_spark.streaming.pipeline import interval_join

    v = events.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    p = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    plan = (
        interval_join(v, p, horizon="1 hour")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# streaming NSW ingestion (VERDICT r7 ask #5)


def _mk_vec_rows(spark, lo, hi, dim=8, seed=3):
    """Vectors are a pure function of (seed, id) so batch-wise and
    all-at-once generation agree row-for-row."""
    import random

    rows = [
        (
            i,
            [
                round(random.Random(f"{seed}:{i}:{d}").uniform(-1, 1), 4)
                for d in range(dim)
            ],
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_stream_nsw_append_grows_store_and_compacts(spark, tmp_path):
    """Micro-batches land as batch-keyed shards; the compaction policy
    fires once shard count exceeds compact_factor×target and re-packs
    committed shards to ids < parts_cap; full-beam search over the
    grown store stays exact vs brute force throughout."""
    from pyspark.sql import functions as F

    from acorn_hybrid_vector_search_spark.operators.knn import knn_exact
    from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_read_topk
    from acorn_hybrid_vector_search_spark.streaming.indexing import (
        nsw_stream_batch_writer,
    )

    path = str(tmp_path / "graph")
    write_batch = nsw_stream_batch_writer(
        path, target_shards=2, compact_factor=2.0, parts_cap=64
    )
    # three batches of 8 shards each (repartition forces shard count)
    for bid in range(3):
        write_batch(
            _mk_vec_rows(spark, bid * 40, (bid + 1) * 40).repartition(8), bid
        )
    store = spark.read.parquet(path)
    parts = sorted(
        r["part_id"] for r in store.select("part_id").distinct().collect()
    )
    # batch 2 started with 16 shards > 2×2 → compacted to ≤2 low ids,
    # then wrote its own 8 shards in the batch-2 range [192, 256)
    low = [p for p in parts if p < 64]
    assert low and len(low) <= 2, parts
    assert all(192 <= p < 256 for p in parts if p >= 64), parts
    # ids present exactly once each
    ids = [r["vec_id"] for r in store.select("vec_id").collect()]
    assert sorted(ids) == list(range(120))
    # full-beam exactness over the union
    all_rows = _mk_vec_rows(spark, 0, 120)
    q = all_rows.filter("vec_id = 77").head()["embedding"]
    got = nsw_read_topk(spark, path, [(0, list(q))], k=5, ef=1_000_000)
    want = knn_exact(all_rows, q, 5).select("vec_id").collect()
    assert [r["vec_id"] for r in got.select("vec_id").collect()] == [
        r["vec_id"] for r in want
    ]


def test_stream_nsw_append_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: redelivering a batch id must leave
    the store byte-identical (batch-keyed part_id range + dynamic
    overwrite + range pre-clean), even when the replay partitions the
    batch differently."""
    from acorn_hybrid_vector_search_spark.streaming.indexing import (
        nsw_stream_batch_writer,
    )

    path = str(tmp_path / "graph")
    write_batch = nsw_stream_batch_writer(
        path, target_shards=2, compact_factor=100.0, parts_cap=64
    )
    batch = _mk_vec_rows(spark, 0, 30)
    write_batch(batch.repartition(6), 0)
    n1 = spark.read.parquet(path).count()
    shards1 = spark.read.parquet(path).select("part_id").distinct().count()
    # replay with a DIFFERENT partitioning (fewer shards)
    write_batch(batch.repartition(2), 0)
    store = spark.read.parquet(path)
    assert store.count() == n1 == 30
    assert store.select("part_id").distinct().count() == 2 < shards1
    ids = sorted(r["vec_id"] for r in store.select("vec_id").collect())
    assert ids == list(range(30))


def test_stream_nsw_append_end_to_end_streaming_query(spark, tmp_path):
    """The actual writeStream path: a 2-file parquet stream drains via
    stream_nsw_append (maxFilesPerTrigger=1 → two real micro-batches)
    and the store answers exactly like a batch-built one."""
    from acorn_hybrid_vector_search_spark.operators.knn import knn_exact
    from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_read_topk
    from acorn_hybrid_vector_search_spark.streaming.indexing import stream_nsw_append

    src = str(tmp_path / "src")
    rows = _mk_vec_rows(spark, 0, 60)
    rows.filter("vec_id < 30").coalesce(1).write.mode("overwrite").parquet(src)
    rows.filter("vec_id >= 30").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    path = str(tmp_path / "graph")
    q = stream_nsw_append(
        stream, path, str(tmp_path / "ckpt"), target_shards=4
    )
    q.processAllAvailable()
    q.stop()
    qv = rows.filter("vec_id = 11").head()["embedding"]
    got = nsw_read_topk(spark, path, [(0, list(qv))], k=5, ef=1_000_000)
    want = knn_exact(rows, qv, 5).select("vec_id").collect()
    assert [r["vec_id"] for r in got.select("vec_id").collect()] == [
        r["vec_id"] for r in want
    ]


def test_stream_hybrid_serve_replay_idempotent_and_batch_parity(spark, tmp_path):
    """r8 serving twin (streaming/serving.py): (a) redelivering a batch
    id overwrites exactly its own batch-keyed results — no duplicates
    under at-least-once foreachBatch; (b) the per-micro-batch answers
    are IDENTICAL to prefilter_search_batch over the same queries —
    stream-served ≡ static batch."""
    import json

    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        prefilter_search_batch,
    )
    from acorn_hybrid_vector_search_spark.streaming.serving import (
        hybrid_serve_batch_writer,
    )

    corpus = spark.createDataFrame(
        [
            (i, [float(i % 7), float((i * 3) % 5)], i % 4, "IN" if i % 5 == 0 else "US")
            for i in range(80)
        ],
        "vec_id long, embedding array<double>, label int, country string",
    )
    out = str(tmp_path / "results")
    writer = hybrid_serve_batch_writer(corpus, out, k=5)
    qdf = spark.createDataFrame(
        [
            (0, [1.0, 2.0], None),
            (1, [3.0, 1.0], json.dumps({"label": ["exact", 2]})),
            (2, [0.5, 4.0], json.dumps({"country": ["exact", "IN"]})),
        ],
        "query_id long, embedding array<double>, predicate_json string",
    )
    writer(qdf.filter("query_id < 2"), 0)
    writer(qdf.filter("query_id = 2"), 1)
    first = sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 9))
        for r in spark.read.parquet(out).collect()
    )
    # replay batch 0 with different partitioning → byte-same results
    writer(qdf.filter("query_id < 2").repartition(3), 0)
    again = sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 9))
        for r in spark.read.parquet(out).collect()
    )
    assert first == again
    # stream-accumulated ≡ one static batch call over all three queries
    want = sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 9))
        for r in prefilter_search_batch(
            corpus,
            [
                (0, [1.0, 2.0], None),
                (1, [3.0, 1.0], {"label": ["exact", 2]}),
                (2, [0.5, 4.0], {"country": ["exact", "IN"]}),
            ],
            k=5,
        ).collect()
    )
    assert first == want
    # empty micro-batch is a no-op (no partition dir, no error)
    writer(qdf.filter("query_id > 99"), 2)
    assert sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 9))
        for r in spark.read.parquet(out).collect()
    ) == first


def test_stream_nsw_serve_replay_idempotent_and_batch_parity(spark, tmp_path):
    """r8b graph-store serving twin: redelivered batches overwrite their
    own batch-keyed results, and the accumulated stream answers equal
    ONE static predicates-batched nsw_read_topk over the same store at
    the same beam — stream ≡ batch on the graph path too."""
    import json

    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.streaming.serving import (
        nsw_serve_batch_writer,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)], i % 4) for i in range(80)],
        "vec_id long, embedding array<double>, label int",
    )
    store = str(tmp_path / "graph")
    nsw_write(corpus.repartition(3), store, payload_cols=["label"])
    out = str(tmp_path / "results")
    acc = flat_accessors({"label": "int"})
    writer = nsw_serve_batch_writer(
        store, out, k=5, accessors=acc, ef=1_000_000
    )
    qdf = spark.createDataFrame(
        [
            (0, [1.0, 2.0], None),
            (1, [3.0, 1.0], json.dumps({"label": ["exact", 2]})),
            (2, [0.5, 4.0], json.dumps({"label": ["leq", 1]})),
        ],
        "query_id long, embedding array<double>, predicate_json string",
    )
    writer(qdf.filter("query_id < 2"), 0)
    writer(qdf.filter("query_id = 2"), 1)
    first = sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 9))
        for r in spark.read.parquet(out).collect()
    )
    writer(qdf.filter("query_id < 2").repartition(3), 0)  # replay
    again = sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 9))
        for r in spark.read.parquet(out).collect()
    )
    assert first == again
    from pyspark.sql import functions as F

    want = sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 9))
        for r in nsw_read_topk(
            spark,
            store,
            [(0, [1.0, 2.0]), (1, [3.0, 1.0]), (2, [0.5, 4.0])],
            5,
            ef=1_000_000,
            predicates={
                1: F.col("label").isNotNull() & (F.col("label") == 2),
                2: F.col("label").isNotNull() & (F.col("label") <= 1),
            },
        ).collect()
    )
    assert first == want


def test_stream_serve_duplicate_query_rows(spark, tmp_path):
    """Review r8b: an at-least-once source redelivering a query INSIDE
    one micro-batch must not corrupt the top-k — identical duplicates
    collapse to one, conflicting duplicates raise."""
    import json

    import pytest as _pytest

    from acorn_hybrid_vector_search_spark.streaming.serving import (
        hybrid_serve_batch_writer,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)], i % 4) for i in range(40)],
        "vec_id long, embedding array<double>, label int",
    )
    out = str(tmp_path / "results")
    writer = hybrid_serve_batch_writer(corpus, out, k=5)
    spec = json.dumps({"label": ["exact", 2]})
    dup = spark.createDataFrame(
        [(1, [3.0, 1.0], spec), (1, [3.0, 1.0], spec)],
        "query_id long, embedding array<double>, predicate_json string",
    )
    writer(dup, 0)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 5  # k distinct answers, not k/2 doubled
    assert len({r["vec_id"] for r in rows}) == 5
    conflict = spark.createDataFrame(
        [(2, [3.0, 1.0], spec), (2, [3.0, 1.0], None)],
        "query_id long, embedding array<double>, predicate_json string",
    )
    with _pytest.raises(ValueError, match="conflicting duplicate"):
        writer(conflict, 1)


def test_stream_nsw_append_replay_with_compaction_no_duplicates(spark, tmp_path):
    """r8 ADVICE (medium): the crash window where batch N's parquet
    write succeeded but the checkpoint commit did not — the replay must
    NOT let the compaction policy fold the uncommitted first attempt's
    vectors into the base shards before rewriting them (which would
    duplicate every batch-N vector). The batch-range pre-clean now runs
    BEFORE the store is read for the compaction decision."""
    from acorn_hybrid_vector_search_spark.operators.knn import knn_exact
    from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_read_topk
    from acorn_hybrid_vector_search_spark.streaming.indexing import (
        nsw_stream_batch_writer,
    )

    path = str(tmp_path / "graph")
    write_batch = nsw_stream_batch_writer(
        path, target_shards=2, compact_factor=3.0, parts_cap=64
    )
    write_batch(_mk_vec_rows(spark, 0, 40).repartition(4), 0)  # committed
    b1 = _mk_vec_rows(spark, 40, 80)
    write_batch(b1.repartition(8), 1)  # write succeeded, commit "lost"
    # replay of batch 1: the store holds 4 + 8 = 12 shards > 3×2 — an
    # unclean ordering would compact the first attempt's vectors into
    # the base, then write them AGAIN under the batch-1 range
    write_batch(b1.repartition(8), 1)
    store = spark.read.parquet(path)
    ids = sorted(r["vec_id"] for r in store.select("vec_id").collect())
    assert ids == list(range(80)), "replay+compaction duplicated vectors"
    # and the store still answers exactly at full beam
    all_rows = _mk_vec_rows(spark, 0, 80)
    q = all_rows.filter("vec_id = 55").head()["embedding"]
    got = nsw_read_topk(spark, path, [(0, list(q))], k=5, ef=1_000_000)
    want = knn_exact(all_rows, q, 5).select("vec_id").collect()
    assert [r["vec_id"] for r in got.select("vec_id").collect()] == [
        r["vec_id"] for r in want
    ]


def test_stream_nsw_append_rejects_remote_path(spark):
    """r8 ADVICE: the replay pre-clean is os-level — silently skipping
    it on object-store paths would re-open the stale-shard window, so
    the writer fails fast like nsw_compact does."""
    from acorn_hybrid_vector_search_spark.streaming.indexing import (
        nsw_stream_batch_writer,
    )

    write_batch = nsw_stream_batch_writer("s3a://bucket/graph", target_shards=2)
    with pytest.raises(ValueError, match="local"):
        write_batch(_mk_vec_rows(spark, 0, 4), 0)


def test_stream_nsw_upsert_replaces_and_is_replay_idempotent(spark, tmp_path):
    """r9 streaming upsert: (a) a micro-batch REPLACES stored copies of
    its ids (search returns the new vector, the old copy is dead);
    (b) replaying the same batch id — even partitioned differently —
    leaves exactly one live copy per id."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.operators.knn import knn_exact
    from acorn_hybrid_vector_search_spark.streaming.indexing import (
        nsw_stream_batch_writer,
    )

    path = str(tmp_path / "graph")
    base = _mk_vec_rows(spark, 0, 60)
    nsw_write(base, path)
    write_batch = nsw_stream_batch_writer(
        path, target_shards=2, compact_factor=100.0, parts_cap=64,
        upsert=True,
    )
    # batch 0 replaces ids 10..19 with far-away vectors + inserts 900
    moved = spark.createDataFrame(
        [(i, [3.0 + 0.01 * i] * 8) for i in range(10, 20)] + [(900, [2.5] * 8)],
        "vec_id long, embedding array<double>",
    )
    write_batch(moved.repartition(4), 0)
    write_batch(moved.repartition(2), 0)  # replay, different partitioning
    updated = base.filter("vec_id < 10 OR vec_id >= 20").unionByName(moved)
    q = [3.051] * 8
    got = nsw_read_topk(spark, path, [(0, q)], 5, ef=10**6).collect()
    want = knn_exact(updated, q, 5).select("vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    # old copies dead: querying an old vector of a replaced id never
    # returns that id at distance 0
    old15 = base.filter("vec_id = 15").head()["embedding"]
    top = nsw_read_topk(spark, path, [(0, list(old15))], 1, ef=10**6).head()
    assert not (top["vec_id"] == 15 and top["dist"] < 1e-9)


def test_stream_nsw_upsert_compaction_reclaims_midstream(spark, tmp_path):
    """The shard-count policy fires during an upsert stream and RECLAIMS
    accumulated old-copy tombstones: after compaction the store holds
    exactly one physical copy per live id and answers the updated
    corpus exactly."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.operators.knn import knn_exact
    from acorn_hybrid_vector_search_spark.streaming.indexing import (
        nsw_stream_batch_writer,
    )

    path = str(tmp_path / "graph")
    nsw_write(_mk_vec_rows(spark, 0, 40).repartition(4), path)
    write_batch = nsw_stream_batch_writer(
        path, target_shards=2, compact_factor=2.0, parts_cap=64, upsert=True,
    )
    b0 = spark.createDataFrame(
        [(i, [2.0 + 0.01 * i] * 8) for i in range(0, 8)],
        "vec_id long, embedding array<double>",
    )
    b1 = spark.createDataFrame(
        [(i, [4.0 + 0.01 * i] * 8) for i in range(4, 12)],
        "vec_id long, embedding array<double>",
    )
    write_batch(b0.repartition(8), 0)
    # batch 1 start: 4 + 8 = 12 shards > 2x2 -> compacts (reclaiming
    # b0's tombstoned originals), then b1 re-replaces ids 4..7
    write_batch(b1.repartition(8), 1)
    updated = (
        _mk_vec_rows(spark, 0, 40).filter("vec_id >= 12")
        .unionByName(b0.filter("vec_id < 4"))
        .unionByName(b1)
    )
    ids = sorted(
        r["vec_id"]
        for r in spark.read.parquet(path).select("vec_id").collect()
    )
    # physical copies: compacted base (reclaimed) + b1 shards; ids 4..7
    # appear twice physically (b0 copy compacted-live + b1 copy) until
    # the NEXT compaction, but only the b1 copy is LIVE via tombstones
    q = [4.051] * 8
    got = nsw_read_topk(spark, path, [(0, q)], 6, ef=10**6).collect()
    want = knn_exact(updated, q, 6).select("vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]


def test_stream_nsw_upsert_end_to_end_streaming_query(spark, tmp_path):
    """The actual writeStream path for upserts: two disjoint update
    files drain via stream_nsw_upsert and the store answers the
    updated corpus exactly."""
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.operators.knn import knn_exact
    from acorn_hybrid_vector_search_spark.streaming.indexing import (
        stream_nsw_upsert,
    )

    base = _mk_vec_rows(spark, 0, 60)
    path = str(tmp_path / "graph")
    nsw_write(base, path)
    upd = spark.createDataFrame(
        [(i, [5.0 + 0.01 * i] * 8) for i in range(0, 6)]
        + [(i, [7.0 + 0.01 * i] * 8) for i in range(30, 36)],
        "vec_id long, embedding array<double>",
    )
    src = str(tmp_path / "src")
    upd.filter("vec_id < 6").coalesce(1).write.mode("overwrite").parquet(src)
    upd.filter("vec_id >= 30").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(upd.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_nsw_upsert(stream, path, str(tmp_path / "ckpt"), target_shards=4)
    q.processAllAvailable()
    q.stop()
    updated = base.filter(
        "(vec_id >= 6 AND vec_id < 30) OR vec_id >= 36"
    ).unionByName(upd)
    for probe in ([5.031] * 8, [7.331] * 8):
        got = nsw_read_topk(spark, path, [(0, probe)], 4, ef=10**6).collect()
        want = knn_exact(updated, probe, 4).select("vec_id").collect()
        assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]


def test_stream_nsw_upsert_skips_compaction_that_would_empty(spark, tmp_path):
    """ADVICE r9 wedge guard: a replayed upsert batch whose first
    attempt tombstoned every live row (crash between the tombstone
    append and the shard write) must NOT crash-loop in the mid-stream
    compaction policy — the writer skips compaction for that batch
    (liveness returns with the batch's own shards) instead of letting
    nsw_compact raise 'would empty the store'."""
    from pyspark.sql import functions as F

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.operators.knn import knn_exact
    from acorn_hybrid_vector_search_spark.operators.store import (
        tombstones_path,
    )
    from acorn_hybrid_vector_search_spark.streaming.indexing import (
        nsw_stream_batch_writer,
    )

    path = str(tmp_path / "graph")
    base = _mk_vec_rows(spark, 0, 40)
    nsw_write(base.repartition(3), path)
    write_batch = nsw_stream_batch_writer(
        path, target_shards=2, compact_factor=2.0, parts_cap=64, upsert=True,
    )
    # batch 0 replaces every id: 3 base shards -> no compaction (3 <= 4)
    v1 = spark.createDataFrame(
        [(i, [2.0 + 0.01 * i] * 8) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    write_batch(v1.repartition(2), 0)
    # simulate batch 1's crashed FIRST attempt: its tombstones (ceiling
    # = offset-1 = 2*64-1, a pure function of the batch id, so these
    # rows are byte-identical to what the attempt wrote) landed, the
    # shard write did not
    (
        v1.select("vec_id")
        .withColumn("part_ceiling", F.lit(2 * 64 - 1).cast("int"))
        .write.mode("append")
        .parquet(tombstones_path(path))
    )
    # replay of batch 1: store has 3 base + 2 batch-0 shards (5 > 4 ->
    # the policy fires) and EVERY row is tombstoned -> pre-fix this
    # raised 'would empty the store' on every retry
    v2 = spark.createDataFrame(
        [(i, [5.0 + 0.01 * i] * 8) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    write_batch(v2.repartition(2), 1)
    q = [5.191] * 8
    got = nsw_read_topk(spark, path, [(0, q)], 5, ef=10**6).collect()
    want = knn_exact(v2, q, 5).select("vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    # and the policy still fires on a later batch once rows are live
    # again: batch 2 pushes the shard count past the threshold and the
    # store compacts without error
    v3 = spark.createDataFrame(
        [(i, [8.0 + 0.01 * i] * 8) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    write_batch(v3.repartition(2), 2)
    got3 = nsw_read_topk(spark, path, [(0, [8.191] * 8)], 5, ef=10**6).collect()
    want3 = knn_exact(v3, [8.191] * 8, 5).select("vec_id").collect()
    assert [r["vec_id"] for r in got3] == [r["vec_id"] for r in want3]


def test_stream_routed_serve_groups_arms_and_matches_batch(spark, tmp_path):
    """r11 routed serving (streaming/serving.py): each micro-batch goes
    through StrategyRouter.ann_search_batch — queries land on ≥2
    different arms within ONE micro-batch (pruned family folded into a
    single store read, unroutable predicate on the prefilter batch
    arm), replays are batch-keyed idempotent, and the accumulated
    results ≡ the static ann_search_batch call over the same queries."""
    import json
    import random as _random

    from acorn_hybrid_vector_search_spark.functions.predicates import (
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_write_clustered,
    )
    from acorn_hybrid_vector_search_spark.plans.router import (
        AttributeStats,
        StrategyRouter,
        TableStats,
    )
    from acorn_hybrid_vector_search_spark.streaming.serving import (
        routed_serve_batch_writer,
    )

    rng = _random.Random(53)
    centers = [(-6, -6), (-6, 6), (6, -6), (6, 6)]
    rows = []
    for i in range(240):
        b = i % 4
        cx, cy = centers[b]
        rows.append(
            (
                i,
                [round(rng.gauss(cx, 0.5), 4), round(rng.gauss(cy, 0.5), 4)],
                b,
                float(b * 10 + i % 5),
            )
        )
    corpus = spark.createDataFrame(
        rows,
        "vec_id long, embedding array<double>, label int, weight double",
    )
    store = str(tmp_path / "gs")
    nsw_write_clustered(
        corpus, store, n_shards=8,
        payload_cols=["label", "weight"],
        stats_attrs=["label"], numeric_stats_attrs=["weight"],
    )
    stats = TableStats(
        n_rows=10_000_000,
        attrs={
            "label": AttributeStats(
                counts={i: 2_500_000 for i in range(4)},
                n_rows=10_000_000, n_null=0,
            )
        },
    )
    router = StrategyRouter(stats)
    acc = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    out = str(tmp_path / "served")
    writer = routed_serve_batch_writer(
        router, corpus, out, 5, pruned_path=store, accessors=acc
    )
    queries = [
        (0, rows[1][1], {"label": ["exact", 3]}),
        (1, rows[2][1], {"weight": ["<", 32], "label": ["exact", 3]}),
        (2, rows[3][1], None),
        (3, rows[4][1], {"vec_id": ["<", 120]}),  # unroutable → prefilter arm
    ]
    routes = router.route_ann_batch(
        corpus, queries, 5, pruned_path=store, accessors=acc
    )
    arms = {r.strategy for r in routes.values()}
    assert len(arms) >= 3, arms  # ≥3 queries on ≥2 different arms
    qdf = spark.createDataFrame(
        [
            (qid, v, json.dumps(p) if p else None)
            for qid, v, p in queries
        ],
        "query_id long, embedding array<double>, predicate_json string",
    )
    writer(qdf.filter("query_id < 2"), 0)
    writer(qdf.filter("query_id >= 2"), 1)
    first = sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 9))
        for r in spark.read.parquet(out).collect()
    )
    writer(qdf.filter("query_id < 2").repartition(3), 0)  # replay
    again = sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 9))
        for r in spark.read.parquet(out).collect()
    )
    assert first == again
    want = sorted(
        (r["query_id"], r["vec_id"], round(r["dist"], 9))
        for r in router.ann_search_batch(
            corpus, queries, 5, pruned_path=store, accessors=acc
        ).collect()
    )
    assert first == want


def test_stream_nsw_append_inherits_float32_store(spark, tmp_path):
    """r11 float32 store × streaming ingest: micro-batches appended to
    a float32-seeded store write float32 shards (the dtype is read off
    the store schema per batch — a float64 batch would leave a
    mixed-precision store whose scan fails to merge), and search stays
    exact w.r.t. the float32-cast corpus."""
    import numpy as np

    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
        nsw_write,
    )
    from acorn_hybrid_vector_search_spark.streaming.indexing import (
        nsw_stream_batch_writer,
    )

    path = str(tmp_path / "graph32")
    seed_df = _mk_vec_rows(spark, 0, 40).repartition(2)
    nsw_write(seed_df, path, vector_dtype="float32")
    write_batch = nsw_stream_batch_writer(path, target_shards=2)
    write_batch(_mk_vec_rows(spark, 40, 80).repartition(2), 0)
    store = spark.read.parquet(path)
    assert (
        store.schema["vector"].dataType.elementType.simpleString()
        == "float"
    )
    all_rows = _mk_vec_rows(spark, 0, 80).collect()
    ids = np.asarray([r[0] for r in all_rows], dtype=np.int64)
    x32 = (
        np.asarray([r[1] for r in all_rows], dtype=np.float64)
        .astype(np.float32)
        .astype(np.float64)
    )
    q = np.asarray(all_rows[7][1], dtype=np.float64)
    d = ((x32 - q) ** 2).sum(axis=1)
    order = sorted(range(len(ids)), key=lambda i: (d[i], ids[i]))
    want = [int(ids[i]) for i in order[:5]]
    got = nsw_read_topk(spark, path, [(0, list(q))], 5, ef=10**6).collect()
    assert [r["vec_id"] for r in got] == want
