"""Streaming hybrid-query serving — the foreachBatch twin of the r8
batched-serving family (``operators/hybrid.py prefilter_search_batch``),
completing the streaming symmetry every other operator family in this
repo has (rollup, SCD-2, decontamination, media decode, NSW ingestion).

The reference's execution surface is a BATCH of hybrid queries
(hnswlib/python_bindings/bindings.cpp:627-646 — ``knn_query`` runs a
ParallelFor over query rows, each carrying its own filter functor). In
production that batch is not a static list: queries ARRIVE. This module
is that arrival path — a Structured Streaming source of query rows
(query_id, vector, §2.3 predicate spec) answered per micro-batch with
ONE corpus scan via ``prefilter_search_batch``, results landed
batch-keyed so at-least-once replays are idempotent.

Scale shape: per-micro-batch cost is one corpus scan — cost ∝ corpus
per trigger, NOT ∝ queries (the per-query-loop alternative pays
plan+scan × |Q| per trigger; the r8 batched-serving ladder measured
11.6× at |Q|=64). The only driver-side materialization is the
micro-batch's QUERY rows — a query-size constant by definition (the same
bounded-collect contract as K4's candidate set), never corpus-sized.

The three families (static corpus, NSW store, routed ladder) share one
foreachBatch body (``_serve_writer``) and one stream start; each differs
only in how it answers a parsed query batch.
"""

from __future__ import annotations

import json
from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.plans.router import (
    DENSE_SERVE_MIN_BATCH,
)

__all__ = [
    "hybrid_serve_batch_writer",
    "stream_hybrid_serve",
    "nsw_serve_batch_writer",
    "stream_nsw_serve",
    "routed_serve_batch_writer",
    "stream_routed_serve",
]


def _serve_writer(answer, out_path, *, vec_col, query_id_col, predicate_col):
    """The foreachBatch body every serving family shares. Each
    micro-batch row is one query: ``(query_id, <vec_col>,
    predicate_json)`` where ``predicate_json`` is the §2.3 grammar
    ``{"attr": ["op", value]}`` serialized as JSON (NULL/empty ⇒ pure
    top-k, the class-1 shape). The query rows are collected — they ARE
    the queries, a query-size constant — parsed, and answered by
    ``answer(spark, [(query_id, vector, spec | None), …])``; the answer
    writes under ``_batch_id=<id>`` with DYNAMIC partition overwrite, so
    an at-least-once replay overwrites exactly its own results instead
    of duplicating them.

    At-least-once sources can also redeliver a query INSIDE one
    micro-batch. Identical redeliveries (same id, vector, predicate)
    collapse to one — duplicated query ids would otherwise double every
    candidate and silently halve the distinct top-k. CONFLICTING
    duplicates (same id, different vector or predicate) are a client
    bug and raise rather than letting a dict silently pick a winner."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        queries: dict = {}
        for r in batch_df.select(query_id_col, vec_col, predicate_col).collect():
            q = (list(r[vec_col]), r[predicate_col])
            if queries.setdefault(r[query_id_col], q) != q:
                raise ValueError(
                    f"conflicting duplicate query_id {r[query_id_col]!r} in "
                    "one micro-batch (different vector or predicate)"
                )
        if not queries:
            return
        batch = [
            (qid, vec, json.loads(spec) if spec else None)
            for qid, (vec, spec) in queries.items()
        ]
        (
            answer(batch_df.sparkSession, batch)
            .withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_path)
        )

    return write_batch


def _start(query_stream: DataFrame, write_batch, checkpoint: str):
    return (
        query_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def hybrid_serve_batch_writer(
    corpus: DataFrame,
    out_path: str,
    k: int,
    *,
    accessors: Mapping | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    predicate_col: str = "predicate_json",
    payload_cols: Sequence[str] | None = None,
):
    """The foreachBatch body of ``stream_hybrid_serve`` as a standalone
    callable (exposed so tests can drive it with an explicit batch_id
    and pin replay idempotency — the ``nsw_stream_batch_writer``
    convention): each micro-batch's queries are answered by ONE
    ``prefilter_search_batch`` corpus scan, and only the serving answer
    (query, id, dist) is written — the corpus row width must not
    accumulate a redundant copy per served result under ``out_path``."""
    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        prefilter_search_batch,
    )

    def answer(spark, batch):
        return prefilter_search_batch(
            corpus, batch, k, accessors=accessors, vec_col=vec_col,
            id_col=id_col, query_id_col=query_id_col, payload_cols=payload_cols,
        ).select(query_id_col, id_col, "dist")

    return _serve_writer(
        answer, out_path, vec_col=vec_col, query_id_col=query_id_col,
        predicate_col=predicate_col,
    )


def nsw_serve_batch_writer(
    store_path: str,
    out_path: str,
    k: int,
    *,
    accessors: Mapping,
    ef: int = 64,
    max_visits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    predicate_col: str = "predicate_json",
):
    """The graph-store twin of ``hybrid_serve_batch_writer``: each
    micro-batch of query rows is answered from the PERSISTED NSW store
    via ``nsw_read_topk(predicates={qid: Column})`` — one store scan
    carries every query's own §2.3 predicate (built from its JSON spec
    with the same ``build_predicate`` grammar over the store's payload
    columns) into the per-shard walks. Results land batch-keyed with
    dynamic overwrite (replay-idempotent). ``accessors`` must cover
    every attribute the arriving specs may constrain (the store's
    payload columns)."""
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        build_predicate,
    )
    from acorn_hybrid_vector_search_spark.operators.graph_ann import (
        nsw_read_topk,
    )

    def answer(spark, batch):
        return nsw_read_topk(
            spark, store_path, [(q, v) for q, v, _ in batch], k,
            ef=ef, max_visits=max_visits, id_col=id_col,
            predicates={
                q: build_predicate(spec, accessors)
                for q, _, spec in batch
                if spec is not None
            },
        )

    return _serve_writer(
        answer, out_path, vec_col=vec_col, query_id_col=query_id_col,
        predicate_col=predicate_col,
    )


def stream_hybrid_serve(
    query_stream: DataFrame,
    corpus: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int,
    *,
    accessors: Mapping | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    predicate_col: str = "predicate_json",
    payload_cols: Sequence[str] | None = None,
):
    """Serve a STREAM of hybrid queries against a static corpus: one
    ``prefilter_search_batch`` corpus scan per micro-batch, batch-keyed
    idempotent results (see ``hybrid_serve_batch_writer``). Returns the
    StreamingQuery; results accumulate under ``out_path`` partitioned
    by ``_batch_id``."""
    return _start(
        query_stream,
        hybrid_serve_batch_writer(
            corpus, out_path, k, accessors=accessors, vec_col=vec_col,
            id_col=id_col, query_id_col=query_id_col,
            predicate_col=predicate_col, payload_cols=payload_cols,
        ),
        checkpoint,
    )


def routed_serve_batch_writer(
    router,
    corpus: DataFrame,
    out_path: str,
    k: int,
    *,
    min_recall: float = 1.0,
    ivf_index=None,
    nsw_path: str | None = None,
    gamma_path: str | None = None,
    pruned_path: str | None = None,
    accessors: Mapping | None = None,
    dense_min_batch: int | None = DENSE_SERVE_MIN_BATCH,
    dense_dtype: str = "auto",
    dense_int8_mode: str = "certified",
    dense_rerank_width: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    predicate_col: str = "predicate_json",
):
    """The ROUTED serving body (r11, VERDICT r10 ask #4): each
    micro-batch of query rows goes through ``StrategyRouter.
    ann_search_batch`` — every query routed (rules 1-6), the batch
    GROUPED by strategy, each group answered from ≤ 1 scan / store
    read per arm (all pruned rungs fold into one ``prune_conj`` store
    read). This is what ``stream_nsw_serve`` could not do: a
    micro-batch mixing exact-match, range, conjunction and
    predicate-free queries pays one store read for the whole pruned
    family instead of one per strategy (or an unroutable per-query
    loop). Results land batch-keyed with dynamic overwrite
    (replay-idempotent), serving-answer projection only. The dense
    knobs forward to ``ann_search_batch``: walk-arm unions of ≥
    ``dense_min_batch`` queries land on the exact batch-dense kernel
    (``None`` pins the walk), on its int8 two-phase form when
    ``dense_dtype`` resolves to int8."""

    def answer(spark, batch):
        return router.ann_search_batch(
            corpus, batch, k,
            min_recall=min_recall, ivf_index=ivf_index, nsw_path=nsw_path,
            gamma_path=gamma_path, pruned_path=pruned_path,
            accessors=accessors, dense_min_batch=dense_min_batch,
            dense_dtype=dense_dtype, dense_int8_mode=dense_int8_mode,
            dense_rerank_width=dense_rerank_width,
            id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col,
        )

    return _serve_writer(
        answer, out_path, vec_col=vec_col, query_id_col=query_id_col,
        predicate_col=predicate_col,
    )


def stream_routed_serve(
    query_stream: DataFrame,
    router,
    corpus: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int,
    **kw,
):
    """Serve a STREAM of hybrid queries through the full routed ANN
    ladder: one ``ann_search_batch`` per micro-batch (≤ 1 store read
    per strategy arm — see ``routed_serve_batch_writer``), batch-keyed
    idempotent results. Returns the StreamingQuery."""
    return _start(
        query_stream, routed_serve_batch_writer(router, corpus, out_path, k, **kw),
        checkpoint,
    )


def stream_nsw_serve(
    query_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    k: int,
    *,
    accessors: Mapping,
    ef: int = 64,
    max_visits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    predicate_col: str = "predicate_json",
):
    """Serve a STREAM of hybrid queries from the persisted NSW store:
    one predicates-batched ``nsw_read_topk`` store scan per
    micro-batch, batch-keyed idempotent results (see
    ``nsw_serve_batch_writer``). With ``ef``/``max_visits`` bounded
    this is the ANYTIME serving path; at full beam it answers each
    query's exact pre-filter oracle. Returns the StreamingQuery."""
    return _start(
        query_stream,
        nsw_serve_batch_writer(
            store_path, out_path, k, accessors=accessors, ef=ef,
            max_visits=max_visits, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, predicate_col=predicate_col,
        ),
        checkpoint,
    )
