"""Contrastive-pair mining: hard negatives (and positives) for embedding
training — the retrieval-training data prep step.

A hard negative for query q is an item CLOSE to q in embedding space but
with a DIFFERENT label — the examples that actually move a contrastive
loss. The queries are a DataFrame with a per-query label, so the plan
is a join by design: broadcast the bounded query batch across the
collection (the corpus never shuffles for the join), apply the
label-mismatch conjunct to each pair BEFORE ranking, then
``row_number() ≤ k`` per query. The pair filter runs map-side, so the
per-query rank shuffle carries only eligible pairs.

At 100 TB: corpus scan × |Q| broadcast — one pass per mining batch. A
driver-side batch with per-query masks is ``knn.knn_batch``'s shape
(top-k per Arrow batch per query before the shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acorn_hybrid_vector_search_spark.functions.distance import l2_sq_distance

__all__ = ["hard_negatives", "mined_pairs"]


def _ranked_pairs(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    pair_cond,
    *,
    query_id_col: str,
    query_vec_col: str,
    vec_col: str,
    id_col: str,
    dist_col: str,
) -> DataFrame:
    pairs = df.crossJoin(F.broadcast(queries)).where(pair_cond)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(dist_col).asc(), F.col(id_col).asc()
    )
    return (
        pairs.withColumn(dist_col, l2_sq_distance(F.col(vec_col), F.col(query_vec_col)))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .drop(query_vec_col)
    )


def hard_negatives(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    label_col: str = "label",
    query_label_col: str = "query_label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
) -> DataFrame:
    """Top-``k`` nearest WRONG-label items per query: the closest
    impostors. ``queries`` carries (query_id, query_vec, query_label)."""
    return _ranked_pairs(
        df,
        queries,
        k,
        F.col(label_col) != F.col(query_label_col),
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        vec_col=vec_col,
        id_col=id_col,
        dist_col=dist_col,
    )


def mined_pairs(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    label_col: str = "label",
    query_label_col: str = "query_label",
    exclude_cond: F.Column | None = None,
    **kw,
) -> DataFrame:
    """Both sides of the contrastive batch in one pass: per query, the
    top-``k`` same-label items (positives, excluding the query row
    itself) and top-``k`` different-label items (hard negatives), tagged
    ``pair_type`` ∈ {'pos', 'neg'}. One corpus scan feeds both windows.

    Self-exclusion contract: by default the query row is excluded from
    its own positives by ``id_col != query_id_col`` — this ASSUMES query
    ids share the corpus id namespace (queries drawn from the corpus,
    the usual in-batch mining setup). With EXTERNAL query ids that
    comparison is meaningless: a genuine positive whose corpus id
    collides with a query id would be silently dropped, and the actual
    query row would not be excluded. Pass ``exclude_cond`` (a boolean
    Column over the pair row, True = keep) to define exclusion in that
    case, e.g. ``F.col("doc_uri") != F.col("query_uri")``."""
    qid = kw.get("query_id_col", "query_id")
    idc = kw.get("id_col", "vec_id")
    if exclude_cond is None:
        exclude_cond = F.col(idc) != F.col(qid)
    pos_cond = (F.col(label_col) == F.col(query_label_col)) & exclude_cond
    neg_cond = F.col(label_col) != F.col(query_label_col)
    pos = _ranked_pairs(
        df, queries, k, pos_cond,
        query_id_col=qid,
        query_vec_col=kw.get("query_vec_col", "query_vec"),
        vec_col=kw.get("vec_col", "embedding"),
        id_col=idc,
        dist_col=kw.get("dist_col", "dist"),
    ).withColumn("pair_type", F.lit("pos"))
    neg = _ranked_pairs(
        df, queries, k, neg_cond,
        query_id_col=qid,
        query_vec_col=kw.get("query_vec_col", "query_vec"),
        vec_col=kw.get("vec_col", "embedding"),
        id_col=idc,
        dist_col=kw.get("dist_col", "dist"),
    ).withColumn("pair_type", F.lit("neg"))
    return pos.unionByName(neg)
