"""The reference's headline evaluation, reproduced: latency + result
quality per (selectivity class × physical strategy).

/root/reference/README.md's results tables compare pre-filter,
post-filter, and ACORN hybrid across query selectivity classes
(SURVEY.md §2.4: class 1 = no predicate, class 2 = moderate
conjunction, class 3 = highly selective / sparse attribute). This tool
runs the same matrix over the Spark strategies on the nested ABO
fixture + driver embeddings and prints one JSON line per cell:
median wall time, rows returned, and recall vs the exact pre-filter
answer (the reference's ground-truth strategy).

    python tools/strategy_matrix.py [sf_dir] [k]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from acorn_hybrid_vector_search_spark.functions.predicates import (  # noqa: E402
    abo_accessors,
    build_predicate,
    extract_attribute_payloads,
)
from acorn_hybrid_vector_search_spark.operators.graph_ann import (  # noqa: E402
    nsw_read_topk,
    nsw_write,
)
from acorn_hybrid_vector_search_spark.operators.hybrid import (  # noqa: E402
    acorn_search,
    postfilter_search,
    prefilter_search,
)
from acorn_hybrid_vector_search_spark.session import get_spark  # noqa: E402

# SURVEY.md §2.4 / reference acorn.py:296-298 literal query classes
CLASSES = {
    "c1_no_predicate": None,
    "c2_weight_brand": {"item_weight": ["<", 2], "brand": ["substring", "Amazon"]},
    "c2_country_brand": {"country": ["exact", "IN"], "brand": ["substring", "Amazon"]},
    "c3_country_us": {"country": ["exact", "US"]},
    "c3_sparse_model_year": {"model_year": ["leq", 2018]},
}

RUNS = 3


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    spark = get_spark("strategy-matrix")
    spark.sparkContext.setLogLevel("ERROR")

    items = spark.read.parquet("/root/repo/fixtures/abo/items.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumnRenamed(
        "vec_id", "item_id"
    )
    # the searchable collection: nested metadata ⋈ embeddings (1:1 on id)
    coll = items.join(emb, "item_id").cache()
    n = coll.count()
    q = coll.where(F.col("item_id") == 1).select("embedding").head()[0]
    acc = abo_accessors()

    # ACORN-γ (r8b): a γ=4 store over the SAME collection, nested
    # attributes extracted to flat payload columns at build time
    # (extract_attribute_payloads — decision-equivalent, pytest-pinned);
    # searched on the predicate subgraph at a bounded beam, the paper's
    # ANN operating point (vs acorn_search's exact escalation)
    import tempfile

    cols, flat_acc = extract_attribute_payloads(acc, prefix="v_")
    store = tempfile.mkdtemp(prefix="acorn_strategy_gamma_") + "/graph"
    t0 = time.perf_counter()
    nsw_write(
        coll.select(
            "item_id", "embedding", *(c.alias(nm) for nm, c in cols.items())
        ),
        store,
        gamma=4,
        id_col="item_id",
        payload_cols=list(cols),
    )
    build_s = time.perf_counter() - t0
    print(json.dumps({"acorn_gamma_store_build_s": round(build_s, 3),
                      "gamma": 4, "note": "one-time, amortized"}))

    def gamma_search(pred):
        p = build_predicate(pred, flat_acc) if pred else None
        return nsw_read_topk(
            spark, store, [(0, list(q))], k, ef=4 * k,
            predicate=p, strategy="subgraph" if p is not None else "traverse_all",
            id_col="item_id",
        )

    strategies = {
        "prefilter": lambda pred: prefilter_search(
            coll, q, pred, k, accessors=acc, id_col="item_id"
        ),
        "postfilter": lambda pred: postfilter_search(
            coll, q, pred, k, large_k=50, accessors=acc, id_col="item_id"
        ),
        # payload must carry every column the predicate reads (operator
        # contract) — project to id + the 5 ABO attributes
        "acorn": lambda pred: acorn_search(
            coll, q, pred, k, accessors=acc, id_col="item_id",
            payload_cols=[
                "item_id", "brand", "color", "item_weight", "model_year", "country",
            ],
        ),
        "acorn_gamma": gamma_search,
    }

    for cls, pred in CLASSES.items():
        # selectivity: how many rows pass the predicate at all
        n_match = prefilter_search(
            coll, q, pred, n, accessors=acc, id_col="item_id"
        ).count()
        exact_ids = [
            r["item_id"]
            for r in prefilter_search(
                coll, q, pred, k, accessors=acc, id_col="item_id"
            ).collect()
        ]
        for name, fn in strategies.items():
            fn(pred).collect()  # warm
            samples = []
            rows = 0
            got: list = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                got = [r["item_id"] for r in fn(pred).collect()]
                samples.append(time.perf_counter() - t0)
                rows = len(got)
            samples.sort()
            recall = (
                round(len(set(got) & set(exact_ids)) / len(exact_ids), 4)
                if exact_ids
                else None
            )
            print(
                json.dumps(
                    {
                        "class": cls,
                        "strategy": name,
                        "median_s": round(samples[len(samples) // 2], 4),
                        "rows": rows,
                        "recall_vs_exact": recall,
                        "n_match": n_match,
                        "selectivity": round(n_match / n, 4),
                        "n_collection": n,
                        "k": k,
                    }
                )
            )


if __name__ == "__main__":
    main()
