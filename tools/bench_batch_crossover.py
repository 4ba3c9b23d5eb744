"""Batch-dispatch crossover ladder (r12 — VERDICT r11 asks #5 and #3).

Two questions a serving deployment must answer, measured instead of
guessed:

1. ``batch_arm_crossover`` — per ROUTED ARM (prefilter scan, pruned
   store read, ivf_exact), at |Q| ∈ {4, 16, 64}: per-query cost of ONE
   ``ann_search_batch`` call (the ≤1-store-read-per-arm dispatch every
   micro-batch of ``stream_routed_serve`` pays) vs the per-query
   ``ann_search`` loop. Each arm pays a fixed multi-job floor per
   batch; the ladder locates where batching beats per-query dispatch
   (the r8b ladder answered this for K5 only). Batch calls are timed
   median-of-3 with plan construction INCLUDED — a serving micro-batch
   builds its plan per trigger; the per-query loop is timed once per
   |Q| after a warm-up (its cost is |Q| × the single-dispatch job
   floor, linear by construction — the 3-sample median is spent where
   the curve bends instead).

2. ``serving_crossover`` — over the SAME persisted clustered store, at
   |Q| ∈ {4, 16, 64, 256}: the per-query best-first WALK
   (``nsw_read_topk``, ef=64 — approximate, budgeted, the anytime
   ACORN contract) vs the BATCH-DENSE kernel (``nsw_dense_topk`` —
   exact, one BLAS gemm per shard). Past the crossover the dense
   kernel is both faster AND exact, so a router serving large
   micro-batches should prefer it; below it the walk's per-query
   budget wins.

Run: ``python tools/bench_batch_crossover.py [sf_dir]``. Writes both
sections into BENCH_LADDER.json with loadavg-at-launch; re-run on a
quiet host if load1 > ~1.5 (PLANS.md methodology).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

os.environ.setdefault("SPARK_GRAFT_CACHE_INPUTS", "1")

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from acorn_hybrid_vector_search_spark.functions.predicates import (  # noqa: E402
    flat_accessors,
)
from acorn_hybrid_vector_search_spark.operators.graph_ann import (  # noqa: E402
    nsw_dense_topk,
    nsw_read_topk,
)
from acorn_hybrid_vector_search_spark.session import get_spark  # noqa: E402

K = 10


def _median(samples):
    s = sorted(samples)
    return s[len(s) // 2]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    load = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark("bench-batch-crossover")
    spark.sparkContext.setLogLevel("ERROR")

    # build/reuse the shared pruned store + IVF index the registry rows use
    path, _qs = entry._nsw_pruned_store(spark, sf_dir)
    idx, _by = entry._ivf_batch_index(spark, sf_dir)
    router = entry._conj_router_stats()
    acc = flat_accessors(
        {"label": "int", "weight": "double", "vec_id": "bigint"}
    )
    corpus = entry._clustered_embeddings(spark, sf_dir).withColumn(
        "weight", (F.col("label") * 10 + F.col("vec_id") % 5).cast("double")
    )
    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in corpus.filter(F.col("vec_id") < 64)
        .select("vec_id", "embedding")
        .collect()
    }
    base = [vecs[i] for i in sorted(vecs)]

    def far(v):
        w = list(v)
        w[1] = w[1] + 1000.0  # est_kept ≈ 1 ⇒ rule-5 ivf_exact demotion
        return w

    arms = {
        "prefilter": [
            (i, base[i], {"vec_id": ["<", 40 + i]}) for i in range(64)
        ],
        "pruned": [
            (
                i,
                base[i],
                {"label": ["exact", i % 10]}
                if i % 2
                else {"label": ["exact", i % 10], "weight": ["<", 32]},
            )
            for i in range(64)
        ],
        "ivf_exact": [(i, far(base[i]), None) for i in range(64)],
    }
    # nominal routes per arm; a PREDICATED query whose nominal route is
    # ivf_exact dispatches on the prefilter arm (ann_search_batch's
    # exactness-with-predicates correction), so the prefilter arm
    # accepts it
    expect = {
        "prefilter": lambda s: s in ("prefilter", "exact", "ivf_exact"),
        "pruned": lambda s: s.startswith("nsw_pruned"),
        "ivf_exact": lambda s: s == "ivf_exact",
    }
    kw = dict(pruned_path=path, ivf_index=idx, accessors=acc)

    arm_out: dict = {}
    for arm, queries in arms.items():
        routes = router.route_ann_batch(corpus, queries[:4], K, **kw)
        assert all(expect[arm](r.strategy) for r in routes.values()), (
            arm,
            {q: r.strategy for q, r in routes.items()},
        )
        arm_out[arm] = {}
        for q_n in (4, 16, 64):
            batch = queries[:q_n]
            router.ann_search_batch(corpus, batch, K, **kw).count()  # warm
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                router.ann_search_batch(corpus, batch, K, **kw).count()
                samples.append(time.perf_counter() - t0)
            batch_s = _median(samples)
            t0 = time.perf_counter()
            for qid, v, preds in batch:
                router.ann_search(corpus, v, preds, K, **kw).count()
            loop_s = time.perf_counter() - t0
            arm_out[arm][f"q{q_n}"] = {
                "batch_s": round(batch_s, 3),
                "batch_ms_per_query": round(batch_s / q_n * 1000, 2),
                "perquery_loop_s": round(loop_s, 3),
                "perquery_loop_ms_per_query": round(loop_s / q_n * 1000, 2),
                "batch_wins": batch_s < loop_s,
            }
            print(f"{arm} q={q_n}: {arm_out[arm][f'q{q_n}']}", flush=True)

    # walk vs dense over the same store, pure top-k
    serve_out: dict = {}
    pure = [(i, base[i]) for i in range(64)]
    pure256 = [(i, base[i % 64]) for i in range(64)] + [
        (64 + i, far(base[i % 64])) for i in range(192)
    ]
    for q_n in (4, 16, 64, 256):
        qs = pure[:q_n] if q_n <= 64 else pure256[:q_n]
        row = {}
        for name, fn in (
            (
                "walk",
                lambda qs=qs: nsw_read_topk(spark, path, qs, K, ef=64),
            ),
            ("dense", lambda qs=qs: nsw_dense_topk(spark, path, qs, K)),
        ):
            fn().count()  # warm
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn().count()
                samples.append(time.perf_counter() - t0)
            s = _median(samples)
            row[f"{name}_s"] = round(s, 3)
            row[f"{name}_ms_per_query"] = round(s / q_n * 1000, 2)
        row["dense_wins"] = row["dense_s"] < row["walk_s"]
        serve_out[f"q{q_n}"] = row
        print(f"serving q={q_n}: {row}", flush=True)

    out_path = os.path.join(ROOT, "BENCH_LADDER.json")
    merged = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            merged = json.load(f)
    merged["batch_arm_crossover"] = {
        "sf_dir": sf_dir,
        "k": K,
        "loadavg_at_launch": load,
        "arms": arm_out,
    }
    merged["serving_crossover"] = {
        "sf_dir": sf_dir,
        "k": K,
        "ef_walk": 64,
        "loadavg_at_launch": load,
        "points": serve_out,
    }
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {out_path} (batch_arm_crossover, serving_crossover)")


if __name__ == "__main__":
    main()
