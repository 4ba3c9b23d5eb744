"""Ball-bound shard-pruning ladder (r9): measure what pruning buys as
the CLUSTERED store's shard count grows — the exact regime the SPANN
layout (Chen et al., NeurIPS'21) targets and the 100 TB story for the
graph rung: per-query cost of an unpruned store is one k-candidate walk
PER SHARD, so a store sharded for cluster-sized tasks pays fan-out
linear in shard count; with per-shard ball stats most shards are
provably irrelevant per query and their directories are never read.

Corpus: 64 well-separated Gaussian blobs in 64 dims (within-blob radius
≈ 4, center separation ≈ 45 — clustered like a real embedding corpus,
deliberately NOT like the driver's isotropic table, where pruning is
vacuous by construction; see _clustered_embeddings in __spark_entry__).

Per shard count S: kmeans-clustered store build (nsw_write_clustered),
then for a 16-query batch at serving beam ef=64: unpruned
nsw_read_topk wall time, pruned wall time, the mean kept-shard
fraction from the actual prune_plan, and an exactness spot-check
(full-beam pruned == full-beam unpruned == brute force for 4 queries).

Writes the ``nsw_prune`` section of BENCH_LADDER.json.
Run: python tools/bench_nsw_prune.py [n_vectors] [shard_counts...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from acorn_hybrid_vector_search_spark.operators.graph_ann import (  # noqa: E402
    nsw_read_topk,
    nsw_write_clustered,
    prune_plan,
)
from acorn_hybrid_vector_search_spark.session import get_spark  # noqa: E402

DIM = 64
N_BLOBS = 64
N_QUERIES = 16
K = 10
EF = 64


def main() -> None:
    args = [int(a) for a in sys.argv[1:]]
    n = args[0] if args else 96_000
    shard_counts = args[1:] or [8, 32, 128]

    rng = np.random.default_rng(9)
    centers = rng.normal(0.0, 4.0, (N_BLOBS, DIM))
    blob = rng.integers(0, N_BLOBS, n)
    x = centers[blob] + rng.normal(0.0, 0.5, (n, DIM))
    q_idx = rng.choice(n, N_QUERIES, replace=False)
    queries = [(int(i), [float(v) for v in x[i]]) for i in q_idx]

    spark = get_spark("bench-nsw-prune")
    spark.sparkContext.setLogLevel("ERROR")
    sdf = spark.createDataFrame(
        [
            (i, [float(v) for v in x[i]], int(blob[i]))
            for i in range(n)
        ],
        "vec_id long, embedding array<double>, label int",
    ).repartition(32)

    rows = []
    for s in shard_counts:
        root = tempfile.mkdtemp(prefix="acorn_prune_ladder_")
        path = root + "/graph"
        t0 = time.time()
        nsw_write_clustered(
            sdf, path, n_shards=s,
            payload_cols=["label"], stats_attrs=["label"],
        )
        build_s = time.time() - t0

        srows = spark.read.parquet(path + "/_shard_stats").collect()
        parts = np.asarray([r["part_id"] for r in srows], dtype=np.int64)
        cents = np.asarray([list(r["centroid"]) for r in srows], np.float64)
        radii = np.asarray([r["radius"] for r in srows], np.float64)
        counts = np.asarray([r["n"] for r in srows], dtype=np.int64)
        kept = prune_plan(
            parts, cents, radii, counts,
            np.asarray([v for _, v in queries], dtype=np.float64), K,
        )
        kept_frac = float(np.mean([len(kp) / len(parts) for kp in kept]))
        # I/O disclosure: fraction of stored ROWS the pruned batch walks
        # (kept-shard member counts vs n×|Q|) — at 100 TB this is the
        # bytes-read story, independent of this box's job-overhead floor
        cnt_by_part = {int(p): int(c) for p, c in zip(parts, counts)}
        rows_frac = float(
            sum(cnt_by_part[int(p)] for kp in kept for p in kp.tolist())
            / (n * len(queries))
        )

        # warm both plans once, then time the serving-beam batch
        nsw_read_topk(spark, path, queries, K, ef=EF).count()
        nsw_read_topk(spark, path, queries, K, ef=EF, prune=True).count()
        t0 = time.time()
        nsw_read_topk(spark, path, queries, K, ef=EF).count()
        unpruned_s = time.time() - t0
        t0 = time.time()
        nsw_read_topk(spark, path, queries, K, ef=EF, prune=True).count()
        pruned_s = time.time() - t0

        # exactness spot-check at full beam for 4 queries
        spot = queries[:4]
        full_p = sorted(
            map(
                tuple,
                nsw_read_topk(
                    spark, path, spot, K, ef=10**9, prune=True
                ).collect(),
            )
        )
        full_u = sorted(
            map(
                tuple,
                nsw_read_topk(spark, path, spot, K, ef=10**9).collect(),
            )
        )
        assert full_p == full_u, "pruned full-beam diverged from unpruned"
        for qid, qv in spot:
            d = ((x - np.asarray(qv)) ** 2).sum(axis=1)
            want = sorted(range(n), key=lambda i: (d[i], i))[:K]
            got = [t[1] for t in sorted(
                (t for t in full_p if t[0] == qid), key=lambda t: (t[2], t[1])
            )]
            assert got == want, f"pruned full-beam != brute force (q {qid})"

        # r9b predicate-aware point: match one blob's label (~1/64 of
        # rows) — passing counts + zero-passing skip vs the same query
        # batch run as an unpruned filter-functor walk
        from acorn_hybrid_vector_search_spark.operators.store import (
            attr_stats_path,
            load_attr_stats,
        )
        from pyspark.sql import functions as F

        ac = load_attr_stats(spark, attr_stats_path(path))
        pc = np.asarray(
            [ac["label"].get(int(p), {}).get("7", 0) for p in parts],
            dtype=np.int64,
        )
        kept_m = prune_plan(
            parts, cents, radii, pc,
            np.asarray([v for _, v in queries], dtype=np.float64), K,
            skip_empty=True,
        )
        match_frac = float(
            np.mean([len(kp) / len(parts) for kp in kept_m])
        )
        match_rows_frac = float(
            sum(cnt_by_part[int(p)] for kp in kept_m for p in kp.tolist())
            / (n * len(queries))
        )
        nsw_read_topk(
            spark, path, queries, K, ef=EF,
            prune=True, prune_match=("label", 7),
        ).count()
        t0 = time.time()
        nsw_read_topk(
            spark, path, queries, K, ef=EF,
            prune=True, prune_match=("label", 7),
        ).count()
        match_s = time.time() - t0
        nsw_read_topk(
            spark, path, queries, K, ef=EF,
            predicate=F.col("label") == 7,
        ).count()
        t0 = time.time()
        nsw_read_topk(
            spark, path, queries, K, ef=EF,
            predicate=F.col("label") == 7,
        ).count()
        filt_unpruned_s = time.time() - t0

        rec = {
            "n_shards": int(len(parts)),
            "build_s": round(build_s, 1),
            "kept_shard_fraction": round(kept_frac, 4),
            "rows_walked_fraction": round(rows_frac, 4),
            "unpruned_q16_s": round(unpruned_s, 3),
            "pruned_q16_s": round(pruned_s, 3),
            "speedup": round(unpruned_s / max(pruned_s, 1e-9), 2),
            "match_kept_shard_fraction": round(match_frac, 4),
            "match_rows_walked_fraction": round(match_rows_frac, 4),
            "match_pruned_q16_s": round(match_s, 3),
            "match_unpruned_filter_q16_s": round(filt_unpruned_s, 3),
        }
        rows.append(rec)
        print(rec, flush=True)
        shutil.rmtree(root)

    out_path = os.path.join(ROOT, "BENCH_LADDER.json")
    merged = {"base_sf": 0.1, "host": "local[32]", "results": {}}
    if os.path.exists(out_path):
        with open(out_path) as f:
            merged = json.load(f)
    merged["nsw_prune"] = {
        "n_vectors": n,
        "dim": DIM,
        "n_blobs": N_BLOBS,
        "ef": EF,
        "k": K,
        "n_queries": N_QUERIES,
        "shard_counts": rows,
    }
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {out_path} (nsw_prune)")


if __name__ == "__main__":
    main()
