"""Prune-vs-DIMENSION ladder (r10 — VERDICT r9 ask #6): ball bounds
weaken as dimension grows (concentration of norms: member radii and
center distances both scale ~√dim, so whether the τ cover separates
shards depends on the radius/separation RATIO, not the dim itself —
but real corpora don't hold that ratio fixed). The r9 nsw_prune ladder
ran only at dim 64 on tightly-clustered data; the reference's own
vectors are 2048-dim (ResNet-50). This ladder measures kept-fraction
and speedup at dim 64/512/2048 under TWO geometries per dim:

- ``tight``  — per-dim noise σ=0.5 vs center σ=4 (the r9 recipe's
  ratio): clusters stay separated at every dim, pruning holds.
- ``fat``    — per-dim noise σ=4 (blob radius ≈ center separation,
  the isotropic-ish adversarial case): balls overlap, the prune plan
  keeps ~everything, and the DRIVER-SIDE estimate
  (``estimate_kept_fraction`` — the number router rule 5 consults,
  plans/router.py) reads ≈1.0 BEFORE any store I/O happens — the
  measured grounding for the kept-fraction cutoff that routes such
  queries to ivf_exact instead.

Per (dim, geometry): clustered build at 64 shards, the prune plan's
mean kept-shard/rows-walked fractions for 8 queries, the mean driver
estimate, pruned vs unpruned wall time at serving beam, and a 2-query
full-beam exactness spot-check (pruned ≡ unpruned ≡ brute force —
soundness never depends on the geometry, only the savings do).

Writes the ``nsw_prune_dim`` section of BENCH_LADDER.json.
Run: python tools/bench_nsw_prune_dim.py [n_vectors] [dims...]
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
    estimate_kept_fraction,
    nsw_read_topk,
    nsw_write_clustered,
    prune_plan,
)
from acorn_hybrid_vector_search_spark.operators.store import (  # noqa: E402
    load_stats,
    stats_path,
)
from acorn_hybrid_vector_search_spark.session import get_spark  # noqa: E402

N_BLOBS = 64
N_SHARDS = 64
N_QUERIES = 8
K = 10
EF = 64


def main() -> None:
    args = [int(a) for a in sys.argv[1:]]
    n = args[0] if args else 24_000
    dims = args[1:] or [64, 512, 2048]

    spark = get_spark("bench-nsw-prune-dim")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for dim in dims:
        for geom, sigma in (("tight", 0.5), ("fat", 4.0)):
            rng = np.random.default_rng(17)
            centers = rng.normal(0.0, 4.0, (N_BLOBS, dim))
            blob = rng.integers(0, N_BLOBS, n)
            x = centers[blob] + rng.normal(0.0, sigma, (n, dim))
            q_idx = rng.choice(n, N_QUERIES, replace=False)
            queries = [(int(i), [float(v) for v in x[i]]) for i in q_idx]

            sdf = spark.createDataFrame(
                [(i, [float(v) for v in x[i]]) for i in range(n)],
                "vec_id long, embedding array<double>",
            ).repartition(32)
            root = tempfile.mkdtemp(prefix="acorn_prune_dim_")
            path = root + "/graph"
            t0 = time.time()
            nsw_write_clustered(sdf, path, n_shards=N_SHARDS)
            build_s = time.time() - t0

            parts, cents, radii, counts = load_stats(
                spark, stats_path(path)
            )
            kept = prune_plan(
                parts, cents, radii, counts,
                np.asarray([v for _, v in queries], dtype=np.float64), K,
            )
            kept_frac = float(
                np.mean([len(kp) / len(parts) for kp in kept])
            )
            cnt = {int(p): int(c) for p, c in zip(parts, counts)}
            rows_frac = float(
                sum(cnt[int(p)] for kp in kept for p in kp.tolist())
                / (n * len(queries))
            )
            # the router's number: driver-side, row-weighted, per query
            est = float(
                np.mean(
                    [
                        estimate_kept_fraction(spark, path, qv, K)
                        for _, qv in queries
                    ]
                )
            )

            nsw_read_topk(spark, path, queries, K, ef=EF).count()
            nsw_read_topk(spark, path, queries, K, ef=EF, prune=True).count()
            t0 = time.time()
            nsw_read_topk(spark, path, queries, K, ef=EF).count()
            unpruned_s = time.time() - t0
            t0 = time.time()
            nsw_read_topk(spark, path, queries, K, ef=EF, prune=True).count()
            pruned_s = time.time() - t0

            spot = queries[:2]
            full_p = sorted(
                map(
                    tuple,
                    nsw_read_topk(
                        spark, path, spot, K, ef=10**9, prune=True
                    ).collect(),
                )
            )
            for qid, qv in spot:
                d = ((x - np.asarray(qv)) ** 2).sum(axis=1)
                want = sorted(range(n), key=lambda i: (d[i], i))[:K]
                got = [
                    t[1]
                    for t in sorted(
                        (t for t in full_p if t[0] == qid),
                        key=lambda t: (t[2], t[1]),
                    )
                ]
                assert got == want, f"pruned != brute (dim {dim} {geom})"

            rec = {
                "dim": dim,
                "geometry": geom,
                "noise_sigma": sigma,
                "build_s": round(build_s, 1),
                "kept_shard_fraction": round(kept_frac, 4),
                "rows_walked_fraction": round(rows_frac, 4),
                "router_est_kept_fraction": round(est, 4),
                "unpruned_q8_s": round(unpruned_s, 3),
                "pruned_q8_s": round(pruned_s, 3),
                "speedup": round(unpruned_s / max(pruned_s, 1e-9), 2),
            }
            rows.append(rec)
            print(rec, flush=True)
            shutil.rmtree(root)

    out_path = os.path.join(ROOT, "BENCH_LADDER.json")
    merged = {"base_sf": 0.1, "host": "local[32]", "results": {}}
    if os.path.exists(out_path):
        with open(out_path) as f:
            merged = json.load(f)
    merged["nsw_prune_dim"] = {
        "n_vectors": n,
        "n_blobs": N_BLOBS,
        "n_shards": N_SHARDS,
        "ef": EF,
        "k": K,
        "n_queries": N_QUERIES,
        "kept_fraction_cutoff": 0.9,
        "dims": rows,
    }
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {out_path} (nsw_prune_dim)")


if __name__ == "__main__":
    main()
