"""Recluster ladder point (r10 — VERDICT r9 ask #2 "Done =" clause):
measure that a grown clustered store LOSES prunability and
``nsw_recluster`` restores it, against ``nsw_compact``'s id-hash
re-pack which destroys it permanently.

Recipe: the r9 nsw_prune corpus (64 Gaussian blobs, dim 64) clustered
at 64 shards, then grown by 25% (new blob-distributed rows via
nsw_append — cluster purity broken, stats stale) and 5% deleted.
Measured states, for the same 8-query batch:

- ``built``      — fresh clustered store: kept fraction + pruned time.
- ``grown``      — after append+delete: pruned reads REFUSE by
  contract (stale stats AND tombstones each independently refuse —
  the r9 guard matrix), so this state records the refusal itself;
  prunability is unreachable until a lifecycle op reclaims.
- ``compacted``  — nsw_compact (id-hash re-pack) + stats refresh: the
  r9 finding, re-measured — hash shards merge distant blobs, kept
  fraction ≈ 1, pruning buys nothing.
- ``reclustered``— nsw_recluster: cluster-pure again, tombstones
  reclaimed, stats fresh in the same swap; kept fraction back at the
  built level.

Each state's pruned search is full-beam exactness-checked against
brute force over the live corpus (2 queries).

Writes the ``nsw_recluster`` section of BENCH_LADDER.json.
Run: python tools/bench_nsw_recluster.py [n_vectors]
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
    nsw_append,
    nsw_compact,
    nsw_delete,
    nsw_read_topk,
    nsw_recluster,
    nsw_stats_write,
    nsw_write_clustered,
    prune_plan,
)
from acorn_hybrid_vector_search_spark.operators.store import (  # noqa: E402
    load_stats,
    stats_path,
)
from acorn_hybrid_vector_search_spark.session import get_spark  # noqa: E402

DIM = 64
N_BLOBS = 64
N_SHARDS = 64
N_QUERIES = 8
K = 10
EF = 64


def main() -> None:
    args = [int(a) for a in sys.argv[1:]]
    n = args[0] if args else 48_000
    n_grow = n // 4
    rng = np.random.default_rng(23)
    centers = rng.normal(0.0, 4.0, (N_BLOBS, DIM))
    blob = rng.integers(0, N_BLOBS, n + n_grow)
    x = centers[blob] + rng.normal(0.0, 0.5, (n + n_grow, DIM))
    q_idx = rng.choice(n, N_QUERIES, replace=False)
    queries = [(int(i), [float(v) for v in x[i]]) for i in q_idx]
    deleted = set(range(0, n, 20))  # 5% of the originals
    live_mask = np.ones(n + n_grow, dtype=bool)
    for i in deleted:
        live_mask[i] = False

    spark = get_spark("bench-nsw-recluster")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(32)
    grow = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n, n + n_grow)],
        "vec_id long, embedding array<double>",
    ).repartition(8)

    root = tempfile.mkdtemp(prefix="acorn_recluster_ladder_")
    path = root + "/graph"

    def measure(state: str, extra: dict | None = None) -> dict:
        parts, cents, radii, counts = load_stats(spark, stats_path(path))
        kept = prune_plan(
            parts, cents, radii, counts,
            np.asarray([v for _, v in queries], dtype=np.float64), K,
        )
        kept_frac = float(np.mean([len(kp) / len(parts) for kp in kept]))
        cnt = {int(p): int(c) for p, c in zip(parts, counts)}
        n_live = int(counts.sum())
        rows_frac = float(
            sum(cnt[int(p)] for kp in kept for p in kp.tolist())
            / (n_live * len(queries))
        )
        nsw_read_topk(spark, path, queries, K, ef=EF, prune=True).count()
        t0 = time.time()
        nsw_read_topk(spark, path, queries, K, ef=EF, prune=True).count()
        pruned_s = time.time() - t0
        # exactness vs brute force over the CURRENT live corpus
        spot = queries[:2]
        full_p = sorted(
            map(
                tuple,
                nsw_read_topk(
                    spark, path, spot, K, ef=10**9, prune=True
                ).collect(),
            )
        )
        live_idx = (
            np.arange(n + n_grow)[live_mask]
            if state != "built"
            else np.arange(n)
        )
        for qid, qv in spot:
            d = ((x[live_idx] - np.asarray(qv)) ** 2).sum(axis=1)
            order = np.lexsort((live_idx, d))[:K]
            want = [int(live_idx[j]) for j in order]
            got = [
                t[1]
                for t in sorted(
                    (t for t in full_p if t[0] == qid),
                    key=lambda t: (t[2], t[1]),
                )
            ]
            assert got == want, f"pruned != brute force at state {state}"
        rec = {
            "state": state,
            "n_shards": int(len(parts)),
            "n_live_rows": n_live,
            "kept_shard_fraction": round(kept_frac, 4),
            "rows_walked_fraction": round(rows_frac, 4),
            "pruned_q8_s": round(pruned_s, 3),
            **(extra or {}),
        }
        print(rec, flush=True)
        return rec

    states = []
    t0 = time.time()
    nsw_write_clustered(base, path, n_shards=N_SHARDS)
    states.append(measure("built", {"op_s": round(time.time() - t0, 1)}))

    # grow + delete; pruned reads refuse until stats are refreshed
    nsw_append(grow, path)
    nsw_delete(spark, path, sorted(deleted))
    refused = False
    try:
        nsw_read_topk(spark, path, queries, K, ef=EF, prune=True).count()
    except ValueError:
        refused = True
    assert refused, "stale-stats guard should refuse after growth"
    # tombstones ALSO refuse plain prune independently (stats refresh
    # alone could not make this state prunable) — the grown state IS
    # the refusal; prunability returns only via a reclaiming lifecycle
    # op (the two branches below)
    n_grown_shards = sum(
        1 for d in os.listdir(path) if d.startswith("part_id=")
    )
    states.append(
        {
            "state": "grown",
            "n_shards": n_grown_shards,
            "pruned_reads": "refused (stale stats + tombstones — the "
            "r9 guard matrix; prunability lost until a lifecycle op)",
        }
    )
    print(states[-1], flush=True)

    # branch A: nsw_compact (id-hash re-pack) + stats refresh
    snap = root + "/graph_snapshot"
    shutil.copytree(path, snap)
    t0 = time.time()
    nsw_compact(spark, path, n_shards=N_SHARDS)
    compact_s = time.time() - t0
    nsw_stats_write(spark, path)
    states.append(measure("compacted", {"op_s": round(compact_s, 1)}))

    # branch B: nsw_recluster on the snapshot (same grown+deleted state)
    shutil.rmtree(path)
    os.rename(snap, path)
    from acorn_hybrid_vector_search_spark.operators._cache import invalidate

    invalidate()
    t0 = time.time()
    nsw_recluster(spark, path, n_shards=N_SHARDS)
    recluster_s = time.time() - t0
    states.append(measure("reclustered", {"op_s": round(recluster_s, 1)}))

    built_f = states[0]["kept_shard_fraction"]
    comp_f = states[2]["kept_shard_fraction"]
    recl_f = states[3]["kept_shard_fraction"]
    assert recl_f < 0.5 * comp_f, (recl_f, comp_f)
    shutil.rmtree(root)

    out_path = os.path.join(ROOT, "BENCH_LADDER.json")
    merged = {"base_sf": 0.1, "host": "local[32]", "results": {}}
    if os.path.exists(out_path):
        with open(out_path) as f:
            merged = json.load(f)
    merged["nsw_recluster"] = {
        "n_vectors": n,
        "n_appended": n_grow,
        "n_deleted": len(deleted),
        "dim": DIM,
        "n_blobs": N_BLOBS,
        "n_shards": N_SHARDS,
        "ef": EF,
        "k": K,
        "n_queries": N_QUERIES,
        "states": states,
        "built_vs_reclustered_kept_fraction": [built_f, recl_f],
    }
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {out_path} (nsw_recluster)")


if __name__ == "__main__":
    main()
