"""Routed-dispatch freshness overhead vs shard count (r11, VERDICT r10
ask #1's ladder point): the r10 router paid a per-dispatch per-shard
content-fingerprint walk (name+size+mtime stat of every file in every
``part_id=`` directory) through ``pruned_match_attrs`` /
``pruned_range_attrs`` / ``estimate_kept_fraction`` — measured
+0.09 s/call at 8 shards and LINEAR in shard count. The r11 protocol
replaces it with one ``_store_version.json`` token compare recorded by
``nsw_stats_write``; the walk remains only as the legacy fallback when
the token is absent.

This tool measures the ROUTING-EVIDENCE layer itself (the driver-side
work ``route_ann_batch`` does before any Spark job: tombstone probe +
both coverage helpers with their freshness checks) per dispatch, at 8 /
64 / 256 shards, in BOTH modes:

- ``token``: the store as every r11 writer leaves it;
- ``legacy``: the same store with ``_store_version.json`` removed, so
  every freshness check pays the r10 fingerprint walk.

Writes the ``dispatch_overhead`` section of BENCH_LADDER.json.
Run: python tools/bench_dispatch_overhead.py
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from acorn_hybrid_vector_search_spark.operators.graph_ann import (  # noqa: E402
    nsw_write_clustered,
    pruned_match_attrs,
    pruned_range_attrs,
    store_has_tombstones,
)
from acorn_hybrid_vector_search_spark.operators.store import (  # noqa: E402
    STORE_VERSION_FILE,
)
from acorn_hybrid_vector_search_spark.session import get_spark  # noqa: E402

SHARD_POINTS = (8, 64, 256)
CALLS = 30


def _corpus(spark, n: int, dim: int):
    schema = "vec_id long, embedding array<double>, label int, weight double"

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.RandomState(7 + int(ids[0]))
            x = rng.standard_normal((len(ids), dim))
            labels = (ids % 10).astype("int32")
            x[:, 0] += 4.0 * labels
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": [row.tolist() for row in x],
                    "label": labels,
                    "weight": (labels * 10 + ids % 5).astype("float64"),
                }
            )

    return spark.range(n).repartition(32).mapInPandas(gen, schema)


def _dispatch_evidence(spark, path: str) -> None:
    """Exactly the driver-side evidence one routed dispatch consults
    for a single-attr exact-match predicate plus a range predicate —
    the layer the token protocol made O(1)."""
    store_has_tombstones(spark, path)
    pruned_match_attrs(spark, path)
    pruned_range_attrs(spark, path)


def _time_calls(spark, path: str) -> float:
    _dispatch_evidence(spark, path)  # warm the memoized sidecar loads
    samples = []
    for _ in range(CALLS):
        t0 = time.perf_counter()
        _dispatch_evidence(spark, path)
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def main() -> None:
    load1, load5, load15 = os.getloadavg()
    spark = get_spark("bench-dispatch-overhead")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = _corpus(spark, 32_000, 16)
    rows = {}
    root = tempfile.mkdtemp(prefix="acorn_dispatch_")
    for shards in SHARD_POINTS:
        path = f"{root}/graph_{shards}"
        nsw_write_clustered(
            corpus, path, n_shards=shards,
            payload_cols=["label", "weight"],
            stats_attrs=["label"], numeric_stats_attrs=["weight"],
        )
        token_ms = _time_calls(spark, path) * 1000
        os.remove(os.path.join(path, STORE_VERSION_FILE))
        legacy_ms = _time_calls(spark, path) * 1000
        rows[str(shards)] = {
            "token_ms_per_dispatch": round(token_ms, 3),
            "legacy_fingerprint_ms_per_dispatch": round(legacy_ms, 3),
            "speedup": round(legacy_ms / token_ms, 1) if token_ms else None,
        }
        print(shards, rows[str(shards)], flush=True)
    shutil.rmtree(root)
    out = {
        "n_vectors": 32_000,
        "dim": 16,
        "calls": CALLS,
        "loadavg_at_launch": [round(load1, 2), round(load5, 2), round(load15, 2)],
        "shards": rows,
    }
    out_path = os.path.join(ROOT, "BENCH_LADDER.json")
    merged = {"base_sf": 0.1, "host": "local[32]", "results": {}}
    if os.path.exists(out_path):
        with open(out_path) as f:
            merged = json.load(f)
    merged["dispatch_overhead"] = out
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {out_path} (dispatch_overhead)")


if __name__ == "__main__":
    main()
