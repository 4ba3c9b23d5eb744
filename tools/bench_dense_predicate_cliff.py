"""Heterogeneous-predicate ladder for the batch-dense kernel (r13,
VERDICT r12 ask #3): mask-group dedupe (graph_ann.py) collapses a
serving batch's predicates to its DISTINCT expressions, so the open
question is how the kernel scales in |distinct masks| when dedupe
cannot help — every query carrying its own predicate. This tool
measures ``nsw_dense_topk`` at |Q|=1024 over the reference shape
(123,020 × 2048 float32 — the same store the
``acorn_amortized_refshape_dense_f32_q1024`` row uses) with
|distinct| ∈ {1, 16, 256, 1024} (predicates ``label == i % distinct``
— same §2.3 shape as the amortized rows), on both mask paths:

- ``columns``: one boolean column per distinct group (the r12 path,
  plus the r13 one-shot ``pdf[cols].to_numpy`` extraction);
- ``match``: the r13 template fast path — the SAME §2.3 exact
  predicates handed as ``match={qid: (attr, value)}``, evaluated
  executor-side from the raw payload column with ZERO Catalyst
  expressions (the fix the cliff data motivates: the Catalyst
  transport scales with distinct-expression count once codegen falls
  back past the janino 64 KB line; the template path is flat).

An earlier ``bitpack`` transport (ceil(G/31) BIGINT words) never beat
``columns`` at any rung and was removed; its committed samples stay in
BENCH_LADDER.json as history.

Protocol: job-floor control sampled before/after (the r12 discipline
— commit nothing captured in a host stall), loadavg at launch, one
warm-up + median of 3 per rung, every sample disclosed.

Writes the ``dense_predicate_cliff`` section of BENCH_LADDER.json.
Run: python tools/bench_dense_predicate_cliff.py [n_vectors dim shards [batch]]
(defaults 123020 2048 32 1024 — the committed refshape rows' shard count; a smaller smoke shape runs in seconds).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from acorn_hybrid_vector_search_spark.operators.graph_ann import (  # noqa: E402
    nsw_dense_topk,
    nsw_write,
)
from acorn_hybrid_vector_search_spark.session import get_spark  # noqa: E402
from tools._bench_common import job_floor_ms  # noqa: E402
from tools.bench_acorn_amortized import _synth_corpus  # noqa: E402

K = 10
DISTINCTS = (1, 16, 256, 1024)
MODES = ("columns", "match")


def main() -> None:
    n_vectors = int(sys.argv[1]) if len(sys.argv) > 1 else 123_020
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 2048
    shards = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    q_n = int(sys.argv[4]) if len(sys.argv) > 4 else 1024
    load1, load5, load15 = os.getloadavg()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("bench-dense-predicate-cliff")
    spark.sparkContext.setLogLevel("ERROR")
    # same wide-array scan sizing as the refshape amortized rows
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "512")

    emb = _synth_corpus(spark, n_vectors, dim)
    root = tempfile.mkdtemp(prefix="dense_cliff_")
    path = root + "/graph"
    t0 = time.time()
    nsw_write(
        emb.select("vec_id", "embedding", "label").repartition(shards),
        path,
        payload_cols=["label"],
        vector_dtype="float32",
    )
    build_s = time.time() - t0
    pinned = spark.read.parquet(path)
    pinned.cache().count()  # the index-in-RAM analog, untimed (r11)

    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.limit(q_n).collect()}
    qids = sorted(vecs)[:q_n]
    queries = [(int(i), vecs[i]) for i in qids]

    floor_before = job_floor_ms(spark)
    rows = []
    samples_all = {}
    for distinct in DISTINCTS:
        if distinct > q_n:
            continue
        preds = {
            int(i): F.col("label") == (int(i) % distinct) for i in qids
        }
        tmpl = {int(i): ("label", int(i) % distinct) for i in qids}
        for mode in MODES:
            def run():
                if mode == "match":
                    return nsw_dense_topk(
                        spark, path, queries, K, match=tmpl,
                    ).count()
                return nsw_dense_topk(
                    spark, path, queries, K, predicates=preds,
                ).count()

            t0 = time.time()
            run()  # warm
            warm = time.time() - t0
            samples = []
            for _ in range(3):
                t0 = time.time()
                run()
                samples.append(time.time() - t0)
            med = sorted(samples)[1]
            key = f"d{distinct}_{mode}"
            samples_all[key] = [round(s, 2) for s in samples]
            rows.append(
                {
                    "distinct_masks": distinct,
                    "mask_packing": mode,
                    "batch_s": round(med, 3),
                    "ms_per_query": round(med / q_n * 1000, 2),
                }
            )
            print(
                f"  distinct={distinct} mode={mode}: warm {warm:.2f}s "
                f"samples {[round(s, 2) for s in samples]}",
                flush=True,
            )
    floor_after = job_floor_ms(spark)
    pinned.unpersist()
    shutil.rmtree(root)

    out = {
        "n_vectors": n_vectors,
        "dim": dim,
        "n_shards": shards,
        "vector_dtype": "float32",
        "batch": q_n,
        "k": K,
        "build_s_untimed": round(build_s, 1),
        "loadavg_at_launch": [round(load1, 2), round(load5, 2), round(load15, 2)],
        "job_floor_ms": {"before": floor_before, "after": floor_after},
        "rows": rows,
        "samples_s": samples_all,
    }
    print(out, flush=True)
    out_path = os.path.join(ROOT, "BENCH_LADDER.json")
    merged = {"base_sf": 0.1, "host": "local[32]", "results": {}}
    if os.path.exists(out_path):
        with open(out_path) as f:
            merged = json.load(f)
    merged["dense_predicate_cliff"] = out
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {out_path} (dense_predicate_cliff)")


if __name__ == "__main__":
    main()
