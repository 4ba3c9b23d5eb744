"""The benchmark's workloads. Each is one closed-loop client: it sends the
next call only after the previous one has returned.

A workload returns an ``Outcome``: its end-to-end metrics, its per-layer
metrics (filled only when traced), and every correctness failure.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import data
import oracle
import stats
from spans import Tracer, event_log_per_op

K = 10


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    rundir: str
    tracer: Tracer


@dataclass
class Outcome:
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    # (kind, latency_s, traced) for every measured op, for the trace overhead
    op_log: list = field(default_factory=list)

    def fail(self, *why: str) -> None:
        """One failed operation, with every reason it failed."""
        self.failed += 1
        self.errors.extend(why)


def _ms(xs) -> float:
    return statistics.median(xs) * 1000.0


def job_floor_ms(spark, reps: int = 5) -> float:
    """Median wall time of a trivial JVM-only job: the dispatch floor."""
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(1).count()
        out.append(time.perf_counter() - t)
    return _ms(out)


def phase_marks(out: Outcome):
    """Returns mark(name): records seconds since the previous mark."""
    last = [time.perf_counter()]
    phases = out.detail.setdefault("phase_s", {})

    def mark(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - last[0], 3)
        last[0] = now
    return mark


def latency_metrics(out: Outcome, median_of: list[float], tail_of: list[float]) -> None:
    p, v = stats.tail(tail_of)
    out.e2e["latency_p50_ms"] = _ms(median_of)
    out.e2e["latency_tail_ms"] = v * 1000.0
    out.detail["latency_tail_percentile"] = p
    out.detail["latency_samples"] = len(tail_of)


def trace_overhead_ms(op_log) -> float:
    """Traced minus untraced median latency, per op kind, weighted by each
    kind's share of the ops; traced and untraced ops alternate."""
    kinds: dict[str, tuple[list, list]] = {}
    for kind, lat, traced in op_log:
        kinds.setdefault(kind, ([], []))[0 if traced else 1].append(lat)
    total = diff = 0.0
    for t, u in kinds.values():
        if t and u:
            w = len(t) + len(u)
            diff += w * (statistics.median(t) - statistics.median(u))
            total += w
    return diff / total * 1000.0 if total else 0.0


def spark_layer_metrics(ctx: Ctx, out: Outcome, kinds: set[str]) -> None:
    """Jobs, stages and tasks per measured op from the status tracker."""
    counts = ctx.tracer.job_counts()
    ops = [op for op, kind in ctx.tracer.ops.items() if kind in kinds]
    if ops:
        for i, name in enumerate(("jobs", "stages", "tasks")):
            out.layer[f"spark.{name}_per_op"] = sum(counts[o][i] for o in ops) / len(ops)
    out.detail["traced_ops"] = len(ops)
    out.detail["_measured_groups"] = [f"perfbench-op-{o}" for o in ops]


def event_log_metrics(event_dir: str, groups: list[str]) -> dict:
    """Per-op task figures from the event log, read after Spark stopped."""
    per = event_log_per_op(event_dir)
    n = max(len(groups), 1)
    tot = dict.fromkeys(("task_run_ms", "scheduler_delay_ms",
                         "shuffle_write_bytes", "input_bytes"), 0.0)
    for g in groups:
        for k, v in per.get(g, {}).items():
            tot[k] += v
    return {
        "spark.task_run_ms_per_op": tot["task_run_ms"] / n,
        "spark.scheduler_delay_ms_per_op": tot["scheduler_delay_ms"] / n,
        "spark.shuffle_write_bytes_per_op": tot["shuffle_write_bytes"] / n,
        "spark.input_bytes_per_op": tot["input_bytes"] / n,
    }


# ---------------------------------------------------------------------------
# point_hybrid: single hybrid queries, routed or through acorn_search

POINT_N, POINT_DIM = 23_396, 256
POINT_SETUPS = 3
# the measured phase runs for --seconds and at least this many queries,
# enough for a tail percentile (p55) with ten samples beyond it
POINT_MIN_QUERIES = 24
# one schedule block: (class, sent through acorn_search). Routes per block:
# subset 2, pre-filter 5, post-filter 10, acorn 3 (one of which falls back).
# Cheapest to dearest they hold 10/35/85/100 % of the queries; a run sends at
# least 24, so its tail percentile is p55 or a little higher. The median and
# that tail both fall inside post-filter, at least 15 points from its
# boundaries, so neither sits on a boundary between a cheap class and a dear
# one.
POINT_BLOCK = (
    [("c1_none", False)] * 5 + [("c2_weight_brand", False)] * 5
    + [("c2_country_brand", False)] * 3 + [("c3_country", False)] * 2
    + [("c3_year_color", False)] * 2
    + [("c1_none", True), ("c2_country_brand", True), ("c3_year_color", True)]
)
# one query per route not yet warmed by the read-after-write queries (which
# post-filter); the acorn query falls back, so it runs both acorn plans
POINT_WARM = [("c3_country", False), ("c3_year_color", False), ("c3_year_color", True)]
# the query sent first after every set-up (the read-after-write sample)
POINT_RAW_SPEC = ("c2_weight_brand", False)


@dataclass
class PointEnv:
    df: object
    router: object
    subset: object
    paths: tuple


def point_setup(ctx: Ctx, table, tag: str, out: Outcome | None) -> PointEnv:
    """Write the corpus to parquet, cache it, collect router statistics and
    materialize + register the model_year subset."""
    from acorn_hybrid_vector_search_spark.functions.predicates import flat_accessors
    from acorn_hybrid_vector_search_spark.operators.hybrid import (
        attribute_presence_cond, materialize_attribute_subset,
    )
    from acorn_hybrid_vector_search_spark.plans.router import StrategyRouter, collect_stats

    spark, tr = ctx.spark, ctx.tracer
    path = os.path.join(ctx.rundir, f"{tag}_corpus")
    sub_path = os.path.join(ctx.rundir, f"{tag}_subset")
    t0 = time.perf_counter()
    data.write_parquet(table, path, files=4)
    df = spark.read.parquet(path).cache()
    df.count()
    with tr.span("router.collect_stats"):
        ts = time.perf_counter()
        st = collect_stats(df, data.ATTRS)
        t_stats = time.perf_counter() - ts
    with tr.span("hybrid.subset_build"):
        ts = time.perf_counter()
        materialize_attribute_subset(
            df, attribute_presence_cond(["model_year"], flat_accessors(df)), sub_path)
        sub = spark.read.parquet(sub_path).cache()
        n_sub = sub.count()
        t_sub = time.perf_counter() - ts
    router = StrategyRouter(st)
    router.register_subset("model_year", sub, ["model_year"], n_sub)
    if out is not None:
        out.detail.setdefault("setup_s", []).append(time.perf_counter() - t0)
        out.detail.setdefault("stats_s", []).append(t_stats)
        out.detail.setdefault("subset_s", []).append(t_sub)
    return PointEnv(df, router, sub, (path, sub_path))


def point_drop(env: PointEnv) -> None:
    env.df.unpersist()
    env.subset.unpersist()
    for p in env.paths:
        shutil.rmtree(p, ignore_errors=True)


class PointRunner:
    """Sends one query and keeps what the oracle needs to judge it."""

    def __init__(self, ctx: Ctx, corpus: data.Corpus) -> None:
        self.ctx = ctx
        self.corpus = corpus
        self.exact = oracle.Exact(corpus.vectors, corpus.ids)
        self.cols = {a: getattr(corpus, a) for a in data.ATTRS}
        self.masks: dict[str, np.ndarray] = {}
        self.routes: dict[str, int] = {}
        self.acorn_calls = self.acorn_fallbacks = 0
        self.answers: list = []

    def send(self, env: PointEnv, q: data.Query, traced: bool) -> tuple[float, str]:
        from acorn_hybrid_vector_search_spark.operators.hybrid import (
            acorn_prepare, acorn_search,
        )

        tr, vec = self.ctx.tracer, q.vec.tolist()
        route = "acorn" if q.acorn else env.router.route(q.preds, K).strategy
        tracing = tr.enabled and traced
        t0 = time.perf_counter()
        with tr.op(route, traced):
            if q.acorn:
                with tr.span("hybrid.acorn_search"):
                    if tracing:
                        prep = acorn_prepare(env.df, vec, q.preds, K, payload_cols=list(q.preds))
                        res = prep.search()
                        self.acorn_fallbacks += res is prep.fallback
                        self.acorn_calls += 1
                    else:
                        res = acorn_search(env.df, vec, q.preds, K, payload_cols=list(q.preds))
            else:
                if tracing:
                    with tr.span("router.route"):
                        env.router.route(q.preds, K)
                with tr.span(f"hybrid.{route}"):
                    res = env.router.search(env.df, vec, q.preds, K)
            with tr.span("spark.collect"):
                rows = res.select("vec_id", "dist").collect()
        lat = time.perf_counter() - t0
        self.routes[route] = self.routes.get(route, 0) + 1
        self.answers.append((q, route, [r[0] for r in rows], [r[1] for r in rows]))
        return lat, route

    def judge(self, out: Outcome) -> list[float]:
        """Check every answer against the oracle; returns recall per query."""
        recalls, underfill, post = [], 0, 0
        for q, route, ids, dists in self.answers:
            key = repr(sorted(q.preds.items()))
            if key not in self.masks:
                self.masks[key] = oracle.predicate_mask(self.cols, q.preds, len(self.corpus))
            mask = self.masks[key]
            want_ids, want_d = self.exact.topk(mask, q.vec, K)
            if route == "postfilter":
                post += 1
                underfill += len(ids) < K
                exp_ids, exp_d = self.exact.postfilter_topk(mask, q.vec, K, 50)
            else:
                exp_ids, exp_d = want_ids, want_d
            why = oracle.check(ids, dists, exp_ids, exp_d, self.exact.truth(mask, q.vec))
            if why:
                out.fail(f"query {q.qid} ({q.klass}, {route}): {why}")
            recalls.append(oracle.recall(ids, want_ids))
        out.layer["hybrid.postfilter_underfill_ratio"] = underfill / post if post else 0.0
        self.answers.clear()
        return recalls


def point_hybrid(ctx: Ctx) -> Outcome:
    out = Outcome()
    tr = ctx.tracer
    mark = phase_marks(out)
    corpus = data.make_corpus(ctx.seed, POINT_N, POINT_DIM)
    mark("data")
    table = data.corpus_table(corpus)

    # set-up, several times; each is followed by its read-after-write query
    runner = PointRunner(ctx, corpus)
    raw = []
    env = None
    for rep in range(POINT_SETUPS):
        if env is not None:
            point_drop(env)
        with tr.op("setup"):
            env = point_setup(ctx, table, f"setup{rep}", out)
        q = data.make_queries(ctx.seed, corpus, [POINT_RAW_SPEC], qid0=-100 - rep)[0]
        raw.append(runner.send(env, q, False)[0])
    out.attempted += POINT_SETUPS
    mark("setup")

    # warm every route on the real corpus, then measure
    for spec in POINT_WARM:
        runner.send(env, data.make_queries(ctx.seed, corpus, [spec], qid0=-10)[0], False)
    runner.routes.clear()
    mark("warm_routes")
    schedule = data.make_queries(
        ctx.seed, corpus, data.stratified(ctx.seed, POINT_BLOCK, 40))
    out.detail["job_floor_before_ms"] = job_floor_ms(ctx.spark)
    ticks = stats.cpu_ticks()
    lat = []
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    for i, q in enumerate(schedule):
        if i >= POINT_MIN_QUERIES and time.perf_counter() >= deadline:
            break
        traced = i % 2 == 0
        dt, route = runner.send(env, q, traced)
        lat.append(dt)
        out.op_log.append((route, dt, traced))
    wall = time.perf_counter() - t_start
    out.detail["steal_share"] = stats.steal_share(ticks, stats.cpu_ticks())
    out.detail["job_floor_after_ms"] = job_floor_ms(ctx.spark)
    out.attempted += len(lat)

    mark("measure")
    recalls = runner.judge(out)
    mark("judge")
    latency_metrics(out, lat, lat)
    out.e2e["queries_per_s"] = len(lat) / wall
    out.e2e["recall_at_10"] = float(np.mean(recalls))
    out.e2e["setup_s"] = statistics.median(out.detail["setup_s"])
    # rows written and made queryable per second of set-up
    out.e2e["write_rows_per_s"] = POINT_N / out.e2e["setup_s"]
    out.e2e["read_after_write_p50_ms"] = _ms(raw)
    disk = stats.dir_bytes(env.paths[0]) + stats.dir_bytes(env.paths[1])
    out.e2e["space_amp"] = stats.space_amp(disk, POINT_N, POINT_DIM)
    out.detail["routes"] = dict(runner.routes)
    by_route: dict[str, list] = {}
    for route, dt, _traced in out.op_log:
        by_route.setdefault(route, []).append(dt)
    out.detail["route_p50_ms"] = {r: _ms(v) for r, v in by_route.items()}

    if ctx.trace:
        out.layer["router.collect_stats_s"] = statistics.median(out.detail["stats_s"])
        out.layer["hybrid.subset_build_s"] = statistics.median(out.detail["subset_s"])
        out.layer["router.route_ms"] = _ms(tr.durations("router.route"))
        for r in ("prefilter", "postfilter", "subset"):
            out.layer[f"router.route_count.{r}"] = runner.routes.get(r, 0)
        plan = [d for s in ("hybrid.prefilter", "hybrid.postfilter", "hybrid.subset",
                            "hybrid.acorn_search") for d in tr.self_times(s)]
        out.layer["hybrid.plan_build_ms"] = _ms(plan)
        out.layer["hybrid.execute_ms"] = _ms(tr.durations("spark.collect"))
        out.layer["hybrid.acorn_fallback_ratio"] = (
            runner.acorn_fallbacks / runner.acorn_calls if runner.acorn_calls else 0.0)
        spark_layer_metrics(ctx, out, {"prefilter", "postfilter", "subset", "acorn"})
    point_drop(env)
    return out


# ---------------------------------------------------------------------------
# store_churn: writes, read-after-write and steady reads on a persisted NSW store

STORE_N, STORE_DIM, STORE_SHARDS = 2_000, 256, 4
STORE_SETUPS = 3
UPSERT_ROWS, DELETE_ROWS = 500, 100
COMPACT_EVERY = 4
READ_QUERIES, STEADY_READS = 16, 3
PAYLOAD = ("country", "brand")


class StoreModel:
    """What the store should hold: live id -> (vector, country, brand)."""

    def __init__(self, rng) -> None:
        self.rng = rng
        self.rows: dict[int, tuple] = {}
        self.next_id = 0
        self._exact = None

    def fresh(self, n: int):
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return ids

    def payload(self, n: int):
        r = self.rng
        return (r.choice(np.asarray(data.COUNTRIES, dtype=object), n, p=data.COUNTRY_P),
                r.choice(np.asarray(data.BRANDS, dtype=object), n, p=data.BRAND_P))

    def put(self, ids, vecs, country, brand) -> None:
        for i, v, c, b in zip(ids.tolist(), vecs, country, brand):
            self.rows[i] = (v, c, b)
        self._exact = None

    def drop(self, ids) -> None:
        for i in ids:
            del self.rows[int(i)]
        self._exact = None

    def live_ids(self) -> np.ndarray:
        return np.fromiter(sorted(self.rows), dtype=np.int64)

    def oracle(self):
        if self._exact is None:
            ids = self.live_ids()
            vecs = np.stack([self.rows[i][0] for i in ids.tolist()])
            cols = {
                "country": np.asarray([self.rows[i][1] for i in ids.tolist()], dtype=object),
                "brand": np.asarray([self.rows[i][2] for i in ids.tolist()], dtype=object),
            }
            self._exact = (oracle.Exact(vecs, ids), cols)
        return self._exact


def store_frame(spark, ids, vecs, country, brand):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({
        "vec_id": ids, "embedding": list(vecs),
        "country": country, "brand": brand,
    }))


def store_shards(path: str) -> int:
    return sum(1 for d in os.listdir(path) if d.startswith("part_id="))


def tombstone_rows(path: str) -> int:
    import pyarrow.parquet as pq

    tomb = os.path.join(path, "_tombstones")
    if not os.path.isdir(tomb):
        return 0
    return sum(pq.ParquetFile(os.path.join(tomb, f)).metadata.num_rows
               for f in os.listdir(tomb) if f.endswith(".parquet"))


class StoreRunner:
    """Runs store operations, keeps the model in step and judges the reads."""

    def __init__(self, ctx: Ctx, path: str, model: StoreModel, out: Outcome) -> None:
        self.ctx, self.path, self.model, self.out = ctx, path, model, out
        self.rng = np.random.default_rng([ctx.seed, 31])
        self.pending: list = []  # (label, queries, preds, rows, must_not)
        self.history: list[str] = []  # store operations so far, for error labels
        # shard directories and tombstone rows seen by traced reads
        self.shards: list[int] = []
        self.tombstones: list[int] = []
        self.write_s = 0.0
        self.rows_written = 0

    def write(self, ids, vecs, country, brand) -> float:
        from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_write

        df = store_frame(self.ctx.spark, ids, vecs, country, brand).repartition(STORE_SHARDS)
        shutil.rmtree(self.path, ignore_errors=True)
        with self.ctx.tracer.span("store.nsw_write"):
            t = time.perf_counter()
            nsw_write(df, self.path, vector_dtype="float32", payload_cols=list(PAYLOAD))
            return time.perf_counter() - t

    def upsert(self, traced: bool) -> tuple[float, np.ndarray]:
        from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_upsert

        m = self.model
        half = UPSERT_ROWS // 2
        live = m.live_ids()
        ids = np.concatenate([self.rng.choice(live, half, replace=False), m.fresh(half)])
        vecs = data.make_vectors(self.rng, UPSERT_ROWS, STORE_DIM)
        country, brand = m.payload(UPSERT_ROWS)
        df = store_frame(self.ctx.spark, ids, vecs, country, brand)
        with self.ctx.tracer.op("upsert", traced):
            with self.ctx.tracer.span("store.nsw_upsert"):
                t = time.perf_counter()
                nsw_upsert(df, self.path, payload_cols=list(PAYLOAD))
                dt = time.perf_counter() - t
        m.put(ids, vecs, country, brand)
        self.history.append("upsert")
        self.write_s += dt
        self.rows_written += UPSERT_ROWS
        return dt, ids[:half]

    def delete(self, traced: bool) -> tuple[float, np.ndarray, list]:
        from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_delete

        ids = self.rng.choice(self.model.live_ids(), DELETE_ROWS, replace=False)
        gone = [self.model.rows[int(i)][0] for i in ids]
        with self.ctx.tracer.op("delete", traced):
            with self.ctx.tracer.span("store.nsw_delete"):
                t = time.perf_counter()
                nsw_delete(self.ctx.spark, self.path, [int(i) for i in ids])
                dt = time.perf_counter() - t
        self.model.drop(ids)
        self.history.append("delete")
        self.write_s += dt
        self.rows_written += DELETE_ROWS
        return dt, ids, gone

    def compact(self, traced: bool) -> float:
        from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_compact

        with self.ctx.tracer.op("compact", traced):
            with self.ctx.tracer.span("store.nsw_compact"):
                t = time.perf_counter()
                nsw_compact(self.ctx.spark, self.path, n_shards=STORE_SHARDS)
                dt = time.perf_counter() - t
        self.history.append("compact")
        self.write_s += dt
        live = self.ctx.spark.read.parquet(self.path).count()
        if live != len(self.model.rows):
            self.out.fail(f"after compact the store holds {live} rows, expected "
                          f"{len(self.model.rows)}")
        return dt

    def read(self, kind: str, traced: bool, probes=(), must_not=()) -> float:
        """One batch of READ_QUERIES nsw_dense_topk queries, half with a
        predicate. ``probes`` are vectors placed first in the batch."""
        from pyspark.sql import functions as F

        from acorn_hybrid_vector_search_spark.operators.graph_ann import nsw_dense_topk

        rng = self.rng
        vecs = [np.asarray(v, dtype=np.float32) for v in probes]
        vecs += list(data.make_vectors(rng, READ_QUERIES - len(vecs), STORE_DIM))
        queries = [(i, v.tolist()) for i, v in enumerate(vecs)]
        preds = {}
        for i in range(len(probes), READ_QUERIES, 2):
            preds[i] = (("country", str(rng.choice(["IN", "US", "GB"]))) if i % 4
                        else ("brand", "Amazon Brand"))
        cols = {
            i: (F.col(a) == v) if a == "country" else F.col(a).contains(v)
            for i, (a, v) in preds.items()
        }
        tr = self.ctx.tracer
        with tr.op(kind, traced):
            t = time.perf_counter()
            with tr.span("store.nsw_dense_topk"):
                res = nsw_dense_topk(self.ctx.spark, self.path, queries, K, predicates=cols)
            with tr.span("spark.collect"):
                rows = res.collect()
            dt = time.perf_counter() - t
        label = f"{kind} after {'/'.join(self.history[-3:]) or 'write'} (op {len(self.history)})"
        self.pending.append((label, vecs, preds, rows, set(int(i) for i in must_not)))
        if tr.enabled and traced:
            self.shards.append(store_shards(self.path))
            self.tombstones.append(tombstone_rows(self.path))
        return dt

    def judge(self) -> list[float]:
        """Check the reads made since the last write against the model; call
        it before the next write changes the model."""
        exact, cols = self.model.oracle()
        recalls = []
        for label, vecs, preds, rows, must_not in self.pending:
            why_batch = []
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(r["query_id"], []).append((r["dist"], r["vec_id"]))
            for qi, v in enumerate(vecs):
                got = sorted(by_q.get(qi, []))
                ids = [g[1] for g in got]
                mask = None
                if qi in preds:
                    a, val = preds[qi]
                    op = "exact" if a == "country" else "substring"
                    mask = oracle.predicate_mask(cols, {a: [op, val]}, len(exact.ids))
                want_ids, want_d = exact.topk(mask, v, K)
                why = oracle.check(ids, [g[0] for g in got], want_ids, want_d,
                                   exact.truth(mask, v))
                if why:
                    why_batch.append(f"{label}, query {qi}: {why}")
                if must_not & set(ids):
                    why_batch.append(f"{label} returned deleted ids {sorted(must_not & set(ids))}")
                recalls.append(oracle.recall(ids, want_ids))
            if why_batch:
                self.out.fail(*why_batch)
        self.pending.clear()
        return recalls


def store_churn(ctx: Ctx) -> Outcome:
    out = Outcome()
    tr, spark = ctx.tracer, ctx.spark
    path = os.path.join(ctx.rundir, "store")
    rng = np.random.default_rng([ctx.seed, 17])
    base_vecs = data.make_vectors(rng, STORE_N, STORE_DIM)
    mark = phase_marks(out)

    # set-up: build the store several times; the last build is kept
    setups = []
    for _ in range(STORE_SETUPS):
        model = StoreModel(np.random.default_rng([ctx.seed, 23]))
        ids = model.fresh(STORE_N)
        country, brand = model.payload(STORE_N)
        with tr.op("setup"):
            setups.append(StoreRunner(ctx, path, model, out).write(
                ids, base_vecs, country, brand))
        model.put(ids, base_vecs, country, brand)
    runner = StoreRunner(ctx, path, model, out)
    out.attempted += STORE_SETUPS
    mark("setup")

    # warm every operation type on the store itself, and check what the
    # warm-up returns; nsw_compact rebuilds its graphs and writes them through
    # the nsw_write path that the set-ups have already run three times
    runner.upsert(False)
    runner.read("read", False)
    recalls = runner.judge()
    runner.delete(False)
    runner.read("read", False)
    recalls += runner.judge()
    out.attempted += 4
    runner.write_s = 0.0
    runner.rows_written = 0
    mark("warm")

    raw, steady, amp, disk = [], [], [], []
    upserts, deletes, compacts = [], [], []
    n_reads = 0
    out.detail["job_floor_before_ms"] = job_floor_ms(spark)
    ticks = stats.cpu_ticks()
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    writes = 0
    flip = 0
    # whole compaction cycles, so every run weighs writes and compactions alike
    while writes == 0 or writes % COMPACT_EVERY or time.perf_counter() < deadline:
        writes += 1
        flip ^= 1
        if writes % 4 == 0:
            dt, gone_ids, gone_vecs = runner.delete(flip == 1)
            deletes.append(dt)
            out.op_log.append(("delete", dt, flip == 1))
            probes, must_not = gone_vecs[: READ_QUERIES // 2], gone_ids
        else:
            dt, replaced = runner.upsert(flip == 1)
            upserts.append(dt)
            out.op_log.append(("upsert", dt, flip == 1))
            probes = [runner.model.rows[int(i)][0] for i in replaced[: READ_QUERIES // 2]]
            must_not = ()
        # read-after-write: half the batch probes the rows just written or deleted
        r = runner.read("raw_read", flip == 1, probes=probes, must_not=must_not)
        raw.append(r)
        out.op_log.append(("raw_read", r, flip == 1))
        for j in range(STEADY_READS):
            traced = (j + flip) % 2 == 0
            r = runner.read("read", traced)
            steady.append(r)
            out.op_log.append(("read", r, traced))
        n_reads += 1 + STEADY_READS
        recalls += runner.judge()
        out.attempted += 2 + STEADY_READS
        if writes % COMPACT_EVERY == 0:
            compacts.append(runner.compact(flip == 1))
            out.op_log.append(("compact", compacts[-1], flip == 1))
            out.attempted += 1
        d = stats.dir_bytes(path)
        disk.append(d)
        amp.append(stats.space_amp(d, len(runner.model.rows), STORE_DIM))
    wall = time.perf_counter() - t_start
    mark("measure")
    out.detail["steal_share"] = stats.steal_share(ticks, stats.cpu_ticks())
    out.detail["job_floor_after_ms"] = job_floor_ms(spark)
    out.detail["writes"] = writes

    # the tail covers every call the client waited on: reads, writes, compactions
    latency_metrics(out, steady, [dt for _kind, dt, _traced in out.op_log])
    out.e2e["queries_per_s"] = n_reads * READ_QUERIES / (sum(raw) + sum(steady))
    out.e2e["recall_at_10"] = float(np.mean(recalls))
    out.e2e["setup_s"] = statistics.median(setups)
    out.e2e["write_rows_per_s"] = runner.rows_written / runner.write_s
    out.e2e["read_after_write_p50_ms"] = _ms(raw)
    out.e2e["space_amp"] = statistics.median(amp)
    out.detail["wall_s"] = wall

    if ctx.trace:
        out.layer["store.write_s"] = statistics.median(setups)
        out.layer["store.upsert_s"] = statistics.median(upserts)
        out.layer["store.delete_s"] = statistics.median(deletes)
        out.layer["store.compact_s"] = statistics.median(compacts)
        out.layer["store.compactions"] = len(compacts)
        out.layer["store.read_plan_ms"] = _ms(tr.durations("store.nsw_dense_topk"))
        out.layer["store.read_execute_ms"] = _ms(tr.durations("spark.collect"))
        out.layer["store.shards"] = statistics.median(runner.shards)
        out.layer["store.tombstone_rows"] = statistics.median(runner.tombstones)
        out.layer["store.read_after_write_penalty_ms"] = _ms(raw) - _ms(steady)
        out.layer["store.bytes_on_disk"] = statistics.median(disk)
        out.layer["store.live_rows"] = len(runner.model.rows)
        spark_layer_metrics(ctx, out, {"upsert", "delete", "compact", "raw_read", "read"})
    shutil.rmtree(path, ignore_errors=True)
    return out


WORKLOADS = {"point_hybrid": point_hybrid, "store_churn": store_churn}
