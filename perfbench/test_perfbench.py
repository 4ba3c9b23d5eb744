"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics

import numpy as np
import pytest

import data
import oracle
import stats
from spans import Span, event_log_per_op, self_time

HERE = os.path.dirname(os.path.abspath(__file__))


# -- tail percentile: the highest percentile with at least ten samples beyond

@pytest.mark.parametrize("n,p", [
    (19, None), (20, 50.0), (22, 50.0), (23, 55.0), (33, 65.0), (34, 70.0),
    (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= 10 - 1e-9


def test_tail_value_and_too_few_samples():
    xs = list(range(1, 41))  # 40 samples -> p75
    p, v = stats.tail(xs)
    assert p == 75.0
    assert v == pytest.approx(np.percentile(xs, 75))
    assert sum(x > v for x in xs) >= 10
    with pytest.raises(ValueError):
        stats.tail(list(range(19)))


def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    xs = rng.random(37).tolist()
    for p in (0, 12.5, 50, 65, 99, 100):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 12.0, 10.5, 9.5, 10.2, 11.1, 9.9, 10.4]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    s = stats.spread(xs)
    assert (s["q1"], s["median"], s["q3"]) == (q1, med, q3)
    assert s["spread"] == pytest.approx((q3 - q1) / med)


# -- span self time

def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "root", 0.0, 10.0, None),
        Span(0, "a", 1.0, 3.0, 0),
        Span(0, "b", 2.0, 5.0, 0),    # overlaps a: union 1..5
        Span(0, "c", 8.0, 12.0, 0),   # clipped to the parent: 8..10
        Span(0, "grandchild", 1.5, 2.5, 1),
    ]
    assert self_time(spans, 0) == pytest.approx(10 - 4 - 2)
    assert self_time(spans, 1) == pytest.approx(2 - 1)
    assert self_time(spans, 4) == pytest.approx(1.0)


def test_self_time_without_children_is_duration():
    spans = [Span(3, "x", 2.0, 2.5, None)]
    assert self_time(spans, 0) == pytest.approx(0.5)


# -- space amplification

def test_space_amp_is_disk_over_live_vector_bytes():
    assert stats.space_amp(2_048_000, 1000, 256) == pytest.approx(2.0)
    assert stats.space_amp(1024, 1, 256) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        stats.space_amp(10, 0, 256)


def test_dir_bytes(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b").write_bytes(b"y" * 5)
    assert stats.dir_bytes(str(tmp_path)) == 15


# -- oracle

def test_recall():
    assert oracle.recall([1, 2, 3], [1, 2, 4]) == pytest.approx(2 / 3)
    assert oracle.recall([], []) == 1.0
    assert oracle.recall([5], [5]) == 1.0
    assert oracle.recall([], [1, 2]) == 0.0


def _brute(vectors, ids, mask, q, k):
    d = ((vectors.astype(np.float64) - q) ** 2).sum(axis=1)
    rows = [i for i in range(len(ids)) if mask is None or mask[i]]
    rows.sort(key=lambda i: (d[i], ids[i]))
    return np.asarray([ids[i] for i in rows[:k]])


def test_exact_topk_matches_brute_force_and_orders_by_dist_then_id():
    rng = np.random.default_rng(1)
    vec = rng.standard_normal((300, 16)).astype(np.float32)
    vec[7] = vec[3]  # an exact tie, broken by id
    ids = np.arange(300, dtype=np.int64)
    ex = oracle.Exact(vec, ids)
    mask = rng.random(300) < 0.3
    for q in (vec[3], rng.standard_normal(16).astype(np.float32)):
        got, d = ex.topk(None, q, 10)
        assert got.tolist() == _brute(vec, ids, None, q, 10).tolist()
        assert np.all(np.diff(d) >= 0)
        got, _ = ex.topk(mask, q, 10)
        assert got.tolist() == _brute(vec, ids, mask, q, 10).tolist()
    got, _ = ex.topk(None, vec[3], 2)
    assert got.tolist() == [3, 7]
    assert ex.topk(np.zeros(300, bool), vec[0], 10)[0].size == 0


def test_postfilter_oracle_filters_the_top_large_k():
    rng = np.random.default_rng(2)
    vec = rng.standard_normal((200, 8)).astype(np.float32)
    ids = np.arange(200, dtype=np.int64)
    ex = oracle.Exact(vec, ids)
    mask = ids % 2 == 0
    q = vec[10]
    cand = _brute(vec, ids, None, q, 20)
    got, _ = ex.postfilter_topk(mask, q, 5, 20)
    assert got.tolist() == [i for i in cand if i % 2 == 0][:5]


def test_check_accepts_exact_answer_and_rejects_wrong_ones():
    want_ids = np.array([4, 9, 2])
    want_d = np.array([1.0, 2.0, 3.0])
    assert oracle.check([4, 9, 2], [1.0, 2.0, 3.0], want_ids, want_d) is None
    assert "missing" in oracle.check([4, 5, 2], [1.0, 2.0, 3.0], want_ids, want_d)
    assert "rows" in oracle.check([4, 9], [1.0, 2.0], want_ids, want_d)
    assert "dist" in oracle.check([4, 9, 2], [1.0, 2.5, 3.0], want_ids, want_d)
    assert "duplicate" in oracle.check([4, 4, 2], [1.0, 2.0, 3.0], want_ids, want_d)
    # a different id at the boundary distance is a tie, not an error ...
    assert oracle.check([4, 9, 7], [1.0, 2.0, 3.0], want_ids, want_d) is None
    # ... unless its own distance says otherwise, or it fails the predicate
    true = {4: 1.0, 9: 2.0, 2: 3.0, 7: 3.5}

    def truth(ids, passing=(4, 9, 2, 7)):
        return (np.array([i in passing for i in ids]),
                np.array([true[i] for i in ids]))
    assert "own" in oracle.check([4, 9, 7], [1.0, 2.0, 3.0], want_ids, want_d, truth)
    assert oracle.check([4, 9, 2], [1.0, 2.0, 3.0], want_ids, want_d, truth) is None
    assert "predicate" in oracle.check(
        [4, 9, 2], [1.0, 2.0, 3.0], want_ids, want_d, lambda ids: truth(ids, (4, 9)))


def test_truth_reports_unknown_ids_and_true_distances():
    vec = np.array([[0, 0], [1, 0], [0, 2]], dtype=np.float32)
    ex = oracle.Exact(vec, np.array([10, 20, 30]))
    ok, d = ex.truth(np.array([True, False, True]), np.zeros(2))([30, 20, 25])
    assert ok.tolist() == [True, False, False]
    assert d[0] == 4.0


def test_predicate_mask_semantics():
    cols = {
        "country": np.array(["IN", "US", None, "IN"], dtype=object),
        "brand": np.array(["AmazonBasics", "Rubie's", "Amazon X", None], dtype=object),
        "item_weight": np.array([1.0, np.nan, 0.5, 3.0]),
    }
    m = oracle.predicate_mask
    assert m(cols, {}, 4).tolist() == [True] * 4
    assert m(cols, {"country": ["exact", "IN"]}, 4).tolist() == [True, False, False, True]
    assert m(cols, {"brand": ["substring", "Amazon"]}, 4).tolist() == [True, False, True, False]
    assert m(cols, {"item_weight": ["<", 2.0]}, 4).tolist() == [True, False, True, False]
    assert m(cols, {"country": ["exact", "IN"], "item_weight": ["geq", 2]}, 4).tolist() == \
        [False, False, False, True]


# -- inputs

def test_inputs_are_a_function_of_the_seed():
    a, b = data.make_corpus(5, 500, 8), data.make_corpus(5, 500, 8)
    assert np.array_equal(a.vectors, b.vectors)
    assert a.country.tolist() == b.country.tolist()
    assert not np.array_equal(a.vectors, data.make_corpus(6, 500, 8).vectors)
    qa = data.make_queries(5, a, [("c3_country", False)] * 3)
    qb = data.make_queries(5, b, [("c3_country", False)] * 3)
    assert [q.preds for q in qa] == [q.preds for q in qb]


def test_stratified_schedule_keeps_exact_shares_per_block():
    block = ["a"] * 3 + ["b"] * 2 + ["c"]
    sched = data.stratified(9, block, 4)
    assert len(sched) == 24
    for i in range(4):
        assert sorted(sched[i * 6:(i + 1) * 6]) == sorted(block)
    assert sched == data.stratified(9, block, 4)


def test_corpus_table_round_trips_vectors(tmp_path):
    import pyarrow.parquet as pq

    c = data.make_corpus(1, 50, 4)
    data.write_parquet(data.corpus_table(c), str(tmp_path / "t"), files=3)
    t = pq.read_table(str(tmp_path / "t"))
    assert t.num_rows == 50
    got = np.asarray(t.column("embedding").to_pylist(), dtype=np.float32)
    assert np.array_equal(got[np.argsort(t.column("vec_id").to_numpy())], c.vectors)


# -- event log

def test_event_log_per_op_sums_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-op-0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 100, "Finish Time": 160, "Getting Result Time": 0},
         "Task Metrics": {"Executor Run Time": 40, "Executor Deserialize Time": 5,
                          "Result Serialization Time": 1,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
                          "Input Metrics": {"Bytes Read": 1000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 0, "Finish Time": 10},
         "Task Metrics": {"Executor Run Time": 10}},
    ]
    (tmp_path / "eventlog_v2_app-1").mkdir()  # a rolling log: one directory of parts
    (tmp_path / "eventlog_v2_app-1" / "appstatus_app-1").write_text("")
    (tmp_path / "eventlog_v2_app-1" / "events_1_app-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    per = event_log_per_op(str(tmp_path))
    assert per == {"perfbench-op-0": {
        "task_run_ms": 40, "scheduler_delay_ms": 14,
        "shuffle_write_bytes": 300, "input_bytes": 1000}}


# -- trace overhead and the benchmark description

def test_trace_overhead_compares_like_with_like():
    from workloads import trace_overhead_ms

    log = [("a", 1.0, True), ("a", 0.9, False), ("b", 3.0, True), ("b", 3.0, False),
           ("c", 5.0, True)]  # c has no untraced twin and is left out
    assert trace_overhead_ms(log) == pytest.approx((2 * 100 + 2 * 0) / 4)


def test_benchmark_json_matches_the_runner():
    from run import E2E, LAYER

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == LAYER
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
