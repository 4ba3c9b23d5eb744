"""The persisted-store contract (operators/store.py) over both store
kinds: sidecar reads, the tombstone lifecycle, and the directory swap
under injected failures — each case runs against the NSW shard store
(``nsw_compact``) and the IVF lists (``ivf_reclaim``)."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

from acorn_hybrid_vector_search_spark.operators import ann, graph_ann, store

N, DIM = 40, 4


class _NoSpark:
    """A session stand-in whose every use of ``read`` fails."""

    @property
    def read(self):
        raise AssertionError("spark.read called for an absent sidecar")


def test_emptied_tombstones_read_as_absent_without_spark(tmp_path):
    tomb = tmp_path / "_tombstones"
    tomb.mkdir()
    (tomb / "_SUCCESS").write_text("")
    (tomb / ".part-0.parquet.crc").write_text("")
    assert store.read_tombstones(_NoSpark(), str(tmp_path)) is None
    assert store.read_tombstones(_NoSpark(), str(tmp_path / "missing")) is None
    assert store.load_stats(_NoSpark(), store.stats_path(str(tmp_path))) is None


def _rows(lo: int, hi: int, shift: float = 0.0):
    rng = random.Random(lo * 7 + int(shift * 10))
    return [
        (i, [round(rng.uniform(-1, 1) + shift, 4) for _ in range(DIM)])
        for i in range(lo, hi)
    ]


def _frame(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


class _Nsw:
    reclaim_op = "nsw_compact"
    layout = store.NSW

    def build(self, spark, path):
        graph_ann.nsw_write(_frame(spark, _rows(0, N)).repartition(2), path)

    def live_ids(self, spark, path):
        got = graph_ann.nsw_dense_topk(spark, path, [(0, [0.0] * DIM)], 10 * N)
        return sorted(r["vec_id"] for r in got.collect())

    def delete(self, spark, path, ids):
        graph_ann.nsw_delete(spark, path, ids)

    def readd(self, spark, path, rows):
        graph_ann.nsw_append(_frame(spark, rows), path)

    def reclaim(self, spark, path):
        graph_ann.nsw_compact(spark, path, n_shards=2)


class _Ivf:
    reclaim_op = "ivf_reclaim"
    layout = store.IVF

    def build(self, spark, path):
        idx = ann.ivf_build(_frame(spark, _rows(0, N)), n_clusters=2)
        ann.ivf_write(idx, path)

    def live_ids(self, spark, path):
        df = ann.ivf_read(spark, path).df
        return sorted(r["vec_id"] for r in df.select("vec_id").collect())

    def delete(self, spark, path, ids):
        ann.ivf_delete(spark, path, ids)

    def readd(self, spark, path, rows):
        # a streaming micro-batch: its own lists/batch=<id> subtree,
        # above every tombstone ceiling written so far
        cents = ann.ivf_read(spark, path).centroids
        ann.assign_clusters(_frame(spark, rows), cents).write.partitionBy(
            "cluster_id"
        ).parquet(f"{store.data_root(path, store.IVF)}/batch=0")

    def reclaim(self, spark, path):
        ann.ivf_reclaim(spark, path)


@pytest.fixture(params=[_Nsw(), _Ivf()], ids=["nsw", "ivf"])
def kind(request):
    return request.param


def _leftovers(path: str) -> list[str]:
    """Swap debris next to or inside the store."""
    parent = os.path.dirname(path.rstrip("/"))
    names = os.listdir(parent) + os.listdir(path)
    return sorted(n for n in names if n.endswith(("__tmp", "__old")))


def test_failed_tmp_write_keeps_live_store(spark, kind, tmp_path, monkeypatch):
    path = str(tmp_path / "store")
    kind.build(spark, path)
    kind.delete(spark, path, [1, 2])
    before = kind.live_ids(spark, path)
    real = DataFrameWriter.parquet

    def write_then_fail(self, target, *a, **kw):
        real(self, target, *a, **kw)
        if "__tmp" in target:
            raise RuntimeError("injected: tmp write failed")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_fail)
    with pytest.raises(RuntimeError, match="injected"):
        kind.reclaim(spark, path)
    monkeypatch.undo()
    assert kind.live_ids(spark, path) == before
    assert _leftovers(path) == []


def test_failed_swap_restores_live_dir(spark, kind, tmp_path, monkeypatch):
    path = str(tmp_path / "store")
    kind.build(spark, path)
    kind.delete(spark, path, [3])
    before = kind.live_ids(spark, path)
    real, calls = os.rename, []

    def fail_second(src, dst):
        calls.append((src, dst))
        if len(calls) == 2:  # live moved aside, tmp not yet moved in
            raise OSError("injected: rename failed")
        real(src, dst)

    monkeypatch.setattr(os, "rename", fail_second)
    with pytest.raises(OSError, match="injected"):
        kind.reclaim(spark, path)
    monkeypatch.undo()
    assert kind.live_ids(spark, path) == before
    assert _leftovers(path) == []


def test_deleted_ids_stay_dead_and_readded_ids_stay_live(spark, kind, tmp_path):
    path = str(tmp_path / "store")
    kind.build(spark, path)
    deleted, readded = [4, 5, 6, 7], [6, 7]
    kind.delete(spark, path, deleted)
    assert set(deleted).isdisjoint(kind.live_ids(spark, path))
    kind.readd(spark, path, _rows(6, 8, shift=5.0))
    expect = sorted(set(range(N)) - {4, 5})
    assert kind.live_ids(spark, path) == expect
    kind.reclaim(spark, path)
    assert kind.live_ids(spark, path) == expect
    assert not os.path.exists(store.tombstones_path(path))


def test_reclaim_refuses_to_empty_the_store(spark, kind, tmp_path):
    path = str(tmp_path / "store")
    kind.build(spark, path)
    kind.delete(spark, path, list(range(N)))
    with pytest.raises(ValueError, match="would empty the store"):
        kind.reclaim(spark, path)
    assert kind.live_ids(spark, path) == []


def test_max_owner_matches_the_aggregate(spark, kind, tmp_path):
    """The default tombstone ceiling comes from the listed owner
    directories and equals ``max(owner)`` over the stored rows after a
    write, an upsert-style append above the base, and a reclaim."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "store")

    def check():
        stored = spark.read.parquet(store.data_root(path, kind.layout))
        want = stored.agg(F.max(kind.layout.owner)).head()[0]
        assert store.max_owner(stored, kind.layout) == want

    kind.build(spark, path)
    check()
    kind.delete(spark, path, [1, 2])
    kind.readd(spark, path, _rows(1, 3, shift=5.0))
    check()
    if kind.layout is store.NSW:
        graph_ann.nsw_upsert(_frame(spark, _rows(2, 5, shift=2.0)), path)
        check()
    kind.reclaim(spark, path)
    check()


def test_nsw_upsert_reads_store_root_once(spark, tmp_path, monkeypatch):
    """One upsert reads the store's metadata once and hands it to both
    halves (the tombstone write and the shard append)."""
    path = str(tmp_path / "graph")
    graph_ann.nsw_write(_frame(spark, _rows(0, N)).repartition(2), path)
    real, reads = DataFrameReader.parquet, []

    def counting(self, *paths, **kw):
        reads.extend(p for p in paths if os.path.normpath(p) == path)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    graph_ann.nsw_upsert(_frame(spark, _rows(30, 50, shift=3.0)), path)
    monkeypatch.undo()
    assert len(reads) == 1
    got = _Nsw().live_ids(spark, path)
    assert got == list(range(50))
