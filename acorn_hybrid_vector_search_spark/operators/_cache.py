"""Session-scoped caches, with one staleness contract.

Every entry belongs to the SparkSession that built it (its
``applicationId``). When a different session next looks a cache up, that
cache drops the old session's entries, so a process that restarts its
session never serves a DataFrame bound to a dead one. Within a session
an entry has one of two lifetimes:

* **memo** — an in-memory value (a prepared plan, a collected query
  vector, a pinned index). ``invalidate()``, which every store writer
  calls, drops it: a rewritten store must not be served from a plan or
  pin that embeds the pre-rewrite file listing. ``memo(spark, key,
  build)``, ``materialize``, ``probe_memo`` and ``read_parquet`` have
  this lifetime.
* **store** — a build-once artifact: ``store(spark, key, build)`` calls
  ``build(dir)`` with a fresh directory under the session's root
  directory, which the registry owns. The entry survives
  ``invalidate()`` (it is the index the queries search, like the
  reference's build-once HNSW). It is dropped and its directory deleted
  when another session looks something up, on ``reset()``, and at
  interpreter exit. ``scratch_dir(spark, name)`` gives a single call a
  fresh directory inside the store ``(name,)``, for per-call outputs
  whose lazy frames must still read their files after the call.

A third lifetime belongs to one cached frame OBJECT rather than to a
key: ``frame_memo(df, name, build)`` (the driver snapshot of
``operators/snapshot.py``). The entry holds only a weak reference to the
frame, survives ``invalidate()`` (a cached frame's rows do not change
when a store is rewritten), and is dropped when the frame is garbage
collected, when a lookup or a new entry's build finds the frame no
longer cached, on ``reset()`` and with its session.

``reset()`` is ``invalidate()`` plus dropping every store and frame
entry: the next call rebuilds from the inputs (the bench's uncached
first-execution probe).

``materialize`` exists because Spark's exchange reuse does not fire
across two consumers of the same subtree when the consuming joins carry
extra conjuncts or sit in different stages: an expensive shared
relation (signature table, tokenized corpus) would be computed once per
consumer. Pins are deduplicated by plan semantics (``semanticHash`` +
``sameSemantics``), so a repeated operator call returns the pinned
frame instead of pinning a twin, and a small LRU bounds the pinned set —
evicting a pin only costs recompute, never correctness.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import weakref

from pyspark import StorageLevel
from pyspark.sql import DataFrame

__all__ = [
    "frame_memo", "invalidate", "materialize", "memo", "probe_memo",
    "read_parquet", "reset", "scratch_dir", "store",
]

# insertion-ordered: index 0 is the LRU victim; entries carry the owning
# SparkContext's applicationId so a session restart can't serve a frame
# bound to the dead session (r8 ADVICE: the prepared-query cache got this
# hardening in r7; the materialize LRU matched the bug class but not the fix)
_PINNED: list[tuple[str | None, int, DataFrame]] = []
# r14: 8 → 16 — the pin population grew (items_etl's correlated relation
# joined the dedup signature/cap tables), and at 8 a full battery pass
# LRU-evicted pins that later repeats of the same queries re-computed.
# Entries are MEMORY_AND_DISK and row-scaled; eviction still only costs
# recompute, never correctness.
_PINNED_MAX = 16


def _app_id(df: DataFrame) -> str | None:
    try:
        return df.sparkSession.sparkContext.applicationId
    except Exception:
        return None


# memoized bounded probe results (e.g. _cap_binds' 1-row max-bucket
# scalar): repeated operator calls rebuild semantically identical plans,
# and re-running the probe job per call would tax every binding capped
# query with a fixed job overhead. Same staleness contract as _PINNED:
# store writers invalidate(), dead-session entries are evicted on use.
_PROBE: list[tuple[str | None, int, object, DataFrame, object]] = []
_PROBE_MAX = 64


def probe_memo(df: DataFrame, extra_key, compute):
    """Return ``compute()`` memoized per (session, plan semantics,
    extra_key). The value must be a pure function of the plan's data —
    invalidate() (called by every store writer) clears the memo, so a
    rewritten store re-probes."""
    app = _app_id(df)
    try:
        h = df.semanticHash()
    except Exception:
        return compute()
    for i in [i for i, e in enumerate(_PROBE) if e[0] != app][::-1]:
        _PROBE.pop(i)
    for i, (pa, ph, pk, pdf, val) in enumerate(_PROBE):
        if ph == h and pk == extra_key and df.sameSemantics(pdf):
            _PROBE.append(_PROBE.pop(i))  # LRU refresh
            return val
    val = compute()
    _PROBE.append((app, h, extra_key, df, val))
    while len(_PROBE) > _PROBE_MAX:
        _PROBE.pop(0)
    return val


# memoized store READS: spark.read.parquet(path) runs a footer/schema
# job at call time, so an operator that re-reads a session-static store
# per invocation (bench loops, notebooks) pays one fixed job per call
# for a DataFrame whose plan is identical every time (r14 profile: 1-2
# such jobs per warm build of every *_probe/_capped query). Returning
# the SAME DataFrame also keeps the semantic-dedup lookups above
# trivially cheap. Staleness contract as _PINNED: store writers
# invalidate() (a rewritten path re-reads — the cached plan's file
# listing would otherwise point at deleted files), dead-session entries
# evicted on use.
_READS: list[tuple[str | None, str, DataFrame]] = []
_READS_MAX = 32


def read_sidecar(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reading a local ``_``-prefixed sidecar
    directory through its visible entries under ``basePath``. Spark treats
    such names as hidden and logs "All paths were ignored" on every read
    of one. An emptied sidecar raises UNABLE_TO_INFER_SCHEMA, as before."""
    name = os.path.basename(path.rstrip("/"))
    if "://" in path or not name.startswith("_"):
        return spark.read.parquet(path)
    kids = sorted(
        os.path.join(path, n) for n in os.listdir(path) if not n.startswith((".", "_"))
    )
    return spark.read.option("basePath", path).parquet(*kids)


def read_parquet(spark, path: str) -> DataFrame:
    """``read_sidecar(spark, path)`` memoized per (session, path)."""
    try:
        app = spark.sparkContext.applicationId
    except Exception:
        app = None
    for i in [i for i, e in enumerate(_READS) if e[0] != app][::-1]:
        _READS.pop(i)
    for i, (ra, rp, rdf) in enumerate(_READS):
        if rp == path:
            _READS.append(_READS.pop(i))  # LRU refresh
            return rdf
    df = read_sidecar(spark, path)
    _READS.append((app, path, df))
    while len(_READS) > _READS_MAX:
        _READS.pop(0)
    return df


# the session registry: (applicationId, *key) -> (value, directory);
# a memo's directory is None. _ROOTS maps an applicationId to the root
# directory its stores live under; _APP is the session of the last lookup.
_ENTRIES: dict[tuple, tuple[object, str | None]] = {}
_ROOTS: dict[str, str] = {}
_APP: str | None = None
# frame entries: (applicationId, name, id(frame)) -> (weakref, value); the
# weakref's callback removes the entry when the frame is collected
_FRAMES: dict[tuple, tuple[weakref.ref, object]] = {}


def _drop_sessions(keep: str | None = None) -> None:
    """Drop every registry entry and store root not owned by ``keep``."""
    for k in [k for k in _ENTRIES if k[0] != keep]:
        del _ENTRIES[k]
    for k in [k for k in list(_FRAMES) if k[0] != keep]:
        _FRAMES.pop(k, None)
    for app in [a for a in _ROOTS if a != keep]:
        shutil.rmtree(_ROOTS.pop(app), ignore_errors=True)


def _session_key(spark, key: tuple) -> tuple:
    global _APP
    app = spark.sparkContext.applicationId
    if app != _APP:
        _drop_sessions(keep=app)
        _APP = app
    return (app, *key)


def memo(spark, key: tuple, build):
    """Return ``build()`` memoized per (session, *key) until the next
    ``invalidate()``."""
    k = _session_key(spark, key)
    if k not in _ENTRIES:
        _ENTRIES[k] = (build(), None)
    return _ENTRIES[k][0]


def store(spark, key: tuple, build):
    """Return ``build(dir)`` memoized per (session, *key). ``dir`` is a
    fresh directory the registry deletes with the entry; the entry
    survives ``invalidate()``."""
    k = _session_key(spark, key)
    if k not in _ENTRIES:
        root = _ROOTS.get(k[0])
        if root is None:
            root = _ROOTS[k[0]] = tempfile.mkdtemp(prefix="acorn_session_")
        d = tempfile.mkdtemp(prefix=f"{key[0]}_", dir=root)
        try:
            value = build(d)
        except BaseException:
            shutil.rmtree(d, ignore_errors=True)
            raise
        _ENTRIES[k] = (value, d)
    return _ENTRIES[k][0]


def frame_memo(df: DataFrame, name: str, build=None):
    """The value ``build()`` returned for this frame OBJECT under
    ``name``, while ``df`` stays cached; None when ``df`` is not cached,
    or when nothing was built and ``build`` is None (a pure lookup).

    Keyed by the object, not by plan semantics: two frames that read the
    same files are different entries, so one caller's entry never changes
    what another caller's frame is served from."""
    k = _session_key(df.sparkSession, (name, id(df)))
    hit = _FRAMES.get(k)
    if not df.is_cached:
        _FRAMES.pop(k, None)
        return None
    if hit is None or hit[0]() is not df:
        if build is None:
            return None
        # entries of unpersisted frames go before a new one is built
        for key, (ref, _) in list(_FRAMES.items()):
            if (f := ref()) is None or not f.is_cached:
                _FRAMES.pop(key, None)
        ref = weakref.ref(df, lambda _ref, k=k: _FRAMES.pop(k, None))
        hit = _FRAMES[k] = (ref, build())
    return hit[1]


def scratch_dir(spark, name: str) -> str:
    """A fresh directory for one call's output, under the directory of
    the store ``(name,)``: deleted when that store is dropped."""
    return tempfile.mkdtemp(dir=store(spark, (name,), lambda d: d))


def reset() -> None:
    """``invalidate()``, then drop every store and delete its directory:
    the next lookup rebuilds from the inputs."""
    invalidate()
    _drop_sessions()


atexit.register(_drop_sessions)


def invalidate() -> None:
    """Unpersist every pinned relation and drop every memo (stores
    stay). Store WRITERS (minhash_write,
    winnow_write, nsw_write/append/compact, …) call this: semantic
    dedup compares canonicalized plans, and two reads of the same
    parquet root are semantically equal EVEN AFTER the files were
    rewritten — without invalidation a probe after an in-session store
    rewrite would be silently served the pre-rewrite snapshot (the
    /code-review r7 stale-pin finding; pinned by
    test_materialize_invalidated_on_store_rewrite)."""
    _PROBE.clear()
    _READS.clear()
    for k in [k for k, (_, d) in _ENTRIES.items() if d is None]:
        del _ENTRIES[k]
    while _PINNED:
        try:
            _PINNED.pop()[2].unpersist()
        except Exception:  # owning session already stopped — nothing to free
            pass


def materialize(df: DataFrame) -> DataFrame:
    """Persist + eagerly compute ``df`` (the eager count matters: lazy
    persistence lets consumer stages race and each compute the subtree
    anyway). Returns the persisted frame — the ALREADY-PINNED one when
    a semantically identical plan is pinned (LRU-refreshed, no
    recompute)."""
    app = _app_id(df)
    # evict pins owned by a different (stopped or sibling-context) session:
    # serving them would fail at action time, and holding them pins memory
    # the dead session can never release (test_materialize_evicts_dead_sessions)
    for i in [i for i, (pa, _, _) in enumerate(_PINNED) if pa != app][::-1]:
        try:
            _PINNED.pop(i)[2].unpersist()
        except Exception:
            pass
    try:
        h = df.semanticHash()
    except Exception:  # plan not hashable (e.g. unresolved) — pin fresh
        h = None
    if h is not None:
        for i, (pa, ph, pdf) in enumerate(_PINNED):
            if ph == h and df.sameSemantics(pdf):
                _PINNED.append(_PINNED.pop(i))  # LRU refresh
                return pdf
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    _PINNED.append((app, h, df))
    while len(_PINNED) > _PINNED_MAX:
        _PINNED.pop(0)[2].unpersist()
    return df
