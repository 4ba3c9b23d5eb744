"""The persisted-store contract shared by the IVF lists (``ann.py``) and
the NSW shard store (``graph_ann.py``): the one module that knows the
on-disk layout.

A store is a local directory holding its data (the NSW store's
``part_id=N`` shard directories at the root, the IVF store's
``lists/batch=B/cluster_id=C`` tree) plus sidecars whose names start
with ``_`` so a parquet read of the data never sees them:

- ``_tombstones``: one row per deleted id with the owner level it was
  deleted at (``part_ceiling`` for NSW shards, ``batch_ceiling`` for IVF
  batches) — the ``mark_deleted`` analog of hnswlib. A stored copy is
  dead when its owner id is at or below the id's highest ceiling, so an
  id re-added above the ceiling stays live.
- ``_store_version.json``: an opaque ``{"v", "nonce"}`` token that every
  mutator bumps; stats sidecars record the token (and per-shard content
  fingerprints, ``_store_fp.json``) they were computed against.
- the NSW zone maps ``_shard_stats`` / ``_shard_attr_stats`` /
  ``_shard_numeric_stats``, the int8 code sidecar ``_int8_codes``, and
  the IVF list stats ``attr_stats`` / ``numeric_stats``.

Every rewrite here is os-level (``rmtree``, ``os.rename``) and therefore
local-only: remote stores are rebuilt under a fresh versioned prefix and
a manifest pointer is flipped instead (``require_local``).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.operators import _cache


@dataclass(frozen=True)
class StoreKind:
    """How one store kind lays out its data: the data directory under
    the store root, the column naming the writer that owns a row, and
    the tombstone ceiling column (with its SQL type) over that owner."""

    data: str
    owner: str
    ceiling: str
    ceiling_type: str


NSW = StoreKind(data="", owner="part_id", ceiling="part_ceiling", ceiling_type="int")
IVF = StoreKind(data="lists", owner="batch", ceiling="batch_ceiling", ceiling_type="long")

STORE_VERSION_FILE = "_store_version.json"
STORE_FP_FILE = "_store_fp.json"
# reserved key inside _store_fp.json (shard keys are "part_id=N")
FP_VERSION_KEY = "__store_version__"

# the no-sidecar error shapes of a Spark read: a missing path, an
# emptied directory, and the pre-error-class spelling of a missing path
_ABSENT_ERRORS = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA", "Path does not exist")


class StoreEmptied(ValueError):
    """A rewrite would leave the store without one live row."""


def _under(path: str, name: str) -> str:
    return path.rstrip("/") + "/" + name


def data_root(path: str, kind: StoreKind) -> str:
    return _under(path, kind.data) if kind.data else path


def tombstones_path(path: str) -> str:
    return _under(path, "_tombstones")


def stats_path(path: str) -> str:
    return _under(path, "_shard_stats")


def attr_stats_path(path: str) -> str:
    return _under(path, "_shard_attr_stats")


def numeric_stats_path(path: str) -> str:
    return _under(path, "_shard_numeric_stats")


def int8_path(path: str) -> str:
    return _under(path, "_int8_codes")


def ivf_codebook_path(path: str) -> str:
    return _under(path, "codebook")


def ivf_attr_stats_path(path: str) -> str:
    return _under(path, "attr_stats")


def ivf_numeric_stats_path(path: str) -> str:
    return _under(path, "numeric_stats")


_SIDECARS = (
    tombstones_path, stats_path, attr_stats_path, numeric_stats_path,
    int8_path, ivf_attr_stats_path, ivf_numeric_stats_path,
)


# ---------------------------------------------------------------------------
# local-only directory operations


def require_local(path: str, op: str) -> None:
    """Refuse a remote path before ``op`` touches anything: its
    directory operations are os-level, and a silent no-op on an object
    store would leave stale shards or sidecars live."""
    if "://" in path:
        raise ValueError(
            f"{op} rewrites the store with os-level directory operations "
            f"and only supports local paths; got {path!r} — write a fresh "
            f"versioned prefix and flip a manifest pointer on remote stores"
        )


def remote_path_exists(spark, path: str) -> bool:
    """Hadoop-FS existence probe for a remote URI. Any failure (missing
    connector, bad credentials) reports True: 'cannot prove absent' is
    treated as 'could exist', so callers fail fast."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))
    except Exception:
        return True


def clear_sidecars(path: str, spark=None, *, also: tuple[str, ...] = ()) -> None:
    """A store REBUILD must not inherit the old store's sidecars: under
    dynamic partition overwrite only the rewritten data directories are
    replaced, and a surviving ``_tombstones`` (whose ceilings cover the
    rebuilt 0-based owner ids) would silently delete rebuilt rows.
    ``also`` names further store-relative directories the rebuild
    replaces wholesale (the IVF ``lists``, whose streaming batches an
    overwrite of ``batch=-1`` would leave behind). A first write to a
    remote prefix that provably does not exist has nothing to clear and
    proceeds; any other remote rebuild fails fast."""
    if "://" in path:
        if spark is not None and not remote_path_exists(spark, path):
            return
        raise ValueError(
            f"rebuilding over an existing store path requires clearing "
            f"its sidecars (_tombstones/_shard_stats/...), an os-level "
            f"local-only operation; got {path!r} — rebuild a remote "
            f"store under a fresh versioned prefix and flip a manifest "
            f"pointer instead"
        )
    for side in [f(path) for f in _SIDECARS] + [_under(path, d) for d in also]:
        shutil.rmtree(side, ignore_errors=True)


def swap_dir(live: str, tmp: str) -> None:
    """Swap a fully written ``tmp`` directory into ``live``'s place with
    no loss window: move live aside, move tmp in, delete the old copy
    only once the new one is in place; on any failure restore live and
    never strand tmp."""
    old = live.rstrip("/") + "__old"
    try:
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(live, old)
        os.rename(tmp, live)
    except BaseException:
        if not os.path.exists(live) and os.path.exists(old):
            os.rename(old, live)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old)


def replace_dir(path: str, live: str, write, *, drop: tuple[str, ...] = ()):
    """Rewrite directory ``live`` of the store at ``path``: ``write(tmp)``
    fills a fresh ``live__tmp`` (removed if it fails, leaving ``live``
    untouched), the result is swapped in, the directories in ``drop``
    are deleted, the version token is bumped and every memo and pin is
    invalidated. Returns what ``write`` returned."""
    tmp = live.rstrip("/") + "__tmp"
    try:
        out = write(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    swap_dir(live, tmp)
    for d in drop:
        shutil.rmtree(d, ignore_errors=True)
    bump_store_version(path)
    _cache.invalidate()
    return out


# ---------------------------------------------------------------------------
# sidecar reads


def has_data(path: str) -> bool:
    """True when a local directory holds a visible (data) file."""
    return os.path.isdir(path) and any(
        not n.startswith((".", "_")) for n in os.listdir(path)
    )


def absent_ok(fn, default):
    """``fn()``, or ``default`` when it fails with one of the no-sidecar
    error shapes; every other AnalysisException (corrupt footer,
    permissions) propagates — swallowing it could resurrect deleted
    rows or prune on missing evidence."""
    from pyspark.errors import AnalysisException

    try:
        return fn()
    except AnalysisException as e:
        if any(s in str(e) for s in _ABSENT_ERRORS):
            return default
        raise


def read_sidecar(spark, path: str, *, memo: bool = False) -> "DataFrame | None":
    """The sidecar at ``path``, or None when it is absent. A local
    sidecar that is missing or holds no visible data file is absent
    without a Spark call; a remote one is absent when the read fails
    with a no-sidecar error. ``memo`` serves the session-memoized read
    (dropped by ``invalidate()``)."""
    if "://" not in path and not has_data(path):
        return None
    read = _cache.read_parquet if memo else _cache.read_sidecar
    return absent_ok(lambda: read(spark, path), None)


def read_tombstones(spark, path: str) -> "DataFrame | None":
    return read_sidecar(spark, tombstones_path(path), memo=True)


def ids_frame(spark, ids, id_col: str) -> DataFrame:
    """Distinct long ids from a sequence or a DataFrame with ``id_col``
    (the distributed form: nothing is collected)."""
    if isinstance(ids, DataFrame):
        return ids.select(F.col(id_col).cast("long").alias(id_col)).distinct()
    return spark.createDataFrame(
        [(int(i),) for i in ids], f"{id_col} long"
    ).distinct()


def apply_tombstones(
    stored: DataFrame, tomb: "DataFrame | None", id_col: str, kind: StoreKind = NSW
) -> DataFrame:
    """Tag each stored row with ``_deleted`` (never NULL): its owner id
    is at or below the highest ceiling of its id. Broadcast hash join on
    the id — the sidecar is small by contract (reclaim folds it away);
    the store side never shuffles."""
    if tomb is None:
        return stored.withColumn("_deleted", F.lit(False))
    bad = {"_deleted", "_tomb_ceiling"} & set(stored.columns)
    if bad:
        raise ValueError(f"store payload columns collide with {sorted(bad)}")
    ceil = tomb.groupBy(id_col).agg(F.max(kind.ceiling).alias("_tomb_ceiling"))
    return (
        stored.join(F.broadcast(ceil), id_col, "left")
        .withColumn(
            "_deleted",
            F.col("_tomb_ceiling").isNotNull()
            & (F.col(kind.owner) <= F.col("_tomb_ceiling")),
        )
        .drop("_tomb_ceiling")
    )


def live_rows(
    spark,
    path: str,
    stored: DataFrame,
    *,
    kind: StoreKind = NSW,
    id_col: str = "vec_id",
    op: str | None = None,
) -> DataFrame:
    """``stored`` (a read of the store's data) without its tombstoned
    rows. With ``op`` set, a store whose live view is empty raises
    ``StoreEmptied`` instead: a reclaim would write nothing and the
    next reader would find no schema."""
    tomb = read_tombstones(spark, path)
    live = stored
    if tomb is not None:
        live = (
            apply_tombstones(stored, tomb, id_col, kind)
            .filter(~F.col("_deleted"))
            .drop("_deleted")
        )
    if op is not None and live.limit(1).count() == 0:
        raise StoreEmptied(
            f"{op} would empty the store at {path}: every row is "
            f"tombstoned — drop the store directory instead"
        )
    return live


def max_owner(stored: DataFrame, kind: StoreKind) -> "int | None":
    """The highest owner id of a read of a store's data, taken from the
    ``<owner>=N`` directories of the files Spark listed for it: no job,
    and the same path for local and remote stores."""
    pattern = re.compile(rf"/{kind.owner}=(-?\d+)/")
    owners = [int(m.group(1)) for f in stored.inputFiles() if (m := pattern.search(f))]
    return max(owners, default=None)


def delete_ids(
    spark,
    path: str,
    ids,
    kind: StoreKind,
    *,
    id_col: str,
    strict: bool,
    op: str,
    ceiling: int | None = None,
) -> None:
    """Tombstone ``ids`` at ``ceiling`` (default: the store's highest
    owner id): O(|ids|) sidecar rows appended, no data rewrite.
    ``strict`` raises when an id is absent from the store (hnswlib's
    ``mark_deleted`` throws for an unknown label) at the cost of one
    anti-join."""
    ids_df = ids_frame(spark, ids, id_col)
    if ceiling is None or strict:
        stored = spark.read.parquet(data_root(path, kind))
        if ceiling is None:
            ceiling = max_owner(stored, kind)
        if strict:
            # one job answers both existence and the sample
            miss = ids_df.join(stored.select(id_col), id_col, "left_anti").take(6)
            if miss:
                sample = sorted(r[0] for r in miss[:5])
                more = " (and more)" if len(miss) > 5 else ""
                raise ValueError(
                    f"{op}: id(s) not present in the store at {path} "
                    f"(first few: {sample}{more}); pass strict=False to "
                    f"tombstone regardless"
                )
    (
        ids_df.withColumn(kind.ceiling, F.lit(int(ceiling)).cast(kind.ceiling_type))
        .write.mode("append")
        .parquet(tombstones_path(path))
    )
    bump_store_version(path)
    _cache.invalidate()


# ---------------------------------------------------------------------------
# NSW store metadata


@dataclass(frozen=True)
class NswMeta:
    """What a maintenance op needs to know about an NSW store, from one
    read and one aggregate: the raw read, its highest shard id, the
    build's densification and the stored vector precision."""

    df: DataFrame
    max_part: int
    gamma: int
    vector_dtype: str


def store_vector_dtype(stored: DataFrame) -> str:
    """The persisted vector precision, read off the parquet schema:
    maintenance ops build new shards at it, so a float32 store never
    grows shards the scan could not merge."""
    el = stored.schema["vector"].dataType.elementType.simpleString()
    return "float32" if el == "float" else "float64"


def read_nsw_meta(spark, path: str) -> NswMeta:
    """Legacy stores without the constant ``gamma`` column read as γ=1."""
    stored = spark.read.parquet(path)
    aggs = [F.max("part_id")]
    if "gamma" in stored.columns:
        aggs.append(F.max("gamma"))
    row = stored.agg(*aggs).head()
    gamma = row[1] if len(row) > 1 and row[1] is not None else 1
    return NswMeta(stored, int(row[0]), int(gamma), store_vector_dtype(stored))


# ---------------------------------------------------------------------------
# version token and stats freshness


def read_store_version(path: str) -> "dict | None":
    """The store's version token, or None (legacy or remote store, or
    one last written out of the API). Compared by equality, never
    ordered."""
    if "://" in path:
        return None
    try:
        with open(os.path.join(path, STORE_VERSION_FILE)) as f:
            tok = json.load(f)
    except (OSError, ValueError):
        return None
    return tok if isinstance(tok, dict) and "v" in tok else None


def bump_store_version(path: str) -> "dict | None":
    """Write a fresh version token (counter + random nonce, which
    defeats ABA across directory swaps and restores). Every mutator
    calls it. Remote or missing stores are a no-op; returns the token
    written, or None."""
    if "://" in path or not os.path.isdir(path):
        return None
    prev = read_store_version(path)
    tok = {"v": (int(prev["v"]) + 1) if prev else 1, "nonce": os.urandom(8).hex()}
    with open(os.path.join(path, STORE_VERSION_FILE), "w") as f:
        json.dump(tok, f)
    return tok


def dir_fingerprint(path: str) -> tuple:
    """Sorted (name, size, mtime_ns) of a directory's files: a rewrite
    in the same timestamp tick still changes the part-file names
    (fresh UUIDs), which a bare mtime would miss."""
    return tuple(
        sorted(
            (name, st.st_size, st.st_mtime_ns)
            for name in os.listdir(path)
            for st in (os.stat(os.path.join(path, name)),)
        )
    )


def _shard_fp_hash(path: str, d: str) -> str:
    return hashlib.md5(repr(dir_fingerprint(os.path.join(path, d))).encode()).hexdigest()


def _shard_dirs(path: str) -> list[str]:
    return [d for d in os.listdir(path) if d.startswith("part_id=")]


def snapshot_store_fp(path: str) -> dict:
    return {d: _shard_fp_hash(path, d) for d in _shard_dirs(path)}


def record_store_fp(path: str, sidecar: str, fps: dict, version: "dict | None" = None) -> None:
    """Persist, inside the sidecar, the shard fingerprints and version
    token its contents were computed against (snapshotted BEFORE the
    computation, so a racing mutation reads as stale, never fresh)."""
    rec = dict(fps)
    if version is not None:
        rec[FP_VERSION_KEY] = version
    with open(os.path.join(sidecar, STORE_FP_FILE), "w") as f:
        json.dump(rec, f)


def check_stats_fresh(path: str, spath: str) -> list[str]:
    """Shard directories whose content no longer matches what the
    sidecar at ``spath`` was computed against (empty = fresh; remote
    stores are uncheckable and read as fresh — their writers fail fast).

    Evidence, in order: a recorded version token equal to the store's
    proves no in-API mutation since (one file read); otherwise the
    recorded per-shard content fingerprints decide, and a recorded
    shard since deleted is stale too; sidecars older than the
    fingerprint fall back to ``shard mtime >= sidecar mtime``
    (ambiguity reads as stale)."""
    if "://" in path:
        return []
    fp_file = os.path.join(spath, STORE_FP_FILE)
    if os.path.exists(fp_file):
        with open(fp_file) as f:
            recorded = json.load(f)
        rec_version = recorded.pop(FP_VERSION_KEY, None)
        if rec_version is not None and rec_version == read_store_version(path):
            return []
        current = set(_shard_dirs(path))
        stale = [d for d in current if recorded.get(d) != _shard_fp_hash(path, d)]
        stale.extend(sorted(set(recorded) - current))
        return stale
    stats_m = os.stat(spath).st_mtime_ns
    return [
        d for d in _shard_dirs(path)
        if os.stat(os.path.join(path, d)).st_mtime_ns >= stats_m
    ]


# ---------------------------------------------------------------------------
# zone-map sidecar loads, memoized per (sidecar path, content fingerprint)


def _load(spark, spath: str, shape):
    def build():
        df = read_sidecar(spark, spath)
        return None if df is None else shape(df.collect())

    if "://" in spath or not os.path.isdir(spath):
        return build()
    return _cache.memo(spark, ("store_sidecar", spath, dir_fingerprint(spath)), build)


def _ball_stats(rows):
    return (
        np.asarray([int(r["part_id"]) for r in rows], dtype=np.int64),
        np.asarray([list(r["centroid"]) for r in rows], np.float64),
        np.asarray([float(r["radius"]) for r in rows], np.float64),
        np.asarray([int(r["n"]) for r in rows], dtype=np.int64),
    )


def _value_counts(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r["attr"], {}).setdefault(int(r["part_id"]), {})[r["value"]] = int(r["n"])
    return out


def _zones(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r["attr"], {})[int(r["part_id"])] = (
            r["vmin"], r["vmax"], int(r["n_present"]),
        )
    return out


def load_stats(spark, spath: str):
    """(part_ids, centroids, radii, member counts) of the ball-stats
    sidecar, or None when it is absent."""
    return _load(spark, spath, _ball_stats)


def load_attr_stats(spark, apath: str) -> "dict | None":
    """``{attr: {part_id: {value_str: n}}}``, or None when absent."""
    return _load(spark, apath, _value_counts)


def load_numeric_stats(spark, npath: str) -> "dict | None":
    """``{attr: {part_id: (vmin, vmax, n_present)}}``, or None when absent."""
    return _load(spark, npath, _zones)


# ---------------------------------------------------------------------------
# zone-map verdicts, shared by the shard store and the IVF lists

# the §2.3 range operators: the reference spells leq/geq (acorn.py:176-185)
# and its class-2/3 queries use strict < / >
RANGE_OPS = {"<": "<", "<=": "<=", ">": ">", ">=": ">=", "leq": "<=", "geq": ">="}
_CONJ_OPS = frozenset({"exact", "substring"}) | frozenset(RANGE_OPS)


def range_shard_verdict(vmin, vmax, n_present: int, op: str, value: float) -> tuple[int, bool]:
    """(certain passing count, may pass) for one shard or list from its
    numeric zone map: a whole [vmin, vmax] that passes holds exactly
    ``n_present`` passing members (NULLs reject per §2.3), one that
    fails holds none and is skippable, a straddling one may pass but
    certifies nothing."""
    if n_present == 0 or vmin is None or vmax is None:
        return 0, False
    v = float(value)
    if op == "<":
        all_pass, none_pass = vmax < v, vmin >= v
    elif op == "<=":
        all_pass, none_pass = vmax <= v, vmin > v
    elif op == ">":
        all_pass, none_pass = vmin > v, vmax <= v
    else:  # ">="
        all_pass, none_pass = vmin >= v, vmax < v
    if all_pass:
        return n_present, True
    if none_pass:
        return 0, False
    return 0, True


def canon_value_count(vals: "dict[str, int]", value) -> int:
    """The passing count for ``value`` out of one partition's
    value→count map, matching Catalyst equality: keys are
    ``CAST(col AS STRING)`` of one column type, so ``2015.0`` against an
    int column must find ``'2015'`` (exact string first, then numeric
    equality over parseable keys). Booleans use Spark's lowercase
    spelling and never match numeric keys (``float(True)`` is 1.0, which
    Catalyst does not equate with an int 1 under ANSI)."""
    if isinstance(value, bool):
        return vals.get(str(value).lower(), 0)
    s = str(value)
    if s in vals:
        return vals[s]
    try:
        fv = float(value)
    except (TypeError, ValueError):
        return 0
    for k, n in vals.items():
        try:
            if float(k) == fv:
                return n
        except (TypeError, ValueError):
            continue
    return 0


def substring_value_count(vals: "dict[str, int]", needle) -> int:
    """EXACT passing count for a case-sensitive substring constraint:
    the sum over distinct keys containing the needle (NULL values have
    the None key and never match)."""
    s = str(needle)
    return sum(n for k, n in vals.items() if k is not None and s in k)


def normalize_conj(conj, stored: DataFrame) -> "dict[str, tuple]":
    """Validate and normalize one conjunction ``{attr: (op, value)}``
    over the columns of ``stored`` (specs may arrive as §2.3 ``[op,
    value]`` lists). Every op must be exact, substring or a range
    spelling — zone maps prove nothing about other ops, so pruning under
    them would be unsound. A substring term must name a string column:
    the §2.3 grammar ignores substring on other kinds while the Catalyst
    mask would stringify the column, so pruning by it would change
    results."""
    if not conj:
        raise ValueError(
            "empty prune_conj conjunction — pass None for an unfiltered "
            "pruned search"
        )
    out = {}
    for attr, spec in dict(conj).items():
        op, value = list(spec)[0], list(spec)[1]
        if op not in _CONJ_OPS:
            raise ValueError(
                f"prune_conj op must be 'exact', 'substring' or one of "
                f"{sorted(RANGE_OPS)}, got {op!r} for {attr!r} — zone "
                f"maps prove nothing about other ops"
            )
        out[str(attr)] = (op, value)
    if any(op == "substring" for op, _ in out.values()):
        kinds = {f.name: f.dataType.simpleString() for f in stored.schema.fields}
        for attr, (op, _) in out.items():
            if op == "substring" and kinds.get(attr) != "string":
                raise ValueError(
                    f"substring constraint on non-string column {attr!r} "
                    f"({kinds.get(attr, 'absent')}) — the §2.3 grammar "
                    f"ignores substring on non-string kinds, so pruning by "
                    f"it would change results"
                )
    return out


def term_verdicts(op: str, value, zone: dict, parts) -> "tuple[np.ndarray, np.ndarray]":
    """(certain passing count, may pass) per partition in ``parts`` for
    one conjunction term ``attr <op> value``. ``zone`` is the attr's
    zone map: ``{part: {value_str: n}}`` value counts for exact and
    substring terms (exact counts, so a partition may pass iff its
    count is positive), ``{part: (vmin, vmax, n_present)}`` for a range
    op (``range_shard_verdict``). A partition missing from the map holds
    no passing member."""
    if op in ("exact", "substring"):
        count = canon_value_count if op == "exact" else substring_value_count
        passing = np.asarray([count(zone.get(int(p), {}), value) for p in parts], dtype=np.int64)
        return passing, passing > 0
    verdicts = [
        range_shard_verdict(*zone.get(int(p), (None, None, 0)), RANGE_OPS[op], float(value))
        for p in parts
    ]
    return (
        np.asarray([c for c, _ in verdicts], dtype=np.int64),
        np.asarray([m for _, m in verdicts], dtype=bool),
    )


def range_pred_col(attr: str, op: str, value):
    """``attr <op> value`` as a Catalyst column; ``op`` is any
    ``RANGE_OPS`` spelling."""
    col, v = F.col(attr), F.lit(value)
    return {"<": col < v, "<=": col <= v, ">": col > v, ">=": col >= v}[RANGE_OPS[op]]


def conj_pred_col(conj: "dict[str, tuple]"):
    """The conjunction as ONE Catalyst mask over flat payload columns —
    identical to ``build_predicate`` over flat passthrough accessors for
    these ops (a NULL comparison yields SQL NULL, which every consumer
    reads as a rejection: §2.3's strict missing-attribute rule)."""
    cond = None
    for attr, (op, value) in conj.items():
        if op == "exact":
            c = F.col(attr) == F.lit(value)
        elif op == "substring":
            c = F.col(attr).contains(F.lit(value))
        else:
            c = range_pred_col(attr, op, value)
        cond = c if cond is None else cond & c
    return cond
