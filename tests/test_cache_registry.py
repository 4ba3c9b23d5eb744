"""Session-store registry (operators/_cache.py): memo and store
lifetimes, session eviction, directory ownership — Spark-free, with a
stub standing in for the SparkSession — plus the guard that keeps the
query entry file (`__spark_entry__.py`) from growing its own caches or
temp directories again."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import types
from pathlib import Path

import pytest

from acorn_hybrid_vector_search_spark.operators import _cache

REPO = Path(__file__).resolve().parents[1]


def _session(app_id: str):
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=app_id)
    )


@pytest.fixture
def registry(monkeypatch):
    """The registry with empty state, so stub sessions never evict the
    real test session's entries; deletes what the test built."""
    for name, empty in (
        ("_ENTRIES", {}), ("_ROOTS", {}), ("_APP", None),
        ("_PINNED", []), ("_PROBE", []), ("_READS", []),
    ):
        monkeypatch.setattr(_cache, name, empty)
    yield _cache
    _cache._drop_sessions()


def _writer(calls: list):
    def build(d: str) -> str:
        calls.append(d)
        Path(d, "data").write_text("x")
        return d

    return build


def test_build_runs_once_per_key_per_session(registry):
    s = _session("app-1")
    calls: list = []
    a = registry.store(s, ("idx", "sf1"), _writer(calls))
    assert registry.store(s, ("idx", "sf1"), _writer(calls)) == a
    b = registry.store(s, ("idx", "sf2"), _writer(calls))
    assert len(calls) == 2 and a != b
    assert os.path.isdir(a) and os.path.isdir(b)
    n = []
    for _ in range(3):
        registry.memo(s, ("plan", "sf1"), lambda: n.append(1) or len(n))
    assert n == [1]


def test_invalidate_drops_memos_keeps_stores(registry):
    s = _session("app-1")
    calls: list = []
    d = registry.store(s, ("idx",), _writer(calls))
    memo_builds = []
    registry.memo(s, ("plan",), lambda: memo_builds.append(1))
    registry.invalidate()
    assert registry.store(s, ("idx",), _writer(calls)) == d
    assert len(calls) == 1 and os.path.isfile(os.path.join(d, "data"))
    registry.memo(s, ("plan",), lambda: memo_builds.append(1))
    assert memo_builds == [1, 1]


def test_reset_deletes_store_dirs_and_forces_rebuild(registry):
    s = _session("app-1")
    calls: list = []
    d = registry.store(s, ("idx",), _writer(calls))
    scratch = registry.scratch_dir(s, "per_call")
    registry.reset()
    assert not os.path.exists(d) and not os.path.exists(scratch)
    d2 = registry.store(s, ("idx",), _writer(calls))
    assert len(calls) == 2 and d2 != d and os.path.isdir(d2)


def test_new_session_evicts_old_entries_and_dirs(registry):
    old, new = _session("app-old"), _session("app-new")
    calls: list = []
    d_old = registry.store(old, ("idx",), _writer(calls))
    root_old = os.path.dirname(d_old)
    registry.memo(old, ("plan",), lambda: "old-plan")
    d_new = registry.store(new, ("idx",), _writer(calls))
    assert not os.path.exists(root_old)
    assert all(k[0] == "app-new" for k in registry._ENTRIES)
    assert os.path.isdir(d_new) and len(calls) == 2
    assert registry.memo(new, ("plan",), lambda: "new-plan") == "new-plan"


def test_failed_build_leaves_no_entry_or_dir(registry):
    s = _session("app-1")
    seen = []

    def boom(d):
        seen.append(d)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        registry.store(s, ("idx",), boom)
    assert not os.path.exists(seen[0]) and not registry._ENTRIES


def test_exit_deletes_store_dirs():
    code = (
        "import types\n"
        "from acorn_hybrid_vector_search_spark.operators import _cache\n"
        "s = types.SimpleNamespace(sparkContext=types.SimpleNamespace("
        "applicationId='app-exit'))\n"
        "d = _cache.store(s, ('idx',), lambda d: d)\n"
        "open(d + '/data', 'w').write('x')\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    ).stdout.strip()
    assert out and not os.path.exists(out)
    assert not os.path.exists(os.path.dirname(out))


def _empty_container(node) -> bool:
    if isinstance(node, ast.Dict) and not node.keys:
        return True
    if isinstance(node, ast.List) and not node.elts:
        return True
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "list", "set")
        and not node.args
        and not node.keywords
    )


def _module_caches(tree) -> list[int]:
    """Lines of module-level assignments of an empty container."""
    return [
        node.lineno
        for node in tree.body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        and node.value is not None
        and _empty_container(node.value)
    ]


def test_entry_file_has_no_own_caches_or_temp_dirs():
    """Session state in the query entry file goes through the registry:
    a module-level empty container is a hand-rolled cache, and a
    mkdtemp directory is one nothing deletes."""
    tree = ast.parse((REPO / "__spark_entry__.py").read_text())
    caches = _module_caches(tree)
    assert not caches, f"module-level cache containers at lines {caches}"
    mkdtemp = [
        node.lineno
        for node in ast.walk(tree)
        if (isinstance(node, ast.Attribute) and node.attr == "mkdtemp")
        or (isinstance(node, ast.Name) and node.id == "mkdtemp")
        or (
            isinstance(node, ast.ImportFrom)
            and node.module == "tempfile"
            and any(a.name == "mkdtemp" for a in node.names)
        )
    ]
    assert not mkdtemp, f"tempfile.mkdtemp used at lines {mkdtemp}"


OPERATORS = REPO / "acorn_hybrid_vector_search_spark" / "operators"
# modules whose private names no other module may use: store.py owns the
# persisted-store layout, graph_ann.py the graph build and search kernels,
# knn.py and hybrid.py the exact top-k kernels and the hybrid strategies
SEALED = ("store", "graph_ann", "knn", "hybrid")


def test_store_modules_hold_no_module_caches():
    """Store sidecar loads are memoized through the registry, so
    ``invalidate()`` and session changes reach them."""
    for name in SEALED:
        tree = ast.parse((OPERATORS / f"{name}.py").read_text())
        caches = _module_caches(tree)
        assert not caches, f"{name}.py: module-level caches at lines {caches}"


def test_no_private_imports_from_store_modules():
    """Package modules and the entry file use only the public names of
    store.py and graph_ann.py: a layout change stays inside them."""
    files = [*(REPO / "acorn_hybrid_vector_search_spark").rglob("*.py")]
    files.append(REPO / "__spark_entry__.py")
    found = []
    for f in files:
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.ImportFrom) or not node.module:
                continue
            source = node.module.rsplit(".", 1)[-1]
            if source in SEALED and source != f.stem:
                found += [
                    f"{f.relative_to(REPO)}:{node.lineno} {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert not found, f"private names imported from {SEALED}: {found}"
