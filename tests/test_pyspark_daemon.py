"""The package-owned PySpark daemon (``_pyspark_daemon``) and the guard
in ``session.python_daemon_module`` that decides when Spark uses it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from acorn_hybrid_vector_search_spark import _pyspark_daemon as daemon
from acorn_hybrid_vector_search_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER_ZIPIMPORT = sys.version_info < (3, 13)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def counted_zip(tmp_path, monkeypatch):
    """A zip on sys.path, and the list of reads the ORIGINAL directory
    reader makes of it (monkeypatch restores zipimport afterwards)."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"memo_probe_a": "X = 1\n"})
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    yield archive, calls
    for name in ("memo_probe_a", "memo_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(not EAGER_ZIPIMPORT, reason="CPython >= 3.13 is lazy")
def test_memo_reads_an_archive_once_until_it_changes(counted_zip):
    archive, calls = counted_zip
    assert daemon.install_zip_directory_memo()
    assert daemon.install_zip_directory_memo()  # idempotent
    import memo_probe_a

    assert memo_probe_a.X == 1
    assert len(calls) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(calls) == 1, "unchanged archive re-read"

    _write_zip(archive, {"memo_probe_a": "X = 1\n", "memo_probe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(calls) == 2, "rewritten archive not re-read"
    import memo_probe_b

    assert memo_probe_b.Y == 2


def test_memo_not_installed_on_lazy_zipimport(monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    before = getattr(zipimport, "_read_directory", None)
    assert daemon.install_zip_directory_memo() is False
    assert getattr(zipimport, "_read_directory", None) is before


def test_guard_picks_memo_daemon_only_on_local_masters(monkeypatch):
    monkeypatch.chdir(ROOT)
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert session.python_daemon_module(master) == session.MEMO_DAEMON_MODULE
    for master in (
        "yarn", "spark://host:7077", "k8s://https://host:443",
        "local-cluster[2,1,1024]",
    ):
        assert session.python_daemon_module(master) == session.DEFAULT_DAEMON_MODULE


def test_guard_keeps_default_daemon_when_workers_cannot_import(
    tmp_path, monkeypatch
):
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    # no worker interpreter on PATH: site-packages is not evidence
    monkeypatch.setenv("PYSPARK_PYTHON", str(tmp_path / "no-such-python"))
    assert session.python_daemon_module("local[2]") == session.DEFAULT_DAEMON_MODULE
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), ROOT]))
    assert session.python_daemon_module("local[2]") == session.MEMO_DAEMON_MODULE


def test_local_session_workers_run_the_memo(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == session.MEMO_DAEMON_MODULE
    got = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: hasattr(zipimport._read_directory, "stat_memo"))
        .collect()
    )
    assert got == [EAGER_ZIPIMPORT]


def test_default_daemon_runs_udfs_when_package_not_importable(tmp_path):
    """A driver that imports the package from a path the workers do not
    see keeps Spark's default daemon, and Python tasks still run."""
    script = textwrap.dedent(
        f"""
        import sys, zipimport
        sys.path.insert(0, {ROOT!r})
        from acorn_hybrid_vector_search_spark.session import get_spark
        spark = get_spark("daemon-guard", master="local[1]", shuffle_partitions=1)
        sc = spark.sparkContext
        print(sc.getConf().get("spark.python.daemon.module", "unset"))
        print(sc.parallelize([20, 22], 1).map(
            lambda x: (x, hasattr(zipimport._read_directory, "stat_memo"))
        ).collect())
        spark.stop()
        """
    )
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")
    }
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    assert lines[-2] == "unset"
    assert lines[-1] == "[(20, False), (22, False)]"
