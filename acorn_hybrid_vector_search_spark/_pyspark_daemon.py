"""PySpark daemon that makes ``importlib.invalidate_caches()`` cheap.

Every Python task calls ``importlib.invalidate_caches()`` (in
``pyspark.worker``'s ``setup_spark_files``), reused workers included.
On CPython < 3.13 each ``zipimporter.invalidate_caches()`` re-reads the
whole central directory of its archive, once per importer object, and a
worker's path holds ``pyspark.zip`` (one importer per imported
subpackage), the py4j zip and the spark-core jar. That is 170-245 ms of
fixed cost per task on a 4-core host before any UDF work starts.

Run as Spark's Python daemon (``spark.python.daemon.module``), this
module wraps ``zipimport._read_directory`` with a memo keyed by the
archive's ``(st_ino, st_size, st_mtime_ns)``, fills it once, then hands
over to ``pyspark.daemon.manager()``. Every forked worker inherits the
filled memo, so ``invalidate_caches()`` costs one ``stat()`` per
importer. An archive that really changed gets a new key and is re-read,
so imports stay correct. CPython 3.13 made
``zipimporter.invalidate_caches()`` lazy (it only drops the cached
directory); there the module installs nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install_zip_directory_memo() -> bool:
    """Wrap ``zipimport._read_directory`` with a stat-keyed memo.

    Returns True when the memo is in place after the call; False on
    CPython >= 3.13, or on an interpreter without ``_read_directory``,
    where ``zipimport`` is left untouched. Idempotent.
    """
    read = getattr(zipimport, "_read_directory", None)
    if sys.version_info >= (3, 13) or read is None:
        return False
    if hasattr(read, "stat_memo"):
        return True
    memo: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def _read_directory(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return read(archive)  # raises the ZipImportError callers expect
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        hit = memo.get(archive)
        if hit is not None and hit[0] == key:
            return hit[1]
        files = read(archive)
        memo[archive] = (key, files)
        return files

    _read_directory.stat_memo = memo
    zipimport._read_directory = _read_directory
    return True


def main() -> None:
    if install_zip_directory_memo():
        # Read each archive on the path once, in the daemon, so that no
        # forked worker pays even the first read.
        importlib.invalidate_caches()
    # Importing pyspark.daemon also imports the worker module Spark
    # passes in sys.argv[1], exactly as ``python -m pyspark.daemon`` does.
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
