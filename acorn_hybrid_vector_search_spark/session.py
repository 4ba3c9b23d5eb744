"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same configuration keys are the
ones that matter on a 1000-executor cluster (AQE, shuffle partitioning,
Arrow batching for pandas UDFs).
"""

from __future__ import annotations

import os
import re
import shutil
import site
import sys

from pyspark.sql import SparkSession

DEFAULT_DAEMON_MODULE = "pyspark.daemon"
MEMO_DAEMON_MODULE = f"{__package__}._pyspark_daemon"
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _same_file(a: str, b: str) -> bool:
    try:
        return os.path.samefile(a, b)
    except OSError:
        return False


def python_daemon_module(master: str) -> str:
    """Spark's Python daemon module for a session on ``master``.

    Returns ``MEMO_DAEMON_MODULE`` when the master is ``local[...]`` and
    the package's parent directory is on the Python workers' import
    path: the JVM's working directory (which ``python -m`` puts first),
    a ``PYTHONPATH`` entry, or this interpreter's site-packages when the
    workers run this interpreter. Otherwise returns Spark's default, so
    a session never loses its Python workers to an unimportable daemon.
    """
    if not _LOCAL_MASTER.fullmatch(master):
        return DEFAULT_DAEMON_MODULE
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = [os.getcwd()]
    dirs += [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    worker = shutil.which(os.environ.get("PYSPARK_PYTHON", "python3"))
    if worker and _same_file(worker, sys.executable):
        dirs += site.getsitepackages() + [site.getusersitepackages()]
    if any(_same_file(parent, d) for d in dirs):
        return MEMO_DAEMON_MODULE
    return DEFAULT_DAEMON_MODULE


def get_spark(
    app_name: str = "acorn-hybrid-vector-search-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults:
    - ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``) when no master
      is supplied and none is configured externally.
    - AQE on: runtime coalescing of shuffle partitions and skew-join
      handling — the knobs that keep plans healthy at 100× data.
    - Arrow enabled for pandas UDF exchange.

    SIDE EFFECT (r13, advisor note): on local masters this call sets
    ``OPENBLAS/MKL/BLIS_NUM_THREADS=1`` in ``os.environ`` (via
    ``setdefault`` — pre-existing values win) so Python workers run
    single-threaded BLAS under Spark's task parallelism. The cap is
    PROCESS-WIDE: the driver's numpy is imported first so ITS OpenBLAS
    pool keeps full threads, but any OTHER BLAS runtime initialized in
    the driver afterwards, and every subprocess that inherits the env,
    sees the 1-thread cap. Export the variable yourself before calling
    ``get_spark`` — or in the child env — if a driver-side or
    subprocess kernel needs in-process threading. ``OMP_NUM_THREADS``
    is deliberately NOT set (r13): PyArrow sizes its default pool from
    it, and capping it serialized every Arrow exchange (the r12
    riser-tail root cause — see the inline comment below).

    PYTHON DAEMON: on ``local[...]`` masters, when the Python workers
    can import this package (see ``python_daemon_module``), Spark's
    ``spark.python.daemon.module`` is set to ``_pyspark_daemon``. Every
    Python task runs ``importlib.invalidate_caches()``, and on CPython
    < 3.13 each zipimporter on the worker path (``pyspark.zip`` once per
    imported subpackage, the py4j zip, the spark-core jar) re-reads its
    archive's whole central directory: 170-245 ms per task on a 4-core
    host, reused workers included. The daemon memoizes those reads by
    the archive's stat, so the call costs one ``stat()`` per importer
    and a changed archive is still re-read. On the same host a 1-task
    RDD map fell from ~260 ms to ~105 ms, against ~85 ms for a JVM-only
    job. CPython 3.13 made the call lazy upstream; there the daemon
    installs nothing and runs ``pyspark.daemon`` unchanged. On other
    masters, or when the package is not importable by the workers,
    Spark's default daemon stays, so Python UDFs never depend on this
    package being deployed.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    # Cap BLAS threading in the PYTHON WORKERS to one thread per task
    # (r12): Spark's task scheduler IS the parallelism — an OpenBLAS
    # gemm inside a pandas UDF otherwise spawns ncpu threads per
    # worker (32 tasks × 32 threads on local[32]), and the resulting
    # oversubscription measured 10× slower than single-threaded BLAS
    # per task (nsw_dense_topk refshape triage, PLANS r12). Two
    # delivery paths, because worker env differs by deploy mode:
    # - local[N]: workers are descendants of the JVM, which inherits
    #   the driver env → set os.environ BEFORE the JVM exists. Load
    #   the DRIVER's numpy first so driver-side kernels (kmeans
    #   sampling, codebook training) keep their threads — OpenBLAS
    #   reads the env once, at library init (r12 self-review).
    # - cluster managers (yarn/k8s/standalone): executors never see
    #   the driver env → spark.executorEnv.* carries the cap.
    # setdefault / config-default: an operator that wants in-task
    # threading can export its own value.
    # r13 FIX (the r12 riser-tail root cause): the r12 cap also set
    # OMP_NUM_THREADS=1, and PyArrow sizes its DEFAULT CPU POOL from
    # OMP_NUM_THREADS (pa.cpu_count() == 1 under the cap) — so every
    # Arrow exchange in every Python worker ran single-threaded, a
    # measured ~1.4× on Arrow-heavy queries (bpe_merges 4.94 → 3.59 s
    # isolated-median capped vs uncapped; scd2 1.20 → 0.78;
    # html_text_extraction 1.02 → 0.48 — tools/triage_risers.py,
    # samples in PLANS §r13 triage). The library-specific variables
    # take PRECEDENCE over OMP_NUM_THREADS inside each BLAS (OpenBLAS
    # honors OPENBLAS_NUM_THREADS in both its pthread and OpenMP
    # builds; MKL/BLIS likewise), so capping ONLY those keeps the
    # gemm-oversubscription protection without touching Arrow's pool.
    # (Disclosure: this box's numpy links an OpenBLAS built with
    # MAX_THREADS=2 — np.__config__ — so the r12 "32×32, 10× slower"
    # attribution could not have been BLAS here and was, with the
    # Arrow evidence above, most likely the OMP cap's own victim plus
    # host phase; the 1-thread BLAS cap stays because one task IS the
    # intended parallelism unit and a 2-thread × 32-task gemm still
    # oversubscribes 2×. On clusters with unconstrained OpenBLAS
    # builds the cap is load-bearing.)
    try:  # driver-side BLAS init happens before the cap lands
        import numpy  # noqa: F401
    except ImportError:
        pass
    blas_vars = (
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "BLIS_NUM_THREADS",
    )
    for var in blas_vars:
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # deterministic naive-timestamp arithmetic (unix_timestamp over
        # TIMESTAMP_NTZ) regardless of host timezone; UTC has no DST
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata events.parquet uses TIMESTAMP(NANOS); read as long
        # and normalize in sources.testdata.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # console progress interleaves carriage-return frames with stdout;
        # bench.py's one-line JSON contract requires a clean stream
        # (BENCH_r02 was truncated mid-JSON by exactly this)
        .config("spark.ui.showConsoleProgress", "false")
    )
    daemon = python_daemon_module(master)
    if daemon != DEFAULT_DAEMON_MODULE:
        builder = builder.config("spark.python.daemon.module", daemon)
    for var in blas_vars:
        builder = builder.config(
            f"spark.executorEnv.{var}", os.environ.get(var, "1")
        )
    return builder.getOrCreate()
