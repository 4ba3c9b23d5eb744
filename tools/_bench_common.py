"""Shared measurement helpers for the bench scripts (r12 self-review:
one job-floor implementation, not three drifting copies)."""

from __future__ import annotations

import time


def job_floor_ms(spark, n: int = 9, warmup: int = 20) -> float:
    """Median wall time of ``spark.range(1).collect()`` in ms — the
    host's single-job scheduling floor (VERDICT r11 ask #1). Every
    per-query bench number includes at least one such dispatch, so when
    the floor approaches a baseline gate, (query − floor) is the number
    that grades the PLAN rather than the box. The probe is the cheapest
    possible plan — one task, no scan, no shuffle — so its cost is pure
    scheduler + Py4J round-trip. Sample it immediately before AND after
    the timed region; commit both.

    ``warmup`` (r13): a fresh JVM's first dozen-odd jobs pay codegen /
    class-loading / thread-pool spin-up, so a before-floor sampled
    right after session creation reads ~170 ms on a PROVABLY idle host
    (loadavg 0.4) while the same session reads ~18 ms minutes later —
    the control was measuring JVM cold-start, not host state. Throwaway
    probes first make "floor ≲ 50 ms ⇒ settled" a statement about the
    BOX, which is what the idle-settle discipline checks."""
    return _median_ms(lambda: spark.range(1).collect(), n, warmup)


def python_task_floor_ms(spark, n: int = 9, warmup: int = 5) -> float:
    """Median wall time in ms of a 1-task RDD map: ``job_floor_ms`` plus
    the fixed cost of handing a task to a Python worker (socket to the
    daemon, ``setup_spark_files``, command unpickle). The difference
    between the two is what every Python UDF task pays before doing any
    work; ``session.python_daemon_module`` exists to keep it small.
    ``warmup`` lets the daemon fork its workers first."""
    rdd = spark.sparkContext.parallelize([0], 1).map(lambda x: x)
    return _median_ms(rdd.collect, n, warmup)


def _median_ms(run, n: int, warmup: int) -> float:
    for _ in range(warmup):
        run()
    s = []
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        s.append((time.perf_counter() - t0) * 1000.0)
    s.sort()
    return round(s[len(s) // 2], 1)
