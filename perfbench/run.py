#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload point_hybrid --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is ``{"detail": ...}``: sample counts, the chosen tail
percentile, host controls and the first correctness failures. The exit
code is 0 only when every answer matched the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "acorn_hybrid_vector_search_spark"

# name -> (unit, better)
E2E = {
    "setup_s": ("s", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_tail_ms": ("ms", "lower"),
    "queries_per_s": ("1/s", "higher"),
    "recall_at_10": ("ratio", "higher"),
    "write_rows_per_s": ("rows/s", "higher"),
    "read_after_write_p50_ms": ("ms", "lower"),
    "space_amp": ("ratio", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "router.collect_stats_s": ("s", "lower"),
    "hybrid.subset_build_s": ("s", "lower"),
    "router.route_ms": ("ms", "lower"),
    "router.route_count.prefilter": ("count", "lower"),
    "router.route_count.postfilter": ("count", "lower"),
    "router.route_count.subset": ("count", "higher"),
    "hybrid.plan_build_ms": ("ms", "lower"),
    "hybrid.execute_ms": ("ms", "lower"),
    "hybrid.acorn_fallback_ratio": ("ratio", "lower"),
    "hybrid.postfilter_underfill_ratio": ("ratio", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.task_run_ms_per_op": ("ms", "lower"),
    "spark.scheduler_delay_ms_per_op": ("ms", "lower"),
    "spark.shuffle_write_bytes_per_op": ("bytes", "lower"),
    "spark.input_bytes_per_op": ("bytes", "lower"),
    "store.write_s": ("s", "lower"),
    "store.upsert_s": ("s", "lower"),
    "store.delete_s": ("s", "lower"),
    "store.compact_s": ("s", "lower"),
    "store.compactions": ("count", "lower"),
    "store.read_plan_ms": ("ms", "lower"),
    "store.read_execute_ms": ("ms", "lower"),
    "store.shards": ("count", "lower"),
    "store.tombstone_rows": ("count", "lower"),
    "store.read_after_write_penalty_ms": ("ms", "lower"),
    "store.bytes_on_disk": ("bytes", "lower"),
    "store.live_rows": ("count", "higher"),
    "spark.job_floor_ms": ("ms", "lower"),
    "spark.job_floor_after_ms": ("ms", "lower"),
    "host.steal_share": ("ratio", "lower"),
    "host.loadavg": ("count", "lower"),
    "trace.overhead_ms": ("ms", "lower"),
}

CPUS = 2  # local[2] was steadier than local[4] on a 4-core host
DRIVER_MEM = "1g"


class Stop(Exception):
    pass


def _on_signal(signum, _frame):
    raise Stop(f"signal {signum}")


def configure(rundir: str, trace: bool) -> str | None:
    """Environment for the Spark launcher; returns the event-log directory."""
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    cpus = min(CPUS, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rundir, "local")
    os.environ["TMPDIR"] = tmp
    submit = [
        # no hsperfdata file under /tmp: the run writes only inside the checkout
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(rundir, 'warehouse')}",
    ]
    event_dir = None
    if trace:
        event_dir = os.path.join(rundir, "events")
        os.makedirs(event_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return event_dir


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for each."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 20
        while any(_alive(k) for k in kids) and time.time() < deadline:
            time.sleep(0.1)
        for k in kids:
            if _alive(k):
                os.kill(k, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import stats
    from spans import Tracer
    from workloads import WORKLOADS, Ctx, event_log_metrics, trace_overhead_ms

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    rundir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    signal.signal(signal.SIGTERM, _on_signal)
    spark = None
    try:
        event_dir = configure(rundir, trace)
        from acorn_hybrid_vector_search_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark()
        get_spark_s = time.perf_counter() - t
        print(f"perfbench: spark up in {get_spark_s:.1f}s", file=sys.stderr)
        ctx = Ctx(spark, args.seed, args.seconds, trace, rundir,
                  Tracer(trace, spark.sparkContext))
        out = WORKLOADS[args.workload](ctx)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        out.e2e["peak_rss_mb"] = stats.rss_hwm_mb(jvm_pid) + stats.rss_hwm_mb()
        out.detail["loadavg"] = stats.loadavg()
        groups = out.detail.pop("_measured_groups", [])
        stop_spark(spark)
        spark = None
        if trace:
            out.layer.update(event_log_metrics(event_dir, groups))
            out.layer["session.get_spark_s"] = get_spark_s
            out.layer["spark.job_floor_ms"] = out.detail["job_floor_before_ms"]
            out.layer["spark.job_floor_after_ms"] = out.detail["job_floor_after_ms"]
            out.layer["host.steal_share"] = out.detail["steal_share"]
            out.layer["host.loadavg"] = out.detail["loadavg"]
            out.layer["trace.overhead_ms"] = trace_overhead_ms(out.op_log)
    except (Exception, Stop):
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(rundir, ignore_errors=True)
        try:  # another run may be using the parent directory
            os.rmdir(os.path.dirname(rundir))
        except OSError:
            pass

    spec, values = (LAYER, out.layer) if trace else (E2E, out.e2e)
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, (unit, _better) in spec.items()
    }
    failed = out.failed
    out.detail["failed_op_ratio"] = failed / max(out.attempted, 1)
    out.detail["errors"] = out.errors[:10]
    print(json.dumps({"detail": out.detail}, default=float))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": out.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
