#!/usr/bin/env python3
"""Steadiness check: run one workload once per seed and report, for each
metric, the median, the quartiles and the spread (interquartile distance as
a share of the median), next to the bound BENCHMARK.json gives it.

    python3 perfbench/steady.py --workload point_hybrid --seeds 1-10 --seconds 10

Each run's host controls (dispatch floor before and after the timed phase,
CPU steal share, load average) are printed and kept in the artifact, so a
drifting host shows up there instead of being read as a regression.
``--out FILE`` writes every run and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

HOST_KEYS = ("job_floor_before_ms", "job_floor_after_ms", "steal_share", "loadavg")


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    rec = {"seed": seed, "exit": proc.returncode, "wall_s": wall}
    if len(lines) < 2:  # no result at all: keep what went wrong
        rec["stderr_tail"] = proc.stderr.strip().splitlines()[-5:]
        return rec
    rec["detail"] = json.loads(lines[-2])["detail"]
    if proc.returncode == 0:
        rec["result"] = json.loads(lines[-1])
    else:
        rec["stderr_tail"] = rec["detail"].get("errors", [])
    return rec


def summarize(runs: list[dict], bounds: dict) -> dict:
    ok = [r for r in runs if "result" in r]
    names = list(ok[0]["result"]["metrics"]) if ok else []
    out = {}
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in ok]
        if len(vals) < 2:
            continue
        s = stats.spread(vals)
        s["bound"] = bounds.get(name)
        out[name] = s
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    bench = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    bounds = {}
    if os.path.isfile(bench):
        with open(bench) as fh:
            bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}

    runs = []
    for seed in parse_seeds(args.seeds):
        rec = run_once(args.workload, seed, args.seconds, args.trace)
        runs.append(rec)
        host = {k: round(rec.get("detail", {}).get(k, float("nan")), 4) for k in HOST_KEYS}
        print(f"seed {seed}: exit {rec['exit']} wall {rec['wall_s']:.1f}s host {host}",
              flush=True)
        if "stderr_tail" in rec:
            print("  " + "\n  ".join(rec["stderr_tail"]), flush=True)

    summary = summarize(runs, bounds)
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, s in summary.items():
        b = s["bound"]
        flag = "" if b is None else (" over bound" if s["spread"] > b else
                                     (" over bound/3" if s["spread"] > b / 3 else ""))
        print(f"{name:28} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
              f"{s['spread']:8.4f} {'' if b is None else b:>6}{flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"runs {len(runs)}, failed {sum(r['exit'] != 0 for r in runs)}, "
          f"wall median {stats.spread(walls)['median'] if len(walls) > 1 else walls[0]:.1f}s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "runs": runs, "summary": summary}, fh, indent=1)
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
