"""Steadiness check: run workloads repeatedly, one seed per run, and
report each end-to-end metric's median and spread beside its bound.

    python3 perfbench/steady.py --runs 10                 # every workload
    python3 perfbench/steady.py --runs 5 --workload stream_ingest

Spread is the interquartile distance as a share of the median; a metric
is steady when its spread is below a third of its bound from
BENCHMARK.json. ``setup_s`` is reported apart: its spread is not held to
the bound, only its median is compared between sets of runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result, record = json.loads(lines[-1]), json.loads(lines[-2])
    if result["failed"]:
        print(f"{workload} seed {seed}: {record['failures']}", file=sys.stderr)
    result["cpu_probe_ms"] = record["cpu_probe_ms_start"]
    return result, wall


def main(argv=None) -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=100)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--workload", action="append",
                   help="repeatable; default every workload in BENCHMARK.json")
    args = p.parse_args(argv)
    if args.runs < 4:
        p.error("--runs must be at least 4 for quartiles")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in args.workload or [x["name"] for x in bench["workloads"]]:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        walls, probes, failed = [], [], 0
        for i in range(args.runs):
            res, wall = run_once(w, args.seed0 + i, args.seconds)
            walls.append(wall)
            probes.append(res["cpu_probe_ms"])
            failed += res["failed"]
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
        rows = {}
        for m, vals in values.items():
            s = stats.spread(vals)
            rows[m] = {"median": statistics.median(vals), "spread": s, "bound": bounds[m],
                       "steady": m == "setup_s" or s < bounds[m] / 3, "values": vals}
        report[w] = {"metrics": rows, "failed": failed, "run_wall_s": statistics.median(walls),
                     "max_run_wall_s": max(walls), "cpu_probe_ms": probes}
        print(f"{w}: runs={args.runs} failed={failed} "
              f"median run wall={statistics.median(walls):.1f}s max={max(walls):.1f}s "
              f"cpu probe spread={stats.spread(probes):.3f}", file=sys.stderr)
        for m, r in rows.items():
            tag = "apart" if m == "setup_s" else ("ok" if r["steady"] else "UNSTEADY")
            print(f"  {m:18s} median={r['median']:.4g} spread={r['spread']:.3f} "
                  f"bound={r['bound']} [{tag}]", file=sys.stderr)
    print(json.dumps(report, sort_keys=True))
    steady = all(r["steady"] for w in report.values() for r in w["metrics"].values())
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
