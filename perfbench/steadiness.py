"""Run the benchmark over several seeds and record how steady it is.

    python3 perfbench/steadiness.py --runs 10 [--workload NAME ...] [--trace]

For each workload, runs ``run.py`` once per seed (seeds 1..N) in a fresh
process, then reports for every end-to-end metric the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread, which is
the distance between the quartiles as a share of the median. The wall
time of each process is recorded too, since the whole benchmark must fit
a fixed time budget. With ``--trace`` the runs are traced instead, and the
record gains the tracing overhead: the median traced ``run_s`` minus the
median untraced ``run_s`` already recorded. Results are merged into
``perfbench/STEADINESS.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORD = os.path.join(HERE, "STEADINESS.json")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1]), wall


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    record = {}
    if os.path.exists(RECORD):
        with open(RECORD) as fh:
            record = json.load(fh)
    for wl in args.workload:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in range(1, args.runs + 1):
            line, wall = run_once(wl, seed, spec["run_seconds"], int(args.trace))
            walls.append(wall)
            for k, v in line["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            shown = values["trace.run_s" if args.trace else "run_s"]
            print(f"{wl} seed {seed}: {wall:.1f}s run_s={shown[-1]:.4g}", flush=True)
        if args.trace:
            entry = record[wl]
            traced = summary(values["trace.run_s"])
            entry["traced_run_s"] = traced
            entry["trace_overhead_s"] = traced["median"] - entry["metrics"]["run_s"]["median"]
            entry["traced_wall_s"] = summary(walls)
            print(f"  tracing overhead {entry['trace_overhead_s']:.3f}s")
        else:
            entry = {"metrics": {k: summary(v) for k, v in values.items()},
                     "wall_s": summary(walls)}
            for k, s in entry["metrics"].items():
                flag = "" if k == "setup_s" or s["spread"] < bounds[k] / 3 else "  <-- above bound/3"
                print(f"  {k}: median {s['median']:.4g} spread {s['spread']:.3f}"
                      f" (bound {bounds[k]}){flag}")
        record[wl] = entry
    with open(RECORD, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
