"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload star_registry --seed 1 --seconds 45 --trace 0

Run from the root of a checkout. The run sets up a Spark session, runs the
workload once cold and then a fixed number of steady times, checks every
output, and prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separately traced run (see BENCHMARK.json). ``--seconds`` is
recorded but does not change the work: the number of steady runs is fixed
per workload, so that a faster program gets no extra samples, and
``run_seconds`` in BENCHMARK.json states about how long they take. A full record
(settings, every operation, every span) is written to
``.perfbench_out/`` in the checkout. Everything else the run writes lives
under ``.perfbench_work/<pid>`` and is removed when it ends. Exits 1 if
any output is wrong, 2 if the program is not there to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"


def configure(work: str) -> dict:
    """Environment for the session and its Python workers; returns it."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "ckpt")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    settings = {
        # Python workers import demo_etl_spark and perfbench from the checkout
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_WAREHOUSE_DIR": dirs["warehouse"],
        "DEMO_ETL_STREAM_CKPT_DIR": dirs["ckpt"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={dirs['tmp']} pyspark-shell",
    }
    os.environ.update(settings)
    return settings


def stop_spark() -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    kids = _children(proc.pid) if proc else []
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{k}") for k in kids):
        time.sleep(0.1)


def _children(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
                out.extend(kids)
                todo.extend(kids)
        except OSError:
            pass
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="recorded only; each workload runs a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "demo_etl_spark", "__init__.py")):
        print(f"perfbench: no demo_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    settings = configure(work)
    sys.path.insert(0, ROOT)

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    bench = Bench(args.workload, args.seed, work, int(settings["SPARK_GRAFT_CPUS"]),
                  Tracer(enabled=bool(args.trace)))
    try:
        setup = bench.setup()
        bench.measure()
        metrics = bench.per_layer(setup) if args.trace else bench.end_to_end(setup)
        spans = bench.span_records()
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not op.ok for op in bench.ops)
    line = {
        "correct": failed == 0,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    )
    with open(record, "w") as fh:
        json.dump({
            "args": vars(args),
            "settings": settings,
            "result": line,
            "ops": [vars(op) for op in bench.ops],
            "spans": spans,
        }, fh, indent=1)
    for op in bench.ops:
        if not op.ok:
            print(f"perfbench: wrong output: {op.run} {op.name} {op.detail}", file=sys.stderr)
    print(json.dumps(line))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
