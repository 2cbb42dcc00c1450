"""Time every registered query once and record which memos it reads.

    python3 perfbench/sweep.py

Run from the root of a checkout. Sets up a session the way run.py does,
builds every memo warmer (timing each), then runs each registered query
once through a ``noop`` write at sf0.001, in registry order, with every
memo already built. While a warmer runs, the functions of the program it
calls directly are its memo getters; a query that calls one of them reads
that memo. The result goes to ``perfbench/sweep_sf0.001.json``, from
which ``workloads.registry_queries`` picks each workload's queries.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import configure, stop_spark  # noqa: E402

PROGRAM = os.path.join(ROOT, "demo_etl_spark") + os.sep


class Calls:
    """Records the program functions called while it is active: every one
    (``all``) and those called directly from ``caller`` (``direct``)."""

    def __init__(self, caller=None) -> None:
        self.caller = caller
        self.all: set[str] = set()
        self.direct: set[str] = set()

    def _hook(self, frame, event, _arg):
        if event != "call" or not frame.f_code.co_filename.startswith(PROGRAM):
            return
        name = f"{frame.f_globals.get('__name__')}.{frame.f_code.co_qualname}"
        self.all.add(name)
        if frame.f_back is not None and frame.f_back.f_code is self.caller:
            self.direct.add(name)

    def __enter__(self):
        sys.setprofile(self._hook)
        threading.setprofile(self._hook)
        return self

    def __exit__(self, *exc):
        sys.setprofile(None)
        threading.setprofile(None)


def sweep(bench) -> dict:
    import __spark_entry__
    from perfbench.workloads import SF_DIR, memo_warmers

    spark = bench.spark
    warmers, getters = {}, {}
    for name, fn in memo_warmers().items():
        t0 = time.perf_counter()
        with Calls(caller=fn.__code__) as calls:
            fn(spark, SF_DIR)
        warmers[name] = round(time.perf_counter() - t0, 3)
        getters[name] = calls.direct
        print(f"warmer {name}: {warmers[name]}s {sorted(calls.direct)}", flush=True)
    queries = []
    for name, fn in __spark_entry__.queries().items():
        t0 = time.perf_counter()
        with Calls() as calls:
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        secs = round(time.perf_counter() - t0, 3)
        reads = sorted(m for m, g in getters.items() if g & calls.all)
        queries.append({"name": name, "module": fn.__module__.rsplit(".", 1)[-1],
                        "seconds": secs, "reads_memos": reads})
        print(f"  {name}: {secs}s {reads}", flush=True)
    return {"sf": "sf0.001", "cpus": bench.cpus, "warmers_s": warmers, "queries": queries}


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    settings = configure(work)
    from perfbench.trace import Tracer
    from perfbench.workloads import SWEEP_PATH, WORKLOADS, Bench

    bench = Bench(next(iter(WORKLOADS)), 0, work, int(settings["SPARK_GRAFT_CPUS"]), Tracer(enabled=False))
    try:
        bench.setup()
        record = sweep(bench)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    with open(SWEEP_PATH, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    times = [q["seconds"] for q in record["queries"]]
    for name, wl in WORKLOADS.items():
        picked = set(wl.queries)
        chosen = [q["seconds"] for q in record["queries"] if q["name"] in picked]
        print(f"{name}: {len(chosen)} of {len(times)} queries, "
              f"{sum(chosen):.1f}s of {sum(times):.1f}s, "
              f"median {statistics.median(chosen):.3f}s vs {statistics.median(times):.3f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
