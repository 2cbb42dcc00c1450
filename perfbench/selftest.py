"""Self-test of the benchmark: each workload once, traced.

    python3 perfbench/selftest.py

Runs ``run.py --trace 1`` for every workload in BENCHMARK.json and checks
that the run exits 0 with every output matching ``expected.json``, that
every per-layer metric prints with its declared unit, that the spans nest
(each child lies inside its parent) with self time >= 0, and that the
printed layer times plus the printed unattributed remainder add up to the
traced ``run_s``, the remainder being under 2% of it. Exits 1 if any
workload fails a check.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EPS = 1e-6
#: the largest share of the traced cold run that no layer span may cover
UNATTRIBUTED_SHARE = 0.02
#: the spans directly under the cold run, as per-layer metrics
LAYER_METRICS = re.compile(r"memo\.clear_s|memo\..+\.build_s|op\.[a-z_]+\.s|etl\.[a-z0-9]+_s")


def check_attribution(m: dict) -> list[str]:
    """The per-layer times printed for the cold run, plus the unattributed
    remainder, must add up to the printed ``trace.run_s``; the remainder
    must stay a small share of it."""
    errors = []
    run_s, rest = m["trace.run_s"], m["trace.unattributed_s"]
    layers = sum(v for k, v in m.items() if LAYER_METRICS.fullmatch(k))
    if abs(layers + rest - run_s) > 1e-3:
        errors.append(f"layer times {layers:.4f} + unattributed {rest:.4f} != run_s {run_s:.4f}")
    if rest > UNATTRIBUTED_SHARE * run_s:
        errors.append(f"unattributed {rest:.4f}s is over {UNATTRIBUTED_SHARE:.0%} of run_s {run_s:.4f}")
    ops = sum(v for k, v in m.items() if k.startswith("op.") and k.endswith(".s"))
    if m["op.build_s"] + m["op.exec_s"] > ops + 1e-3:
        errors.append("op.build_s + op.exec_s exceed the time of the queries they belong to")
    return errors


def check(workload: str, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", "1"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True)
    out, _ = proc.communicate(timeout=600)
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}"]
    line = json.loads(out.strip().splitlines()[-1])
    errors = []
    if not line["correct"] or line["failed"]:
        errors.append(f"{line['failed']} of {line['attempted']} outputs wrong")
    for m in spec["per_layer"]:
        got = line["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            errors.append(f"metric {m['name']} missing or not in {m['unit']}: {got}")
    record = os.path.join(
        ROOT, ".perfbench_out", f"{workload}-seed1-trace1-{proc.pid}.json")
    with open(record) as fh:
        spans = {s["id"]: s for s in json.load(fh)["spans"]}
    for s in spans.values():
        if s["self_s"] < -EPS:
            errors.append(f"span {s['name']} has self time {s['self_s']}")
        p = spans.get(s["parent"])
        if s["parent"] is not None and (
                p is None or s["start"] < p["start"] - EPS or s["end"] > p["end"] + EPS):
            errors.append(f"span {s['name']} lies outside its parent")
    errors.extend(check_attribution({k: v["value"] for k, v in line["metrics"].items()}))
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failed = False
    for wl in (w["name"] for w in spec["workloads"]):
        errors = check(wl, spec)
        print(f"{wl}: {'ok' if not errors else 'FAIL'}", flush=True)
        for e in errors:
            print(f"  {e}")
        failed = failed or bool(errors)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
