"""Scaling-slope evidence for the 100x claim (r9 verdict item 7).

Joins two bench.py records (BENCH_local.json) of the SAME registry at
different scale factors and prints a markdown table of the slowest
queries at the larger SF with the observed time ratio vs the data ratio.
A query whose time grows faster than the data (after subtracting the
fixed per-query overhead floor) is flagged SUPER-LINEAR and needs a
PLANS.md justification or a fix.

Usage::

    python tools/scaling_slope.py BENCH_small.json BENCH_large.json \
        [--data-ratio 10] [--top 10] [--bytes]

``--bytes`` compares the queries' pass-1 shuffle-write and spill bytes
instead of their seconds.

The per-query floor matters: at sf0.01 most queries cost ~0.1-0.3 s of
fixed job/stage overhead, so raw ratios UNDER the data ratio are
expected for scan-bound queries; the table therefore also shows the
overhead-adjusted ratio ((t_large - floor) / max(t_small - floor, eps))
using the 10th-percentile query time at each SF as the floor estimate.
"""

from __future__ import annotations

import argparse
import json


# r10 verdict item 7: wall-clock at sf0.01/sf0.1 is overhead-dominated, so
# BYTE slopes (shuffle write + spill) are the honest linearity evidence.
def bytes_table(small: str, large: str, data_ratio: float) -> int:
    with open(small) as fh:
        s = json.load(fh)["passes"][0]["queries"]
    with open(large) as fh:
        l = json.load(fh)["passes"][0]["queries"]
    common = sorted(set(s) & set(l), key=lambda k: -l[k]["shuffle_write_bytes"])
    print("| query | shfl_small | shfl_large | ratio | spill_large | verdict |")
    print("|---|---|---|---|---|---|")
    n_super = 0
    for k in common:
        a, b = s[k]["shuffle_write_bytes"], l[k]["shuffle_write_bytes"]
        ratio = b / a if a > 0 else (float("inf") if b > 0 else 0.0)
        # a byte slope materially above the data ratio means the
        # operator's shuffle grows super-linearly in the input
        super_lin = a > 0 and ratio > data_ratio * 1.5
        n_super += super_lin
        r = f"{ratio:.1f}x" if a > 0 else ("new" if b else "0")
        print(
            f"| {k} | {a:,} | {b:,} | {r} | {l[k]['spill_bytes']:,} "
            f"| {'SUPER-LINEAR' if super_lin else 'ok'} |"
        )
    print()
    print(f"data ratio {data_ratio:.0f}x; {n_super} super-linear byte slopes")
    return 0


def load(path: str) -> dict[str, float]:
    with open(path) as fh:
        d = json.load(fh)
    q = d.get("queries", d)
    if not isinstance(q, dict) or not q:
        raise SystemExit(f"{path}: no per-query map found")
    return {k: float(v) for k, v in q.items()}


def floor_estimate(times: dict[str, float]) -> float:
    vals = sorted(times.values())
    return vals[len(vals) // 10]  # 10th percentile


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("small")
    ap.add_argument("large")
    ap.add_argument("--data-ratio", type=float, default=10.0)
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--bytes", action="store_true",
                    help="compare shuffle-write and spill bytes, not seconds")
    args = ap.parse_args()

    if args.bytes:
        return bytes_table(args.small, args.large, args.data_ratio)

    ts, tl = load(args.small), load(args.large)
    common = sorted(set(ts) & set(tl), key=lambda k: -tl[k])
    fs, fl = floor_estimate(ts), floor_estimate(tl)
    print(f"floor estimate: small={fs:.3f}s large={fl:.3f}s "
          f"(10th-pct per-query time)")
    print()
    print("| query | t_small | t_large | raw ratio | adj ratio | verdict |")
    print("|---|---|---|---|---|---|")
    n_super = 0
    for k in common[: args.top]:
        raw = tl[k] / max(ts[k], 1e-9)
        adj = max(tl[k] - fl, 0.0) / max(ts[k] - fs, 0.02)
        # super-linear = BOTH ratios clearly above the data ratio (1.5x
        # noise headroom). Requiring the raw ratio too keeps queries
        # whose small-SF time sits at/below the floor estimate (where
        # the clamped adj denominator explodes) from being flagged on
        # noise — by construction ~10% of queries sit under the
        # 10th-percentile floor.
        super_lin = (
            adj > args.data_ratio * 1.5 and raw > args.data_ratio * 1.5
        )
        n_super += super_lin
        verdict = "SUPER-LINEAR" if super_lin else "ok"
        print(f"| {k} | {ts[k]:.2f} | {tl[k]:.2f} | {raw:.1f}x "
              f"| {adj:.1f}x | {verdict} |")
    print()
    print(f"data ratio {args.data_ratio:.0f}x; "
          f"{n_super} super-linear of top {args.top}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
