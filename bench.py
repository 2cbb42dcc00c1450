"""Benchmark harness (driver contract: one JSON line on stdout).

    python bench.py [QUERY ...]

Runs every declared query (or only the named ones, with the same warm-up
and passes) at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and reports per-query wall seconds. Each query is
forced to full execution with a `noop` write (computes every column, no
collect-to-driver cost, no disk cost).

Output contract: the FINAL stdout line is a compact JSON summary (total
seconds, query/failure counts, 10 slowest, end-to-end cold and steady
cost) sized to survive the driver's 2000-char tail capture. The complete
record is written to BENCH_local.json beside this script: per-query
seconds and samples, and for each pass the seconds and engine counters
(jobs, stages, tasks, shuffle-write and spill bytes, task and GC time) of
every memo warmer and every query, the durationMs split of each streaming
drain, and the storage bytes held after the pass's memo clear. The
counters come from the Spark status store (perfbench/trace.py), read once
after the last pass, with the UI off.
"""

from __future__ import annotations

import bisect
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.trace import Span, StatusStore, Tracer, spark_counters, stream_listener  # noqa: E402
from perfbench.workloads import SWEEP_PATH, memo_warmers  # noqa: E402


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _by_submission(recs: list[dict]) -> tuple[list[dict], list[float]]:
    """Submitted jobs or stages in submission order, with their times."""
    recs = sorted((r for r in recs if r.get("submissionTime") is not None),
                  key=lambda r: r["submissionTime"])
    return recs, [r["submissionTime"] for r in recs]


def _window(recs: tuple[list[dict], list[float]], span: Span) -> list[dict]:
    """The records submitted while ``span`` was open."""
    rows, times = recs
    return rows[bisect.bisect_left(times, span.start * 1e3):bisect.bisect_right(times, span.end * 1e3)]


def _record(span: Span, jobs, stages) -> dict:
    """Seconds and engine counters of one span."""
    c = spark_counters(_window(jobs, span), _window(stages, span), span.start, span.end)
    return {"sec": round(span.seconds, 3), **{k: round(v, 3) for k, v in c.items()}}


class Recorder:
    """Spans around bench's stages, attributed to engine counters at the end.

    A span's counters are those of the jobs and stages submitted while it
    was open. The status store is read in bulk once, by ``report``; the
    session's retention limits are sized so that a whole run fits, and
    ``report`` fails if a job or stage of the run was evicted anyway.
    """

    def __init__(self, spark, sf_dir: str) -> None:
        self.spark, self.sf_dir = spark, sf_dir
        self.tr = Tracer(enabled=True)
        self.store = StatusStore(spark)
        self.progress = stream_listener(spark)
        self.passes: list[Span] = []
        with self.tr.span("read"):
            self.first_job = 1 + max((j["jobId"] for j in self.store.jobs()), default=-1)

    def run_pass(self, warmers: dict, queries: dict) -> dict[str, float]:
        """Clear the operator memos, run every warmer, then every query;
        returns the seconds of each query that succeeded."""
        from demo_etl_spark.io import clear_operator_memos

        tr, spark, sf_dir = self.tr, self.spark, self.sf_dir
        n = len(self.passes) + 1
        secs: dict[str, float] = {}
        with tr.span("pass") as p:
            with tr.span("clear") as c:
                clear_operator_memos()
            with tr.span("read"):
                c.attrs["storage_bytes"] = self.store.storage_bytes()
            with tr.span("memo_warm") as w:
                for name, fn in warmers.items():
                    with tr.span("warmer", warmer=name):
                        fn(spark, sf_dir)
            log(f"bench[{n}]: shared-memo warm-up {w.seconds:.3f}s")
            for name, fn in queries.items():
                log(f"bench[{n}]: {name} ...")
                with tr.span("query", query=name) as s:
                    try:
                        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                    except Exception as exc:  # keep benching even if one query breaks
                        s.attrs["error"] = repr(exc)[:300]
                if "error" in s.attrs:
                    log(f"bench error in {name}: {s.attrs['error']}")
                else:
                    secs[name] = round(s.seconds, 3)
                    log(f"bench[{n}]: {name} {secs[name]}s")
        self.passes.append(p)
        return secs

    def report(self) -> dict:
        """Per-pass records of every warmer and query, plus the seconds the
        recorder itself spent reading the store and attributing."""
        tr = self.tr
        with tr.span("attribute") as a:
            # the status store is filled asynchronously from the listener
            # bus: drain it so the last query's stages are complete
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = [j for j in self.store.jobs() if j["jobId"] >= self.first_job]
            stages = self.store.stages()
            self._check_retained(jobs, stages)
            jobs, stages = _by_submission(jobs), _by_submission(stages)
            passes = [self._pass_record(p, jobs, stages) for p in self.passes]
        overhead = sum(s.seconds for s in tr.spans if s.name == "read") + a.seconds
        return {"passes": passes, "attribution_sec": round(overhead, 3)}

    def _check_retained(self, jobs: list[dict], stages: list[dict]) -> None:
        ids = {j["jobId"] for j in jobs}
        evicted = set(range(self.first_job, max(ids, default=self.first_job - 1) + 1)) - ids
        stage_ids = {s["stageId"] for s in stages}
        lost = {i for j in jobs for i in j["stageIds"]} - stage_ids
        if evicted or lost:
            raise RuntimeError(
                f"status store evicted {len(evicted)} jobs and {len(lost)} stages of this "
                "run before they were read; raise session.STATUS_STORE_RETAINED"
            )

    def _pass_record(self, p: Span, jobs, stages) -> dict:
        rec = {**_record(p, jobs, stages), "queries": {}}
        for s in self.tr.children(p):
            if s.name == "clear":
                rec["clear"] = {"sec": round(s.seconds, 3), **s.attrs}
            elif s.name == "memo_warm":
                rec["memo_warm_sec"] = round(s.seconds, 3)
                rec["warmers"] = {
                    w.attrs["warmer"]: _record(w, jobs, stages) for w in self.tr.children(s)
                }
            elif s.name == "query":
                rec["queries"][s.attrs["query"]] = q = _record(s, jobs, stages)
                if "error" in s.attrs:
                    q["error"] = s.attrs["error"]
                drains = [e for e in self.progress if s.start <= e["ts"] <= s.end]
                if drains:
                    q["stream"] = _drain_split(drains)
        return rec


def warmers_for(warmers: dict, names) -> dict:
    """The warmers of the memos that the named queries read, per the
    ``reads_memos`` that the sweep recorded for each query; every warmer
    if the sweep does not list one of the queries."""
    with open(SWEEP_PATH) as fh:
        reads = {q["name"]: q["reads_memos"] for q in json.load(fh)["queries"]}
    if any(name not in reads for name in names):
        return warmers
    need = {memo for name in names for memo in reads[name]}
    return {memo: fn for memo, fn in warmers.items() if memo in need}


def _drain_split(events: list[dict]) -> dict:
    """Micro-batch count and summed durationMs split of a query's drains."""
    ms: Counter = Counter()
    for e in events:
        ms.update(e["duration_ms"])
    return {
        "batches": len(events),
        "duration_ms": dict(ms),
        "state_commit_ms": sum(e["state_commit_ms"] for e in events),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    from demo_etl_spark.io import load_star
    from demo_etl_spark.session import get_spark
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = [q for q in sys.argv[1:] if q not in qs]
    if unknown:
        sys.exit(f"bench: unknown queries: {unknown}")
    # Within a pass, queries run in CANONICAL (sorted-name) order, NOT
    # registry order: the registry head is the per-round rotation window,
    # and an order that changes with the rotation made round-over-round
    # per-query comparison meaningless for any residual order effect.
    queries = {name: qs[name] for name in sorted(sys.argv[1:] or qs)}

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # Warm the JVM/codegen once with the cheapest action.
    spark.range(1).count()
    rec = Recorder(spark, sf_dir)
    # C1 persist step (generate-asset.scala:47): materialize the shared
    # star-scan cache up front — the reference persists its fanned-out
    # input before running any branch, and every query here fans out of
    # the same ten scans. Timed and reported separately so per-query
    # numbers measure the queries, not one-time IO.
    with rec.tr.span("scan_warmup") as scan:
        for df in load_star(spark, sf_dir).values():
            df.count()
        # Python-worker pool warm-up: the first mapInPandas/applyInPandas
        # query otherwise absorbs the one-time daemon spin-up (~10 s across
        # 32 cores) into its own number. One trivial Arrow round-trip per
        # core makes every per-query figure measure the query.
        (
            spark.range(cpus)
            .repartition(cpus)
            .mapInPandas(lambda it: it, "id long")
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
    warm_s = round(scan.seconds, 3)
    log(f"bench: warm-up (scan cache + Python pool) {warm_s}s")

    # Shared-memo warm-up (r11 verdict item 3): several query families
    # share one expensive memoized frame (dedup's shingle index + pair
    # set + cluster labels, the graph edge set, similarity's centroids /
    # top-k / pair memos). Charged in-pass, the build lands on whichever
    # family member runs FIRST, so per-query numbers swung ±6s with the
    # registry order (BENCH_r11: dedup_keep_best 0.13↔6.59s). Each pass
    # builds them in a declared, separately-timed stage, one span per
    # warmer, so every per-query figure measures the query itself. A pass
    # runs only the warmers whose memos its queries read (warmers_for): a
    # subset or third-sample pass does not pay for memos it never reads.
    #
    # Noise control (r4 → r5): TWO full passes over the registry with the
    # operator memos cleared at the start of each, reported time = min of
    # honest samples. Rationale:
    #   * this VM shows order-of-magnitude wall-clock outliers on
    #     identical plans (one recorded 51.7 s vs 5.9 s clean), and r4's
    #     retry-only-3×-outliers policy let sub-3× drift (a whole SQL
    #     suite +0.5-1.0 s) masquerade as regressions — sampling EVERY
    #     query twice lets drift self-cancel;
    #   * r4's retry also re-used operator result memos (dedup_clusters
    #     "retry" 0.019 s vs 5.5 s real) — clearing the memos per pass
    #     makes every sample a full computation; the star-scan cache
    #     stays warm by design (C1, reported as warm-up).
    warmers = memo_warmers()
    samples: dict[str, list[float]] = {}
    for _ in (1, 2):
        for name, t in rec.run_pass(warmers_for(warmers, queries), queries).items():
            samples.setdefault(name, []).append(t)
    # a ≥3× spread between the two honest samples means one of them hit a
    # VM stall — one more memo-cleared sample settles it
    spread = {
        name: fn for name, fn in queries.items()
        if len(samples.get(name, [])) == 2 and max(samples[name]) >= 3.0 * min(samples[name])
    }
    if spread:
        log(f"bench: third sample for {sorted(spread)}")
        for name, t in rec.run_pass(warmers_for(warmers, spread), spread).items():
            samples[name].append(t)
    record = rec.report()
    passes = record["passes"]

    timings = {name: min(samples[name]) if name in samples else -1.0 for name in queries}
    total = round(sum(v for v in timings.values() if v >= 0), 3)
    failures = sorted(k for k, v in timings.items() if v < 0)
    memo_warm_s = [p["memo_warm_sec"] for p in passes]

    def pass_cost(p: dict) -> float:
        """Memo warm-up plus the seconds of the queries that succeeded."""
        ok = (q["sec"] for q in p["queries"].values() if "error" not in q)
        return p["memo_warm_sec"] + sum(ok)

    # End-to-end cost (r14 verdict item 1): the timed total EXCLUDES the
    # separately-timed warm-up stages, so moving work into a shared memo
    # lowers `value` without lowering real cost. end_to_end_sec adds the
    # scan warm-up and the MEAN memo warm-up of passes 1 and 2, which
    # mixes the cold build with a re-warm; the BENCH_r* series is compared
    # on it. A third pass warms only its own queries' memos, so counting
    # it would lower the mean without lowering any cost. What one run of
    # the registry pays from a cold session is end_to_end_cold_sec (scan
    # warm-up + pass 1); what a re-run pays in a warm session is
    # end_to_end_steady_sec (pass 2).
    memo_per_pass = round(sum(memo_warm_s[:2]) / 2, 3)
    end_to_end = round(total + warm_s + memo_per_pass, 3)
    cold = round(warm_s + pass_cost(passes[0]), 3)
    steady = round(pass_cost(passes[1]), 3)
    log(f"bench: status-store reads and attribution {record['attribution_sec']}s "
        f"({100 * record['attribution_sec'] / max(total, 1e-9):.2f}% of the timed total)")
    full = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "samples": {k: v for k, v in samples.items() if len(v) > 1},
        "scan_warmup_sec": warm_s,
        "memo_warmup_sec": memo_warm_s,
        "memo_warmup_per_pass_sec": memo_per_pass,
        "end_to_end_sec": end_to_end,
        "end_to_end_cold_sec": cold,
        "end_to_end_steady_sec": steady,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **record,
    }
    # Full per-query map goes to a FILE: at 140 queries the one-line JSON
    # outgrew the driver's 2000-char stdout tail capture (r2+r3 both came
    # back "parsed: null"). The artifact keeps everything; stdout carries
    # a compact summary line — total, counts, failures, and only the 10
    # slowest queries — guaranteed to fit the tail window.
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
    )
    with open(local_path, "w") as f:
        json.dump(full, f, indent=1)
    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v >= 0),
            key=lambda kv: -kv[1],
        )[:10]
    )
    print(
        json.dumps(
            {
                "metric": "total_query_seconds",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "n_failures": len(failures),
                "failures": failures[:10],
                "queries": slowest,
                "scan_warmup_sec": warm_s,
                "memo_warmup_sec": round(sum(memo_warm_s), 3),
                "memo_warmup_per_pass_sec": memo_per_pass,
                "end_to_end_sec": end_to_end,
                "end_to_end_cold_sec": cold,
                "end_to_end_steady_sec": steady,
                "sf": full["sf"],
                "full_results": "BENCH_local.json",
            }
        )
    )


if __name__ == "__main__":
    main()
