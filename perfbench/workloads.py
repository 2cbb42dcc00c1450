"""The benchmark's workloads and the runs they are made of.

One run is a closed loop: one client, one thread, each operation starting
after the previous one ends. A run clears the operator memos; runs the
paper's pipeline, if the workload has it, into a fresh work directory;
runs the workload's memo warmers; then every query of the workload through
a ``noop`` write. The pipeline is five operations: job 1, its output
check, job 2, the external table and its check, and the lineage step
(registry append and DOT file).

Every operation's output is checked in the same action that produces it
(see fingerprint.py) against the values in ``expected.json``.
"""

from __future__ import annotations

import csv
import datetime as dt
import functools
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import fingerprint
from perfbench.trace import Span, StatusStore, Tracer, spark_counters, stream_listener

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.001")
EXPECTED_PATH = os.path.join(HERE, "expected.json")


#: The program's operator modules (``op.<module>.s``), split by the tables
#: they read. ``quality`` also reads the corpus tables; most of its queries
#: read the star tables.
STAR_MODULES = (
    "asset", "bucketed", "cdc", "customer", "event_streams", "events", "graph", "product",
    "quality", "skew", "sql_interface", "sql_suite", "star", "temporal", "timeseries",
)
CORPUS_MODULES = (
    "curation", "dedup", "fingerprint", "formats", "multimodal", "packing", "similarity",
    "sketch", "text", "tokenizer",
)
MODULES = STAR_MODULES + CORPUS_MODULES

#: Memo warmers the workloads run. The dedup, multimodal, similarity and
#: similarity_bm25 warmers are left out, and with them every query that
#: reads their memos: together they cost more than a whole run (see
#: ``warmers_s`` in the sweep).
STAR_WARMERS = ("customer", "product", "timeseries", "graph")
CORPUS_WARMERS = ("tokenizer",)
SWEEP_PATH = os.path.join(HERE, "sweep_sf0.001.json")


@functools.cache
def registry_queries(
    modules: tuple[str, ...], warmers: tuple[str, ...], per_module: int
) -> tuple[str, ...]:
    """For each of ``modules``, its ``per_module`` middle-cost queries in
    the sweep (the median one when ``per_module`` is 1; the lower middle
    when the count does not split evenly), among the queries that read no
    memo outside ``warmers``."""
    with open(SWEEP_PATH) as fh:
        rows = json.load(fh)["queries"]
    by_module: dict[str, list[dict]] = {}
    for q in rows:
        if set(q["reads_memos"]) <= set(warmers):
            by_module.setdefault(q["module"], []).append(q)
    picked = []
    for mod in modules:
        qs = sorted(by_module[mod], key=lambda q: (q["seconds"], q["name"]))
        lo = max((len(qs) - per_module) // 2, 0)
        picked.extend(q["name"] for q in qs[lo:lo + per_module])
    return tuple(picked)


@dataclass(frozen=True)
class Etl:
    """The paper's pipeline on ``generate_fixtures`` CSVs of this size."""

    customers: int
    products: int
    orders: int
    #: the seed picks one of this many fixture seeds, each with stored
    #: expected outputs
    data_seeds: int = 16


@dataclass(frozen=True)
class Workload:
    modules: tuple[str, ...]
    warmers: tuple[str, ...]
    #: queries taken from each module
    per_module: int
    #: steady runs after the cold run: a fixed number, so that a faster
    #: program gets no extra (and JIT-warmer) samples
    steady_runs: int
    #: the pipeline each run starts with, if any
    etl: Etl | None = None

    @property
    def queries(self) -> tuple[str, ...]:
        return registry_queries(self.modules, self.warmers, self.per_module)


WORKLOADS = {
    "star_registry": Workload(
        STAR_MODULES, STAR_WARMERS, per_module=1, steady_runs=1,
        etl=Etl(customers=5_000, products=500, orders=50_000),
    ),
    "corpus_registry": Workload(CORPUS_MODULES, CORPUS_WARMERS, per_module=2, steady_runs=2),
}

ETL_ANCHOR = dt.date(2002, 1, 1)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def memo_warmers() -> dict:
    """Memo name -> warmer, for every entry ``warm_operator_memos`` calls."""
    import __spark_entry__  # noqa: F401  (imports register every warmer)
    from demo_etl_spark import io

    out = {}
    for fn in io._MEMO_WARMERS:
        mod = fn.__module__.rsplit(".", 1)[-1]
        out[mod + ("_bm25" if "bm25" in fn.__name__ else "")] = fn
    return out


def etl_context(data_seed: int):
    from demo_etl_spark.context import RunContext

    return RunContext(
        job_id=f"perfbench-{data_seed}",
        anchor_date=ETL_ANCHOR,
        job_timestamp=dt.datetime(2002, 1, 1, 0, 0, 0),
    )


CSV_PART = "part-00000.csv"


class _RowRecorder:
    """Stands in for the SparkSession ``generate_fixtures`` takes: it keeps
    each table's rows instead of turning them into a DataFrame."""

    def createDataFrame(self, rows, schema):  # noqa: N802 (SparkSession API)
        return rows, schema


def _csv_value(v) -> str:
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def write_fixtures(wl: Etl, data_seed: int, out: str) -> dict[str, str]:
    """Write ``generate_fixtures(FixtureConfig(seed=data_seed))`` as one
    CSV per table (a directory holding one part file, the layout
    ``io.write_csv(single_file=True)`` produces); returns table -> dir."""
    from demo_etl_spark.fixtures import FixtureConfig, generate_fixtures

    cfg = FixtureConfig(
        n_customers=wl.customers, n_products=wl.products, n_orders=wl.orders,
        seed=data_seed, anchor=ETL_ANCHOR,
    )
    paths = {}
    for name, (rows, schema) in generate_fixtures(_RowRecorder(), cfg).items():
        paths[name] = os.path.join(out, name)
        os.makedirs(paths[name], exist_ok=True)
        with open(os.path.join(paths[name], CSV_PART), "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(schema.fieldNames())
            w.writerows([_csv_value(v) for v in row] for row in rows)
    return paths


@dataclass
class Op:
    """One attempted operation (a query or a pipeline step)."""

    run: str
    name: str
    seconds: float
    ok: bool
    detail: dict = field(default_factory=dict)


class Bench:
    """State of one benchmark process: session, tracer and results."""

    def __init__(self, workload: str, seed: int, work: str, cpus: int, tracer: Tracer):
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.tracer = tracer
        self.ops: list[Op] = []
        self.runs: list[Span] = []
        self.expected = load_expected()
        self.spark = None
        self.store: StatusStore | None = None
        self.layer: dict = {}

    # ---------------------------------------------------------- set-up --
    def setup(self) -> Span:
        from demo_etl_spark import io
        from demo_etl_spark.session import get_spark

        tr = self.tracer
        with tr.span("setup", run="setup") as s:
            with tr.span("session.start"):
                self.spark = get_spark("perfbench", cpus=self.cpus)
                self.spark.sparkContext.setLogLevel("ERROR")
                self.spark.range(1).count()
            import __spark_entry__  # noqa: F401  (imports every operator module)

            with tr.span("io.scan_fill"):
                for df in io.load_star(self.spark, SF_DIR).values():
                    df.count()
            with tr.span("session.workers"):
                (
                    self.spark.range(self.cpus)
                    .repartition(self.cpus)
                    .mapInPandas(lambda it: it, "id long")
                    .write.mode("overwrite").format("noop").save()
                )
        if tr.enabled:
            self.store = StatusStore(self.spark)
            self.layer["io.scan_cached_bytes"] = self.store.storage_bytes()
            self.stream_progress = stream_listener(self.spark)
        return s

    # ------------------------------------------------------- registry --
    def _query(self, run: str, name: str, fn) -> None:
        mod = fn.__module__.rsplit(".", 1)[-1]
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span(f"op.{mod}", query=name):
            try:
                with tr.span("op.build"):
                    df = fn(self.spark, SF_DIR)
                df, obs = fingerprint.observed(df)
                with tr.span("op.exec"):
                    df.write.mode("overwrite").format("noop").save()
                got = fingerprint.result(obs)
                ok = got == self.expected["queries"][name]
            except Exception as exc:  # a failing query is counted, not fatal
                got, ok = {"error": repr(exc)[:500]}, False
        self.ops.append(Op(run, name, time.perf_counter() - t0, ok, got))

    def one_run(self, run: str) -> Span:
        """Clear the memos, run the pipeline (if the workload has one), the
        memo warmers and then every query in the seed's order."""
        import __spark_entry__
        from demo_etl_spark import io

        registry = __spark_entry__.queries()
        warmers = memo_warmers()
        order = list(self.wl.queries)
        random.Random(self.seed).shuffle(order)
        tr = self.tracer
        with tr.span("run", run=run) as s:
            with tr.span("memo.clear"):
                io.clear_operator_memos()
            if self.wl.etl:
                self.etl_steps(run)
            for memo in self.wl.warmers:
                with tr.span(f"memo.{memo}"):
                    warmers[memo](self.spark, SF_DIR)
            for name in order:
                self._query(run, name, registry[name])
        return s

    # ------------------------------------------------------------ ETL --
    def etl_prepare(self) -> None:
        """Write the seeded source CSVs: the benchmark's own work, neither
        set-up nor run, and done without the JVM so it warms nothing the
        cold run then measures."""
        wl = self.wl.etl
        self.data_seed = self.seed % wl.data_seeds
        self.csv = write_fixtures(wl, self.data_seed, os.path.join(self.work, "source"))
        self.csv_bytes = sum(os.path.getsize(os.path.join(p, CSV_PART)) for p in self.csv.values())

    def _step(self, run: str, name: str, parts) -> None:
        """One pipeline step: its layer calls in order, each in its own
        span. The step fails at the first part that fails or raises."""
        t0 = time.perf_counter()
        ok, detail = True, {}
        for span, fn in parts:
            with self.tracer.span(span, step=name):
                try:
                    ok, detail[span] = fn()
                except Exception as exc:  # a failing step is counted, not fatal
                    ok, detail[span] = False, {"error": repr(exc)[:500]}
            if not ok:
                break
        self.ops.append(Op(run, name, time.perf_counter() - t0, ok, detail))

    def etl_steps(self, run: str) -> None:
        from demo_etl_spark import io, schemas
        from demo_etl_spark.lineage import LineageTracker
        from demo_etl_spark.plans.reference_pipeline import job1_sales_data, job2_asset

        spark = self.spark
        ctx = etl_context(self.data_seed)
        tracker = LineageTracker(ctx)
        expected = self.expected["etl"][str(self.data_seed)]
        out = os.path.join(self.work, "etl", run)
        shutil.rmtree(out, ignore_errors=True)
        sales_path = os.path.join(out, "sales_data_external")
        asset_path = os.path.join(out, "sales_analytics_asset")
        seen: dict = {}

        def success(path: str) -> bool:
            return os.path.exists(os.path.join(path, "_SUCCESS"))

        def job1():
            sales = job1_sales_data(
                io.read_csv(spark, self.csv["customers"], schemas.REF_CUSTOMERS),
                io.read_csv(spark, self.csv["products"], schemas.REF_PRODUCTS),
                io.read_csv(spark, self.csv["orders"], schemas.REF_ORDERS),
                ctx, tracker,
            )
            sales, obs = fingerprint.observed(sales)
            sales.write.mode("overwrite").parquet(sales_path)
            seen["sales"] = got = fingerprint.result(obs)
            return got == expected["sales"] and success(sales_path), got

        def verify_sales():
            n = io.verify_output(spark, sales_path)
            return n == seen["sales"]["rows"], {"rows": n}

        def job2():
            asset = job2_asset(spark, spark.read.parquet(sales_path), ctx, tracker)
            asset, obs = fingerprint.observed(asset)
            asset.write.mode("overwrite").parquet(asset_path)
            seen["asset"] = got = fingerprint.result(obs)
            return got == expected["asset"] and success(asset_path), got

        def verify_asset():
            io.drop_table(spark, "sales_analytics_asset")
            io.create_external_table(
                spark, "sales_analytics_asset", schemas.SALES_ANALYTICS_ASSET, asset_path
            )
            n = io.verify_table_sql(spark, "sales_analytics_asset")
            return n == seen["asset"]["rows"], {"rows": n}

        def registry():
            reg = tracker.to_registry_df(
                spark, source_path=sales_path, target_path=asset_path,
                record_count=seen["asset"]["rows"],
                source_files=list(self.csv.values()),
                description="sales analytics asset generation",
            )
            io.create_table_if_not_exists(
                spark, "data_lineage_registry", schemas.DATA_LINEAGE_REGISTRY
            )
            count = "SELECT COUNT(*) AS n FROM data_lineage_registry"
            before = spark.sql(count).first()["n"]
            io.append_hive_table(reg, "data_lineage_registry")
            reg.write.mode("append").parquet(os.path.join(out, "data_lineage_registry"))
            spark.catalog.refreshTable("data_lineage_registry")
            after = spark.sql(count).first()["n"]
            return after - before == 1, {"appended": after - before}

        def dot():
            path = tracker.write_dot(os.path.join(out, f"lineage_graph_{ctx.job_id}.dot"))
            size = os.path.getsize(path)
            return size > 0 and len(tracker.events) > 0, {"bytes": size, "events": len(tracker.events)}

        self._step(run, "job1", [("etl.job1", job1)])
        self._step(run, "verify_sales", [("etl.verify", verify_sales)])
        self._step(run, "job2", [("etl.job2", job2)])
        self._step(run, "verify_asset", [("etl.verify", verify_asset)])
        # the DOT file is a millisecond local write: it is part of the
        # lineage step, not an operation of its own in the latencies
        self._step(run, "lineage", [("etl.registry", registry), ("etl.dot", dot)])
        if run == "cold" and self.tracer.enabled:
            files = [os.path.join(r, f) for r, _d, fs in os.walk(out) for f in fs]
            self.layer["etl.files_written"] = len(files)
            self.layer["etl.bytes_written"] = sum(os.path.getsize(f) for f in files)
            self.layer["etl.write_amp"] = self.layer["etl.bytes_written"] / self.csv_bytes

    # ------------------------------------------------------------ run --
    def measure(self) -> None:
        """The cold run, then the workload's fixed number of steady runs."""
        if self.wl.etl:
            self.etl_prepare()
        self.runs.append(self.one_run("cold"))
        if self.tracer.enabled:
            self._trace_cold()
        for i in range(1, self.wl.steady_runs + 1):
            self.runs.append(self.one_run(f"steady{i}"))

    def _trace_cold(self) -> None:
        """Layer metrics of the cold run that need reads outside it."""
        from demo_etl_spark import io

        store = self.store
        self.jobs, self.stages = store.jobs(), store.stages()
        held = store.storage_bytes()
        io.clear_operator_memos()
        residual = store.storage_bytes()
        scan = self.layer["io.scan_cached_bytes"]
        self.layer["memo.cached_bytes"] = max(held - scan, 0)
        self.layer["memo.residual_bytes"] = max(residual - scan, 0)

    # -------------------------------------------------------- metrics --
    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found for the Spark JVM")

    def end_to_end(self, setup: Span) -> dict:
        cold, steady = self.runs[0], self.runs[1:]
        lat = [op.seconds for op in self.ops if op.run != "cold"]
        q = statistics.quantiles(lat, n=10, method="inclusive")
        return {
            "setup_s": (setup.seconds, "s"),
            "run_s": (cold.seconds, "s"),
            "steady_run_s": (statistics.median(s.seconds for s in steady), "s"),
            "query_p50_s": (q[4], "s"),
            "query_p90_s": (q[8], "s"),
        }

    def per_layer(self, setup: Span) -> dict:
        tr = self.tracer
        cold = self.runs[0]
        inside = [cold] + tr.descendants(cold)

        def total(name: str) -> float:
            return sum(s.seconds for s in inside if s.name == name)

        def setup_part(name: str) -> float:
            return sum(s.seconds for s in tr.descendants(setup) if s.name == name)

        m: dict = {
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
            "session.start_s": (setup_part("session.start"), "s"),
            "session.workers_s": (setup_part("session.workers"), "s"),
            "io.scan_fill_s": (setup_part("io.scan_fill"), "s"),
            "io.scan_cached_bytes": (self.layer["io.scan_cached_bytes"], "bytes"),
        }
        m["memo.clear_s"] = (total("memo.clear"), "s")
        for memo in STAR_WARMERS + CORPUS_WARMERS:
            m[f"memo.{memo}.build_s"] = (total(f"memo.{memo}"), "s")
        m["memo.cached_bytes"] = (self.layer["memo.cached_bytes"], "bytes")
        m["memo.residual_bytes"] = (self.layer["memo.residual_bytes"], "bytes")
        for mod in MODULES:
            m[f"op.{mod}.s"] = (total(f"op.{mod}"), "s")
        m["op.build_s"] = (total("op.build"), "s")
        m["op.exec_s"] = (total("op.exec"), "s")
        m.update(self._stream_metrics(cold))
        c = spark_counters(self.jobs, self.stages, cold.start, cold.end)
        for k, unit in (
            ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
            ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
        ):
            m[f"spark.{k}"] = (c[k], unit)
        m["spark.cpu_busy_ratio"] = (c["task_cpu_s"] / (cold.seconds * self.cpus), "1")
        for stage in ("job1", "job2", "verify", "registry", "dot"):
            m[f"etl.{stage}_s"] = (total(f"etl.{stage}"), "s")
        m["etl.bytes_written"] = (self.layer.get("etl.bytes_written", 0), "bytes")
        m["etl.files_written"] = (self.layer.get("etl.files_written", 0), "count")
        m["etl.write_amp"] = (self.layer.get("etl.write_amp", 0.0), "1")
        attempted = len(self.ops)
        m["failed_ratio"] = (sum(not op.ok for op in self.ops) / attempted, "1")
        m["trace.run_s"] = (cold.seconds, "s")
        m["trace.unattributed_s"] = (tr.self_seconds(cold), "s")
        return m

    def _stream_metrics(self, cold: Span) -> dict:
        lo, hi = cold.start, cold.end
        evs = [p for p in self.stream_progress if lo <= p["ts"] <= hi]

        def dur(key: str) -> float:
            return float(sum(p["duration_ms"].get(key, 0) for p in evs))

        return {
            "stream.batches": (len(evs), "count"),
            "stream.trigger_ms": (dur("triggerExecution"), "ms"),
            "stream.add_batch_ms": (dur("addBatch"), "ms"),
            "stream.planning_ms": (dur("queryPlanning"), "ms"),
            "stream.wal_commit_ms": (dur("walCommit"), "ms"),
            "stream.state_commit_ms": (float(sum(p["state_commit_ms"] for p in evs)), "ms"),
        }

    def span_records(self) -> list[dict]:
        """Every span with its self time and, when traced, the engine
        counters of the jobs submitted while it was open."""
        tr = self.tracer
        out = []
        for s in tr.spans:
            rec = {
                "id": s.id, "name": s.name, "parent": s.parent, "run": s.run,
                "start": s.start, "end": s.end, "self_s": tr.self_seconds(s), **s.attrs,
            }
            if tr.enabled and s.run == "cold":
                rec["spark"] = spark_counters(self.jobs, self.stages, s.start, s.end)
            out.append(rec)
        return out
