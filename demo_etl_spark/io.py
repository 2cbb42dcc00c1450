"""Sources and sinks (SURVEY.md §2.1 S1-S11).

Thin, explicit wrappers over ``spark.read`` / ``df.write`` so every scan
carries an explicit schema and every sink records enough metadata for
lineage. HDFS-specific ops in the reference (S12) are out of scope — the
local filesystem (or any Hadoop-compatible FS URI) replaces them; the
``_SUCCESS``-file completion convention is preserved by Spark's committer.
"""

from __future__ import annotations

import functools
import inspect
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

from demo_etl_spark import schemas

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables whose downstream operators do scan-side heavy lifting (joins,
# explodes, expands). The driver test data ships each table as ONE parquet
# row group, so the scan is a single task no matter how many cores exist;
# an explicit round-robin repartition after load restores parallelism.
# (Real 100 TB inputs arrive as thousands of files and skip this path —
# see read_star_table.)
_FACT_TABLES = frozenset({"lineitem", "orders", "events", "documents", "embeddings"})

# C1: the reference persists its one shared scan MEMORY_AND_DISK because it
# fans out into several aggregate branches (generate-asset.scala:47,380). Our
# bench/test harness fans the SAME star scans into ~25 queries, so the same
# pattern applies engine-side: memoize + persist per (application, dir,
# table). Capped by on-disk size so a genuinely large table (the 100 TB
# lineitem) never gets force-cached — at that scale you want the parquet
# scan's pushdown + pruning, not a full materialization.
_SCAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_CACHE_MAX_BYTES = int(os.environ.get("SPARK_GRAFT_CACHE_MAX_BYTES", 4 << 30))
_PATH_BYTES_MEMO: dict[str, int] = {}

# Operator-internal persists (e.g. dedup's shingle index) register here so
# they can be released together with the scan cache — nothing pinned leaks
# past an explicit clear_scan_cache() call.
_PERSISTED: list[DataFrame] = []


def register_persist(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """Persist ``df`` and track it for release via clear_scan_cache()."""
    df = df.persist(level)
    _PERSISTED.append(df)
    return df


# Session memos: the C1 shared-scan idea applied to operator results. A
# frame that several registered queries derive identically (dedup's
# shingle index, the graph edge set, similarity's centroids, …) is built
# once per session by a ``(spark, sf_dir, ...)`` accessor decorated with
# ``session_memo``. The decorator is the only place a memo key is made:
# (application, abspath(sf_dir), every bound argument with its default
# applied), so a parameterized call can never alias a default one. The
# body materializes its result itself (eager localCheckpoint, or
# register_persist) exactly as an inline build would. One store per
# accessor lives in _MEMO_STORES; clear_operator_memos() empties them all
# and releases the checkpoint blocks a stored frame holds.
_MEMO_STORES: list[dict] = []


def session_memo(fn):
    """Memoize ``fn(spark, sf_dir, ...)`` for the life of the session.

    The wrapper's ``store`` attribute is the accessor's memo dict."""
    sig = inspect.signature(fn)
    store: dict = {}
    _MEMO_STORES.append(store)

    @functools.wraps(fn)
    def memo(spark: SparkSession, sf_dir: str, *args, **kwargs):
        bound = sig.bind(spark, sf_dir, *args, **kwargs)
        bound.apply_defaults()
        key = (
            spark.sparkContext.applicationId,
            os.path.abspath(sf_dir),
            *list(bound.arguments.values())[2:],
        )
        if key not in store:
            store[key] = fn(spark, sf_dir, *args, **kwargs)
        return store[key]

    memo.store = store
    return memo


def _release_checkpoint(value) -> None:
    """Drop the blocks behind a localCheckpoint-ed memo frame now; dropping
    the reference alone leaves them cached until the next JVM GC."""
    for df in value if isinstance(value, tuple) else (value,):
        if isinstance(df, DataFrame):
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)


# Memo WARMERS (r11 verdict item 3): a module whose memoized frame is
# shared by SEVERAL registered queries registers a ``(spark, sf_dir) ->
# None`` warmer that builds it, so a harness can charge the one-time
# build to a declared warm-up stage instead of whichever family member
# happens to run first — under window rotation that first seat changes
# every round and the per-query numbers swung ±6s on rotation alone
# (BENCH_r11 `dedup_keep_best` 0.13↔6.59s class). Single-consumer memos
# should NOT register here: their build cost is honestly that one
# query's own work (tests/test_memo_contract.py enforces this).
_MEMO_WARMERS: list = []


def register_memo_warmer(fn) -> None:
    _MEMO_WARMERS.append(fn)


def warm_operator_memos(spark, sf_dir: str) -> None:
    """Pre-build every registered shared memo for ``sf_dir``.

    Idempotent (each warmer hits its session memos) and safe to call
    after clear_operator_memos(). bench.py runs the same warmers one by
    one, timing each, so per-query figures measure the query."""
    for fn in _MEMO_WARMERS:
        fn(spark, sf_dir)


def clear_operator_memos() -> None:
    """Release operator-level memos/persists but KEEP the star-scan cache.

    The scan cache is the C1 shared-input persist (warm by design, its
    cost reported once as warm-up); operator memos (dedup's shingle
    index, memoized cluster labels, graph edge sets, …) memoize work a
    query's own timing should include. bench.py calls this between
    samples so a re-run measures the query, not a result-cache hit —
    the r4 artifact recorded a 0.019 s "retry" for a 5.5 s query. A
    memo frame obtained before the clear must not be executed after it:
    its checkpoint blocks are gone.
    """
    for df in _PERSISTED:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _PERSISTED.clear()
    for store in _MEMO_STORES:
        for value in store.values():
            try:
                _release_checkpoint(value)
            except Exception:
                pass  # session already stopped — nothing to release
        store.clear()


def clear_scan_cache() -> None:
    """Unpersist and forget every cached scan / registered persist.

    Call between logical runs sharing one process (tests, bench variants)
    so pinned DataFrames from stopped sessions don't pin executor memory
    for the process lifetime.
    """
    for df in list(_SCAN_CACHE.values()):
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _SCAN_CACHE.clear()
    _PATH_BYTES_MEMO.clear()
    clear_operator_memos()


def walk_bytes(path: str, suffix: str | None = None) -> int:
    """Raw (un-memoized) recursive byte count; optional suffix filter.

    Used directly where sizes CHANGE between calls (e.g. compaction
    re-measuring a rewritten dataset); the scan cache goes through the
    memoizing ``_path_bytes`` wrapper below.
    """
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if suffix is not None and not f.endswith(suffix):
                continue
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _path_bytes(path: str) -> int:
    cached = _PATH_BYTES_MEMO.get(path)
    if cached is None:
        cached = _PATH_BYTES_MEMO[path] = walk_bytes(path)
    return cached


# S1: parquet scan (reference generate-asset.scala:38-40).
def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_star_table(
    spark: SparkSession, sf_dir: str, name: str, cache: bool = True
) -> DataFrame:
    """Scan one driver star-schema table; Catalyst prunes columns/filters.

    ``events.parquet``'s ``ts`` encoding varies by generator version:
    TIMESTAMP(NANOS) (vectorized reader rejects it; read nanos as long via
    the runtime-settable legacy conf and truncate to µs), naive µs (Spark 4
    infers TIMESTAMP_NTZ; cast to TIMESTAMP — value-preserving under the
    UTC session tz), or native TIMESTAMP. All three normalize to the same
    µs instants DuckDB sees.
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    if cache:
        cached = _SCAN_CACHE.get(key)
        if cached is not None:
            return cached
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name in _FACT_TABLES and df.rdd.getNumPartitions() < (
        spark.sparkContext.defaultParallelism // 2
    ):
        # single-row-group input: unsplittable scan → fan out for the
        # scan-side heavy operators (filters still push into the scan;
        # Catalyst moves them below the repartition)
        df = df.repartition(spark.sparkContext.defaultParallelism)
    if cache and _path_bytes(os.path.join(sf_dir, f"{name}.parquet")) < _CACHE_MAX_BYTES:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        _SCAN_CACHE[key] = df
    return df


def load_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_star_table(spark, sf_dir, t) for t in STAR_TABLES}


# --- ingest quarantine for identity/time analytics --------------------
# The driver regenerates the testdata between rounds, and the r7 NULL-
# hostile corpus proved that rows lacking an event time / identity key
# split the engines: Spark's window()/session_window silently DROP a
# NULL timestamp while SQL GROUP BY keeps a NULL group, and every
# window ORDER BY flips on NULLS FIRST/LAST. The engine's policy is the
# standard ingest dead-letter rule — time/identity analytics only see
# rows that carry a timestamp and an identity; audits (data_quality_*)
# deliberately read the RAW table, so quarantine is applied by the
# consuming operator, never inside read_star_table. Every consumer's
# DuckDB oracle embeds the matching *_CLEAN_SQL source so both engines
# see the identical row set.
#
# Declared ordering contract (r12): event windows tie-break on event_id
# with explicit NULLS LAST, which totally orders every corpus with AT
# MOST ONE keyless row per (user_id, ts) instant. TWO keyless rows at
# the same instant are indistinguishable to a (ts, event_id) sort, so
# lag/lead-chain operators (event_transitions, scd2_history,
# session_attribution) would chain them arbitrarily — in any engine.
# Single-row-pick operators extend their sort through the output
# payload columns instead (cdc.latest_state, r12); chain operators
# declare the one-keyless-row-per-instant contract, which real CDC/event
# feeds satisfy by construction (a log offset or ingest sequence breaks
# residual ties — at 100 TB, carry that offset and add it to the sort).

def timed_events(events: DataFrame) -> DataFrame:
    """Events with an event time and a user identity (see above). A
    non-finite ``value`` is also quarantined (NULL stays — the stateful
    counters define NULL as 0): Spark casts NaN to 0 silently while
    DuckDB ERRORS casting NaN/inf to BIGINT, so one bad double would
    crash every money-rounding oracle instead of hash-diverging."""
    return events.filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & (
            F.col("value").isNull()
            | (~F.isnan("value") & (F.abs("value") != F.lit(float("inf"))))
        )
    )


EVENTS_CLEAN_SQL = (
    "(SELECT * FROM events "
    "WHERE ts IS NOT NULL AND user_id IS NOT NULL "
    "AND (value IS NULL OR isfinite(value))) events"
)


def gjo_int_oracle(col: str, path: str = "$.k") -> str:
    """DuckDB fragment mirroring Spark
    ``get_json_object(col, path).try_cast('int')`` EXACTLY (empirically
    pinned, r9): Spark's string→int cast accepts only integral text —
    optional sign, digits, surrounding trimmable chars — and NULLs
    everything else, while a bare DuckDB ``TRY_CAST`` also parses and
    ROUNDS float text ('5.0'→5, '5.7'→6) and a float-typed payload's
    extract. The integral-text regex guard closes that gap; int32
    overflow is NULL under both (TRY_CAST AS INTEGER).

    Trim set (empirically probed against Spark 4.1, r10): the cast
    strips EXACTLY ``\\x00``-``\\x20`` and ``\\x7f`` — all C0 controls
    + space + DEL, but NOT C1 controls (``\\x80``-``\\x9f``), NBSP, or
    any Unicode space — so the oracle trims that precise class with a
    RE2 anchor strip rather than DuckDB trim()'s char-set argument
    (which can't carry a NUL byte in a SQL literal)."""
    raw = f"json_extract_string({col}, '{path}')"
    v = (
        f"regexp_replace({raw}, "
        "'^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g')"
    )
    return (
        f"CASE WHEN json_valid({col}) "
        f"AND regexp_matches({v}, '^[+-]?[0-9]+$') "
        f"THEN TRY_CAST({v} AS INTEGER) END"
    )


def vget_int_oracle(col: str, path: str = "$.k") -> str:
    """DuckDB fragment mirroring Spark
    ``try_variant_get(try_parse_json(col), path, 'int')`` EXACTLY
    (empirically pinned, r9) — the cast is TYPE-DIRECTED, so the oracle
    branches on ``json_type``: integer-typed → value (NULL on int32
    overflow under both), double-typed → TRUNCATED toward zero
    (5.7→5, -5.7→-5; DuckDB's bare TRY_CAST would round to 6/-6),
    boolean → 1/0 (DuckDB TRY_CAST('true') is NULL), string → parsed
    only when integral text (Spark trims ``\\x00``-``\\x20``/``\\x7f``
    — see gjo_int_oracle — and accepts a sign; '5.0' is NULL),
    array/object/json-null/missing → NULL."""
    s = f"json_extract_string({col}, '{path}')"
    st = (
        f"regexp_replace({s}, "
        "'^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g')"
    )
    return f"""CASE WHEN json_valid({col}) THEN
      CASE json_type({col}, '{path}')
        WHEN 'UBIGINT' THEN TRY_CAST({s} AS INTEGER)
        WHEN 'BIGINT' THEN TRY_CAST({s} AS INTEGER)
        WHEN 'DOUBLE' THEN TRY_CAST(trunc(TRY_CAST({s} AS DOUBLE)) AS INTEGER)
        WHEN 'BOOLEAN' THEN CASE {s} WHEN 'true' THEN 1 ELSE 0 END
        WHEN 'VARCHAR' THEN CASE WHEN regexp_matches({st}, '^[+-]?[0-9]+$')
                                 THEN TRY_CAST({st} AS INTEGER) END
      END END"""


def keyed_orders(orders: DataFrame) -> DataFrame:
    """Orders usable for customer/time/revenue analytics: key, customer,
    date and a FINITE price all present (see quarantine note above; a
    NaN/inf price crashes DuckDB's BIGINT cast and silently becomes 0
    in Spark's)."""
    return orders.filter(
        F.col("o_orderkey").isNotNull()
        & F.col("o_custkey").isNotNull()
        & F.col("o_orderdate").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & ~F.isnan("o_totalprice")
        & (F.abs("o_totalprice") != F.lit(float("inf")))
    )


ORDERS_CLEAN_SQL = (
    "(SELECT * FROM orders "
    "WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL "
    "AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL "
    "AND isfinite(o_totalprice)) orders"
)


def register_star_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every star table as a temp view so raw-SQL users can query
    the warehouse by name (``spark.sql("SELECT ... FROM lineitem")``) —
    the catalog face of the S10 SQL-string surface."""
    for name, df in load_star(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


# S2: CSV scan with explicit schema (never inference in production paths).
def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    infer_schema: bool = False,
) -> DataFrame:
    """S2 CSV scan. Engine policy is an EXPLICIT StructType (inference
    re-reads the file and can silently flip types between runs); pass
    ``infer_schema=True`` to opt into the reference's header-plus-
    inference behavior (generate-test-data.scala:228 reads its CSVs
    with ``option("inferSchema", "true")``) — the pytest pins the
    inferred column types so a Spark-version drift is caught."""
    if infer_schema:
        if schema is not None:
            raise ValueError("pass either schema or infer_schema, not both")
        return spark.read.csv(path, header=header, inferSchema=True)
    if schema is None:
        raise ValueError("schema is required unless infer_schema=True")
    return spark.read.csv(path, header=header, schema=schema)


# JSON-lines source/sink (not in the reference; standard engine surface —
# the events.props column already carries JSON payloads).
def read_json(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    return spark.read.json(path, schema=schema)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


# ORC source/sink (not in the reference; the other columnar format a
# Spark warehouse ingests from — same pushdown/pruning machinery as
# parquet, exercised by tests to keep the format path honest).
def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


# S4: parquet sink. At scale, pass partition_by (e.g. a date column) so
# downstream reads get partition pruning; the reference writes flat
# (generate-asset.scala:327-330) which does not survive 100 TB.
def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


# S5: CSV sink (header, overwrite). coalesce(1) is a test-data convenience
# in the reference (generate-test-data.scala:232) — never used at scale.
def write_csv(
    df: DataFrame, path: str, mode: str = "overwrite", single_file: bool = False
) -> None:
    out = df.coalesce(1) if single_file else df
    out.write.csv(path, header=True, mode=mode)


# S6-S9: table DDL + table sinks (reference generate-asset.scala:293-324,
# 350,367-370). Uses the session catalog; tests point the warehouse at a
# temp dir. With get_spark(hive_support=True) the catalog is a real Hive
# metastore (embedded Derby locally) and the Hive-flavored syntax below
# is used; the in-memory catalog gets the equivalent `USING PARQUET` DDL.
def save_table(df: DataFrame, table: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).format("parquet").saveAsTable(table)


def append_table(df: DataFrame, table: str) -> None:
    df.write.mode("append").format("parquet").saveAsTable(table)


def drop_table(spark: SparkSession, table: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def _is_hive_catalog(spark: SparkSession) -> bool:
    return spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"


def _ddl_cols(schema: StructType) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)


# S7: CREATE TABLE ... (cols) STORED AS PARQUET LOCATION '...' — the
# reference's external asset table (generate-asset.scala:294-324). On the
# in-memory catalog the equivalent `USING PARQUET LOCATION` form is used
# (same unmanaged-table semantics: DROP leaves the data files alone).
def create_external_table(
    spark: SparkSession,
    table: str,
    schema: StructType,
    location: str,
    if_not_exists: bool = False,
) -> None:
    ine = "IF NOT EXISTS " if if_not_exists else ""
    storage = "STORED AS PARQUET" if _is_hive_catalog(spark) else "USING PARQUET"
    spark.sql(
        f"CREATE TABLE {ine}`{table}` ({_ddl_cols(schema)}) "
        f"{storage} LOCATION '{location}'"
    )


# S8: create-if-not-exists managed table — the reference's lineage
# registry DDL (generate-asset.scala:350). Under a Hive metastore the
# table registration itself persists, so a plain managed CREATE IF NOT
# EXISTS suffices. The in-memory catalog forgets registrations between
# processes while the warehouse directory survives — so the table is
# pinned to its warehouse LOCATION explicitly: re-creating over the
# existing directory re-attaches the accumulated rows (the registry's
# append-across-runs semantics) instead of failing LOCATION_ALREADY_EXISTS.
def create_table_if_not_exists(
    spark: SparkSession, table: str, schema: StructType
) -> None:
    if _is_hive_catalog(spark):
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS `{table}` ({_ddl_cols(schema)}) "
            "STORED AS PARQUET"
        )
        return
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    location = f"{warehouse.rstrip('/')}/{table}"
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS `{table}` ({_ddl_cols(schema)}) "
        f"USING PARQUET LOCATION '{location}'"
    )


# S9: Hive-format append sink (generate-asset.scala:367-370). Under a Hive
# catalog this is the literal format("hive") write; the in-memory catalog
# appends through the parquet table provider (identical rows-on-read).
def append_hive_table(df: DataFrame, table: str) -> None:
    fmt = "hive" if _is_hive_catalog(df.sparkSession) else "parquet"
    df.write.mode("append").format(fmt).saveAsTable(table)


# Bucketed tables: the 100 TB co-location lever. Writing both fact tables
# bucketed (and sorted) by the join key lets sort-merge joins read
# matching buckets directly — the per-query shuffle of BOTH fact sides
# disappears (PERF_NOTES "levers"). Bucket count is a physical-layout
# decision: pick ~(table size / 1 GB) at the target scale.
def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    mode: str = "overwrite",
) -> None:
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


# Job-2's write-back verification idiom (generate-asset.scala:333-338):
# re-read the written table through SQL, sample LIMIT rows, count rows.
def verify_table_sql(
    spark: SparkSession, table: str, limit: int = 10, min_rows: int = 1
) -> int:
    sample = spark.sql(f"SELECT * FROM `{table}` LIMIT {limit}").collect()
    n = spark.sql(f"SELECT COUNT(*) AS n FROM `{table}`").first()["n"]
    if n < min_rows or not sample:
        raise RuntimeError(f"table {table} verification failed: {n} rows")
    return n


# S11: external-table handoff verification (reference run-all.sh:129-139).
def verify_output(spark: SparkSession, path: str, min_rows: int = 1) -> int:
    """Re-read a written dataset and assert non-emptiness; returns count."""
    n = spark.read.parquet(path).count()
    if n < min_rows:
        raise RuntimeError(f"output at {path} has {n} rows (< {min_rows})")
    return n


# S11 without the second scan: the reference verifies a write by
# re-reading and counting (generate-asset.scala:333-338) — a full extra
# pass, which at 100 TB doubles the job's IO. Spark's Observation API
# attaches metric expressions to the WRITING plan itself, so the counts
# are collected DURING the write for free.
def observed_write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    null_check_cols: list[str] | None = None,
) -> dict:
    """Write parquet and return write-time metrics {rows, null_<col>...}
    observed from the same pass — no verification re-read. Callers
    assert on the returned dict exactly where they would have asserted
    on the re-read count.
    """
    from pyspark.sql import Observation

    metrics = [F.count(F.lit(1)).alias("rows")]
    for c in null_check_cols or []:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
        )
    obs = Observation()
    w = df.observe(obs, *metrics).write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return obs.get
