"""Structured Streaming surface (SURVEY.md §2.9 — north-star extension).

The reference has no streaming; this module gives the engine the standard
Spark streaming shapes over the same ``events`` schema used by the batch
operators (operators.events): file-source ``readStream`` → watermarked
windowed aggregation → sink. Batch and stream share window semantics
(``F.window`` / ``F.session_window``), so the batch oracles double as the
semantic spec for the streaming path; tests run the stream with an
``availableNow`` trigger into a memory sink and compare against batch.

Streaming-specific deltas vs the batch builders:
  * watermark required before any stateful aggregation (late-data bound);
  * exact ``countDistinct`` is not supported in streaming — the
    ``unique_users`` metric becomes ``approx_count_distinct`` (HLL), the
    documented 100 TB-scale substitution (SURVEY §2.4 A5).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_etl_spark.functions.fixedpoint import round_div
from demo_etl_spark.functions.scalars import money_fixed
from demo_etl_spark.io import session_memo
from demo_etl_spark.schemas import EVENTS

WATERMARK = "2 hours"
SESSION_GAP = "30 minutes"

@session_memo
def _probed_schema(spark: SparkSession, path: str):
    """The footer schema of one parquet file. Every drain builder ran its
    own batch read just to learn the stream schema (a ~0.2-0.6 s driver
    job × 7 streaming seats per pass); the footer is immutable for a
    given file path within a session."""
    return spark.read.parquet(path).schema


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    copies: int = 1,
    source_options: dict[str, str] | None = None,
) -> DataFrame:
    """File-source stream over the events parquet (ts-encoding-aware like io.py).

    ``copies > 1`` stages the same file N times — the controlled way to
    make the source REDELIVER every event (what an at-least-once bus
    does), which is what the streaming dedup operator exists to absorb.
    """
    # readStream needs an explicit schema; probe the footer via a batch
    # read so we honor whichever ts encoding this dataset uses
    # (TIMESTAMP(NANOS) arrives as bigint under the legacy conf and needs
    # the ÷1000 truncation; naive µs infers TIMESTAMP_NTZ and needs a
    # cast to TIMESTAMP — value-preserving under the UTC session tz).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = _probed_schema(spark, os.path.join(sf_dir, "events.parquet"))
    ts_type = dict((f.name, f.dataType.simpleString()) for f in batch_schema).get("ts")
    # The file-stream source requires its path to be a directory (its
    # basePath check rejects bare files); stage a symlink dir pointing at
    # the single events.parquet file. Scoped per user+process so parallel
    # test runs can't race on each other's staging dirs.
    src = os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    stream_dir = os.path.join(
        tempfile.gettempdir(),
        f"demo_etl_spark_streams_{os.getuid()}_{os.getpid()}",
        src.strip("/").replace("/", "_") + (f"_x{copies}" if copies > 1 else ""),
    )
    os.makedirs(stream_dir, exist_ok=True)
    for i in range(copies):
        link = os.path.join(
            stream_dir, "events.parquet" if i == 0 else f"events_copy{i}.parquet"
        )
        if not os.path.exists(link):
            os.symlink(src, link)
    reader = spark.readStream.schema(batch_schema)
    for k, v in (source_options or {}).items():
        reader = reader.option(k, v)
    df = reader.parquet(stream_dir)
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tumbling_stream(events: DataFrame) -> DataFrame:
    win = F.window("ts", "1 hour")
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_unique_users"),
            F.sum(money_fixed(F.col("value"))).alias("_val_c"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "approx_unique_users",
            round_div("_val_c", "10000", 2).alias("total_value"),
        )
    )


def sliding_stream(events: DataFrame) -> DataFrame:
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money_fixed(F.col("value"))).alias("_val_c"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            round_div("_val_c", "10000", 2).alias("total_value"),
        )
    )


def session_stream(events: DataFrame) -> DataFrame:
    win = F.session_window("ts", SESSION_GAP)
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id", win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money_fixed(F.col("value"))).alias("_val_c"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            round_div("_val_c", "10000", 2).alias("total_value"),
        )
    )


def user_totals_stateful_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running totals carried in explicit group state across micro-batches.

    This is the arbitrary-stateful-processing shape (the built-in
    windowed aggs can't express, e.g., custom eviction or cross-batch
    counters): state = (n_events, value in fixed-point ten-thousandths,
    latest event µs). Money accumulates in integer space with the same
    HALF_UP-away-from-zero rounding as ``money_fixed``, so the drained
    stream equals the batch groupBy bit-for-bit (parity test).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value_c long, last_event_us long"
    state_schema = "n long, val_c long, last_us long"

    def update(key, pdf_iter, state):
        import numpy as np

        # last_us seeds at LONG_MIN, not 0: a pre-1970 event carries a
        # NEGATIVE epoch-µs and max(0, negative) would silently report 0
        # while the oracle's MAX(epoch_us(ts)) goes negative (r11 review,
        # hostile-pinned). Every update sees ≥1 row, so the sentinel
        # never escapes into output.
        n, val_c, last_us = state.get if state.exists else (0, 0, -(1 << 63))
        for pdf in pdf_iter:
            n += len(pdf)
            v = pdf["value"].to_numpy(dtype="float64") * 10_000
            # HALF_UP away from zero — the money_fixed discipline; NULL
            # values arrive as NaN and must contribute nothing, exactly
            # like F.sum(money_fixed(value)) skips NULLs in the batch twin
            val_c += int(np.nansum(np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))))
            us = pdf["ts"].astype("int64") // 1_000  # ns → µs
            last_us = max(last_us, int(us.max()))
        state.update((n, val_c, last_us))
        import pandas as pd

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_c": [val_c],
                "last_event_us": [last_us],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def epoch_bounded(events: DataFrame) -> DataFrame:
    """Watermarked-streaming DOMAIN screen: Spark initializes every
    stream's event-time watermark at epoch 0, so a pre-1970 event time
    is born LATE for the watermark-consuming row-level operators
    (dropDuplicatesWithinWatermark, session_window merge, stream-stream
    join) and the engine drops it on arrival — hostile-pinned (a
    1969-12-30 event vanished from streaming_dedup/streaming_session
    while every batch twin kept it). This screen makes the restriction
    EXPLICIT and Spark-version-independent; each streaming twin's
    oracle carries the matching ``ts >= TIMESTAMP '1970-01-01'``
    predicate. NULL event times pass through (they are neither late nor
    on-time to the watermark filter, and the dedup shape keeps them).
    Complete-mode windowed aggregates keep total state and are NOT
    domain-restricted."""
    return events.filter(
        F.col("ts").isNull()
        | (F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp"))
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` on the
    event key — the streaming twin of operators.dedup.dedup_exact's
    hash-groupBy. State holds one entry per key only until the watermark
    passes it (bounded, unlike plain ``dropDuplicates`` whose state
    grows forever); at-least-once upstream delivery becomes exactly-once
    downstream as long as redelivery lag stays inside the watermark.

    NULL-key rows are quarantined first (r12 review, repo-wide identity
    policy): a row with no delivery key cannot be RECOGNIZED as a
    redelivery, and Spark's dedup treats NULL keys as equal — two
    DISTINCT keyless events would silently collapse into one (caught by
    the second hostile NULL-id row; the oracle twin carries the matching
    predicate). The documented variant for keyless feeds is a
    content-hash key (md5 over the payload), which trades that collapse
    for exactly-once on identical content."""
    return (
        events.filter(F.col("event_id").isNotNull())
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


#: follow-up horizon for the stream-stream join (mirrors the batch
#: purchase_followups interval shape)
FOLLOW_WINDOW = "30 minutes"


def purchase_click_stream_join(events: DataFrame) -> DataFrame:
    """Stream-stream self-join: each purchase joined to the same user's
    clicks within the next 30 minutes. Both sides carry watermarks and
    the join condition bounds event-time distance, so Spark can size the
    join state buffer and evict rows once the watermark passes — the
    canonical bounded-state stream-join shape (an unbounded-condition
    stream join would accumulate state forever)."""
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    return p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts > p_ts "
            f"AND c_ts <= p_ts + INTERVAL {FOLLOW_WINDOW}"
        ),
    ).select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id", "p_ts", "c_ts"
    )


def ephemeral_checkpoint_dir() -> str:
    """Fresh checkpoint dir for a single availableNow drain.

    These checkpoints are THROWAWAY by design — every drain starts one
    and deletes it afterwards (the sink is a memory table; nothing
    resumes from the offset/commit/state files) — yet the
    HDFSBackedStateStore and the offset/commit logs fsync every
    micro-batch, so placing them on a spinning/ext4 tmpdir charges real
    disk syncs to ephemeral bookkeeping (guide §6: I/O layout follows
    the data's lifetime). Default: the RAM-backed /dev/shm when
    present, else the system tmpdir. A RESTARTABLE production stream
    must instead point DEMO_ETL_STREAM_CKPT_DIR at durable storage —
    checkpoint durability is exactly what a resumable stream pays for;
    an availableNow drain whose result is re-derived from the source
    each run does not need it.
    """
    base = os.environ.get("DEMO_ETL_STREAM_CKPT_DIR")
    if not base:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return tempfile.mkdtemp(prefix="demo_etl_stream_ckpt_", dir=base)


def drain_shuffle_partitions(session_parts: str | None) -> int:
    """State partitions for one drain: the session's shuffle partitions
    capped at 4."""
    return min(4, int(session_parts)) if session_parts and session_parts.isdigit() else 4


def run_available_now(
    stream_df: DataFrame,
    table_name: str,
    timeout_s: int = 120,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain the stream with an availableNow trigger into a memory sink;
    returns the sink contents as a batch DataFrame. Stateful operators
    (applyInPandasWithState) require ``output_mode="update"``."""
    spark = stream_df.sparkSession
    # Fresh checkpoint per drain ⇒ the state-store partition count is
    # chosen HERE (it is frozen into a real checkpoint for the query's
    # lifetime). Micro-batch state at test scale is tiny, so every state
    # partition is pure per-batch overhead (store commit + task) — the
    # r15 A/B (sf0.1, min of 2 reps) measured parts=4 better than the
    # former 8 on every JVM drain at BOTH 32 and 8 cores (e.g.
    # daily_rollup 2.36→1.43 s, purchase_clicks 3.26→2.09 s at 32c;
    # 2.12→1.51 s and 9.2→2.6 s at 8c) and flat on the Python stateful
    # drain; parts=2 regressed the Python drain. A production stream
    # sizes this to its state volume up front, for exactly the same
    # reason: it cannot be changed without a state rebuild. The state
    # store provider is the session's
    # spark.sql.streaming.stateStore.providerClass.
    conf = spark.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", str(drain_shuffle_partitions(prev)))
    ckpt = ephemeral_checkpoint_dir()
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination(timeout) returns False on expiry WITHOUT
        # stopping the query — reading the sink then would hand back a
        # silently PARTIAL result as if the drain completed (r11 review).
        # Fail loudly instead.
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"stream drain '{table_name}' did not complete in {timeout_s}s"
            )
    finally:
        if prev is not None:
            conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(table_name)


def hourly_partials_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of operators.events.hourly_partials — the tier-1
    continuous aggregate: watermarked hourly partial aggregates meant
    to be appended to the rollup store, from which the batch daily
    tier re-aggregates (see operators.events.daily_rollup_from_hourly).
    """
    win = F.window("ts", "1 hour")
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr(
                "TRY_CAST(ROUND(value * 10000, 0) AS BIGINT)")).alias("val_fx"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type", "n_events", "val_fx",
        )
    )


# ------------------------------------------------------ hard signal -----
_STREAM_Q_COUNTER = iter(range(1, 1_000_000))


def build_streaming_daily_rollup(
    spark: SparkSession, sf_dir: str, ctx=None
) -> DataFrame:
    """The streaming path under the driver's correctness gate: drain
    ``hourly_partials_stream`` with an ``availableNow`` trigger into a
    memory sink, then re-aggregate the drained hourly partials to day
    grain with the SAME ``daily_rollup_from_hourly`` the batch tier uses.
    Hash-checked against the raw-events daily oracle
    (operators.events.ORACLE_SQL_DAILY_ROLLUP) — i.e. a genuinely
    streaming-executed plan must reproduce the batch aggregation
    bit-for-bit (exact fixed-point partials make that possible).

    The memory-sink table name is unique per call: the sink's temp view
    outlives the query, and the returned DataFrame lazily reads it (the
    driver/bench trigger their own actions later).
    """
    from demo_etl_spark.operators.events import daily_rollup_from_hourly
    from demo_etl_spark.io import timed_events

    name = f"stream_daily_{os.getpid()}_{next(_STREAM_Q_COUNTER)}"
    hourly = run_available_now(
        hourly_partials_stream(
            timed_events(read_events_stream(spark, sf_dir))
        ),
        name,
    )
    return daily_rollup_from_hourly(hourly)


def build_streaming_session(spark: SparkSession, sf_dir: str, ctx=None) -> DataFrame:
    """Session windows under the correctness gate: drain the watermarked
    ``session_stream`` (``F.session_window`` — streaming's merging-state
    operator) with availableNow into a memory sink; complete mode keeps
    all session state so the drained result equals the batch
    ``session_window`` builder bit-for-bit, hash-checked against the
    gaps-and-islands oracle (operators.events.ORACLE_SQL_SESSION)."""
    name = f"stream_session_{os.getpid()}_{next(_STREAM_Q_COUNTER)}"
    from demo_etl_spark.io import timed_events

    return run_available_now(
        session_stream(epoch_bounded(timed_events(read_events_stream(spark, sf_dir)))),
        name,
    )


def build_streaming_user_totals(spark: SparkSession, sf_dir: str, ctx=None) -> DataFrame:
    """The arbitrary-stateful path (``applyInPandasWithState``) under the
    correctness gate: drain the per-user running-totals stream in update
    mode, then keep each user's LAST update (n_events is a strictly
    increasing cumulative counter, so argmax(n_events) is the final
    state regardless of how many micro-batches availableNow chose).
    The integer fixed-point state makes the result exactly the batch
    groupBy — hash-checked against a plain SQL aggregate."""
    from pyspark.sql.window import Window as _W

    name = f"stream_user_totals_{os.getpid()}_{next(_STREAM_Q_COUNTER)}"
    from demo_etl_spark.io import timed_events

    drained = run_available_now(
        user_totals_stateful_stream(
            timed_events(read_events_stream(spark, sf_dir))
        ),
        name,
        output_mode="update",
    )
    w = _W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        drained.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


#: exact-integer twin of the stateful stream's final per-user state
# quarantined source: rows without an event time or identity never
# enter the stateful stream (io.timed_events on the Spark side)
from demo_etl_spark.io import EVENTS_CLEAN_SQL as _EV_CLEAN

ORACLE_SQL_USER_TOTALS = f"""
SELECT user_id,
       COUNT(*) AS n_events,
       -- COALESCE: the stateful stream's counter initializes to 0, so a
       -- user whose only events carry NULL value reports 0, not NULL
       CAST(COALESCE(SUM(TRY_CAST(ROUND(value * 10000, 0) AS BIGINT)), 0)
            AS BIGINT) AS total_value_c,
       MAX(epoch_us(ts)) AS last_event_us
FROM {_EV_CLEAN}
GROUP BY user_id
"""


def user_totals_tws_stream(events: DataFrame) -> DataFrame:
    """The forward-looking twin of ``user_totals_stateful_stream`` on
    Spark 4's ``transformWithStateInPandas`` — typed per-key ValueState
    with an explicit processor lifecycle (init/handleInputRows/close),
    the API that adds composable state variables, timers and TTL over
    the single-blob applyInPandasWithState model. Same exact integer
    fixed-point accumulation, so the drained result is bit-equal to the
    batch aggregate (parity test). Requires the RocksDB state store
    provider (bundled with Spark 4) AND the ``protobuf`` Python package
    (the state-server protocol) — absent in this container, so the
    parity test importorskips; the operator is plan-complete and runs
    on any standard Spark 4 distribution with pyspark[sql] deps."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value_c", LongType()),
            StructField("last_event_us", LongType()),
        ]
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n BIGINT, val_c BIGINT, last_us BIGINT"
            )

        def handleInputRows(self, key, rows, timer_values):
            import numpy as np

            if self._state.exists():
                n, val_c, last_us = tuple(self._state.get())
            else:
                # LONG_MIN sentinel — same pre-1970 reasoning as the
                # applyInPandasWithState twin above
                n, val_c, last_us = 0, 0, -(1 << 63)
            for pdf in rows:
                n += len(pdf)
                v = pdf["value"].to_numpy(dtype="float64") * 10_000
                # nansum: NULL values (NaN here) contribute nothing,
                # like F.sum(money_fixed(value)) in the batch twin
                val_c += int(
                    np.nansum(np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)))
                )
                us = pdf["ts"].astype("int64") // 1_000
                last_us = max(last_us, int(us.max()))
            self._state.update((n, val_c, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value_c": [val_c],
                    "last_event_us": [last_us],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Totals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def build_streaming_dedup(spark: SparkSession, sf_dir: str, ctx=None) -> DataFrame:
    """Bounded-state streaming dedup under the correctness gate: stage
    the source TWICE (at-least-once redelivery), drain
    ``dropDuplicatesWithinWatermark`` — the result must equal the plain
    events table exactly (event_id is unique, so 2× delivery collapses
    back to one row per event). Oracle: SELECT * FROM events."""
    name = f"stream_dedup_{os.getpid()}_{next(_STREAM_Q_COUNTER)}"
    return run_available_now(
        dedup_stream(epoch_bounded(read_events_stream(spark, sf_dir, copies=2))),
        name,
        output_mode="append",
    )


def build_streaming_purchase_clicks(
    spark: SparkSession, sf_dir: str, ctx=None
) -> DataFrame:
    """The watermarked stream-stream interval self-join under the
    correctness gate: purchases ⋈ same-user clicks within 30 min,
    drained with availableNow — an inner interval join emits matches as
    both sides arrive, so the drained sink equals the batch interval
    join, spelled directly in the SQL oracle."""
    name = f"stream_pc_{os.getpid()}_{next(_STREAM_Q_COUNTER)}"
    return run_available_now(
        purchase_click_stream_join(epoch_bounded(read_events_stream(spark, sf_dir))),
        name,
        output_mode="append",
    )


# epoch_bounded's oracle predicate — see its docstring for why the
# watermarked row-level streaming twins restrict to the post-epoch domain
_EPOCH_SQL = "(ts IS NULL OR ts >= TIMESTAMP '1970-01-01 00:00:00')"

ORACLE_SQL_EVENTS_IDENTITY = f"""
SELECT event_id, ts, user_id, event_type, value, props FROM events
WHERE {_EPOCH_SQL} AND event_id IS NOT NULL
"""

ORACLE_SQL_PURCHASE_CLICKS = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.ts AS p_ts,
       c.ts AS c_ts
FROM events p
JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts > p.ts
 AND epoch_us(c.ts) <= epoch_us(p.ts) + 1800000000
WHERE p.ts >= TIMESTAMP '1970-01-01 00:00:00'
  AND c.ts >= TIMESTAMP '1970-01-01 00:00:00'
"""

# the session stream shares the batch gaps-and-islands oracle, but over
# the epoch-bounded domain (timed_events already demands a non-NULL ts,
# so the screen reduces to the >= predicate)
from demo_etl_spark.operators.events import ORACLE_SQL_SESSION as _SESS_SQL  # noqa: E402

ORACLE_SQL_SESSION_STREAMING = _SESS_SQL.replace(
    _EV_CLEAN,
    _EV_CLEAN.replace(
        ") events",
        " AND ts >= TIMESTAMP '1970-01-01 00:00:00') events",
    ),
)
assert ORACLE_SQL_SESSION_STREAMING != _SESS_SQL  # replace must have hit


# -------------------------------------------------- stream-static join --
def enriched_rollup_stream(
    events: DataFrame, customer_static: DataFrame
) -> DataFrame:
    """Stream-static dimension enrichment — the remaining standard
    Structured Streaming join shape (alongside the stream-stream join in
    ``purchase_clicks_stream``): each micro-batch equi-joins the STATIC
    customer dimension, then aggregates a watermarked daily rollup per
    market segment. The static side holds no streaming state at all —
    Spark re-plans it per micro-batch, broadcast here (a dimension table
    at 100 TB stream scale is exactly the classic broadcast-enrichment
    pattern; the stream side never shuffles for the join).

    LEFT join: stream rows whose user has no dimension row (quarantine
    keeps non-NULL user_ids that may still be unknown — e.g. negative
    hostile ids) land in an explicit 'UNKNOWN' segment rather than being
    silently dropped, so event conservation is auditable downstream.
    """
    seg = customer_static.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    win = F.window("ts", "1 day")
    return (
        events.withWatermark("ts", WATERMARK)
        .join(F.broadcast(seg), "user_id", "left")
        .groupBy(
            win.alias("w"),
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.expr("TRY_CAST(ROUND(value * 10000, 0) AS BIGINT)")
            ).alias("_val_c"),
        )
        .select(
            F.col("w.start").cast("date").alias("day"),
            "segment",
            "n_events",
            round_div("coalesce(_val_c, 0)", "10000", 2).alias("total_value"),
        )
    )


def build_streaming_enriched_rollup(
    spark: SparkSession, sf_dir: str, ctx=None
) -> DataFrame:
    """Stream-static join under the correctness gate: drain the enriched
    daily rollup (complete mode — plain watermarked agg) and hash-check
    it against the batch join+aggregate oracle. (No exact distinct:
    streaming aggregation rejects COUNT(DISTINCT) — the documented A5
    substitution is approx_count_distinct, which is non-oracle-able, so
    this rollup carries count + exact fixed-point sum only.)"""
    from demo_etl_spark.io import load_star, timed_events

    name = f"stream_enriched_{os.getpid()}_{next(_STREAM_Q_COUNTER)}"
    customer = load_star(spark, sf_dir)["customer"]
    return run_available_now(
        enriched_rollup_stream(
            timed_events(read_events_stream(spark, sf_dir)), customer
        ),
        name,
    )


from demo_etl_spark.functions.fixedpoint import round_div_expr as _rde

ORACLE_SQL_ENRICHED_ROLLUP = f"""
SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day,
       COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
       COUNT(*) AS n_events,
       {_rde("COALESCE(SUM(TRY_CAST(ROUND(e.value * 10000, 0) AS BIGINT)), 0)", "10000", 2, "duckdb")} AS total_value
FROM (SELECT * FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND (value IS NULL OR isfinite(value))) e
LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


# ------------------------------- streaming corpus quality gate ----------
def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet — the ingest shape
    of a continuously-crawled corpus (new shards arrive as files). Same
    directory-staging idiom as read_events_stream; no timestamp
    munging needed (documents carry no event time)."""
    batch_schema = _probed_schema(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    src = os.path.realpath(os.path.join(sf_dir, "documents.parquet"))
    stream_dir = os.path.join(
        tempfile.gettempdir(),
        f"demo_etl_spark_streams_{os.getuid()}_{os.getpid()}",
        src.strip("/").replace("/", "_"),
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return spark.readStream.schema(batch_schema).parquet(stream_dir)


def build_streaming_quality_gate(
    spark: SparkSession, sf_dir: str, ctx=None
) -> DataFrame:
    """The r10 composite quality gate EXECUTED AS A STREAM under the
    correctness gate: doc_quality_gate is a stateless map-only plan, so
    the identical expression tree runs unchanged over the file-source
    stream (the batch/stream unification Structured Streaming promises
    — and the shape a continuously-ingested corpus actually filters
    with: per-shard verdicts as shards land, no state, no watermark).
    The availableNow drain must hash-match the batch oracle exactly."""
    from demo_etl_spark.operators.text import doc_quality_gate

    name = f"stream_qgate_{os.getpid()}_{next(_STREAM_Q_COUNTER)}"
    return run_available_now(
        doc_quality_gate(read_documents_stream(spark, sf_dir)),
        name,
        output_mode="append",
    )
