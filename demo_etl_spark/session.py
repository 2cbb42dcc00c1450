"""SparkSession factory.

Local-mode builder used by tests and bench; in production the session is
provided by the cluster submit. AQE is always on (runtime shuffle-partition
coalescing + skew-join splitting matter at 100 TB; they are free locally).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark keeps Janino-compiled generated classes in a JVM-wide cache keyed
# on the generated source. Its default of 100 entries is far below what
# one run needs, so every re-run recompiled everything. Measured at
# sf0.001 on 4 cores: the 206 registered queries plus the 9 memo warmers
# compile 3,143 classes on a first pass; with this size a second pass
# recompiled 130 of them. On the 15 star queries of the benchmark, a
# re-run recompiled ~376 classes with the default and 0-4 with this size.
# 4096 holds the whole registry with headroom.
CODEGEN_CACHE_ENTRIES = 4096

# Finished jobs, and finished stages, the status store keeps (Spark's
# default is 1000 of each). One bench.py pass over the registry at sf0.001
# runs ~1,200 jobs and ~1,200 completed stages, and a run has 2-3 passes;
# bench.py reads the store once at the end and fails if any job or stage
# of the run was evicted before then.
STATUS_STORE_RETAINED = 20000


def get_spark(
    app_name: str = "demo-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    hive_support: bool = False,
) -> SparkSession:
    """Build (or join) the local session.

    ``hive_support=True`` backs the catalog with a real Hive metastore
    (embedded Derby under the warehouse dir locally) — the reference's
    S7-S9 DDL surface (``STORED AS PARQUET LOCATION``, ``format("hive")``
    appends) then runs verbatim. Note: ``getOrCreate`` joins an existing
    session as-is, so the flag only takes effect on a fresh JVM/session.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core, but never fewer
        # than 8, so AQE has room to coalesce at test scale; on a real
        # cluster this is sized to data volume and AQE coalesces down
        # from a higher initial value.
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Keep AQE from coalescing small shuffles below core count: inputs
        # here are tiny but operators amplify (explode/expand/join) — a
        # 2 MB shuffle input can fan out to 100M join rows, and with the
        # default 1 MB minPartitionSize those rows land on 1-2 tasks.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # static conf: only takes effect on the JVM's first session
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # local mode: driver == executor; size the heap for all cores'
        # concurrent task buffers or full GCs serialize the whole session
        # (observed: 8g/32 threads → queries degrade 14s → 474s)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # No UI (it adds noise to timings): bench.py and perfbench read
        # per-job and per-stage counters straight from the status store,
        # which Spark fills with the UI off too.
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", str(STATUS_STORE_RETAINED))
        .config("spark.ui.retainedStages", str(STATUS_STORE_RETAINED))
        # stdout hygiene: console progress bars write to the driver's
        # stdout and can interleave with (and truncate) the single JSON
        # line bench.py's consumer parses
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_WAREHOUSE_DIR", "/tmp/demo_etl_spark_warehouse"))
    )
    if hive_support:
        warehouse = os.environ.get(
            "SPARK_WAREHOUSE_DIR", "/tmp/demo_etl_spark_warehouse"
        )
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={warehouse}/derby",
        ).enableHiveSupport()
    return builder.getOrCreate()
