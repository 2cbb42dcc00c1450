"""functions/distrank.py vs Spark's native global window functions —
the exactness pin that lets operators swap single-task global windows
for the distributed decomposition without touching their oracles."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from demo_etl_spark.functions.distrank import exact_global_rank, ntile_sql


def _frame(spark, n, value_range, seed):
    rng = random.Random(seed)
    rows = [(i, rng.randrange(*value_range)) for i in range(n)]
    return spark.createDataFrame(rows, "id long, v long")


def test_rank_matches_native_row_number(spark):
    """Tie-heavy values (range 0..9 over 500 rows) force every bucket
    boundary case; both directions must equal the native global
    row_number bit-for-bit."""
    df = _frame(spark, 500, (0, 10), seed=3).repartition(7)
    for asc in (True, False):
        order = [F.asc("v") if asc else F.desc("v"), F.asc("id")]
        native = df.withColumn(
            "rank", F.row_number().over(Window.orderBy(*order)).cast("long")
        )
        got = exact_global_rank(df, "v", ["id"], ascending=asc, rank_col="rank")
        n = {(r["id"]): r["rank"] for r in native.collect()}
        g = {(r["id"]): r["rank"] for r in got.collect()}
        assert g == n, f"ascending={asc}"


def test_rank_single_value_and_tiny_frames(spark):
    """All rows share one value (bucket arithmetic degenerates to one
    bucket) and a 1-row frame (lo == hi, n < buckets)."""
    one_val = spark.createDataFrame(
        [(i, 7) for i in range(40)], "id long, v long"
    )
    got = exact_global_rank(one_val, "v", ["id"], rank_col="rank")
    assert {r["id"]: r["rank"] for r in got.collect()} == {
        i: i + 1 for i in range(40)
    }
    single = spark.createDataFrame([(0, 5)], "id long, v long")
    assert exact_global_rank(single, "v", ["id"], rank_col="rank").first()[
        "rank"
    ] == 1


def test_ntile_formula_matches_native_ntile(spark):
    """ntile_sql over the exact rank == native NTILE for bucket counts
    around every divisibility edge (n % b == 0, n < b, n == b±1)."""
    for n, b, seed in ((500, 5, 1), (503, 5, 2), (4, 5, 3), (6, 5, 4),
                       (500, 7, 5), (49, 7, 6)):
        df = _frame(spark, n, (0, 8), seed=seed).repartition(5)
        order = [F.asc("v"), F.asc("id")]
        native = df.withColumn(
            "t", F.ntile(b).over(Window.orderBy(*order)).cast("long")
        )
        got = exact_global_rank(
            df, "v", ["id"], rank_col="_rk", total_col="_n"
        ).withColumn("t", F.expr(ntile_sql("_rk", "_n", b, "spark")).cast("long"))
        nat = {r["id"]: r["t"] for r in native.collect()}
        dec = {r["id"]: r["t"] for r in got.collect()}
        assert dec == nat, (n, b)


def test_ntile_sql_duckdb_dialect_matches_native(spark):
    """The duckdb dialect of the same formula equals DuckDB's native
    ntile — so an operator can decompose Spark-side while its oracle
    keeps native ntile."""
    from tools import oracle_db

    con = oracle_db.connect()
    for n, b in ((503, 5), (4, 5), (50, 7)):
        con.execute("DROP TABLE IF EXISTS t")
        con.execute(
            "CREATE TABLE t AS SELECT i AS id, i % 9 AS v "
            f"FROM range({n}) r(i)"
        )
        rows = con.sql(f"""
            WITH r AS (
              SELECT id,
                     row_number() OVER (ORDER BY v, id) AS rk,
                     COUNT(*) OVER () AS n,
                     ntile({b}) OVER (ORDER BY v, id) AS native
              FROM t
            )
            SELECT COUNT(*) FROM r
            WHERE native <> {ntile_sql('rk', 'n', b, 'duckdb')}
        """).fetchone()
        assert rows[0] == 0, (n, b)


def test_grouped_rank_matches_native_partitioned_row_number(spark):
    """exact_grouped_rank == native row_number PARTITIONED by group,
    on a tie-heavy multi-group frame with NULL values mixed in (NULLs
    must sort LAST, matching DuckDB's window default)."""
    from demo_etl_spark.functions.distrank import exact_grouped_rank

    rng = random.Random(11)
    rows = [
        (i, ["a", "b", "c"][i % 3],
         None if rng.random() < 0.05 else rng.randrange(0, 10))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v long").repartition(7)
    native = df.withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy("g").orderBy(
                F.asc_nulls_last("v"), F.asc_nulls_last("id")
            )
        )
        .cast("long"),
    )
    got = exact_grouped_rank(df, "g", "v", ["id"], rank_col="rank",
                             total_col="n")
    n = {r["id"]: r["rank"] for r in native.collect()}
    rows_got = got.collect()
    g = {r["id"]: r["rank"] for r in rows_got}
    assert g == n
    # per-group totals
    from collections import Counter
    sizes = Counter(r[1] for r in rows)
    assert all(r["n"] == sizes[r["g"]] for r in rows_got)


def test_prefix_sum_matches_native_running_sum(spark):
    """The distributed global prefix sum equals the native single-task
    running-sum window bit-for-bit, both directions, on tie-heavy
    values (every bucket boundary case) including NULL addends."""
    from demo_etl_spark.functions.distrank import exact_global_prefix_sum

    rng = random.Random(11)
    rows = [
        (i, rng.randrange(0, 10), None if i % 17 == 0 else rng.randrange(-50, 100))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, v long, s long").repartition(7)
    for asc in (True, False):
        order = [F.asc("v") if asc else F.desc("v"), F.asc("id")]
        w = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        native = df.withColumn(
            "p", F.coalesce(F.sum("s").over(w), F.lit(0)).cast("long")
        )
        got = exact_global_prefix_sum(
            df, "v", ["id"], sum_col="s", ascending=asc, prefix_col="p",
            n_buckets=4,
        )
        n = {r["id"]: r["p"] for r in native.collect()}
        g = {r["id"]: r["p"] for r in got.collect()}
        assert g == n, f"ascending={asc}"


def test_part_abc_classes_and_crossing_convention(spark):
    """ABC boundaries on a hand frame (cents 80/10/6/4, total 100):
    the 80%-crossing part is still A at exactly the boundary, the next
    falls to B, the tail to C; shares are exact HALF_UP 4dp."""
    from demo_etl_spark.operators.product import part_revenue_abc

    lineitem = spark.createDataFrame(
        [
            (1, 0.80, 0.0),
            (2, 0.10, 0.0),
            (3, 0.06, 0.0),
            (4, 0.04, 0.0),
        ],
        "l_partkey long, l_extendedprice double, l_discount double",
    )
    out = {r["part_id"]: r for r in part_revenue_abc(lineitem).collect()}
    assert [out[k]["abc_class"] for k in (1, 2, 3, 4)] == ["A", "B", "C", "C"]
    assert out[1]["cum_share"] == 0.8
    assert out[2]["cum_share"] == 0.9
    assert out[4]["cum_share"] == 1.0
    assert out[1]["revenue"] == 0.8
