"""Dataset-maintenance and extra-source coverage (maintenance.py, io JSON)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from demo_etl_spark import io, maintenance


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    path = str(tmp_path / "target")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    merged = maintenance.merge_upsert(spark, path, updates, "k")
    rows = {r["k"]: (r["name"], r["v"]) for r in merged.collect()}
    assert rows == {
        1: ("a", 10.0),   # untouched
        2: ("b2", 99.0),  # updated in place
        3: ("c", 30.0),   # untouched
        4: ("d", 40.0),   # inserted
    }
    # in-place rewrite really landed on disk
    again = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert again[2] == 99.0 and 4 in again


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    path = str(tmp_path / "fragmented")
    # 64 tiny files
    spark.range(10_000).repartition(64).write.parquet(path)
    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert before == 64
    maintenance.compact_parquet(spark, path, target_mb=256)
    after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert after < before
    assert spark.read.parquet(path).count() == 10_000


def test_clustered_write_sorts_within_files(spark, tmp_path):
    path = str(tmp_path / "clustered")
    df = spark.range(10_000).select(
        (F.col("id") * 2654435761 % 10_000).alias("k"), F.col("id").alias("v")
    )
    maintenance.clustered_write(df, path, ["k"], n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    # each file covers a narrow, sorted range: per-file sortedness holds
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.input_file_name()).orderBy(F.monotonically_increasing_id())
    ooo = (
        back.withColumn("_prev", F.lag("k").over(w))
        .filter(F.col("_prev").isNotNull() & (F.col("k") < F.col("_prev")))
        .count()
    )
    assert ooo == 0
    # and file ranges don't interleave much: max of file A <= min of file B or ranges disjoint
    ranges = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # range partitioning: disjoint key ranges


def test_json_round_trip(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("id", LongType()), StructField("tag", StringType())]
    )
    df = spark.createDataFrame([(1, "x"), (2, "y")], schema)
    path = str(tmp_path / "json_rt")
    io.write_json(df, path)
    back = io.read_json(spark, path, schema)
    assert sorted(map(tuple, back.collect())) == [(1, "x"), (2, "y")]


def test_scd2_upsert_versions_history(spark, tmp_path):
    from demo_etl_spark import maintenance

    path = str(tmp_path / "dim_customer")
    spark.createDataFrame(
        [(1, "alice", "BUILDING"), (2, "bob", "MACHINERY")],
        "custkey long, name string, segment string",
    ).write.parquet(path)

    # batch 1: update key 1, insert key 3
    upd1 = spark.createDataFrame(
        [(1, "alice", "AUTOMOBILE", "2024-03-01"), (3, "carol", "HOUSEHOLD", "2024-03-01")],
        "custkey long, name string, segment string, eff string",
    )
    out = maintenance.scd2_upsert(spark, path, upd1, "custkey", "eff")
    rows = {(r["custkey"], r["segment"], r["is_current"]): r for r in out.collect()}
    assert len(rows) == 4  # closed v1 of key1, current v2, bob, carol
    closed = rows[(1, "BUILDING", False)]
    assert str(closed["valid_to"]) == "2024-03-01"
    assert rows[(1, "AUTOMOBILE", True)]["is_current"]
    assert rows[(2, "MACHINERY", True)]["is_current"]
    assert rows[(3, "HOUSEHOLD", True)]["is_current"]

    # batch 2: update key 1 again — history accumulates, one current row
    upd2 = spark.createDataFrame(
        [(1, "alice", "FURNITURE", "2024-06-01")],
        "custkey long, name string, segment string, eff string",
    )
    out2 = maintenance.scd2_upsert(spark, path, upd2, "custkey", "eff")
    k1 = sorted(
        ((str(r["valid_from"]), str(r["valid_to"]), r["is_current"], r["segment"])
         for r in out2.collect() if r["custkey"] == 1)
    )
    assert k1 == [
        ("1900-01-01", "2024-03-01", False, "BUILDING"),
        ("2024-03-01", "2024-06-01", False, "AUTOMOBILE"),
        ("2024-06-01", "9999-12-31", True, "FURNITURE"),
    ]
    # exactly one current version per key
    cur = out2.filter("is_current").groupBy("custkey").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_zorder_write_narrows_both_columns(spark, tmp_path):
    """Z-order vs single-column clustering on (x, y): lexicographic
    range+sort on x leaves y's per-file ranges ~full-width; the Morton
    layout must keep BOTH columns' average per-file width well below
    the global width (parquet footer stats = what a scan prunes on)."""
    import pyarrow.parquet as pq
    from demo_etl_spark import maintenance

    n, files = 4096, 8
    df = spark.range(n).selectExpr(
        "CAST(id % 64 AS BIGINT) AS x", "CAST(id DIV 64 AS BIGINT) AS y"
    )

    def avg_widths(path):
        import glob
        widths = {"x": [], "y": []}
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for col in (0, 1):
                name = md.schema.column(col).name
                los, his = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(col).statistics
                    los.append(st.min)
                    his.append(st.max)
                widths[name].append(max(his) - min(los))
        return {k: sum(v) / len(v) for k, v in widths.items()}

    zpath, cpath = str(tmp_path / "zorder"), str(tmp_path / "linear")
    maintenance.zorder_write(df, zpath, ["x", "y"], n_files=files, bits=6)
    maintenance.clustered_write(df, cpath, ["x"], n_files=files)

    zw, cw = avg_widths(zpath), avg_widths(cpath)
    # linear clustering: x narrow, y unpruned (~full 0..63 width)
    assert cw["x"] <= 16 and cw["y"] >= 48
    # z-order: BOTH columns' average per-file range well below the full
    # 0..63 domain (range-partition boundaries don't align to quadrant
    # edges, so widths exceed the ideal 32/16 split but stay far from
    # the linear layout's unpruned ~63)
    assert zw["x"] <= 40 and zw["y"] <= 40
    # and strictly better total prunability than the linear layout
    assert zw["x"] + zw["y"] < cw["x"] + cw["y"]


def test_schema_evolution_append_and_merged_read(spark, tmp_path):
    """v2 adds a column: merged read unions schemas, v1 rows surface
    NULL for it, and filters on ORIGINAL columns still push to parquet."""
    from demo_etl_spark.maintenance import evolve_append, read_evolved

    path = str(tmp_path / "evolved")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string") \
        .write.parquet(path)
    evolve_append(
        spark.createDataFrame([(3, "c", 9.5)],
                              "id long, name string, score double"),
        path,
    )
    df = read_evolved(spark, path)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 3
    assert rows[1]["score"] is None and rows[3]["score"] == 9.5
    plan = df.filter(F.col("id") == 3)._jdf.queryExecution() \
        .executedPlan().treeString()
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,3)]" in plan


def test_versioned_table_time_travel_and_vacuum(spark, tmp_path):
    """append/overwrite commits, snapshot reads of every version, and
    vacuum deleting exactly the files only dropped versions reference."""
    import glob

    from demo_etl_spark.maintenance import (
        read_version,
        table_versions,
        vacuum_versions,
        versioned_write,
    )

    path = str(tmp_path / "vt")
    v1 = versioned_write(spark, spark.range(0, 10), path, mode="append")
    v2 = versioned_write(spark, spark.range(10, 15), path, mode="append")
    v3 = versioned_write(spark, spark.range(100, 103), path, mode="overwrite")
    assert (v1, v2, v3) == (1, 2, 3)
    assert table_versions(path) == [1, 2, 3]
    # snapshot isolation: every version still reads its exact state
    assert read_version(spark, path, 1).count() == 10
    got_v2 = {r["id"] for r in read_version(spark, path, 2).collect()}
    assert got_v2 == set(range(15))
    got_v3 = {r["id"] for r in read_version(spark, path).collect()}
    assert got_v3 == {100, 101, 102}
    # vacuum to latest only: v1/v2's files (not shared with v3) vanish
    n_files_before = len(glob.glob(f"{path}/data/*/*.parquet"))
    dropped, deleted = vacuum_versions(path, keep_last=1)
    assert dropped == 2 and deleted > 0
    assert table_versions(path) == [3]
    assert read_version(spark, path).count() == 3
    assert len(glob.glob(f"{path}/data/*/*.parquet")) == n_files_before - deleted
    import pytest

    with pytest.raises(FileNotFoundError):
        read_version(spark, path, 1)


def test_versioned_append_shares_files_across_versions(spark, tmp_path):
    """An append commit REFERENCES the previous files, never copies:
    vacuum keeping v2 must preserve v1's physical files (v2 lists
    them), and the byte paths in both manifests overlap."""
    import json

    from demo_etl_spark.maintenance import (
        _manifest_path,
        read_version,
        vacuum_versions,
        versioned_write,
    )

    path = str(tmp_path / "vt2")
    versioned_write(spark, spark.range(0, 8), path, mode="append")
    versioned_write(spark, spark.range(8, 12), path, mode="append")
    with open(_manifest_path(path, 1)) as fh:
        f1 = set(json.load(fh)["files"])
    with open(_manifest_path(path, 2)) as fh:
        f2 = set(json.load(fh)["files"])
    assert f1 < f2  # strict subset: append shares, then extends
    dropped, deleted = vacuum_versions(path, keep_last=1)
    assert dropped == 1 and deleted == 0  # v1's files live on in v2
    assert read_version(spark, path).count() == 12


def test_scaling_slope_bytes_table(tmp_path, capsys):
    """The byte-slope comparison mode (r11: the honest 100x linearity
    evidence) — ratio math, new-query handling and the SUPER-LINEAR
    verdict threshold over two synthetic recordings."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    import scaling_slope

    def record(counters: dict) -> str:
        """A bench.py record whose pass-1 queries carry these byte counters."""
        return json.dumps({
            "queries": {k: 1.0 for k in counters},
            "passes": [{"queries": {k: {"sec": 1.0, "shuffle_write_bytes": w, "spill_bytes": 0}
                                    for k, w in counters.items()}}],
        })

    small = tmp_path / "small.json"
    large = tmp_path / "large.json"
    small.write_text(record({"linear": 1_000_000, "blowup": 100_000}))
    large.write_text(record({"linear": 10_500_000, "blowup": 5_000_000, "fresh": 7}))
    assert scaling_slope.bytes_table(str(small), str(large), 10.0) == 0
    out = capsys.readouterr().out
    assert "| linear | 1,000,000 | 10,500,000 | 10.5x | 0 | ok |" in out
    assert "| blowup | 100,000 | 5,000,000 | 50.0x | 0 | SUPER-LINEAR |" in out
    assert "1 super-linear" in out
