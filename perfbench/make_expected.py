"""Write perfbench/expected.json: the outputs a correct program produces.

    python3 perfbench/make_expected.py [--part queries|etl ...]

For each registry query the fingerprint is recorded only after the query's
collected rows hash-match its DuckDB oracle twin (``oracle_sql()``) with
the comparison ``tools/verify_oracle.py`` uses; a query without a twin must
return rows. For the pipeline the sales and asset fingerprints are
recorded for every fixture seed the benchmark can pick. Run from the root
of a checkout after a change that is meant to alter outputs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import configure, stop_spark  # noqa: E402

#: the entries of expected.json: every workload query, and the pipeline's
#: outputs for each fixture seed
PARTS = ("queries", "etl")


def registry_expected(spark, queries: tuple[str, ...]) -> dict:
    import duckdb

    import __spark_entry__
    from perfbench import fingerprint
    from perfbench.workloads import SF_DIR
    from tools.verify_oracle import value_hash

    registry, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    out = {}
    for name in queries:
        df = registry[name](spark, SF_DIR)
        rows = [tuple(r) for r in df.collect()]
        if name in oracles:
            rel = con.sql(oracles[name])
            if value_hash(df.columns, rows) != value_hash(rel.columns, rel.fetchall()):
                raise SystemExit(f"{name}: Spark result differs from its oracle")
        elif not rows:
            raise SystemExit(f"{name}: empty result and no oracle")
        df, obs = fingerprint.observed(registry[name](spark, SF_DIR))
        df.write.mode("overwrite").format("noop").save()
        out[name] = fingerprint.result(obs)
        print(f"  {name}: {out[name]}", flush=True)
    con.close()
    return out


def etl_expected(spark, wl, work: str) -> dict:
    from demo_etl_spark import io, schemas
    from demo_etl_spark.plans.reference_pipeline import job1_sales_data, job2_asset
    from perfbench import fingerprint
    from perfbench.workloads import etl_context, write_fixtures

    out = {}
    for seed in range(wl.data_seeds):
        src = write_fixtures(wl, seed, os.path.join(work, f"source{seed}"))
        ctx = etl_context(seed)
        sales, obs_sales = fingerprint.observed(job1_sales_data(
            io.read_csv(spark, src["customers"], schemas.REF_CUSTOMERS),
            io.read_csv(spark, src["products"], schemas.REF_PRODUCTS),
            io.read_csv(spark, src["orders"], schemas.REF_ORDERS),
            ctx,
        ))
        sales_path = os.path.join(work, "sales")
        sales.write.mode("overwrite").parquet(sales_path)
        asset, obs_asset = fingerprint.observed(
            job2_asset(spark, spark.read.parquet(sales_path), ctx))
        asset.write.mode("overwrite").format("noop").save()
        out[str(seed)] = {"sales": fingerprint.result(obs_sales),
                          "asset": fingerprint.result(obs_asset)}
        print(f"  etl seed {seed}: {out[str(seed)]}", flush=True)
    return out


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    settings = configure(work)
    from demo_etl_spark import io
    from demo_etl_spark.session import get_spark
    from perfbench.workloads import WORKLOADS, SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--part", nargs="*", choices=PARTS, default=list(PARTS),
                    help="rewrite only these entries")
    args = ap.parse_args()
    path = os.path.join(HERE, "expected.json")
    expected = {}
    if os.path.exists(path):
        with open(path) as fh:
            expected = {k: v for k, v in json.load(fh).items() if k in PARTS}
    try:
        spark = get_spark("perfbench-expected", cpus=int(settings["SPARK_GRAFT_CPUS"]))
        spark.sparkContext.setLogLevel("ERROR")
        io.load_star(spark, SF_DIR)
        if "queries" in args.part:
            names = sorted({q for wl in WORKLOADS.values() for q in wl.queries})
            expected["queries"] = registry_expected(spark, names)
        if "etl" in args.part:
            etl = next(wl.etl for wl in WORKLOADS.values() if wl.etl)
            expected["etl"] = etl_expected(spark, etl, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
