"""Physical-type parity audit: Spark result schema vs DuckDB oracle types.

The r3-r7 `sequence_packing`/`sequence_spans` driver reds were a FETCH-LAYER
type divergence, not a value divergence: DuckDB types integer SUM() as
HUGEINT (int128), and a pandas-path fetch (`fetchdf()`) downcasts HUGEINT to
float64 — so a column that Spark emits as BIGINT hashes as `3` on one side
and `3.0` on the other. Our local mirror (tools/verify_oracle.py) uses
`fetchall()`, which yields exact Python ints for HUGEINT — masking the class
entirely. Proof: in CORRECTNESS_r07.json every red query has >=1 uncast
HUGEINT-derived output column and every green packing-family query has none.

This tool flags EVERY query whose oracle's DuckDB column types don't
physically match the Spark result schema, so each one can be pinned with an
explicit CAST. Run:  python tools/audit_types.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

#: DuckDB logical type -> the Spark simpleString it is fetch-equivalent to.
#: Anything not mapped 1:1 here is reported.
_DUCK_TO_SPARK = {
    "BIGINT": "bigint",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "TIMESTAMP": "timestamp_ntz",
    "BLOB": "binary",
}


def _spark_name(dt) -> str:
    return dt.simpleString()


def main() -> int:
    from tools import oracle_db
    from demo_etl_spark.session import get_spark
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("audit-types")
    con = oracle_db.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_flagged = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            sdf = fn(spark, sf_dir)
            stypes = {f.name: _spark_name(f.dataType) for f in sdf.schema.fields}
            rel = con.sql(oracles[name])
            dtypes = dict(zip(rel.columns, [str(t) for t in rel.types]))
        except Exception as e:  # noqa: BLE001 - audit must survive one bad query
            print(f"{name:36s} ERROR {type(e).__name__}: {e}")
            n_flagged += 1
            continue
        mism = []
        for col, st in sorted(stypes.items()):
            dt = dtypes.get(col)
            if dt is None:
                mism.append(("HARD", col, st, "<missing>"))
                continue
            base = dt.split("(")[0]
            if base in ("DECIMAL", "HUGEINT", "UBIGINT", "UINTEGER"):
                mism.append(("HARD", col, st, dt))
            elif _DUCK_TO_SPARK.get(base, base.lower()) != st:
                # arrays: compare element class loosely
                if st.startswith("array") and base == "LIST":
                    continue
                # driver-proven-benign classes (both gated green with
                # them: doc_chunks int/BIGINT, events_session
                # timestamp/TIMESTAMP): report, don't fail
                if base == "TIMESTAMP" and st in ("timestamp", "timestamp_ntz"):
                    continue
                integral = {"tinyint", "smallint", "int", "bigint"}
                if base in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT") and (
                    st in integral
                ):
                    mism.append(("soft", col, st, dt))
                else:
                    mism.append(("HARD", col, st, dt))
        if mism:
            if any(kind == "HARD" for kind, *_ in mism):
                n_flagged += 1
            print(f"{name:36s} {len(mism)} col(s):")
            for kind, col, st, dt in mism:
                print(f"    {kind} {col:28s} spark={st:12s} duck={dt}")
    print(f"\nhard-flagged queries: {n_flagged}")
    return 1 if n_flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
