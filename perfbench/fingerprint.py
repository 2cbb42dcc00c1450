"""Row count and order-insensitive content fingerprint of a DataFrame.

The fingerprint is computed by the same action that runs the query: an
``Observation`` attached to the write collects ``count(1)`` and the sum of
one 64-bit hash per row, so checking an output costs no second pass.

Each row is normalised the way ``tools/verify_oracle.py`` normalises
values before hashing: columns in name order, NULL as ``∅``, floats to 9
significant digits, booleans lower-case, containers element by element.
The sum is taken as a decimal so it cannot overflow under ANSI mode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

NULL = "∅"


def _norm(c: Column, dt: T.DataType) -> Column:
    """Spark expression rendering one value of type ``dt`` as a string."""
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        s = F.format_string("%.9g", c)
    elif isinstance(dt, T.BooleanType):
        s = F.lower(c.cast("string"))
    elif isinstance(dt, T.BinaryType):
        s = F.hex(c)
    elif isinstance(dt, T.ArrayType):
        s = F.concat(
            F.lit("["),
            F.array_join(F.transform(c, lambda x: _norm(x, dt.elementType)), ","),
            F.lit("]"),
        )
    elif isinstance(dt, T.StructType):
        parts = [_norm(c.getField(f.name), f.dataType) for f in dt.fields]
        s = F.concat(F.lit("["), F.concat_ws(",", *parts), F.lit("]"))
    elif isinstance(dt, T.MapType):
        entries = F.transform(
            F.map_entries(c),
            lambda e: F.concat(
                _norm(e["key"], dt.keyType), F.lit(":"), _norm(e["value"], dt.valueType)
            ),
        )
        s = F.concat(F.lit("{"), F.array_join(F.array_sort(entries), ","), F.lit("}"))
    elif isinstance(dt, T.VariantType):
        s = F.to_json(c)
    else:
        s = c.cast("string")
    return F.coalesce(s, F.lit(NULL))


def row_hash(df: DataFrame) -> Column:
    """64-bit hash of each row's normalised, name-ordered rendering."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    parts = [_norm(F.col(f"`{f.name}`"), f.dataType) for f in fields]
    return F.xxhash64(F.concat_ws("|", *parts))


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an Observation that yields ``rows`` and ``fp`` once an
    action over the returned frame has finished."""
    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash(df).cast("decimal(20,0)")), F.lit(0)).alias("fp"),
    )
    return out, obs


def result(obs: Observation) -> dict:
    """``{"rows": int, "fp": str}`` from a completed Observation."""
    got = obs.get
    return {"rows": int(got["rows"]), "fp": str(int(got["fp"]))}
