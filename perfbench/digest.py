"""Order-independent content digest of a DataFrame.

One action reads every output column: each row is hashed with
``xxhash64`` over all columns (floats rounded to 9 decimals, as the
contract checker's ``normalize`` does, and maps turned into sorted
entry arrays), and the row hashes are summed as exact decimals. Row
order and partitioning cannot change the digest; any value change
beyond the rounding does. ``.count()`` would let Spark prune columns
whose pandas UDFs then never run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, DoubleType, FloatType, MapType, StructType

FLOAT_DIGITS = 9


def _canon(c: Column, t: DataType) -> Column:
    if isinstance(t, (DoubleType, FloatType)):
        return F.round(c.cast("double"), FLOAT_DIGITS)
    if isinstance(t, ArrayType):
        if _is_plain(t.elementType):
            return c
        return F.transform(c, lambda e: _canon(e, t.elementType))
    if isinstance(t, StructType):
        if all(_is_plain(f.dataType) for f in t.fields):
            return c
        return F.struct(*[_canon(c[f.name], f.dataType).alias(f.name) for f in t.fields])
    if isinstance(t, MapType):
        entries = F.map_entries(c)
        entry_t = StructType().add("key", t.keyType).add("value", t.valueType)
        return F.array_sort(_canon(entries, ArrayType(entry_t)))
    return c


def _is_plain(t: DataType) -> bool:
    if isinstance(t, (DoubleType, FloatType, MapType)):
        return False
    if isinstance(t, ArrayType):
        return _is_plain(t.elementType)
    if isinstance(t, StructType):
        return all(_is_plain(f.dataType) for f in t.fields)
    return True


def digest(df: DataFrame) -> str:
    """``"<rows>:<sum of row hashes>"`` over all columns of ``df``;
    column order is canonicalized by name."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    if not fields:
        return f"{df.count()}:0"
    cols = [_canon(F.col(f"`{f.name}`"), f.dataType) for f in fields]
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return f"{row['n']}:{row['s'] or 0}"
