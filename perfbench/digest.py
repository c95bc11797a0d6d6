"""Order-insensitive digest of a DataFrame's rows, computed in Spark.

Each row hashes to ``xxhash64`` over its normalised columns and the
digest is the exact DECIMAL sum of those hashes, so it does not depend
on row order or partitioning.  Floating-point values are first printed
to fewer digits than their type carries (9 significant digits for
double, 6 for float), so a last-bit difference from a different
summation order does not change the digest; ``-0.0`` prints as ``0``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# columns whose value is the wall-clock time of the run
VOLATILE_COLUMNS = ("_created_at",)


def normalise(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        digits = 9 if isinstance(dtype, T.DoubleType) else 6
        return F.format_string(f"%.{digits}g", col.cast("double") + F.lit(0.0))
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: normalise(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[normalise(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    if isinstance(dtype, T.MapType):
        return F.to_json(col)
    return col


def digest_column(df: DataFrame) -> Column:
    """Aggregate expression: the digest of ``df``'s rows (use with
    ``observe`` or ``agg``)."""
    cols = [normalise(F.col(f"`{f.name}`"), f.dataType)
            for f in df.schema.fields if f.name not in VOLATILE_COLUMNS]
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def digest(df: DataFrame) -> str:
    return str(df.agg(digest_column(df).alias("d")).first()["d"])
