"""Order-insensitive output digests that force a query to completion.

One aggregate reads every output column: the row count, the sum of
``xxhash64`` over all columns, and the sum of any rank-like column whose
per-row value may trade places between exact ties.  A bare ``count()``
would let Catalyst prune columns (and the UDFs that make them), so a run
would skip work users pay for.  Doubles are rounded to 6 decimals before
hashing: aggregation order across shuffle partitions is not fixed, and
the last bits of a floating sum may differ between runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType


def digest_frame(df: DataFrame, loose: tuple[str, ...] = ()) -> DataFrame:
    """One-row frame ``(rows, hash, loose)`` digesting ``df``."""
    cols = []
    for field in df.schema.fields:
        if field.name in loose:
            continue
        c = F.col(field.name)
        if isinstance(field.dataType, (DoubleType, FloatType)):
            c = F.round(c, 6)
        cols.append(c)
    loose_sum = (
        F.round(sum((F.sum(c) for c in loose), F.lit(0.0)), 4)
        if loose
        else F.lit(0.0)
    )
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(20,0)")), F.lit(0).cast("decimal(30,0)")
        ).alias("hash"),
        loose_sum.alias("loose"),
    )


def collect_digest(agg: DataFrame) -> dict:
    row = agg.collect()[0]
    return {"rows": int(row["rows"]), "hash": str(row["hash"]), "loose": float(row["loose"])}


def digest(df: DataFrame, loose: tuple[str, ...] = ()) -> dict:
    return collect_digest(digest_frame(df, loose))
