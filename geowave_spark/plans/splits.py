"""Histogram-balanced split planning — the SplitsProvider analog.

The reference computes input splits whose ROW counts are balanced using
the per-partition row-range histograms persisted with the index
(core/store SplitsProvider + RowRangeHistogramStatistics: ranges are
subdivided until each split holds ≈ total/n rows).  Spark's own
``repartitionByRange`` gets the same balance by *sampling at runtime* —
an extra job per query.  This module reproduces the reference's
plan-from-statistics approach: a fixed-bin histogram partial persists
with the stats store at ingest (mergeable across appends by summation),
and split boundaries are interpolated from the merged cumulative
histogram at planning time — zero data-touching jobs.

Scale shape: the ingest-side partial is one map-side-combinable
``groupBy(part_key, bin)`` per append; planning reads only the (tiny)
stats parquet; the split assignment is a pure Catalyst expression
(array-filter count), so it fuses into the scan's codegen stage.  The
final exchange oversplits 4× and hashes down to ``n_splits`` tasks —
the balls-into-bins smoothing that the reference gets from
``HashPartitioner(1.5 × input partitions)`` (TieredSpatialJoin.java:168-172).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def update_histogram_statistics(
    df: DataFrame,
    path: str,
    part_col: str,
    field: str,
    lo: float,
    hi: float,
    nbins: int = 1024,
) -> None:
    """Append a fixed-bin histogram partial for this batch —
    (part_key, field, lo, hi, bin, n) rows, mergeable by summation
    (RowRangeHistogramStatistics analog; ``field`` is typically the SFC
    cell column, but any numeric works)."""
    histogram_partials(df, part_col, field, lo, hi, nbins).write.mode("append").parquet(f"{path}/hist")


def histogram_partials(
    df: DataFrame, part_col: str, field: str, lo: float, hi: float, nbins: int = 1024
) -> DataFrame:
    """The rows :func:`update_histogram_statistics` appends."""
    if not hi > lo:
        raise ValueError("hi must exceed lo")
    c = F.col(field).cast("double")
    bin_ = F.least(
        F.lit(nbins - 1),
        F.greatest(
            F.lit(0),
            F.floor((c - F.lit(lo)) / F.lit(hi - lo) * nbins).cast("int"),
        ),
    )
    return (
        df.where(c.isNotNull())
        .groupBy(
            F.col(part_col).cast("string").alias("part_key"),
            bin_.alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "part_key",
            F.lit(field).alias("field"),
            F.lit(float(lo)).alias("lo"),
            F.lit(float(hi)).alias("hi"),
            F.lit(nbins).alias("nbins"),
            "bin",
            "n",
        )
    )


def merged_histogram(
    spark: SparkSession, path: str, field: str
) -> tuple[float, float, np.ndarray]:
    """(lo, hi, counts[nbins]) folded across every append/partition."""
    rows = (
        spark.read.parquet(f"{path}/hist")
        .where(F.col("field") == field)
        .groupBy("lo", "hi", "nbins", "bin")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    if not rows:
        raise KeyError(f"no histogram for field {field!r} at {path}")
    lo, hi, nbins = rows[0]["lo"], rows[0]["hi"], rows[0]["nbins"]
    if any(r["lo"] != lo or r["hi"] != hi or r["nbins"] != nbins for r in rows):
        raise ValueError("histogram partials disagree on binning — re-ingest")
    counts = np.zeros(nbins, dtype=np.int64)
    for r in rows:
        counts[r["bin"]] += r["n"]
    return float(lo), float(hi), counts


def equi_depth_bounds(
    spark: SparkSession, path: str, field: str, n_splits: int
) -> list[float]:
    """``n_splits - 1`` boundary values splitting the persisted
    distribution into ≈equal-count ranges (linear interpolation inside
    the boundary bin — the same refinement the reference applies when a
    single histogram bucket spans a split point)."""
    lo, hi, counts = merged_histogram(spark, path, field)
    total = int(counts.sum())
    if total == 0 or n_splits < 2:
        return []
    cum = np.concatenate([[0], np.cumsum(counts)])
    width = (hi - lo) / len(counts)
    bounds = []
    for k in range(1, n_splits):
        target = total * k / n_splits
        b = int(np.searchsorted(cum, target, side="left"))  # cum[b] >= target
        in_bin = counts[b - 1]
        frac = (target - cum[b - 1]) / in_bin if in_bin else 0.0
        bounds.append(lo + (b - 1 + frac) * width)
    return bounds


def split_column(col: str | Column, bounds: list[float]) -> Column:
    """Split id 0..len(bounds) as a pure Catalyst expression: the count
    of boundaries ≤ value (array filter — codegen-friendly, no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    if not bounds:
        return F.lit(0)
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.size(F.filter(arr, lambda b: b <= c.cast("double")))


def repartition_by_splits(
    df: DataFrame,
    col: str,
    bounds: list[float],
    n_splits: int | None = None,
    oversplit: int = 4,
) -> DataFrame:
    """Repartition on histogram-derived splits with NO sampling job.

    ``bounds`` should come from :func:`equi_depth_bounds` called with
    ``n_splits * oversplit`` splits: hashing ~4 equal-count sub-splits
    into each task smooths the hash-collision imbalance (balls-into-bins)
    the way the reference's 1.5× HashPartitioner oversizing does."""
    n = n_splits or (len(bounds) + 1 + oversplit - 1) // oversplit
    return df.withColumn("_split", split_column(col, bounds)).repartition(
        n, F.col("_split")
    )
