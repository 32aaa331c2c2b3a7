"""Spatially-binned aggregation, bbox/time-range aggregates, subsampling,
and the statistics surface.

Re-expression of GeoWave's aggregation system (SURVEY.md §2.4):
- BinningAggregation + SpatialSimpleFeatureBinningStrategy (H3/S2/GeoHash)
  → ``groupBy(cell).agg(...)`` — partial+final hash agg, fully native.
  Cell schemes available: integer grid (pure Catalyst), geohash string
  (pandas UDF), Hilbert cell (pandas UDF).
- BoundingBoxAggregation (core/geotime/.../aggregate/BoundingBoxAggregation.java)
  → min/max of lon/lat.
- TimeRangeAggregation → min/max of a timestamp.
- FixedBinNumericHistogramStatistic → width-bucket histogram via floor
  arithmetic (SQL-portable).
- FixedResolutionSubsampleQueryFilter (render subsampling: ≤1 row per
  coarse cell) → window row_number() == 1 with a deterministic order.
- HyperLogLog / CountMinSketch statistics → approx_count_distinct /
  count_min_sketch built-ins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..encode import geohash_udf, h3_udf, point_cell_udf, s2_cell_udf
from ..sfc import TieredStrategy


def grid_cell_cols(lon: str, lat: str, cell_deg: float) -> tuple[Column, Column]:
    """Integer grid cell (pure Catalyst — whole-stage codegen friendly)."""
    return (
        F.floor((F.col(lon) + F.lit(180.0)) / F.lit(cell_deg)).alias("cx"),
        F.floor((F.col(lat) + F.lit(90.0)) / F.lit(cell_deg)).alias("cy"),
    )


def binned_agg(
    df: DataFrame,
    aggs: list[Column],
    lon: str = "lon",
    lat: str = "lat",
    scheme: str = "grid",
    cell_deg: float = 5.0,
    geohash_precision: int = 4,
    strategy: TieredStrategy | None = None,
    tier: int = 8,
    s2_level: int = 8,
    h3_res: int = 4,
) -> DataFrame:
    """Group-by-spatial-bin aggregation (BinningAggregation analog).

    Schemes mirror SpatialBinningType (H3 | S2 | GEOHASH) plus the
    engine's grid/hilbert bins; all run as one hash aggregation with
    map-side partials."""
    if scheme == "grid":
        cx, cy = grid_cell_cols(lon, lat, cell_deg)
        return df.groupBy(cx, cy).agg(*aggs)
    if scheme == "geohash":
        gh = geohash_udf(geohash_precision)(F.col(lon), F.col(lat)).alias("geohash")
        return df.groupBy(gh).agg(*aggs)
    if scheme == "hilbert":
        strat = strategy or TieredStrategy(max_bits=tier)
        cell = point_cell_udf(strat)(F.col(lon), F.col(lat)).alias("cell")
        return df.groupBy(cell).agg(*aggs)
    if scheme == "s2":
        cell = s2_cell_udf(s2_level)(F.col(lon), F.col(lat)).alias("s2_cell")
        return df.groupBy(cell).agg(*aggs)
    if scheme == "h3":
        cell = h3_udf(h3_res)(F.col(lon), F.col(lat)).alias("h3_cell")
        return df.groupBy(cell).agg(*aggs)
    raise ValueError(f"unknown scheme {scheme!r}")


def bbox_agg(df: DataFrame, lon: str = "lon", lat: str = "lat", by: list[str] | None = None) -> DataFrame:
    """Envelope-union aggregate (BoundingBoxAggregation.java:17-101)."""
    aggs = [
        F.min(lon).alias("minx"),
        F.max(lon).alias("maxx"),
        F.min(lat).alias("miny"),
        F.max(lat).alias("maxy"),
    ]
    return df.groupBy(*(by or [])).agg(*aggs) if by else df.agg(*aggs)


def time_range_agg(df: DataFrame, ts: str, by: list[str] | None = None) -> DataFrame:
    aggs = [F.min(ts).alias("min_ts"), F.max(ts).alias("max_ts")]
    return df.groupBy(*(by or [])).agg(*aggs) if by else df.agg(*aggs)


def fixed_bin_histogram(
    df: DataFrame, col: str, lo: float, hi: float, bins: int
) -> DataFrame:
    """Fixed-bin numeric histogram (FixedBinNumericHistogramStatistic analog).

    Bin index = clamp(floor((v - lo) / (hi - lo) * bins), 0, bins-1) — pure
    arithmetic, so an external ANSI-SQL oracle reproduces it exactly.
    """
    b = F.floor((F.col(col) - F.lit(lo)) / F.lit(hi - lo) * F.lit(bins))
    b = F.least(F.lit(bins - 1), F.greatest(F.lit(0), b)).alias("bin")
    return df.groupBy(b).agg(F.count(F.lit(1)).alias("cnt"))


def subsample_per_cell(
    df: DataFrame,
    order_by: str,
    lon: str = "lon",
    lat: str = "lat",
    cell_deg: float = 5.0,
) -> DataFrame:
    """Keep exactly one row per coarse cell — the render-subsampling filter
    (FixedResolutionSubsampleQueryFilter).  Deterministic: min(order_by)."""
    cx, cy = grid_cell_cols(lon, lat, cell_deg)
    w = Window.partitionBy("cx", "cy").orderBy(F.col(order_by).asc())
    return (
        df.select("*", cx, cy)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
