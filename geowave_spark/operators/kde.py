"""Kernel density estimation over a cell grid — Catalyst-native.

Re-expression of GeoWave's KDE job (analytics/spark/.../kde/KDERunner.java:135-317
+ GaussianCellMapper / GaussianFilter, analytics/mapreduce/.../kde/
GaussianFilter.java:32-36,262-283): each point smears a Gaussian kernel
(σ=1, radius 3 → 7×7 stencil) over its neighborhood in a 2^(l+1) × 2^l cell
grid; cell weights are summed, normalized, and ranked into percentiles
(KDERunner.java:252-291 sort + zipWithIndex → here a window percent_rank).

Spark shape: the stencil is a 49-row broadcast literal table (weights are
*precomputed decimal constants* so an external SQL oracle can reproduce the
sums bit-for-bit); smear = crossJoin(broadcast(stencil)); aggregation is a
partial+final hash agg on the cell key; ranking is one window.  No UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KERNEL_RADIUS = 3
KERNEL_SIGMA = 1.0


def gaussian_stencil() -> list[tuple[int, int, float]]:
    """The 7×7 kernel as (dx, dy, weight) rows, weights rounded to 12
    decimals so they are exact literals in any SQL dialect."""
    out = []
    for dx in range(-KERNEL_RADIUS, KERNEL_RADIUS + 1):
        for dy in range(-KERNEL_RADIUS, KERNEL_RADIUS + 1):
            w = math.exp(-(dx * dx + dy * dy) / (2.0 * KERNEL_SIGMA * KERNEL_SIGMA))
            out.append((dx, dy, round(w, 12)))
    return out


def kde(
    points: DataFrame,
    level: int,
    lon: str = "lon",
    lat: str = "lat",
    weight: str | None = None,
    crs: str = "EPSG:4326",
) -> DataFrame:
    """→ (cx, cy, weight, pct) cell densities at the given pyramid level.

    Grid is 2^(level+1) × 2^level cells over the CRS's full extent
    (KDERunner grid shape; the reference's CustomCRSKDERasterResizeIT
    runs the same job in a non-default CRS — ``crs`` reprojects the
    lon/lat inputs with the Catalyst expressions in
    :mod:`geowave_spark.crs`, so the projection happens inside the same
    codegen stage as the cell binning, no extra pass).
    ``pct`` is the percentile of the cell's weight among non-empty cells
    (descending-weight percentile per KDERunner.java:282-291).
    """
    nx = 1 << (level + 1)
    ny = 1 << level
    spark = points.sparkSession
    stencil = spark.createDataFrame(gaussian_stencil(), "dx int, dy int, w double")

    from geowave_spark.crs import crs_extent, forward_cols

    minx, miny, maxx, maxy = crs_extent(crs)
    px, py = forward_cols(crs, lon, lat)
    # a point with a null or NaN coordinate has no cell: binned, it would
    # land in row or column 0, because greatest(0, null) is 0
    base = points.dropna(subset=[lon, lat]).select(
        F.floor((px - F.lit(minx)) / F.lit(maxx - minx) * nx).cast("long").alias("_px"),
        F.floor((py - F.lit(miny)) / F.lit(maxy - miny) * ny).cast("long").alias("_py"),
        (F.col(weight) if weight else F.lit(1.0)).alias("_w0"),
    ).select(
        F.least(F.lit(nx - 1), F.greatest(F.lit(0), F.col("_px"))).alias("_px"),
        F.least(F.lit(ny - 1), F.greatest(F.lit(0), F.col("_py"))).alias("_py"),
        "_w0",
    )

    # pre-aggregate per source cell BEFORE the stencil fan-out: the kernel
    # is linear, so smearing per-cell sums is exact and shrinks the
    # crossJoin input from |points| to |occupied cells| (≤ nx·ny) — at
    # 2M points on a level-6 grid that is a 250× smaller fan-out
    base = base.groupBy("_px", "_py").agg(F.sum("_w0").alias("_w0"))

    # Block-local smear: a flat crossJoin-then-global-agg would shuffle
    # 49 rows per occupied base cell (22M rows at level 10 / 500k points —
    # profiled as ~70% of the operator's executor time, and the part that
    # stops scaling first because the exchange is bandwidth-bound, not
    # CPU-bound).  Instead the grid splits into BK×BK cell blocks; each
    # base cell is replicated into every block its 7×7 footprint touches
    # (≤4 copies, ~1.1 avg at BK=64), ONE explicit shuffle co-locates a
    # block's contributors, and the fan-out + aggregation happen inside
    # the owning task: grouping by (_bx, _by, cx, cy) is satisfied by the
    # existing hash partitioning on (_bx, _by), so the 49× expansion never
    # crosses the wire.  The `_own` filter keeps each output cell in
    # exactly one block, making the block sums a disjoint partition of the
    # global sums.  At 1000 executors the same plan holds: the shuffle
    # carries |occupied base cells| rows, independent of stencil size.
    R = KERNEL_RADIUS
    BK = 64
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    halo = (
        base.withColumn(
            "_bx",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor((F.col("_px") - R) / BK), F.floor((F.col("_px") + R) / BK)
                    )
                )
            ),
        )
        .withColumn(
            "_by",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor((F.col("_py") - R) / BK), F.floor((F.col("_py") + R) / BK)
                    )
                )
            ),
        )
        .repartition(parts, "_bx", "_by")
    )
    smeared = (
        halo.crossJoin(F.broadcast(stencil))
        .select(
            "_bx",
            "_by",
            (F.col("_px") + F.col("dx")).alias("cx"),
            (F.col("_py") + F.col("dy")).alias("cy"),
            (F.col("_w0") * F.col("w")).alias("_w"),
        )
        .where(
            (F.col("cx") >= 0)
            & (F.col("cx") < nx)
            & (F.col("cy") >= 0)
            & (F.col("cy") < ny)
            & (F.floor(F.col("cx") / BK) == F.col("_bx"))
            & (F.floor(F.col("cy") / BK) == F.col("_by"))
        )
    )
    cells = (
        smeared.groupBy("_bx", "_by", "cx", "cy")
        .agg(F.sum("_w").alias("weight"))
        .drop("_bx", "_by")
    )
    # ranking: a global Window.orderBy funnels every cell through ONE task
    # (Spark's single-partition window).  Fine for coarse grids (cells ≤
    # nx·ny ≤ 2^17), a scale bug for level-12+ pyramids — switch to the
    # bucketed two-pass rank there.
    if (level + 1) * 2 <= 17:
        win = Window.orderBy(F.col("weight").asc(), F.col("cx").asc(), F.col("cy").asc())
        return cells.withColumn("pct", F.percent_rank().over(win))
    # nx·ny bounds the occupied-cell count, letting the rank skip its
    # preliminary count() job (one fewer serial barrier; a sparser grid
    # just yields a smaller sample and coarser bucket BALANCE, never
    # wrong ranks)
    return distributed_percent_rank(cells, expected_rows=nx * ny)


def kde_tiles(
    points: DataFrame,
    level: int,
    tile_size: int = 16,
    lon: str = "lon",
    lat: str = "lat",
    weight: str | None = None,
    value: str = "pct",
    crs: str = "EPSG:4326",
) -> DataFrame:
    """KDE cell grid → float32 raster tiles — the vector→raster stage of
    the reference's KDE job (KDERunner.java:267-311: cell weights pack
    into tileSize² coverages per index cell).

    The 2^(level+1) × 2^level cell grid partitions into tile_size-aligned
    blocks; each block becomes one row (tx, ty, tile) with a float32
    tile_size×tile_size payload of ``value`` (percentile by default,
    'weight' for raw densities; absent cells are 0).  One hash
    aggregation keyed by block — the same shape as the raster merge.
    """
    import numpy as np
    import pandas as pd

    ts = tile_size
    cells = kde(points, level, lon, lat, weight, crs=crs)
    keyed = cells.withColumn("_tx", F.floor(F.col("cx") / ts).cast("long")).withColumn(
        "_ty", F.floor(F.col("cy") / ts).cast("long")
    )

    # no type hints on purpose: a partial annotation makes pyspark warn it
    # can't infer the eval type (positional (key, pdf) is the contract)
    def _pack(key, pdf):
        arr = np.zeros((ts, ts), dtype=np.float32)
        arr[
            pdf["cy"].to_numpy(np.int64) % ts, pdf["cx"].to_numpy(np.int64) % ts
        ] = pdf[value].to_numpy(np.float64)
        return pd.DataFrame(
            {
                "tx": [key[0]],
                "ty": [key[1]],
                "tile": [arr.tobytes()],
                "n_cells": [len(pdf)],
            }
        )

    return keyed.groupBy("_tx", "_ty").applyInPandas(
        _pack, "tx long, ty long, tile binary, n_cells int"
    )


def distributed_percent_rank(
    cells: DataFrame,
    num_buckets: int | None = None,
    expected_rows: int | None = None,
) -> DataFrame:
    """Exact global percent_rank over (weight, cx, cy) without a
    single-partition window.

    Two-pass plan (the scalable analog of KDERunner's RangePartitioner
    sort + zipWithIndex, KDERunner.java:252-291):

    1. split points from a ~25k-row uniform weight sample (RangePartitioner's
       strategy — cheaper than a percentile_approx sketch, whose high-accuracy
       final merge profiled as a 1.5 s single-task stage); bucket = index of
       first bound with ``weight < bound`` — a function of the weight alone,
       so equal weights always share a bucket and cross-bucket order is
       strict (exactness does not depend on the sample, only balance does);
    2. per-bucket counts → driver prefix-sum (``num_buckets`` ints) →
       rank = bucket offset + row_number() over a PARTITIONED window.

    pct = (rank − 1) / (n − 1), identical to ``percent_rank`` because the
    (weight, cx, cy) key is unique per cell.
    """
    spark = cells.sparkSession
    B = num_buckets or max(
        1, min(64, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    )
    cells = cells.persist()
    bounds: list[float] = []
    if B > 1:
        # expected_rows (an upper bound, e.g. the grid size) lets the
        # sample job double as the persist-materializing action; without
        # it, one count() job sizes the sample fraction exactly
        total0 = expected_rows if expected_rows else cells.count()
        frac = min(1.0, (400.0 * B) / max(total0, 1))
        sample = [
            r["weight"]
            for r in cells.select("weight").sample(False, frac, seed=7).collect()
        ]
        if sample:
            import numpy as np

            qs = np.quantile(
                np.asarray(sample, dtype=np.float64),
                [i / B for i in range(1, B)],
                method="nearest",
            )
            bounds = sorted(set(float(q) for q in qs))
    bkt = F.lit(len(bounds))
    for i in reversed(range(len(bounds))):
        bkt = F.when(F.col("weight") < F.lit(bounds[i]), F.lit(i)).otherwise(bkt)
    with_bkt = cells.withColumn("_bkt", bkt.cast("int"))
    counts = {
        r["_bkt"]: r["cnt"]
        for r in with_bkt.groupBy("_bkt").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = sum(counts.values())
    offset_expr = F.lit(0)
    acc = 0
    for i in range(len(bounds) + 1):
        offset_expr = F.when(F.col("_bkt") == i, F.lit(acc)).otherwise(offset_expr)
        acc += counts.get(i, 0)
    win = Window.partitionBy("_bkt").orderBy(
        F.col("weight").asc(), F.col("cx").asc(), F.col("cy").asc()
    )
    denom = float(max(total - 1, 1))
    return (
        with_bkt.withColumn("_rank", F.row_number().over(win) + offset_expr)
        .withColumn("pct", (F.col("_rank") - F.lit(1)) / F.lit(denom))
        .drop("_bkt", "_rank")
    )
