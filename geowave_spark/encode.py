"""DataFrame cell-indexing transforms (the engine's encode stage).

The DataFrame analog of GeoWave's GeoWaveIndexedRDD.getIndexedGeometryRDD
(analytics/spark/.../GeoWaveIndexedRDD.java:148-223): map each entity to its
tiered-SFC insertion ids and explode to one row per (tier, cell).  All
heavy math runs as Arrow-batched pandas UDFs over numpy (no per-row
Python), and the rest of the plan stays in Catalyst so column pruning and
predicate pushdown keep working.

Key layout on the DataFrame side:
  tier: int   — bits of precision (partition-key first byte in the reference)
  cell: long  — Hilbert index at that tier (sort key in the reference)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .geom import GeomBatch, flatten_parts, parse_wkt_multi, rects_hit_geoms
from .sfc import TieredStrategy
from .sfc.geohash import geohash_encode
from .sfc.hilbert import hilbert_to_xy

DEFAULT_STRATEGY = TieredStrategy()


def point_cell_udf(strategy: TieredStrategy = DEFAULT_STRATEGY):
    """Pandas UDF: (lon, lat) → top-tier Hilbert cell id (long)."""

    @F.pandas_udf(LongType())
    def _cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        c = strategy.point_cells(lon.to_numpy(np.float64), lat.to_numpy(np.float64))
        return pd.Series(c.astype(np.int64))

    return _cell


def s2_cell_udf(level: int = 12):
    """Pandas UDF: (lon, lat) → canonical S2 cell id at `level`
    (S2BinningHelper.java analog; numpy S2 in sfc/s2.py)."""

    @F.pandas_udf(LongType())
    def _s2(lon: pd.Series, lat: pd.Series) -> pd.Series:
        from .sfc.s2 import s2_cell_id

        return pd.Series(
            s2_cell_id(lon.to_numpy(np.float64), lat.to_numpy(np.float64), level)
        )

    return _s2


def h3_udf(res: int = 7):
    """Pandas UDF: (lon, lat) → aperture-7 icosahedral hex cell id at
    ``res`` (SpatialBinningType.H3 analog; see sfc/h3hex.py for the
    documented id-interop caveat)."""

    @F.pandas_udf(LongType())
    def _h3(lon: pd.Series, lat: pd.Series) -> pd.Series:
        from .sfc.h3hex import hex_cell_id

        return pd.Series(
            hex_cell_id(lon.to_numpy(np.float64), lat.to_numpy(np.float64), res)
        )

    return _h3


def geohash_udf(precision: int = 7):
    """Pandas UDF: (lon, lat) → geohash string (spatial binning)."""

    @F.pandas_udf(StringType())
    def _gh(lon: pd.Series, lat: pd.Series) -> pd.Series:
        g = geohash_encode(lon.to_numpy(np.float64), lat.to_numpy(np.float64), precision)
        return pd.Series(g)

    return _gh


def with_point_cells(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    cell_col: str = "cell",
    tier_col: str = "tier",
) -> DataFrame:
    """Add (tier, cell) for point rows — single id at the top tier
    (TieredSFCIndexStrategy point fast path)."""
    return df.withColumn(cell_col, point_cell_udf(strategy)(F.col(lon), F.col(lat))).withColumn(
        tier_col, F.lit(strategy.max_bits)
    )


def st_point_cell_udf(strategy=None):
    """Pandas UDF: (lon, lat, ts) → top-tier 3-D Morton cell of the
    spatial-temporal index (year bin is Catalyst ``year(ts)``)."""
    from .sfc.spatial_temporal import DEFAULT_ST_STRATEGY

    strat = strategy or DEFAULT_ST_STRATEGY

    @F.pandas_udf(LongType())
    def _cell(lon: pd.Series, lat: pd.Series, ts: pd.Series) -> pd.Series:
        ms = ts.to_numpy().astype("datetime64[ms]").astype(np.int64)
        _, cell = strat.point_keys(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), ms
        )
        return pd.Series(cell)

    return _cell


def with_spatiotemporal_cells(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "ts",
    strategy=None,
) -> DataFrame:
    """Add (year, tier, cell) spatial-temporal index columns for
    point/instant rows (SpatialTemporalDimensionalityTypeProvider.java:57
    analog; year bin per TemporalBinningStrategy YEAR periodicity).

    ``year`` is computed by Catalyst's ``year(ts)``, which agrees with the
    numpy year binning for session-naive timestamps; the Morton cell runs
    as one Arrow UDF.  Write the result partitioned by (year, tier) with
    cell min/max statistics and the coarse predicate of
    :func:`~geowave_spark.plans.prune.st_cell_predicate` prunes both the
    partition listing and row groups.
    """
    from .sfc.spatial_temporal import DEFAULT_ST_STRATEGY

    strat = strategy or DEFAULT_ST_STRATEGY
    return (
        df.withColumn("year", F.year(F.col(ts)).cast("int"))
        .withColumn("tier", F.lit(strat.max_bits))
        .withColumn(
            "cell", st_point_cell_udf(strat)(F.col(lon), F.col(lat), F.col(ts))
        )
    )


def _envelopes(geoms: list) -> np.ndarray:
    """(n, 4) minx, miny, maxx, maxy of non-EMPTY parsed geometries."""
    return GeomBatch(geoms).envelopes()


def distinct_polygon_tiers(
    df: DataFrame,
    wkt_col: str,
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = 4,
    buffer: float = 0.0,
) -> DataFrame:
    """Distinct insertion tiers of a polygon table, as a one-column
    ``tier int`` DataFrame, from a light WKT scan (no cell explosion, no
    persist) — the analog of the reference's tier-byte collectAsync
    (TieredSpatialJoin.java:174-191).  It serves the point×polygon
    shuffle plan, whose probe points need the build side's tiers; the
    geometry-pair join keys on cell ancestors instead and scans no tiers.
    Lazy: the join broadcasts it, so the scan runs inside the join's own
    job, beside its cell explode, instead of as a separate driver-side
    job."""

    @F.pandas_udf(ArrayType(IntegerType()))
    def _tiers(wkt: pd.Series) -> pd.Series:
        geoms = [g for g in map(parse_wkt_multi, wkt) if flatten_parts(g)]  # EMPTY: no tier
        out: list[list[int]] = [[] for _ in range(len(wkt))]
        if geoms:
            env = _envelopes(geoms)
            t = strategy.envelope_tiers(
                env[:, 0] - buffer,
                env[:, 1] - buffer,
                env[:, 2] + buffer,
                env[:, 3] + buffer,
                max_duplicates=max_duplicates,
            )
            out[0] = np.unique(t).astype(np.int32).tolist()
        return pd.Series(out)

    return df.select(F.explode(_tiers(F.col(wkt_col))).alias("tier")).distinct()


def point_cell_at_tier_udf(strategy: TieredStrategy, tier: int):
    """Pandas UDF: (lon, lat) → Hilbert cell at one fixed tier.

    Marked nondeterministic (it IS deterministic) so Catalyst cannot
    duplicate it: the join's pushed-down ``isnotnull(cell)`` otherwise
    clones the Arrow eval below the filter and the probe side pays two
    Python exchanges for one column (round-1 plan-audit artifact).
    """

    @F.pandas_udf(LongType())
    def _cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        c = strategy.point_cells_at_tier(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), tier
        )
        return pd.Series(c)

    return _cell.asNondeterministic()


def explode_envelope_cells(
    df: DataFrame,
    minx: Column,
    miny: Column,
    maxx: Column,
    maxy: Column,
    keep: list[str],
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = 4,
    tier: int | None = None,
) -> DataFrame:
    """Flat explode of envelope insertion ids via ``mapInPandas``.

    Output = one row per (tier, cell) per input row with columns
    ``keep + [tier, cell]``.  Every column stays a numpy array end-to-end
    (no array<struct> of Python dicts to explode), so the Arrow exchange
    carries no Python objects — about an order of magnitude cheaper at the
    millions-of-cells scale the join build side produces.
    """
    src = df.select(
        *[F.col(c) for c in keep],
        minx.alias("_minx"),
        miny.alias("_miny"),
        maxx.alias("_maxx"),
        maxy.alias("_maxy"),
    )
    out_schema = StructType(
        [src.schema[c] for c in keep]
        + [StructField("tier", IntegerType()), StructField("cell", LongType())]
    )

    def _gen(batches):
        for pdf in batches:
            env = (
                pdf["_minx"].to_numpy(np.float64),
                pdf["_miny"].to_numpy(np.float64),
                pdf["_maxx"].to_numpy(np.float64),
                pdf["_maxy"].to_numpy(np.float64),
            )
            if tier is None:
                row, tiers, cell = strategy.envelope_insertion_ids(
                    *env, max_duplicates=max_duplicates
                )
            else:
                row, cell = strategy.envelope_cells_at_tier(*env, tier)
                tiers = np.full(len(row), tier, dtype=np.int64)
            out = pdf.iloc[row, : len(keep)].reset_index(drop=True)
            out["tier"] = tiers.astype(np.int32)
            out["cell"] = cell
            yield out

    return src.mapInPandas(_gen, out_schema)


def polygon_cells_np(
    wkts,
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = 4,
    buffer: float = 0.0,
    trim: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Insertion cells for a batch of WKT geometries → (row_index, tier,
    cell) numpy arrays, with trimIndexIds pruning (RDDUtils.java:158-184:
    when an entity received more than 3 cells, drop cells whose rectangle
    does not intersect the buffered geometry).  Kind-aware: polylines trim
    against their real segments (a cell inside a line's phantom hull does
    NOT keep the line), closed rings use the exact polygon test.  The trim
    is one :func:`~geowave_spark.geom.rects_hit_geoms` call over every
    trimmed cell of the batch, with one ``hilbert_to_xy`` per distinct
    tier."""
    gb = GeomBatch([parse_wkt_multi(w) for w in wkts])
    full = np.nonzero(gb.v_range[1])[0]  # EMPTY: no cells
    if not len(full):
        return (np.empty(0, dtype=np.int64),) * 3
    env = gb.envelopes()[full]
    row, tier, cell = strategy.envelope_insertion_ids(
        env[:, 0] - buffer,
        env[:, 1] - buffer,
        env[:, 2] + buffer,
        env[:, 3] + buffer,
        max_duplicates=max_duplicates,
    )
    row = full[row]
    if not trim or not len(row):
        return row, tier, cell
    sel = np.nonzero((np.bincount(row)[row] > 3) & (tier != 0))[0]
    if not len(sel):
        return row, tier, cell
    rminx, rminy, span_x, span_y = (np.empty(len(sel)) for _ in range(4))
    for t in np.unique(tier[sel]):
        m = tier[sel] == t
        cx, cy = hilbert_to_xy(cell[sel[m]].astype(np.uint64), int(t))
        span_x[m] = strategy.dim_x.range / (1 << int(t))
        span_y[m] = strategy.dim_y.range / (1 << int(t))
        rminx[m] = strategy.dim_x.min + cx.astype(np.float64) * span_x[m] - buffer
        rminy[m] = strategy.dim_y.min + cy.astype(np.float64) * span_y[m] - buffer
    hit = rects_hit_geoms(
        rminx, rminy, rminx + span_x + 2 * buffer, rminy + span_y + 2 * buffer, row[sel], gb
    )
    keep = np.ones(len(row), dtype=bool)
    keep[sel[~hit]] = False
    return row[keep], tier[keep], cell[keep]


def cell_ancestors(
    row: np.ndarray, tier: np.ndarray, cell: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Distinct strict ancestors of each row's cells → (row_index, tier,
    cell): ``cell >> 2·(tier − t)`` at every tier ``t < tier`` (the Hilbert
    prefix, as in :func:`cell_at_tier`), one entry per (row, t, ancestor).
    Walks one tier up per step over the sorted frontier, so siblings merge
    as they go and a row emits at most its tier count times its cells.
    Each row's cells share one tier, as in :func:`polygon_cells_np`'s
    covers (a geometry's own envelope never wraps the antimeridian)."""
    order = np.lexsort((cell, tier, row))
    r, t, c = row[order], tier[order].astype(np.int64), cell[order]
    empty = np.empty(0, dtype=np.int64)
    out = [(empty, empty, empty)]
    while True:
        m = t > 0
        r, t, c = r[m], t[m] - 1, c[m] >> 2  # stays sorted by (r, t, c)
        if not len(r):
            break
        new = np.r_[True, (r[1:] != r[:-1]) | (t[1:] != t[:-1]) | (c[1:] != c[:-1])]
        r, t, c = r[new], t[new], c[new]
        out.append((r, t, c))
    return tuple(np.concatenate(a) for a in zip(*out))


def explode_polygon_cells(
    df: DataFrame,
    wkt_col: str,
    keep: list[str],
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = 4,
    buffer: float = 0.0,
    trim: bool = True,
) -> DataFrame:
    """Flat explode of polygon insertion ids (with trimIndexIds pruning)
    via ``mapInPandas`` — see :func:`explode_envelope_cells`."""
    src = df.select(*[F.col(c) for c in keep], F.col(wkt_col).alias("_wkt"))
    out_schema = StructType(
        [src.schema[c] for c in keep]
        + [StructField("tier", IntegerType()), StructField("cell", LongType())]
    )

    def _gen(batches):
        for pdf in batches:
            row, tier, cell = polygon_cells_np(
                list(pdf["_wkt"]), strategy, max_duplicates, buffer, trim
            )
            out = pdf.iloc[row, : len(keep)].reset_index(drop=True)
            out["tier"] = tier.astype(np.int32)
            out["cell"] = cell
            yield out

    return src.mapInPandas(_gen, out_schema)


def cell_at_tier(cell: str, tier: str, from_tier: str | int) -> Column:
    """Re-project a Hilbert cell from tier ``from_tier`` to the coarser
    ``tier`` — pure Catalyst.

    Hilbert hierarchy makes tier re-projection a bit shift (2 bits/tier in
    2-D), the cheap analog of TieredSpatialJoin.reprojectToTier
    (TieredSpatialJoin.java:471-511) with no geometry re-encode.
    ``cell`` / ``tier`` are column names or SQL expressions; ``from_tier``
    is one too, or an int literal (e.g. ``max_bits`` for top-tier point
    cells).  The point×polygon shuffle plan keys its probe points on it;
    :func:`cell_ancestors` is its numpy form for whole covers.
    """
    return F.expr(
        f"CASE WHEN {tier} = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE shiftrightunsigned({cell}, CAST(2 * ({from_tier} - {tier}) AS INT)) END"
    )
