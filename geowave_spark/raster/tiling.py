"""Raster↔vector tiling: assign decoded image tiles to SFC index cells.

From-scratch Spark-first re-expression of GeoWave's raster adapter
semantics (extensions/adapters/raster/.../adapter/RasterDataAdapter.java:444-550
convertToIndex, MosaicPerPyramidLevelBuilder :552-769; read/mosaic path
GeoWaveRasterReader.java:492-744; resize
analytics/spark/.../resize/RasterTileResizeSparkRunner.java:154-255):

- every image row carries a geo footprint ``[lon, lon+w·res] × [lat,
  lat+h·res]`` (res = ground degrees/pixel);
- **pyramid level selection**: the full-resolution tier is the finest tier
  whose per-pixel span (cell_span / tile_size) is still ≥ the source
  resolution (the reference's "resolution ratio closest to but ≤ 1+ε"
  rule); ``build_pyramid`` adds every coarser tier;
- **tile emission**: for each index cell intersecting the footprint at the
  chosen tier, resample the source into that cell's tile_size × tile_size
  pixel grid (nearest neighbor, world→source affine per cell —
  RasterDataAdapter.java:628-649), nodata=0 outside the footprint;
- **merge**: overlapping tiles for the same (tier, cell) combine with
  NoDataMergeStrategy semantics (later tiles fill nodata pixels only;
  deterministic image_id order) — a groupBy + applyInPandas;
- **mosaic**: bbox read = select covering cells at the tier, composite
  tiles into the requested pixel grid;
- **resize**: tile_size a → b (b = a·2^k) re-tiles by moving k tiers
  coarser and assembling 4^k child tiles per parent — pixel-exact both
  ways, mirroring CustomCRSKDERasterResizeIT's tile-size invariance.

Tiles travel as raw RGB bytes (tile_size²·3) — decode/encode happens once
at the edges; everything between is Arrow-batched numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sfc.hilbert import hilbert_to_xy, xy_to_hilbert
from ..sfc.tiered import TieredStrategy
from .codec import decode_image

MAX_CELLS_PER_IMAGE = 4096

TILE_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("caption", StringType(), True),
        StructField("tier", IntegerType(), False),
        StructField("cell", LongType(), False),
        StructField("tile", BinaryType(), False),
    ]
)

MERGED_SCHEMA = StructType(
    [
        StructField("tier", IntegerType(), False),
        StructField("cell", LongType(), False),
        StructField("tile", BinaryType(), False),
        StructField("n_sources", IntegerType(), False),
    ]
)


def pick_tier(res: float, tile_size: int, strategy: TieredStrategy) -> int:
    """Finest tier whose pixel span (x-dim) is ≥ the source resolution."""
    for t in range(strategy.max_bits, -1, -1):
        pixspan = strategy.dim_x.range / (1 << t) / tile_size
        if pixspan >= res:
            return t
    return 0


def _cells_for_envelope(strategy, t, minx, miny, maxx, maxy):
    """(ix, iy, cell) arrays of tier-t cells intersecting the envelope."""
    ax = int(strategy.dim_x.to_bins(np.array([minx]), t)[0])
    bx = int(strategy.dim_x.to_bins(np.array([maxx]), t)[0])
    ay = int(strategy.dim_y.to_bins(np.array([miny]), t)[0])
    by = int(strategy.dim_y.to_bins(np.array([maxy]), t)[0])
    if (bx - ax + 1) * (by - ay + 1) > MAX_CELLS_PER_IMAGE:
        # bound the fan-out (the reference bounds duplicates the same way)
        bx = min(bx, ax + 63)
        by = min(by, ay + 63)
    gx, gy = np.meshgrid(np.arange(ax, bx + 1), np.arange(ay, by + 1))
    gx = gx.ravel().astype(np.uint64)
    gy = gy.ravel().astype(np.uint64)
    cells = xy_to_hilbert(gx, gy, t) if t > 0 else np.zeros(1, dtype=np.uint64)
    return gx, gy, cells


def _resample_into_cell(px, lon0, lat0, res, strategy, t, ix, iy, tile_size):
    """Nearest-neighbor resample of source px into one cell's tile grid."""
    span_x = strategy.dim_x.range / (1 << t)
    span_y = strategy.dim_y.range / (1 << t)
    cminx = strategy.dim_x.min + float(ix) * span_x
    cminy = strategy.dim_y.min + float(iy) * span_y
    # pixel centers of the tile grid in geo coords (y increases upward;
    # row 0 of the tile = southmost row, keeping the math orientation-free)
    gx = cminx + (np.arange(tile_size) + 0.5) * (span_x / tile_size)
    gy = cminy + (np.arange(tile_size) + 0.5) * (span_y / tile_size)
    sx = np.floor((gx - lon0) / res).astype(np.int64)
    sy = np.floor((gy - lat0) / res).astype(np.int64)
    h, w, _ = px.shape
    okx = (sx >= 0) & (sx < w)
    oky = (sy >= 0) & (sy < h)
    tile = np.zeros((tile_size, tile_size, 3), dtype=np.uint8)
    if okx.any() and oky.any():
        sub = px[np.clip(sy, 0, h - 1)[:, None], np.clip(sx, 0, w - 1)[None, :]]
        mask = oky[:, None] & okx[None, :]
        tile[mask] = sub[mask]
    return tile


def tile_images(
    images: DataFrame,
    tile_size: int = 16,
    strategy: TieredStrategy | None = None,
    build_pyramid: bool = False,
    pyramid_levels: int = 2,
) -> DataFrame:
    """images (with lon/lat/res geometry) → tile rows (TILE_SCHEMA).

    mapInPandas: each Arrow batch decodes its images (numpy codecs), picks
    the pyramid tier per image, and emits one row per intersecting cell.
    """
    strat = strategy or TieredStrategy()

    ts = tile_size

    def _tiles_of_image(px, minx, miny, res, t):
        """All tier-t tiles of one image in ONE vectorized gather: the
        intersecting cells form a contiguous grid, so their union is a
        single pixel lattice — same nearest-neighbor math as
        _resample_into_cell, byte-identical output per tile."""
        span_x = strat.dim_x.range / (1 << t)
        span_y = strat.dim_y.range / (1 << t)
        gx, gy, cells = _cells_for_envelope(
            strat,
            t,
            minx,
            miny,
            min(minx + px.shape[1] * res, strat.dim_x.max),
            min(miny + px.shape[0] * res, strat.dim_y.max),
        )
        ax, ay = int(gx.min()), int(gy.min())
        ncx = int(gx.max()) - ax + 1
        ncy = int(gy.max()) - ay + 1
        lat_x = strat.dim_x.min + ax * span_x + (np.arange(ncx * ts) + 0.5) * (span_x / ts)
        lat_y = strat.dim_y.min + ay * span_y + (np.arange(ncy * ts) + 0.5) * (span_y / ts)
        sx = np.floor((lat_x - minx) / res).astype(np.int64)
        sy = np.floor((lat_y - miny) / res).astype(np.int64)
        h, w, _ = px.shape
        okx = (sx >= 0) & (sx < w)
        oky = (sy >= 0) & (sy < h)
        lattice = np.zeros((ncy * ts, ncx * ts, 3), dtype=np.uint8)
        if okx.any() and oky.any():
            sub = px[np.clip(sy, 0, h - 1)[:, None], np.clip(sx, 0, w - 1)[None, :]]
            mask = oky[:, None] & okx[None, :]
            lattice[mask] = sub[mask]
        # (ncy*ts, ncx*ts, 3) -> per-cell tiles [iy, ix, ts, ts, 3]; ONE
        # contiguous copy for the whole lattice (r4 — the per-tile
        # ascontiguousarray loop dominated the python time), then each
        # tile's bytes are a zero-copy row slice
        tiles = np.ascontiguousarray(
            lattice.reshape(ncy, ts, ncx, ts, 3).transpose(0, 2, 1, 3, 4)
        ).reshape(ncy * ncx, ts * ts * 3)
        # map each emitted (gx, gy) to its lattice slot; cells may be a
        # clipped subset when the fan-out cap kicked in
        out = []
        for ix, iy, c in zip(gx.tolist(), gy.tolist(), cells.tolist()):
            out.append((t, int(c), tiles[(iy - ay) * ncx + (ix - ax)].tobytes()))
        return out

    def _tile(batches):
        for pdf in batches:
            out_rows = []
            for r in pdf.itertuples(index=False):
                px = decode_image(r.bytes, r.fmt)
                res = float(r.res)
                minx, miny = float(r.lon), float(r.lat)
                t0 = pick_tier(res, tile_size, strat)
                tiers = [t0] + [max(0, t0 - i) for i in range(1, pyramid_levels + 1)] if build_pyramid else [t0]
                for t in dict.fromkeys(tiers):
                    for trip in _tiles_of_image(px, minx, miny, res, t):
                        out_rows.append((r.image_id, r.caption) + trip)
            yield pd.DataFrame(out_rows, columns=[f.name for f in TILE_SCHEMA.fields])

    cols = ["image_id", "caption", "bytes", "fmt", "w", "h", "lon", "lat", "res"]
    return images.select(*cols).mapInPandas(_tile, TILE_SCHEMA)


def merge_tiles(tiles: DataFrame, tile_size: int = 16) -> DataFrame:
    """Combine overlapping tiles per (tier, cell) — NoDataMergeStrategy:
    iterate sources in image_id order; later sources only fill pixels that
    are still nodata (all-zero)."""

    def _merge(key, pdf):
        pdf = pdf.sort_values("image_id")
        acc = None
        for raw in pdf["tile"]:
            cur = np.frombuffer(raw, dtype=np.uint8).reshape(tile_size, tile_size, 3)
            if acc is None:
                acc = cur.copy()
            else:
                nodata = (acc == 0).all(axis=2)
                acc[nodata] = cur[nodata]
        return pd.DataFrame(
            {
                "tier": [key[0]],
                "cell": [key[1]],
                "tile": [acc.tobytes()],
                "n_sources": [len(pdf)],
            }
        )

    return tiles.groupBy("tier", "cell").applyInPandas(_merge, MERGED_SCHEMA)


def mosaic(
    merged: DataFrame,
    tier: int,
    bbox: tuple[float, float, float, float],
    tile_size: int = 16,
    strategy: TieredStrategy | None = None,
) -> np.ndarray:
    """Composite merged tiles covering bbox at a tier into one pixel grid.

    Driver-side assembly of an executor-side selection: the cell filter is
    a pruning predicate on (tier, cell); only covering tiles are collected.
    Returns (H, W, 3) uint8, row 0 = south (same orientation as tiles).
    """
    strat = strategy or TieredStrategy()
    minx, miny, maxx, maxy = bbox
    gx, gy, cells = _cells_for_envelope(strat, tier, minx, miny, maxx, maxy)
    sel = merged.where(
        (F.col("tier") == tier) & F.col("cell").isin([int(c) for c in cells.tolist()])
    ).collect()
    by_cell = {r["cell"]: r["tile"] for r in sel}
    ax, ay = int(gx.min()), int(gy.min())
    W = (int(gx.max()) - ax + 1) * tile_size
    H = (int(gy.max()) - ay + 1) * tile_size
    out = np.zeros((H, W, 3), dtype=np.uint8)
    for ix, iy, c in zip(gx.tolist(), gy.tolist(), cells.tolist()):
        tile = by_cell.get(int(c))
        if tile is None:
            continue
        px = np.frombuffer(tile, dtype=np.uint8).reshape(tile_size, tile_size, 3)
        y0 = (iy - ay) * tile_size
        x0 = (ix - ax) * tile_size
        out[y0 : y0 + tile_size, x0 : x0 + tile_size] = px
    return out


def resize_tiles(tiles: DataFrame, old_size: int, new_size: int) -> DataFrame:
    """Re-tile to a new tile size preserving pixels exactly.

    new_size = old_size · 2^k moves k tiers coarser: 4^k sibling tiles of
    cell c at tier t assemble into the tile of cell c >> 2k at tier t-k.
    (RasterTileResizeSparkRunner flatMap→groupBy→merge, pixel-exact.)
    """
    if new_size == old_size:
        return tiles
    if new_size > old_size:
        k = (new_size // old_size).bit_length() - 1
        if old_size << k != new_size:
            raise ValueError("sizes must differ by a power of 2")

        parent = tiles.withColumn("_ptier", F.col("tier") - k).withColumn(
            "_pcell", F.shiftrightunsigned("cell", 2 * k)
        )

        def _assemble(key, pdf):
            big = np.zeros((new_size, new_size, 3), dtype=np.uint8)
            for r in pdf.itertuples(index=False):
                cx, cy = hilbert_to_xy(np.array([r.cell], dtype=np.uint64), int(r.tier))
                sub_x = int(cx[0]) & ((1 << k) - 1)
                sub_y = int(cy[0]) & ((1 << k) - 1)
                px = np.frombuffer(r.tile, dtype=np.uint8).reshape(old_size, old_size, 3)
                big[
                    sub_y * old_size : (sub_y + 1) * old_size,
                    sub_x * old_size : (sub_x + 1) * old_size,
                ] = px
            return pd.DataFrame(
                {
                    "image_id": [pdf["image_id"].min()],
                    "caption": [pdf["caption"].iloc[0]],
                    "tier": [key[0]],
                    "cell": [key[1]],
                    "tile": [big.tobytes()],
                }
            )

        return parent.groupBy("_ptier", "_pcell").applyInPandas(_assemble, TILE_SCHEMA)

    # shrink: split each tile into 4^k children one tier finer
    k = (old_size // new_size).bit_length() - 1
    if new_size << k != old_size:
        raise ValueError("sizes must differ by a power of 2")

    def _split(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = np.frombuffer(r.tile, dtype=np.uint8).reshape(old_size, old_size, 3)
                cx, cy = hilbert_to_xy(np.array([r.cell], dtype=np.uint64), int(r.tier)) if r.tier > 0 else (
                    np.array([0], dtype=np.uint64),
                    np.array([0], dtype=np.uint64),
                )
                for sy in range(1 << k):
                    for sx in range(1 << k):
                        child_x = (int(cx[0]) << k) | sx
                        child_y = (int(cy[0]) << k) | sy
                        child = xy_to_hilbert(
                            np.array([child_x], dtype=np.uint64),
                            np.array([child_y], dtype=np.uint64),
                            int(r.tier) + k,
                        )[0]
                        sub = px[sy * new_size : (sy + 1) * new_size, sx * new_size : (sx + 1) * new_size]
                        rows.append((r.image_id, r.caption, int(r.tier) + k, int(child), sub.tobytes()))
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])

    return tiles.mapInPandas(_split, TILE_SCHEMA)
