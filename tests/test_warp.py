"""Cross-CRS mosaic resampling (raster/warp.py) vs brute per-pixel oracles.

Reference semantics: GeoWaveRasterReader.java:492-744 (requested-envelope
mosaic read) + RasterDataAdapter.java:444-550 (coverage reprojection).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from geowave_spark.crs import transform_np
from geowave_spark.raster.grid import RasterSpec

# web mercator clamps latitude to the projection's domain, so no warp
# path may compute an inf/divide-by-zero — promote to a hard failure
pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")
from geowave_spark.raster.tiling import TieredStrategy, pick_tier
from geowave_spark.raster.warp import warp_mosaic_array


@pytest.fixture(scope="module")
def spec():
    return RasterSpec(bands=1, dtype="float32", nodata=float("nan"))


@pytest.fixture(scope="module")
def ramp(spark, spec):
    """Merged tile table carrying the linear field f = 3·lon + 7·lat
    EXACTLY at every tier-lattice pixel center (built directly at the
    tier, so bilinear-of-lattice reproduces the field with no resampling
    noise); returns (merged_df, tier, meta)."""
    from geowave_spark.raster.tiling import _cells_for_envelope

    strat = TieredStrategy()
    tier = pick_tier(0.01, 16, strat)
    rx = strat.dim_x.range / (1 << tier) / 16
    ry = strat.dim_y.range / (1 << tier) / 16
    lon0, lat0 = 10.0, 45.0
    lon1, lat1 = lon0 + 128 * 0.01, lat0 + 96 * 0.01
    gx, gy, cells = _cells_for_envelope(strat, tier, lon0, lat0, lon1, lat1)
    rows = []
    for ix, iy, c in zip(gx.tolist(), gy.tolist(), cells.tolist()):
        cx = strat.dim_x.min + (ix * 16 + np.arange(16) + 0.5) * rx
        cy = strat.dim_y.min + (iy * 16 + np.arange(16) + 0.5) * ry
        tile = (3.0 * cx[None, :] + 7.0 * cy[:, None]).astype(np.float32)[:, :, None]
        rows.append({"tier": tier, "cell": int(c), "tile": tile.tobytes(), "n_sources": 1})
    merged = spark.createDataFrame(pd.DataFrame(rows)).cache()
    return merged, tier, dict(
        rx=rx, ry=ry, lon0=lon0, lat0=lat0, lon1=lon1, lat1=lat1, strat=strat
    )


class TestIdentityCrs:
    def test_native_grid_nearest_equals_source(self, ramp, spec):
        merged, tier, m = ramp
        strat = m["strat"]
        rx, ry = m["rx"], m["ry"]
        # an output grid exactly aligned with source lattice pixels
        x0 = strat.dim_x.min + np.ceil((m["lon0"] - strat.dim_x.min) / rx) * rx
        y0 = strat.dim_y.min + np.ceil((m["lat0"] - strat.dim_y.min) / ry) * ry
        ow, oh = 64, 48
        out = warp_mosaic_array(
            merged,
            tier,
            (x0, y0, x0 + ow * rx, y0 + oh * ry),
            (ow, oh),
            "EPSG:4326",
            spec,
            method="nearest",
            block_size=32,
        )
        # aligned nearest must reproduce the lattice values exactly
        cx = x0 + (np.arange(ow) + 0.5) * rx
        cy = y0 + (np.arange(oh) + 0.5) * ry
        want = 3.0 * cx[None, :] + 7.0 * cy[:, None]
        got = out[:, :, 0].astype(np.float64)
        valid = ~np.isnan(got)
        assert valid.mean() > 0.99
        assert np.abs(got[valid] - want[valid]).max() < 1e-3

    def test_outside_coverage_is_nodata(self, ramp, spec):
        merged, tier, m = ramp
        out = warp_mosaic_array(
            merged,
            tier,
            (-170.0, -80.0, -169.0, -79.0),
            (32, 32),
            "EPSG:4326",
            spec,
            block_size=32,
        )
        assert np.isnan(out).all()


class TestReproject3857:
    def test_bilinear_reproduces_linear_field(self, ramp, spec):
        merged, tier, m = ramp
        # output window strictly inside the raster (in 3857 meters)
        lon_in = (m["lon0"] + 0.1, m["lon0"] + 1.0)
        lat_in = (m["lat0"] + 0.1, m["lat0"] + 0.7)
        xs, ys = transform_np(
            np.array(lon_in), np.array(lat_in), "EPSG:4326", "EPSG:3857"
        )
        ow, oh = 80, 64
        out = warp_mosaic_array(
            merged,
            tier,
            (xs[0], ys[0], xs[1], ys[1]),
            (ow, oh),
            "EPSG:3857",
            spec,
            method="bilinear",
            block_size=32,
        )[:, :, 0].astype(np.float64)
        # brute oracle: inverse-project every output center, evaluate the
        # linear field — bilinear interpolation of a linear lattice is
        # exact, so interior pixels must match to float tolerance
        rx = (xs[1] - xs[0]) / ow
        ry = (ys[1] - ys[0]) / oh
        cx = xs[0] + (np.arange(ow) + 0.5) * rx
        cy = ys[0] + (np.arange(oh) + 0.5) * ry
        gx, gy = np.meshgrid(cx, cy)
        lon, lat = transform_np(gx.ravel(), gy.ravel(), "EPSG:3857", "EPSG:4326")
        want = (3.0 * lon + 7.0 * lat).reshape(oh, ow)
        valid = ~np.isnan(out)
        assert valid.mean() > 0.95
        assert np.abs(out[valid] - want[valid]).max() < 1e-3

    def test_nearest_matches_brute_oracle(self, ramp, spec):
        merged, tier, m = ramp
        strat = m["strat"]
        lon_in = (m["lon0"] + 0.2, m["lon0"] + 0.6)
        lat_in = (m["lat0"] + 0.2, m["lat0"] + 0.5)
        xs, ys = transform_np(
            np.array(lon_in), np.array(lat_in), "EPSG:4326", "EPSG:3857"
        )
        ow = oh = 40
        out = warp_mosaic_array(
            merged,
            tier,
            (xs[0], ys[0], xs[1], ys[1]),
            (ow, oh),
            "EPSG:3857",
            spec,
            method="nearest",
            block_size=16,
        )[:, :, 0].astype(np.float64)
        # brute: snap each inverse-projected center to the source lattice
        srx, sry = m["rx"], m["ry"]
        rx = (xs[1] - xs[0]) / ow
        ry = (ys[1] - ys[0]) / oh
        cx = xs[0] + (np.arange(ow) + 0.5) * rx
        cy = ys[0] + (np.arange(oh) + 0.5) * ry
        gx, gy = np.meshgrid(cx, cy)
        lon, lat = transform_np(gx.ravel(), gy.ravel(), "EPSG:3857", "EPSG:4326")
        sx = np.round((lon - strat.dim_x.min) / srx - 0.5)
        sy = np.round((lat - strat.dim_y.min) / sry - 0.5)
        plon = strat.dim_x.min + (sx + 0.5) * srx
        plat = strat.dim_y.min + (sy + 0.5) * sry
        want = (3.0 * plon + 7.0 * plat).reshape(oh, ow)
        valid = ~np.isnan(out)
        assert valid.mean() > 0.9
        assert np.allclose(out[valid], want[valid], atol=1e-3)

    @pytest.mark.parametrize("code", ["EPSG:3035", "EPSG:2154"])
    def test_bilinear_ext_crs(self, ramp, spec, code):
        """Warp into crs_conic extension CRSes (Europe LAEA, Lambert-93):
        same linear-field oracle — bilinear over the exact lattice must
        reproduce f = 3·lon + 7·lat at every inverse-projected output
        center, whatever the output projection."""
        merged, tier, m = ramp
        lon_in = (m["lon0"] + 0.1, m["lon0"] + 1.0)
        lat_in = (m["lat0"] + 0.1, m["lat0"] + 0.7)
        xs, ys = transform_np(
            np.array(lon_in), np.array(lat_in), "EPSG:4326", code
        )
        # conic projections tilt the rectangle: order the bbox corners
        x0, x1 = sorted(map(float, xs))
        y0, y1 = sorted(map(float, ys))
        ow, oh = 64, 48
        out = warp_mosaic_array(
            merged, tier, (x0, y0, x1, y1), (ow, oh), code, spec,
            method="bilinear", block_size=32,
        )[:, :, 0].astype(np.float64)
        rx = (x1 - x0) / ow
        ry = (y1 - y0) / oh
        cx = x0 + (np.arange(ow) + 0.5) * rx
        cy = y0 + (np.arange(oh) + 0.5) * ry
        gx, gy = np.meshgrid(cx, cy)
        lon, lat = transform_np(gx.ravel(), gy.ravel(), code, "EPSG:4326")
        want = (3.0 * lon + 7.0 * lat).reshape(oh, ow)
        valid = ~np.isnan(out)
        assert valid.mean() > 0.9, code
        assert np.abs(out[valid] - want[valid]).max() < 1e-3, code

    def test_polar_window_over_pole_full_coverage(self, spark, spec):
        """A polar-stereographic output window centered on the pole: the
        pole-enclosing blocks' footprints wrap the full longitude range
        and reach lat 90, which a boundary sample lattice undercovers —
        the gather plan must extend such blocks to the pole (pre-fix this
        window left 1.25% of pixels nodata with sources present)."""
        from geowave_spark.raster.tiling import _cells_for_envelope

        strat = TieredStrategy()
        tier = pick_tier(0.05, 16, strat)
        rx = strat.dim_x.range / (1 << tier) / 16
        ry = strat.dim_y.range / (1 << tier) / 16
        gx, gy, cells = _cells_for_envelope(strat, tier, -180.0, 84.0, 180.0, 90.0)
        rows = []
        for ix, iy, c in zip(gx.tolist(), gy.tolist(), cells.tolist()):
            cx = strat.dim_x.min + (ix * 16 + np.arange(16) + 0.5) * rx
            cy = strat.dim_y.min + (iy * 16 + np.arange(16) + 0.5) * ry
            tile = (0.03 * cx[None, :] + 7.0 * cy[:, None]).astype(np.float32)[:, :, None]
            rows.append(
                {"tier": tier, "cell": int(c), "tile": tile.tobytes(), "n_sources": 1}
            )
        merged = spark.createDataFrame(pd.DataFrame(rows))
        ow = oh = 64
        out = warp_mosaic_array(
            merged, tier, (-200000, -200000, 200000, 200000), (ow, oh),
            "EPSG:3413", spec, method="nearest", block_size=16,
        )[:, :, 0]
        valid = ~np.isnan(out)
        assert valid.mean() == 1.0  # every pixel inverse-projects to lat>87
        # brute oracle: nearest source-lattice sample per pixel
        cxs = -200000 + (np.arange(ow) + 0.5) * (400000 / ow)
        gxx, gyy = np.meshgrid(cxs, cxs)
        lon, lat = transform_np(gxx.ravel(), gyy.ravel(), "EPSG:3413", "EPSG:4326")
        sx = np.round((lon - strat.dim_x.min) / rx - 0.5)
        sy = np.round((lat - strat.dim_y.min) / ry - 0.5)
        plon = strat.dim_x.min + (sx + 0.5) * rx
        plat = strat.dim_y.min + (sy + 0.5) * ry
        want = (0.03 * plon + 7.0 * plat).reshape(oh, ow)
        assert np.abs(out - want).max() < 1e-3

    def test_rejects_unknown_method(self, ramp, spec):
        merged, tier, _ = ramp
        from geowave_spark.raster.warp import warp_mosaic

        with pytest.raises(ValueError, match="method"):
            warp_mosaic(merged, tier, (0, 0, 1, 1), (8, 8), "EPSG:3857", spec, method="cubic")
