"""CRS transform tests — web mercator known vectors, Krüger-vs-Snyder
independent series cross-check, round trips, envelope densification, and
the Catalyst/numpy twin agreement (CustomCRSKDERasterResizeIT analog)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from geowave_spark.crs import (
    A_WGS84,
    F_WGS84,
    WEB_MERCATOR_EXTENT,
    _parse,
    crs_extent,
    forward_cols,
    inverse_cols,
    reproject_envelope,
    transform_df,
    transform_np,
)
import utm_oracle


def test_web_mercator_known_vectors():
    lon = np.array([0.0, 180.0, -180.0, 20.0])
    lat = np.array([0.0, 0.0, 0.0, 0.0])
    x, y = transform_np(lon, lat, "EPSG:4326", "EPSG:3857")
    assert x[0] == 0.0 and y[0] == 0.0
    # the canonical web-mercator extent constant
    assert abs(x[1] - 20037508.342789244) < 1e-6
    assert abs(x[2] + 20037508.342789244) < 1e-6
    # the web-mercator "square world" latitude maps to +extent
    _, ytop = transform_np(np.array([0.0]), np.array([85.05112877980659]), "EPSG:4326", "EPSG:3857")
    assert abs(ytop[0] - WEB_MERCATOR_EXTENT) < 1e-5
    assert abs(WEB_MERCATOR_EXTENT - 20037508.342789244) < 1e-6


def test_rectifying_radius_constant():
    # A = a/(1+n)(1+n²/4+n⁴/64) for WGS84 is the published 6367449.1458 m,
    # in the fixed-WGS84 oracle and in the parsed UTM projection alike
    assert abs(utm_oracle.A1 - 6367449.145823415) < 1e-3
    assert abs(_parse("EPSG:32631")[1].A1 - 6367449.145823415) < 1e-3


def _snyder_utm_forward(lon, lat, lon0, fn):
    """Independent transverse-mercator forward — Snyder, 'Map Projections:
    A Working Manual' (USGS PP 1395), eqs. 8-9..8-15 / 3-21: a different
    published series (powers of e² with ν/T/C/A terms) than the Krüger
    n-series of the engine's transverse Mercator."""
    a = A_WGS84
    f = F_WGS84
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    k0 = 0.9996
    phi = np.radians(lat)
    lam = np.radians(lon - lon0)
    sin_phi, cos_phi, tan_phi = np.sin(phi), np.cos(phi), np.tan(phi)
    N = a / np.sqrt(1 - e2 * sin_phi**2)
    T = tan_phi**2
    C = ep2 * cos_phi**2
    A = lam * cos_phi
    M = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * phi)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * phi)
        - (35 * e2**3 / 3072) * np.sin(6 * phi)
    )
    x = k0 * N * (
        A
        + (1 - T + C) * A**3 / 6
        + (5 - 18 * T + T**2 + 72 * C - 58 * ep2) * A**5 / 120
    )
    y = k0 * (
        M
        + N
        * tan_phi
        * (
            A**2 / 2
            + (5 - T + 9 * C + 4 * C**2) * A**4 / 24
            + (61 - 58 * T + T**2 + 600 * C - 330 * ep2) * A**6 / 720
        )
    )
    return 500000.0 + x, fn + y


def test_utm_kruger_matches_snyder_series():
    rng = np.random.default_rng(11)
    lon = 3.0 + rng.uniform(-2.9, 2.9, 200)  # zone 31N (lon0 = 3°E)
    lat = rng.uniform(-75.0, 80.0, 200)
    xk, yk = transform_np(lon, lat, "EPSG:4326", "EPSG:32631")
    xs, ys = _snyder_utm_forward(lon, lat, 3.0, 0.0)
    # two independent published series: agree to a few mm inside the zone
    # (Snyder's A^6 truncation dominates the residual at high |lat|·|λ−λ0|)
    assert np.max(np.abs(xk - xs)) < 5e-3
    assert np.max(np.abs(yk - ys)) < 5e-3


def test_utm_central_meridian_and_equator():
    x, y = transform_np(np.array([3.0]), np.array([0.0]), "EPSG:4326", "EPSG:32631")
    assert abs(x[0] - 500000.0) < 1e-9
    assert abs(y[0]) < 1e-9
    # south zone adds the 10,000 km false northing
    xs, ys = transform_np(np.array([3.0]), np.array([0.0]), "EPSG:4326", "EPSG:32731")
    assert abs(ys[0] - 10000000.0) < 1e-9
    # meridian scale factor: meridian arc × k0
    x1, y1 = transform_np(np.array([3.0, 3.0]), np.array([45.0, 45.001]), "EPSG:4326", "EPSG:32631")
    # geodesic meridian distance for 0.001° at 45° ≈ 111.131 m; on the grid × 0.9996
    assert abs((y1[1] - y1[0]) / 111.1318 / 0.9996 - 1.0) < 1e-4


@pytest.mark.parametrize("crs", ["EPSG:3857", "EPSG:32631", "EPSG:32733"])
def test_round_trip_numpy(crs):
    rng = np.random.default_rng(4)
    if crs == "EPSG:3857":
        lon = rng.uniform(-179, 179, 300)
        lat = rng.uniform(-85, 85, 300)
    else:
        zone = int(crs[-2:])
        lon0 = -183.0 + 6 * zone
        lon = lon0 + rng.uniform(-2.99, 2.99, 300)
        lat = rng.uniform(-79, 83, 300)
    x, y = transform_np(lon, lat, "EPSG:4326", crs)
    lon2, lat2 = transform_np(x, y, crs, "EPSG:4326")
    assert np.max(np.abs(lon2 - lon)) < 1e-8
    assert np.max(np.abs(lat2 - lat)) < 1e-8


def test_catalyst_matches_numpy_twins(spark):
    import pandas as pd

    rng = np.random.default_rng(9)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-84, 84, 500)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    for crs in ("EPSG:3857", "EPSG:32615"):
        out = transform_df(df, "EPSG:4326", crs).orderBy("lon").toPandas()
        ref = np.argsort(lon)
        xs, ys = transform_np(lon[ref], lat[ref], "EPSG:4326", crs)
        # same IEEE formulas, JVM vs numpy: essentially bit-identical
        np.testing.assert_allclose(out["x"].to_numpy(), xs, rtol=1e-13, atol=1e-6)
        np.testing.assert_allclose(out["y"].to_numpy(), ys, rtol=1e-13, atol=1e-6)
    # outside web mercator's latitude domain both backends clamp to the
    # square world: the poles land on ±extent, not on ±inf or NaN
    lat = np.array([90.0, -90.0, 85.06, -89.9])
    lon = np.array([10.0, -20.0, 30.0, -40.0])
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    out = transform_df(df, "EPSG:4326", "EPSG:3857").orderBy("lon").toPandas()
    ref = np.argsort(lon)
    xs, ys = transform_np(lon[ref], lat[ref], "EPSG:4326", "EPSG:3857")
    assert np.isfinite(out["y"]).all() and np.isfinite(ys).all()
    np.testing.assert_allclose(out["x"].to_numpy(), xs, rtol=1e-13, atol=1e-6)
    np.testing.assert_allclose(out["y"].to_numpy(), ys, rtol=1e-13, atol=1e-6)
    np.testing.assert_allclose(np.abs(ys), WEB_MERCATOR_EXTENT, rtol=1e-12)


def test_mercator_clamp_passes_null_and_nan(spark):
    """The latitude clamp keeps np.clip semantics in Catalyst: a null or
    NaN latitude stays null / NaN instead of snapping to a domain edge."""
    df = spark.createDataFrame(
        [(0, 10.0, None), (1, 10.0, float("nan"))], "i int, lon double, lat double"
    )
    rows = transform_df(df, "EPSG:4326", "EPSG:3857").orderBy("i").collect()
    assert rows[0]["y"] is None
    assert math.isnan(rows[1]["y"])
    _, ys = transform_np(np.array([10.0]), np.array([np.nan]), "EPSG:4326", "EPSG:3857")
    assert math.isnan(ys[0])


def test_inverse_cols_catalyst(spark):
    import pandas as pd

    rng = np.random.default_rng(3)
    lon = 3.0 + rng.uniform(-2.9, 2.9, 100)
    lat = rng.uniform(-70, 70, 100)
    x, y = transform_np(lon, lat, "EPSG:4326", "EPSG:32631")
    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y, "i": np.arange(100)}))
    lo, la = inverse_cols("EPSG:32631", "x", "y")
    out = df.select("i", lo.alias("lon"), la.alias("lat")).orderBy("i").toPandas()
    np.testing.assert_allclose(out["lon"], lon, atol=1e-9)
    np.testing.assert_allclose(out["lat"], lat, atol=1e-9)


def test_reproject_envelope_covers_interior():
    # a lon/lat box through a UTM zone: every interior point's projection
    # must fall inside the densified envelope (geotools transform(…, true))
    box = (0.5, 40.0, 5.5, 55.0)
    env = reproject_envelope(box, "EPSG:4326", "EPSG:32631")
    rng = np.random.default_rng(7)
    lon = rng.uniform(box[0], box[2], 2000)
    lat = rng.uniform(box[1], box[3], 2000)
    x, y = transform_np(lon, lat, "EPSG:4326", "EPSG:32631")
    assert (x >= env[0] - 1e-6).all() and (x <= env[2] + 1e-6).all()
    assert (y >= env[1] - 1e-6).all() and (y <= env[3] + 1e-6).all()
    # and the curved-edge margin is real: the naive 4-corner bbox is smaller
    cx, cy = transform_np(
        np.array([box[0], box[2], box[0], box[2]]),
        np.array([box[1], box[1], box[3], box[3]]),
        "EPSG:4326",
        "EPSG:32631",
    )
    # (grid northings rise away from the central meridian, so the bottom
    # edge dips below every corner at the CM crossing)
    assert env[1] < min(cy) - 1.0


def test_reproject_envelope_finds_extreme_between_samples():
    # the side edges of this box are widest in UTM x on the equator, which
    # none of the 21 default samples of −37..41 hits (uniform samples alone
    # fall 152 m short); the envelope covers edges sampled every 0.01° to 1 mm
    box = (0.5, -37.0, 5.5, 41.0)
    env = reproject_envelope(box, "EPSG:4326", "EPSG:32631")
    lons = np.linspace(box[0], box[2], 501)
    lats = np.linspace(box[1], box[3], 7801)
    ex = np.concatenate([lons, lons, np.full(lats.size, box[0]), np.full(lats.size, box[2])])
    ey = np.concatenate([np.full(lons.size, box[1]), np.full(lons.size, box[3]), lats, lats])
    x, y = transform_np(ex, ey, "EPSG:4326", "EPSG:32631")
    assert env[0] <= x.min() + 1e-3 and env[2] >= x.max() - 1e-3
    assert env[1] <= y.min() + 1e-3 and env[3] >= y.max() - 1e-3


def test_crs_extent():
    assert crs_extent("EPSG:4326") == (-180.0, -90.0, 180.0, 90.0)
    e = crs_extent("EPSG:3857")
    assert abs(e[2] - WEB_MERCATOR_EXTENT) < 1e-6 and abs(e[0] + e[2]) < 1e-9
    minx, miny, maxx, maxy = crs_extent("EPSG:32631")
    assert minx < 500000.0 < maxx
    assert miny < 0 < maxy  # 80S..84N straddles the equator northing 0


@pytest.mark.parametrize("code", ["EPSG:32631", "EPSG:32733"])
def test_utm_extent_covers_zone_box(code):
    """The UTM extent is the projected zone box (6° wide, 80S..84N): its
    edges, sampled every 0.01°, lie inside it to 1 mm — incl. the
    corners (the y extremes) and the equator crossings of the side
    edges (the x extremes) — and it is no more than 1 m wider."""
    lon0 = -183.0 + 6.0 * int(code[-2:])
    lons = np.linspace(lon0 - 3.0, lon0 + 3.0, 601)
    lats = np.linspace(-80.0, 84.0, 16401)
    ex = np.concatenate([lons, lons, np.full(lats.size, lon0 - 3.0), np.full(lats.size, lon0 + 3.0)])
    ey = np.concatenate([np.full(lons.size, -80.0), np.full(lons.size, 84.0), lats, lats])
    x, y = transform_np(ex, ey, "EPSG:4326", code)
    minx, miny, maxx, maxy = crs_extent(code)
    assert minx <= x.min() + 1e-3 and maxx >= x.max() - 1e-3
    assert miny <= y.min() + 1e-3 and maxy >= y.max() - 1e-3
    assert x.min() - minx < 1.0 and maxx - x.max() < 1.0
    assert y.min() - miny < 1.0 and maxy - y.max() < 1.0


def test_kde_in_web_mercator_matches_numpy(spark):
    """KDE with crs=EPSG:3857: cell weights equal an independent numpy
    recomputation of project→bin→stencil-smear (the reference's custom-CRS
    KDE invariant: same pipeline, different grid geometry)."""
    import pandas as pd

    from geowave_spark.operators.kde import KERNEL_RADIUS, gaussian_stencil, kde

    rng = np.random.default_rng(21)
    lon = rng.uniform(-170, 170, 400)
    lat = rng.uniform(-80, 80, 400)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    level = 4
    out = kde(df, level, crs="EPSG:3857").toPandas()

    nx, ny = 1 << (level + 1), 1 << level
    ext = WEB_MERCATOR_EXTENT
    x, y = transform_np(lon, lat, "EPSG:4326", "EPSG:3857")
    px = np.clip(np.floor((x + ext) / (2 * ext) * nx).astype(np.int64), 0, nx - 1)
    py = np.clip(np.floor((y + ext) / (2 * ext) * ny).astype(np.int64), 0, ny - 1)
    want: dict[tuple[int, int], float] = {}
    for bx, by in zip(px, py):
        for dx, dy, w in gaussian_stencil():
            cx, cy = bx + dx, by + dy
            if 0 <= cx < nx and 0 <= cy < ny:
                want[(cx, cy)] = want.get((cx, cy), 0.0) + w
    got = {(int(r["cx"]), int(r["cy"])): r["weight"] for _, r in out.iterrows()}
    assert set(got) == set(want)
    for k_ in want:
        assert abs(got[k_] - want[k_]) < 1e-9
    assert KERNEL_RADIUS == 3