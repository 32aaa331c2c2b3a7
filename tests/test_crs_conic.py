"""crs_conic: arbitrary-CRS extension (LCC / Albers / LAEA / Mercator /
generic TM) — oracle strategy:

* **Exact origin invariants** — projecting the natural origin must give
  exactly (FE, FN), and points on the central meridian must keep E = FE;
  both are true by the definition of the projection, independent of any
  implementation.
* **Defining-property oracles** — conformal projections must have local
  scale exactly k₀ on their standard parallels; equal-area projections
  must preserve the ellipsoidal area element (Jacobian test).  These are
  closed-form truths from the projection's published definition, not a
  re-run of the code under test.
* **Cross-implementation checks** — the generic Krüger TM (which also
  serves the UTM codes) must agree with the fixed-WGS84 oracle in
  ``utm_oracle.py``; Catalyst and numpy backends must agree
  bit-for-bit-ish on random points.

Reference parity: geotools CRS.decode + ReferencedEnvelope.transform
(RasterDataAdapter.java:444-550); formulas from EPSG GN7-2 (public).
"""

import math

import numpy as np
import pytest

import utm_oracle
from geowave_spark import crs
from geowave_spark import crs_conic


REG_ORIGINS = {
    # code: (lon0, lat0, FE, FN)
    "EPSG:2154": (3.0, 46.5, 700000.0, 6600000.0),
    "EPSG:3034": (10.0, 52.0, 4000000.0, 2800000.0),
    "EPSG:3035": (10.0, 52.0, 4321000.0, 3210000.0),
    "EPSG:5070": (-96.0, 23.0, 0.0, 0.0),
    "EPSG:3395": (0.0, 0.0, 0.0, 0.0),
}


# ellipsoidal helpers for the property oracles (independent scalar math)
def _nu(a, e2, phi):  # prime-vertical radius
    return a / math.sqrt(1.0 - e2 * math.sin(phi) ** 2)


def _rho_m(a, e2, phi):  # meridional radius
    return a * (1.0 - e2) / (1.0 - e2 * math.sin(phi) ** 2) ** 1.5


@pytest.mark.parametrize("code", sorted(REG_ORIGINS))
def test_origin_exact(code):
    lon0, lat0, fe, fn = REG_ORIGINS[code]
    x, y = crs.transform_np(np.array([lon0]), np.array([lat0]), "EPSG:4326", code)
    assert abs(float(x[0]) - fe) < 1e-6
    assert abs(float(y[0]) - fn) < 1e-6


@pytest.mark.parametrize("code", sorted(REG_ORIGINS))
def test_central_meridian_stays_on_fe(code):
    lon0, lat0, fe, _ = REG_ORIGINS[code]
    lats = np.array([lat0 - 8.0, lat0 - 2.0, lat0 + 2.0, lat0 + 8.0])
    x, _ = crs.transform_np(np.full(4, lon0), lats, "EPSG:4326", code)
    assert np.abs(x - fe).max() < 1e-6


@pytest.mark.parametrize("code", sorted(REG_ORIGINS))
def test_roundtrip_area_of_use(code):
    kind = crs._parse(code)
    assert kind[0] == "ext"
    a = kind[2]
    rng = np.random.default_rng(11)
    lon = rng.uniform(a[0], a[2], 800)
    lat = rng.uniform(a[1], a[3], 800)
    x, y = crs.transform_np(lon, lat, "EPSG:4326", code)
    lo2, la2 = crs.transform_np(x, y, code, "EPSG:4326")
    # conformal paths round-trip to 1e-12; the authalic series bounds the
    # equal-area inverses at ~1.4e-8 deg (≈1.5 mm) — assert 1e-7 (≈1 cm)
    assert np.abs(lo2 - lon).max() < 1e-7
    assert np.abs(la2 - lat).max() < 1e-7


def test_lcc_scale_is_unity_on_standard_parallels():
    """Conformal defining property: local scale along a standard parallel
    equals 1 (2SP).  True parallel arc = a·m(φ)·Δλ with
    m = cosφ/√(1−e²sin²φ) — closed-form ellipsoid geometry."""
    a, rf = crs_conic.ELLIPSOIDS["GRS80"]
    e2 = (1.0 / rf) * (2.0 - 1.0 / rf)
    dlam = 1e-7  # radians
    for code, (lat1, lat2) in {
        "EPSG:2154": (49.0, 44.0),
        "EPSG:3034": (35.0, 65.0),
    }.items():
        for lat_sp in (lat1, lat2):
            phi = math.radians(lat_sp)
            lons = np.array([5.0, 5.0 + math.degrees(dlam)])
            x, y = crs.transform_np(lons, np.full(2, lat_sp), "EPSG:4326", code)
            proj_d = math.hypot(float(x[1] - x[0]), float(y[1] - y[0]))
            true_d = _nu(a, e2, phi) * math.cos(phi) * dlam
            assert abs(proj_d / true_d - 1.0) < 1e-9, (code, lat_sp)


def test_mercator_scale_k0_at_equator():
    # x is linear in λ for Mercator, so a wide Δλ avoids cancellation
    a, rf = crs_conic.ELLIPSOIDS["WGS84"]
    dlam = 0.01
    lons = np.array([10.0, 10.0 + math.degrees(dlam)])
    x, _ = crs.transform_np(lons, np.zeros(2), "EPSG:4326", "EPSG:3395")
    assert abs(float(x[1] - x[0]) / (a * dlam) - 1.0) < 1e-9


@pytest.mark.parametrize(
    "code, pts",
    [
        ("EPSG:5070", [(-120.0, 35.0), (-96.0, 23.0), (-75.0, 44.0)]),
        ("EPSG:3035", [(-8.0, 38.0), (10.0, 52.0), (30.0, 66.0)]),
    ],
)
def test_equal_area_jacobian(code, pts):
    """Equal-area defining property: the area of an infinitesimal
    projected quad equals the true ellipsoidal area element
    M(φ)·ν(φ)·cosφ·dφ·dλ."""
    a, rf = crs_conic.ELLIPSOIDS["GRS80"]
    e2 = (1.0 / rf) * (2.0 - 1.0 / rf)
    d = 1e-4  # degrees (≈11 m quad: curvature error O(d²) ≈ 3e-12 rel)
    for lon, lat in pts:
        lons = np.array([lon, lon + d, lon + d, lon])
        lats = np.array([lat, lat, lat + d, lat + d])
        x, y = crs.transform_np(lons, lats, "EPSG:4326", code)
        # recenter before the shoelace: translation-invariant, and it
        # removes the ~4e6 m offsets that would otherwise cancel away
        # all the significand (the quad itself is only ~10 m across)
        x = x - x.mean()
        y = y - y.mean()
        area = 0.5 * abs(
            float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
        )
        phi = math.radians(lat + d / 2.0)
        dr = math.radians(d)
        true = _rho_m(a, e2, phi) * _nu(a, e2, phi) * math.cos(phi) * dr * dr
        assert abs(area / true - 1.0) < 1e-5, (code, lon, lat)


def test_generic_tmerc_matches_trusted_utm_path():
    rng = np.random.default_rng(3)
    lon = rng.uniform(12.0, 18.0, 400)
    lat = rng.uniform(-75.0, 80.0, 400)
    x1, y1 = utm_oracle.utm_forward(lon, lat, 15.0, 0.0)
    for code in (
        "EPSG:32633",
        "+proj=tmerc +lat_0=0 +lon_0=15 +k_0=0.9996 +x_0=500000 +y_0=0"
        " +ellps=WGS84 +units=m",
    ):
        x2, y2 = crs.transform_np(lon, lat, "EPSG:4326", code)
        assert np.abs(x1 - x2).max() < 1e-6
        assert np.abs(y1 - y2).max() < 1e-6


def test_tmerc_nonzero_lat0_origin():
    p = "+proj=tmerc +lat_0=49 +lon_0=-2 +k_0=0.9996012717 +x_0=400000 +y_0=-100000 +ellps=WGS84"
    x, y = crs.transform_np(np.array([-2.0]), np.array([49.0]), "EPSG:4326", p)
    assert abs(float(x[0]) - 400000.0) < 1e-6
    assert abs(float(y[0]) + 100000.0) < 1e-6


def test_laea_origin_inverse_exact():
    # the ρ=0 guard: inverting exactly (FE, FN) must return the origin
    lon, lat = crs.transform_np(
        np.array([4321000.0]), np.array([3210000.0]), "EPSG:3035", "EPSG:4326"
    )
    assert abs(float(lon[0]) - 10.0) < 1e-9
    assert abs(float(lat[0]) - 52.0) < 1e-7


def test_proj_string_rejections():
    with pytest.raises(ValueError):
        crs_conic.parse_proj_string("+proj=lcc +lat_1=30 +units=us-ft")
    with pytest.raises(ValueError):
        # oblique stereographic is unsupported (polar aspect only)
        crs_conic.parse_proj_string("+proj=stere +lat_0=45")
    with pytest.raises(ValueError):
        # towgs84 must have 3 or 7 values (4 is neither)
        crs_conic.parse_proj_string(
            "+proj=lcc +lat_1=30 +towgs84=120,50,0,1 +units=m"
        )
    with pytest.raises(ValueError):
        crs._parse("EPSG:9999")
    # a standard parallel at a pole: a named error, not a bare log(0)
    with pytest.raises(ValueError, match=r"lat_1=75, lat_2=90.*pole"):
        crs_conic.parse_proj_string("+proj=lcc +lat_1=75 +lat_2=90")


def test_sphere_ellipsoid_laea():
    # e = 0 limit: spherical LAEA round-trips and preserves area too
    p = "+proj=laea +lat_0=40 +lon_0=-100 +R=6370997 +units=m"
    rng = np.random.default_rng(5)
    lon = rng.uniform(-130.0, -70.0, 300)
    lat = rng.uniform(20.0, 60.0, 300)
    x, y = crs.transform_np(lon, lat, "EPSG:4326", p)
    lo2, la2 = crs.transform_np(x, y, p, "EPSG:4326")
    assert np.abs(lo2 - lon).max() < 1e-9
    assert np.abs(la2 - lat).max() < 1e-9


def test_crs_extent_and_envelope_ext():
    ext = crs.crs_extent("EPSG:3035")
    assert ext[0] < 4321000.0 < ext[2]
    assert ext[1] < 3210000.0 < ext[3]
    env = crs.reproject_envelope((0.0, 40.0, 20.0, 60.0), "EPSG:4326", "EPSG:2154")
    # must contain the corners' images (densified ≥ corner hull)
    cx, cy = crs.transform_np(
        np.array([0.0, 20.0, 0.0, 20.0]), np.array([40.0, 40.0, 60.0, 60.0]),
        "EPSG:4326", "EPSG:2154",
    )
    assert env[0] <= cx.min() and env[2] >= cx.max()
    assert env[1] <= cy.min() and env[3] >= cy.max()


POLAR = {
    # code: (lon0, south, FE, FN)
    "EPSG:3413": (-45.0, False, 0.0, 0.0),
    "EPSG:3031": (0.0, True, 0.0, 0.0),
    "EPSG:5041": (0.0, False, 2000000.0, 2000000.0),
    "EPSG:5042": (0.0, True, 2000000.0, 2000000.0),
}


@pytest.mark.parametrize("code", sorted(POLAR))
def test_polar_pole_and_meridian_invariants(code):
    lon0, south, fe, fn = POLAR[code]
    pole = -90.0 if south else 90.0
    x, y = crs.transform_np(np.array([lon0]), np.array([pole]), "EPSG:4326", code)
    assert abs(float(x[0]) - fe) < 1e-6 and abs(float(y[0]) - fn) < 1e-6
    # the central meridian stays on E = FE
    lats = np.array([70.0, 80.0, 88.0]) * (-1.0 if south else 1.0)
    x, _ = crs.transform_np(np.full(3, lon0), lats, "EPSG:4326", code)
    assert np.abs(x - fe).max() < 1e-6


@pytest.mark.parametrize("code", sorted(POLAR))
def test_polar_roundtrip(code):
    lon0, south, _, _ = POLAR[code]
    rng = np.random.default_rng(23)
    lon = rng.uniform(-180.0, 180.0, 600)
    lat = rng.uniform(60.0, 89.9, 600) * (-1.0 if south else 1.0)
    x, y = crs.transform_np(lon, lat, "EPSG:4326", code)
    lo2, la2 = crs.transform_np(x, y, code, "EPSG:4326")
    dlon = np.abs((lo2 - lon + 180.0) % 360.0 - 180.0)  # wrap-safe
    assert dlon.max() < 1e-9
    assert np.abs(la2 - lat).max() < 1e-9


def test_polar_stereo_scale_at_standard_parallel():
    """Variant-B defining property: scale = 1 on φ_ts — checked along
    BOTH the parallel and the meridian directions (conformality makes
    them equal; the parallel one is by construction, the meridian one
    genuinely exercises dt/dφ)."""
    a, rf = crs_conic.ELLIPSOIDS["WGS84"]
    e2 = (1.0 / rf) * (2.0 - 1.0 / rf)
    for code, lat_ts in (("EPSG:3413", 70.0), ("EPSG:3031", -71.0)):
        phi = math.radians(lat_ts)
        # parallel direction
        dlam = 1e-4
        lons = np.array([30.0, 30.0 + math.degrees(dlam)])
        x, y = crs.transform_np(lons, np.full(2, lat_ts), "EPSG:4326", code)
        d = math.hypot(float(x[1] - x[0]), float(y[1] - y[0]))
        assert abs(d / (_nu(a, e2, phi) * math.cos(phi) * dlam) - 1.0) < 1e-6, code
        # meridian direction — central difference (k varies along the
        # meridian, so a one-sided step measures k at the midpoint)
        dphi = 1e-4
        lats = lat_ts + np.array([-0.5, 0.5]) * math.degrees(dphi)
        x, y = crs.transform_np(np.full(2, 30.0), lats, "EPSG:4326", code)
        d = math.hypot(float(x[1] - x[0]), float(y[1] - y[0]))
        assert abs(d / (_rho_m(a, e2, phi) * dphi) - 1.0) < 1e-6, code


def test_ups_conformality():
    """Variant A (UPS): conformal ⇒ parallel-direction and
    meridian-direction scales agree at every point."""
    a, rf = crs_conic.ELLIPSOIDS["WGS84"]
    e2 = (1.0 / rf) * (2.0 - 1.0 / rf)
    for lat in (75.0, 80.0, 85.0):
        phi = math.radians(lat)
        d = 1e-4
        # central differences in both directions (k varies with φ)
        lons = np.array([40.0 - d / 2, 40.0 + d / 2, 40.0, 40.0])
        lats = np.array([lat, lat, lat - d / 2, lat + d / 2])
        x, y = crs.transform_np(lons, lats, "EPSG:4326", "EPSG:5041")
        dr = math.radians(d)
        k_par = math.hypot(float(x[1] - x[0]), float(y[1] - y[0])) / (
            _nu(a, e2, phi) * math.cos(phi) * dr
        )
        k_mer = math.hypot(float(x[3] - x[2]), float(y[3] - y[2])) / (
            _rho_m(a, e2, phi) * dr
        )
        assert abs(k_par / k_mer - 1.0) < 1e-6, lat
        # UPS scale is k₀=0.994 at the pole and grows away from it
        # (≈1.016 at 75°N); bracket the trend
        assert 0.994 <= k_par < 1.02


def test_polar_crs_extent_covers_cap():
    ext = crs.crs_extent("EPSG:3413")
    # the 60N circle has radius ρ(60) ≈ 3.4e6 m around the pole (0,0)
    x, y = crs.transform_np(np.array([135.0 - 45.0]), np.array([60.0]), "EPSG:4326", "EPSG:3413")
    r = math.hypot(float(x[0]), float(y[0]))
    for v, lim in ((ext[0], -r), (ext[1], -r), (ext[2], r), (ext[3], r)):
        assert abs(abs(v) - r) / r < 0.01


def test_catalyst_numpy_parity(spark):
    """The Catalyst expression path and the numpy twin evaluate the same
    formula source — results must agree to float64 round-off on random
    points, for every projection family."""
    rng = np.random.default_rng(17)
    n = 256
    cases = {
        "EPSG:2154": (-4.0, 42.0, 8.0, 51.0),
        "EPSG:5070": (-124.0, 25.0, -67.0, 49.0),
        "EPSG:3035": (-10.0, 35.0, 30.0, 70.0),
        "EPSG:3395": (-170.0, -75.0, 170.0, 80.0),
        "EPSG:3413": (-179.0, 61.0, 179.0, 89.0),
    }
    for code, (lo, la, hi, ha) in cases.items():
        lon = rng.uniform(lo, hi, n)
        lat = rng.uniform(la, ha, n)
        import pandas as pd

        df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
        out = (
            crs.transform_df(df, "EPSG:4326", code)
            .select("x", "y")
            .toPandas()
            .to_numpy()
        )
        nx, ny = crs.transform_np(lon, lat, "EPSG:4326", code)
        assert np.abs(out[:, 0] - nx).max() < 1e-6
        assert np.abs(out[:, 1] - ny).max() < 1e-6
        # and the inverse direction
        df2 = spark.createDataFrame(pd.DataFrame({"x": nx, "y": ny}))
        from geowave_spark.crs import inverse_cols

        ic = inverse_cols(code, "x", "y")
        out2 = df2.select(ic[0].alias("lon"), ic[1].alias("lat")).toPandas().to_numpy()
        ilo, ila = crs.transform_np(nx, ny, code, "EPSG:4326")
        assert np.abs(out2[:, 0] - ilo).max() < 1e-9
        assert np.abs(out2[:, 1] - ila).max() < 1e-9


# ---------------------------------------------------------------------------
# property-based sweeps: random projection parameters, not just the registry
# ---------------------------------------------------------------------------

from hypothesis import example, given, settings
from hypothesis import strategies as st


_lat = st.floats(min_value=-70.0, max_value=70.0)
_lon = st.floats(min_value=-179.0, max_value=179.0)


@settings(max_examples=60, deadline=None)
@given(
    lat1=st.floats(min_value=-75.0, max_value=75.0),
    dlat2=st.floats(min_value=0.0, max_value=15.0),
    lat0=st.floats(min_value=-75.0, max_value=75.0),
    lon0=st.floats(min_value=-179.0, max_value=179.0),
    ellps=st.sampled_from(["WGS84", "GRS80", "intl", "sphere"]),
    which=st.sampled_from(["lcc", "aea"]),
)
# standard parallels symmetric about the equator: n = 0, the cylinder
@example(lat1=-0.5, dlat2=1.0, lat0=0.0, lon0=0.0, ellps="WGS84", which="aea")
# nearly symmetric: n ≈ 1e-7, too flat a cone to round-trip to 1e-7°
@example(lat1=-0.5, dlat2=0.99999, lat0=0.0, lon0=0.0, ellps="WGS84", which="aea")
# a standard parallel at the pole: the cone collapses (t = 0)
@example(lat1=75.0, dlat2=15.0, lat0=0.0, lon0=0.0, ellps="WGS84", which="lcc")
def test_conic_roundtrip_random_params(lat1, dlat2, lat0, lon0, ellps, which):
    """Any LCC/Albers parameterization round-trips and pins its natural
    origin at (FE, FN) — over random standard parallels, origins and
    ellipsoids, not just the EPSG registry entries.  Parameters the
    parser rejects by design must fail with an error that names why."""
    lat2 = lat1 + dlat2

    def proj_string(lat1, lat2):
        return (
            f"+proj={which} +lat_0={lat0} +lat_1={lat1} +lat_2={lat2}"
            f" +lon_0={lon0} +x_0=3000.0 +y_0=-2000.0 +ellps={ellps} +units=m"
        )

    if abs(lat1) < 0.5 and abs(lat2) < 0.5 and which == "aea":
        lat1, lat2 = lat1 + 5.0, lat2 + 10.0  # n→0 (cylindrical limit) is out of scope
    if which == "lcc" and abs(lat1 + lat2) < 1.0:
        lat1, lat2 = lat1 + 5.0, lat2 + 10.0  # n→0: secant parallels straddling the equator
    if which == "lcc" and math.radians(lat2) >= math.pi / 2.0:  # as parsed
        with pytest.raises(ValueError, match="pole"):
            crs_conic.parse_proj_string(proj_string(lat1, lat2))
        return
    # |n| ≈ |sin((φ₁+φ₂)/2)|: a cone with |n| < MIN_CONE_N = 1e-6 is refused
    # by name; below 1e-5° of symmetry it must be, above 1e-3° it must not
    try:
        crs_conic.parse_proj_string(proj_string(lat1, lat2))
    except ValueError as err:
        assert abs(lat1 + lat2) < 1e-3, err
        assert "degenerate" in str(err) and "cylindrical" in str(err)
        return
    assert abs(lat1 + lat2) >= 1e-5
    p = proj_string(lat1, lat2)
    ox, oy = crs.transform_np(np.array([lon0]), np.array([lat0]), "EPSG:4326", p)
    assert abs(float(ox[0]) - 3000.0) < 1e-5
    assert abs(float(oy[0]) + 2000.0) < 1e-5
    # round-trip a window around the standard parallels (the projection's
    # own domain), clamped to valid latitudes
    mid = (lat1 + lat2) / 2.0
    lats = np.clip(np.linspace(mid - 20.0, mid + 20.0, 9), -84.0, 84.0)
    lons = ((lon0 + np.linspace(-60.0, 60.0, 9)) + 180.0) % 360.0 - 180.0
    x, y = crs.transform_np(lons, lats, "EPSG:4326", p)
    lo2, la2 = crs.transform_np(x, y, p, "EPSG:4326")
    dlon = np.abs((lo2 - lons + 180.0) % 360.0 - 180.0)
    assert dlon.max() < 1e-7
    assert np.abs(la2 - lats).max() < 1e-7


@settings(max_examples=40, deadline=None)
@given(
    lat0=st.floats(min_value=-60.0, max_value=60.0),
    lon0=st.floats(min_value=-179.0, max_value=179.0),
    ellps=st.sampled_from(["WGS84", "GRS80", "sphere"]),
)
def test_laea_roundtrip_random_params(lat0, lon0, ellps):
    p = f"+proj=laea +lat_0={lat0} +lon_0={lon0} +ellps={ellps} +units=m"
    ox, oy = crs.transform_np(np.array([lon0]), np.array([lat0]), "EPSG:4326", p)
    assert abs(float(ox[0])) < 1e-5 and abs(float(oy[0])) < 1e-5
    lats = np.clip(lat0 + np.linspace(-30.0, 30.0, 7), -84.0, 84.0)
    lons = ((lon0 + np.linspace(-60.0, 60.0, 7)) + 180.0) % 360.0 - 180.0
    x, y = crs.transform_np(lons, lats, "EPSG:4326", p)
    lo2, la2 = crs.transform_np(x, y, p, "EPSG:4326")
    dlon = np.abs((lo2 - lons + 180.0) % 360.0 - 180.0)
    assert dlon.max() < 1e-6
    assert np.abs(la2 - lats).max() < 1e-6


@settings(max_examples=40, deadline=None)
@given(
    lon0=st.floats(min_value=-179.0, max_value=179.0),
    k0=st.floats(min_value=0.99, max_value=1.01),
    lat0=st.floats(min_value=-60.0, max_value=60.0),
    ellps=st.sampled_from(["WGS84", "GRS80", "intl"]),
)
def test_tmerc_roundtrip_random_params(lon0, k0, lat0, ellps):
    p = (
        f"+proj=tmerc +lat_0={lat0} +lon_0={lon0} +k_0={k0}"
        f" +x_0=500000 +y_0=0 +ellps={ellps} +units=m"
    )
    ox, oy = crs.transform_np(np.array([lon0]), np.array([lat0]), "EPSG:4326", p)
    assert abs(float(ox[0]) - 500000.0) < 1e-6
    assert abs(float(oy[0])) < 1e-6
    lats = np.clip(lat0 + np.linspace(-25.0, 25.0, 7), -84.0, 84.0)
    lons = lon0 + np.linspace(-6.0, 6.0, 7)  # in-zone domain
    x, y = crs.transform_np(lons, lats, "EPSG:4326", p)
    lo2, la2 = crs.transform_np(x, y, p, "EPSG:4326")
    # ±6° spans twice a UTM zone's half-width: the Krüger n⁴ series
    # truncates at ~4e-9 deg out there (sub-mm in zone) — allow 1 cm;
    # wrap-safe because inverses emit principal-branch longitudes
    dlon = np.abs((lo2 - lons + 180.0) % 360.0 - 180.0)
    assert dlon.max() < 1e-7
    assert np.abs(la2 - lats).max() < 1e-7


def test_polar_variant_a_equals_variant_b_at_equivalent_k0():
    """Internal cross-check: variant A (k₀ at pole) with
    k₀ = m(φ_ts)·√((1+e)^(1+e)(1−e)^(1−e)) / (2·t(φ_ts)) is the SAME
    projection as variant B with standard parallel φ_ts — two distinct
    code paths must agree to float round-off."""
    a, rf = crs_conic.ELLIPSOIDS["WGS84"]
    f = 1.0 / rf
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    ts = math.radians(70.0)
    k0 = (
        crs_conic._m_s(ts, e2)
        * math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
        / (2.0 * crs_conic._t_s(ts, e))
    )
    pa = f"+proj=stere +lat_0=90 +lon_0=-45 +k_0={k0!r} +ellps=WGS84"
    pb = "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +ellps=WGS84"
    rng = np.random.default_rng(31)
    lon = rng.uniform(-180.0, 180.0, 300)
    lat = rng.uniform(60.0, 89.9, 300)
    xa, ya = crs.transform_np(lon, lat, "EPSG:4326", pa)
    xb, yb = crs.transform_np(lon, lat, "EPSG:4326", pb)
    assert np.abs(xa - xb).max() < 1e-6
    assert np.abs(ya - yb).max() < 1e-6


def test_mercator_lat_ts_scale():
    """2SP Mercator: scale along the standard parallel φ_ts equals 1."""
    a, rf = crs_conic.ELLIPSOIDS["WGS84"]
    e2 = (1.0 / rf) * (2.0 - 1.0 / rf)
    p = "+proj=merc +lat_ts=45 +lon_0=0 +ellps=WGS84 +units=m"
    phi = math.radians(45.0)
    dlam = 0.01
    lons = np.array([10.0, 10.0 + math.degrees(dlam)])
    x, _ = crs.transform_np(lons, np.full(2, 45.0), "EPSG:4326", p)
    true_d = _nu(a, e2, phi) * math.cos(phi) * dlam
    assert abs(float(x[1] - x[0]) / true_d - 1.0) < 1e-9


def test_explicit_ab_ellipsoid_matches_named():
    """+a/+b semi-axes must resolve to the same ellipsoid as +ellps."""
    pa = "+proj=lcc +lat_0=46.5 +lat_1=49 +lat_2=44 +lon_0=3 +a=6378137 +b=6356752.314140356 +units=m"
    pb = "+proj=lcc +lat_0=46.5 +lat_1=49 +lat_2=44 +lon_0=3 +ellps=GRS80 +units=m"
    rng = np.random.default_rng(37)
    lon = rng.uniform(-5.0, 10.0, 200)
    lat = rng.uniform(41.0, 52.0, 200)
    xa, ya = crs.transform_np(lon, lat, "EPSG:4326", pa)
    xb, yb = crs.transform_np(lon, lat, "EPSG:4326", pb)
    assert np.abs(xa - xb).max() < 1e-5
    assert np.abs(ya - yb).max() < 1e-5


def test_proj_string_default_extent_centers_on_origin():
    ext = crs.crs_extent("+proj=lcc +lat_0=60 +lat_1=55 +lat_2=65 +lon_0=100 +ellps=WGS84")
    ox, oy = crs.transform_np(np.array([100.0]), np.array([60.0]), "EPSG:4326",
                              "+proj=lcc +lat_0=60 +lat_1=55 +lat_2=65 +lon_0=100 +ellps=WGS84")
    assert ext[0] < ox[0] < ext[2] and ext[1] < oy[0] < ext[3]


def test_degenerate_cone_raises_clearly():
    with pytest.raises(ValueError, match="degenerate"):
        crs_conic.parse_proj_string("+proj=lcc +lon_0=3 +units=m")
    with pytest.raises(ValueError, match="degenerate"):
        crs_conic.parse_proj_string("+proj=aea +lat_1=-20 +lat_2=20 +units=m")


def test_dateline_edge_stays_east():
    """+180° must project to the EAST edge (closed [−π, π] wrapping like
    PROJ adjlon) — pre-fix it collapsed onto −180, exploding any
    dateline-touching envelope to world-spanning (code-review find)."""
    x, _ = crs.transform_np(np.array([180.0]), np.array([0.0]), "EPSG:4326", "EPSG:3395")
    assert float(x[0]) > 2.0e7
    env = crs.reproject_envelope((170.0, -10.0, 180.0, 10.0), "EPSG:4326", "EPSG:3395")
    assert env[0] > 1.8e7 and env[2] > env[0]
    ext = crs.crs_extent("EPSG:3395")
    assert abs(ext[2] + ext[0]) < 1.0  # symmetric east/west edges


def test_polar_proj_string_default_extent_covers_cap():
    """Ad-hoc polar stereographic proj strings get a full-circle default
    working area — pre-fix the lon0±90 half-plane truncated the extent
    at the pole (maxy ≈ 0), silently piling far-side KDE points onto
    one grid edge (code-review find)."""
    p = "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +ellps=WGS84"
    ext = crs.crs_extent(p)
    x, y = crs.transform_np(np.array([135.0]), np.array([70.0]), "EPSG:4326", p)
    assert ext[0] < x[0] < ext[2]
    assert ext[1] < y[0] < ext[3]


def test_pm_axis_to_meter_rejected():
    with pytest.raises(ValueError, match="pm"):
        crs_conic.parse_proj_string("+proj=lcc +lat_1=46.8 +pm=paris +units=m")
    with pytest.raises(ValueError, match="axis"):
        crs_conic.parse_proj_string("+proj=merc +axis=neu +units=m")
    with pytest.raises(ValueError, match="to_meter"):
        crs_conic.parse_proj_string("+proj=merc +to_meter=0.3048")


class TestGenericDefaultAreas:
    """r4 review fixes: resolve()'s default working areas must stay
    inside each projection family's domain."""

    def test_generic_tmerc_extent_is_finite(self):
        from geowave_spark.crs import crs_extent

        e = crs_extent("+proj=tmerc +lon_0=9 +k_0=0.9996 +ellps=GRS80")
        assert all(math.isfinite(v) for v in e), e
        assert e[0] < 0 < e[2] and e[1] < 0 < e[3]

    def test_longlat_proj_string_is_geographic_identity(self):
        from geowave_spark.crs import crs_extent, transform_np

        ll = "+proj=longlat +ellps=WGS84 +towgs84=0,0,0"
        x, y = transform_np(
            np.array([9.5, -120.0]), np.array([48.0, -33.0]), ll, "EPSG:4326"
        )
        assert np.allclose(x, [9.5, -120.0]) and np.allclose(y, [48.0, -33.0])
        # the documented common spelling routes to the same projected
        # coords as the EPSG:4326 source path
        xa, ya = transform_np(np.array([9.5]), np.array([48.0]), ll, "EPSG:2154")
        xb, yb = transform_np(
            np.array([9.5]), np.array([48.0]), "EPSG:4326", "EPSG:2154"
        )
        assert np.allclose(xa, xb) and np.allclose(ya, yb)
        assert crs_extent(ll) == (-180.0, -90.0, 180.0, 90.0)

    def test_longlat_rejects_silent_shifts(self):
        from geowave_spark.crs_conic import parse_proj_string

        with pytest.raises(ValueError):
            parse_proj_string("+proj=longlat +lon_0=90 +ellps=WGS84")


class TestHelmert:
    """7-parameter datum shifts (EPSG method 9606, position-vector).

    No proj/geotools exists in this container, so the oracles are
    first-principles: an independent Bowring closed-form geocentric
    inverse, closed-form rotation identities, round-trip exactness, and
    the dual-backend (Catalyst vs numpy) cross-check."""

    ED50_UTM32 = "EPSG:23032"
    # the classic WGS72→WGS84 parameters (DMA TR 8350.2 family):
    # dz=+4.5 m, rz=+0.554", ds=+0.2263 ppm, position vector.  The test
    # does not depend on these being THE registry values — it pins
    # round-trip closure and the rotation sign convention, which hold
    # for any parameter set
    WGS72 = (
        "+proj=longlat +a=6378135 +rf=298.26"
        " +towgs84=0,0,4.5,0,0,0.554,0.2263"
    )

    @staticmethod
    def _bowring_inverse(x, y, z, a, f):
        """Independent geocentric→geodetic: Bowring's closed-form first
        approximation + one Newton-free correction (different method
        from the engine's fixed-point iteration)."""
        e2 = f * (2.0 - f)
        b = a * (1.0 - f)
        ep2 = e2 / (1.0 - e2)
        p = np.hypot(x, y)
        th = np.arctan2(z * a, p * b)
        lam = np.arctan2(y, x)
        phi = np.arctan2(
            z + ep2 * b * np.sin(th) ** 3, p - e2 * a * np.cos(th) ** 3
        )
        return lam, phi

    def test_geocentric_roundtrip_vs_bowring(self):
        from geowave_spark.crs_conic import (
            NUMPY_OPS,
            _geodetic_to_xyz,
            _xyz_to_geodetic,
        )

        a, f = 6378388.0, 1.0 / 297.0  # International 1924
        e2 = f * (2.0 - f)
        rng = np.random.default_rng(11)
        lam = np.radians(rng.uniform(-179, 179, 300))
        phi = np.radians(rng.uniform(-89, 89, 300))
        x, y, z = _geodetic_to_xyz(NUMPY_OPS, lam, phi, a, e2)
        # surface points satisfy the ellipsoid equation exactly
        assert np.abs((x**2 + y**2) / a**2 + z**2 / (a * (1 - f)) ** 2 - 1.0).max() < 1e-12
        lam2, phi2 = _xyz_to_geodetic(NUMPY_OPS, x, y, z, a, e2)
        assert np.abs(lam2 - lam).max() < 1e-14
        assert np.abs(phi2 - phi).max() < 1e-12
        # independent closed-form method agrees
        lam3, phi3 = self._bowring_inverse(x, y, z, a, f)
        assert np.abs(lam3 - lam).max() < 1e-14
        assert np.abs(phi3 - phi).max() < 5e-9

    def test_pure_z_rotation_shifts_longitude_exactly(self):
        """Closed-form identity: a rotation about the Z axis moves every
        longitude by exactly rz (ellipsoid-independent), latitude
        untouched — pins the rotation-matrix sign convention (position
        vector: +rz moves lon EAST for local→WGS84)."""
        from geowave_spark.crs_conic import NUMPY_OPS, HelmertShift

        rz_as = 0.554
        h = HelmertShift((0, 0, 0, 0, 0, rz_as, 0), 6378137.0, 1 / 298.257223563)
        lam = np.radians(np.array([0.0, 45.0, -120.0, 179.0]))
        phi = np.radians(np.array([0.0, 33.0, -67.0, 12.0]))
        lam2, phi2 = h.local_to_wgs84(NUMPY_OPS, lam, phi)
        rz_rad = rz_as * math.pi / (180 * 3600)
        assert np.abs((lam2 - lam) - rz_rad).max() < 1e-12
        # 5e-12 rad ≈ 30 µm: the fixed-point φ iteration's convergence tail
        assert np.abs(phi2 - phi).max() < 5e-12

    def test_pure_translation_matches_independent_numpy(self):
        """3-param shift vs an independent numpy pipeline built from the
        Bowring inverse."""
        from geowave_spark.crs_conic import NUMPY_OPS, HelmertShift

        a_l, f_l = 6378388.0, 1.0 / 297.0
        t = (-87.0, -98.0, -121.0)
        h = HelmertShift(t, a_l, f_l)
        rng = np.random.default_rng(5)
        lam = np.radians(rng.uniform(-10, 30, 200))
        phi = np.radians(rng.uniform(35, 70, 200))
        lam2, phi2 = h.local_to_wgs84(NUMPY_OPS, lam, phi)
        # independent: geodetic→XYZ by direct formula, +t, Bowring back
        e2l = f_l * (2 - f_l)
        nu = a_l / np.sqrt(1 - e2l * np.sin(phi) ** 2)
        x = nu * np.cos(phi) * np.cos(lam) + t[0]
        y = nu * np.cos(phi) * np.sin(lam) + t[1]
        z = nu * (1 - e2l) * np.sin(phi) + t[2]
        lam3, phi3 = self._bowring_inverse(x, y, z, 6378137.0, 1 / 298.257223563)
        assert np.abs(lam3 - lam2).max() < 1e-13
        assert np.abs(phi3 - phi2).max() < 5e-9

    def test_roundtrip_and_magnitude_ed50(self):
        """ED50→WGS84 (EPSG tfm 1133) at a German point: the horizontal
        offset is the well-known ~100-250 m European datum gap, and the
        full projected round trip closes to sub-mm."""
        from geowave_spark.crs import transform_np

        lon, lat = np.array([9.5]), np.array([52.0])
        x, y = transform_np(lon, lat, "EPSG:4326", self.ED50_UTM32)
        # against the UNSHIFTED intl-ellipsoid UTM32: the Helmert moves
        # the projected position by a ~100-250 m European datum gap
        x0, y0 = transform_np(
            lon, lat, "EPSG:4326",
            "+proj=tmerc +lon_0=9 +k_0=0.9996 +x_0=500000 +ellps=intl",
        )
        d = math.hypot(float(x[0] - x0[0]), float(y[0] - y0[0]))
        assert 100.0 < d < 250.0, d
        lon2, lat2 = transform_np(x, y, self.ED50_UTM32, "EPSG:4326")
        # 1e-8 deg ~ 1.1 mm: three unrolled fixed-point inversions compose
        assert abs(float(lon2[0] - lon[0])) < 1e-8
        assert abs(float(lat2[0] - lat[0])) < 1e-8

    def test_seven_param_roundtrip_and_scale_sign(self):
        from geowave_spark.crs import transform_np
        from geowave_spark.crs_conic import NUMPY_OPS, parse_proj_string

        p = parse_proj_string(self.WGS72)
        rng = np.random.default_rng(3)
        lon = rng.uniform(-179, 179, 150)
        lat = rng.uniform(-85, 85, 150)
        # longlat CRS: forward = WGS84 → WGS72 coords (deg)
        lo72, la72 = p.forward(NUMPY_OPS, lon, lat)
        lo84, la84 = p.inverse(NUMPY_OPS, lo72, la72)
        assert np.abs(lo84 - lon).max() < 1e-10
        assert np.abs(la84 - lat).max() < 1e-10
        # rz=+0.554" means WGS72→WGS84 shifts longitudes EAST by 0.554",
        # so the WGS72 coords of a WGS84 point sit WEST of it by ~rz
        dlon_as = (lon - lo72) * 3600.0
        assert np.abs(dlon_as - 0.554).max() < 2e-3

    def test_catalyst_numpy_parity_shifted(self, spark):
        import pandas as pd

        from geowave_spark import crs

        rng = np.random.default_rng(23)
        lon = rng.uniform(6.0, 12.0, 128)
        lat = rng.uniform(40.0, 70.0, 128)
        df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
        out = (
            crs.transform_df(df, "EPSG:4326", self.ED50_UTM32)
            .select("x", "y")
            .toPandas()
            .to_numpy()
        )
        nx, ny = crs.transform_np(lon, lat, "EPSG:4326", self.ED50_UTM32)
        assert np.abs(out[:, 0] - nx).max() < 1e-6
        assert np.abs(out[:, 1] - ny).max() < 1e-6

    def test_zero_shift_is_identity_fast_path(self):
        from geowave_spark.crs_conic import DatumShifted, parse_proj_string

        p = parse_proj_string("+proj=merc +ellps=WGS84 +towgs84=0,0,0")
        assert not isinstance(p, DatumShifted)
