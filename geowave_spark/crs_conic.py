"""Projection formulas: every projected CRS of the engine, written once.

Reference parity: the reference accepts any geotools-decodable CRS for
KDE grids and raster mosaics (GeoWaveRasterReader.java:492-744,
RasterDataAdapter.java:444-550 reproject through geotools'
``CRS.decode``/``ReferencedEnvelope.transform``).  Each projection
method here is a :class:`_Proj` implemented from the published EPSG
Guidance Note 7-2 formulas (IOGP, public):

* **Popular Visualisation Pseudo-Mercator** (method 1024) — EPSG:3857,
  the spherical web-mercator slippy-map plane.
* **Transverse Mercator** (method 9807) via the Krüger n-series to n⁴
  (Karney 2011, "Transverse Mercator with an accuracy of a few
  nanometers"), parameterized over ellipsoid, λ₀, k₀, FE/FN, φ₀ — the
  WGS84 UTM zones (EPSG:326zz/327zz) are instances with k₀ = 0.9996.
* **Lambert Conformal Conic 2SP** (EPSG method 9802; 1SP 9801 as the
  φ₁=φ₂ limit) — e.g. EPSG:2154 Lambert-93, EPSG:3034 ETRS89-LCC.
* **Albers Equal-Area** (method 9822) — e.g. EPSG:5070 CONUS Albers.
* **Lambert Azimuthal Equal-Area, oblique** (method 9820) — e.g.
  EPSG:3035 ETRS89-LAEA.
* **Mercator, ellipsoidal** (methods 9804/9805).
* **Polar Stereographic** (methods 9810/9829/9830) — EPSG:3413/3031, UPS.

Plus a proj-string front door (``+proj=lcc +lat_1=… +ellps=GRS80 …``)
mirroring geotools' ability to build a CRS from parameters, and an EPSG
registry for the common codes.  :mod:`geowave_spark.crs` parses CRS
strings into these objects and hands them a backend.

Design: every formula is written ONCE against a tiny ops shim, then
evaluated twice — with Catalyst ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen, the distributed hot path) and with numpy (the
driver-side envelope math and the independent test oracle).  Scalar
projection constants (n, F, ρ₀, …) are computed at parse time in plain
Python floats, so both backends consume literally identical literals and
the two paths agree to the last IEEE bit wherever the engines' libm
agree.

Datum handling: GRS80 vs WGS84 ellipsoids are honored exactly (their
flattenings differ).  All-zero ``towgs84`` stays the identity fast path,
matching the reference's geotools ``lenient=true`` transforms for the
ETRS89/RGF93/NAD83 ≈ WGS84 family (cm-level, far under pixel size);
non-zero 3/7-parameter shifts (NAD27/ED50-class datums) run the full
Helmert position-vector transform (EPSG method 9606, geog2D domain —
r5, :class:`HelmertShift`) through the same dual Catalyst/numpy shim.

Iterative inverses are fix-count unrolled (5 rounds) so the Catalyst
expression tree is static; each round contracts the error by ~e²/2
≈ 0.0033, giving < 1e-12 rad from any start inside the projection's
domain.  The equal-area inverses use the closed-form authalic series
(Snyder 1987 eq. 3-18, public) instead of iteration.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from types import SimpleNamespace

import numpy as np
from pyspark.sql import functions as F

D2R = math.pi / 180.0
R2D = 180.0 / math.pi
# smallest |n| a conic (LCC, Albers) accepts: ρ ~ a/n, and below this the
# cancellation between ρ₀ and ρ costs the round trip more than 1e-7°
# (n = 1e-7 loses 1.8e-7°); such a cone is a cylinder to 1e-6 anyway
MIN_CONE_N = 1e-6

# --------------------------------------------------------------------------
# ops shims — one formula source, two evaluation backends
# --------------------------------------------------------------------------

CATALYST_OPS = SimpleNamespace(
    sin=F.sin,
    cos=F.cos,
    tan=F.tan,
    asin=F.asin,
    atan=F.atan,
    atan2=F.atan2,
    sinh=F.sinh,
    cosh=F.cosh,
    atanh=F.atanh,
    log=F.log,
    sqrt=F.sqrt,
    exp=F.exp,
    pow=F.pow,
    where=lambda c, a, b: F.when(c, a).otherwise(b),
    # np.clip semantics: null and NaN pass through (least/greatest alone
    # would clamp them: they skip nulls and order NaN above every number)
    clip=lambda x, lo, hi: F.when(x.isNull() | F.isnan(x), x).otherwise(
        F.least(F.greatest(x, F.lit(lo)), F.lit(hi))
    ),
    mod=lambda x, m: F.pmod(x, F.lit(m)),
)

NUMPY_OPS = SimpleNamespace(
    sin=np.sin,
    cos=np.cos,
    tan=np.tan,
    asin=np.arcsin,
    atan=np.arctan,
    atan2=np.arctan2,
    sinh=np.sinh,
    cosh=np.cosh,
    atanh=np.arctanh,
    log=np.log,
    sqrt=np.sqrt,
    exp=np.exp,
    pow=np.power,
    where=np.where,
    clip=np.clip,
    mod=np.mod,
)

# --------------------------------------------------------------------------
# ellipsoids (published defining constants)
# --------------------------------------------------------------------------

ELLIPSOIDS = {
    # name: (a, 1/f);  rf = 0 means sphere
    "WGS84": (6378137.0, 298.257223563),
    "GRS80": (6378137.0, 298.257222101),
    "intl": (6378388.0, 297.0),  # International 1924
    "clrk66": (6378206.4, 294.9786982),  # Clarke 1866
    "sphere": (6370997.0, 0.0),  # proj's normal sphere radius
}


def _ellipsoid(params: dict) -> tuple[float, float]:
    """→ (a, f) from proj-style params."""
    if "a" in params:
        a = float(params["a"])
        if "b" in params:
            b = float(params["b"])
            return a, (a - b) / a
        if "rf" in params:
            rf = float(params["rf"])
            return a, (1.0 / rf if rf else 0.0)
        if "f" in params:
            return a, float(params["f"])
        return a, 0.0
    if "R" in params:
        return float(params["R"]), 0.0
    name = params.get("ellps", params.get("datum", "WGS84"))
    if name not in ELLIPSOIDS:
        raise ValueError(f"unknown ellipsoid {name!r}")
    a, rf = ELLIPSOIDS[name]
    return a, (1.0 / rf if rf else 0.0)


# --------------------------------------------------------------------------
# scalar helpers (parse-time, plain floats)
# --------------------------------------------------------------------------


def _m_s(phi: float, e2: float) -> float:
    return math.cos(phi) / math.sqrt(1.0 - e2 * math.sin(phi) ** 2)


def _t_s(phi: float, e: float) -> float:
    s = e * math.sin(phi)
    return math.tan(math.pi / 4.0 - phi / 2.0) / ((1.0 - s) / (1.0 + s)) ** (e / 2.0)


def _q_s(phi: float, e: float, e2: float) -> float:
    s = math.sin(phi)
    if e == 0.0:
        return 2.0 * s
    return (1.0 - e2) * (
        s / (1.0 - e2 * s * s) - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s))
    )


# --------------------------------------------------------------------------
# projection objects
# --------------------------------------------------------------------------


@dataclass
class _Proj:
    """Base: holds ellipsoid + false origin; subclasses add scalars."""

    a: float
    f: float
    lon0: float  # radians
    fe: float
    fn: float
    name: str = field(default="", compare=False)

    def __post_init__(self):
        self.e2 = self.f * (2.0 - self.f)
        self.e = math.sqrt(self.e2)

    # shared column/array kernels ------------------------------------------

    def _norm_lam(self, o, lam):
        """Normalize λ−λ₀ into (−π, π] — PROJ/geotools input-longitude
        wrapping.  Without it, non-periodic kernels (θ = n·Δλ in the
        conics, the linear Mercator x) put antimeridian-crossing points
        on the wrong branch of the cone (found by the hypothesis sweep:
        lon0=120 with a probe at wrapped lon −179 projected at Δλ=−299°
        instead of +61°).  In-range is the CLOSED [−π, π] like PROJ's
        adjlon — +π must stay +π, else the lon=180 edge collapses onto
        the west edge (a dateline-touching envelope would explode to
        world-spanning).  floor-mod in both backends (np.mod / F.pmod)
        so the twins agree everywhere incl. the seam.  Conditional:
        in-range values pass through EXACTLY (the +π/mod/−π round trip
        costs ~1 ulp at π ≈ 7e-16 rad, which the conformal scale tests
        resolve), only out-of-range values pay the mod."""
        in_range = (lam >= -math.pi) & (lam <= math.pi)
        return o.where(in_range, lam, o.mod(lam + math.pi, 2.0 * math.pi) - math.pi)

    def _t(self, o, phi):
        """Isometric-latitude helper t(φ) — conformal projections."""
        s = self.e * o.sin(phi)
        if self.e == 0.0:
            return o.tan(math.pi / 4.0 - phi / 2.0)
        return o.tan(math.pi / 4.0 - phi / 2.0) / o.pow(
            (1.0 - s) / (1.0 + s), self.e / 2.0
        )

    def _phi_from_t(self, o, t):
        """Invert t(φ) by 5 unrolled fixed-point rounds (GN7-2)."""
        half_pi = math.pi / 2.0
        phi = half_pi - 2.0 * o.atan(t)
        if self.e == 0.0:
            return phi
        for _ in range(5):
            s = self.e * o.sin(phi)
            phi = half_pi - 2.0 * o.atan(t * o.pow((1.0 - s) / (1.0 + s), self.e / 2.0))
        return phi

    def _q(self, o, phi):
        """Authalic-latitude helper q(φ) — equal-area projections."""
        s = o.sin(phi)
        if self.e == 0.0:
            return 2.0 * s
        es = self.e * s
        return (1.0 - self.e2) * (
            s / (1.0 - self.e2 * s * s)
            - (1.0 / (2.0 * self.e)) * o.log((1.0 - es) / (1.0 + es))
        )

    def _phi_from_beta(self, o, beta):
        """Authalic β → geodetic φ, closed-form series (Snyder 3-18)."""
        if self.e == 0.0:
            return beta
        e2, e4, e6 = self.e2, self.e2**2, self.e2**3
        c2 = e2 / 3.0 + 31.0 * e4 / 180.0 + 517.0 * e6 / 5040.0
        c4 = 23.0 * e4 / 360.0 + 251.0 * e6 / 3780.0
        c6 = 761.0 * e6 / 45360.0
        return (
            beta
            + c2 * o.sin(2.0 * beta)
            + c4 * o.sin(4.0 * beta)
            + c6 * o.sin(6.0 * beta)
        )


class LambertConformal(_Proj):
    """EPSG method 9802 (2SP); 9801 (1SP, k₀) as the φ₁=φ₂ limit."""

    def __init__(self, a, f, lat0, lat1, lat2, lon0, fe, fn, k0=1.0, name=""):
        super().__init__(a, f, lon0, fe, fn, name)
        self.lat0 = lat0
        e, e2 = self.e, self.e2
        if max(abs(lat1), abs(lat2)) >= math.pi / 2.0:
            raise ValueError(
                f"LCC standard parallels lat_1={lat1 * R2D:g}, lat_2="
                f"{lat2 * R2D:g}: a standard parallel at a pole collapses "
                "the cone (t = 0) — use +proj=stere for the polar aspect"
            )
        t0, t1 = _t_s(lat0, e), _t_s(lat1, e)
        if abs(lat1 - lat2) < 1e-12:
            self.n = math.sin(lat1)
        else:
            t2 = _t_s(lat2, e)
            self.n = (math.log(_m_s(lat1, e2)) - math.log(_m_s(lat2, e2))) / (
                math.log(t1) - math.log(t2)
            )
        if abs(self.n) < MIN_CONE_N:
            raise ValueError(
                f"degenerate LCC cone (|n| = {abs(self.n):.3g} < {MIN_CONE_N:g}: "
                "equatorial/straddling standard parallels) — use +proj=merc "
                "for the cylindrical limit"
            )
        self.F_ = k0 * _m_s(lat1, e2) / (self.n * t1**self.n)
        self.r0 = self.a * self.F_ * t0**self.n
        self._sgn = 1.0 if self.n >= 0.0 else -1.0

    def forward(self, o, lon_deg, lat_deg):
        phi = lat_deg * D2R
        lam = self._norm_lam(o, lon_deg * D2R - self.lon0)
        r = self.a * self.F_ * o.pow(self._t(o, phi), self.n)
        th = self.n * lam
        return self.fe + r * o.sin(th), self.fn + self.r0 - r * o.cos(th)

    def inverse(self, o, x, y):
        ep = (x - self.fe) * self._sgn
        np_ = (self.r0 - (y - self.fn)) * self._sgn
        r = o.sqrt(ep * ep + np_ * np_)
        t = o.pow(r / (self.a * self.F_ * self._sgn), 1.0 / self.n)
        lam = o.atan2(ep, np_) / self.n + self.lon0
        return self._norm_lam(o, lam) * R2D, self._phi_from_t(o, t) * R2D


class AlbersEqualArea(_Proj):
    """EPSG method 9822."""

    def __init__(self, a, f, lat0, lat1, lat2, lon0, fe, fn, name=""):
        super().__init__(a, f, lon0, fe, fn, name)
        self.lat0 = lat0
        e, e2 = self.e, self.e2
        m1, m2 = _m_s(lat1, e2), _m_s(lat2, e2)
        q0, q1 = _q_s(lat0, e, e2), _q_s(lat1, e, e2)
        if abs(lat1 - lat2) < 1e-12:
            self.n = math.sin(lat1)
        else:
            q2 = _q_s(lat2, e, e2)
            self.n = (m1 * m1 - m2 * m2) / (q2 - q1)
        if abs(self.n) < MIN_CONE_N:
            raise ValueError(
                f"degenerate Albers cone (|n| = {abs(self.n):.3g} < {MIN_CONE_N:g}: "
                "standard parallels symmetric about the equator) — the "
                "cylindrical equal-area limit is out of scope"
            )
        self.C = m1 * m1 + self.n * q1
        self.rho0 = self.a * math.sqrt(self.C - self.n * q0) / self.n
        self._sgn = 1.0 if self.n >= 0.0 else -1.0

    def forward(self, o, lon_deg, lat_deg):
        phi = lat_deg * D2R
        lam = self._norm_lam(o, lon_deg * D2R - self.lon0)
        rho = self.a * o.sqrt(self.C - self.n * self._q(o, phi)) / self.n
        th = self.n * lam
        return self.fe + rho * o.sin(th), self.fn + self.rho0 - rho * o.cos(th)

    def inverse(self, o, x, y):
        ep = (x - self.fe) * self._sgn
        np_ = (self.rho0 - (y - self.fn)) * self._sgn
        rho = o.sqrt(ep * ep + np_ * np_)
        q = (self.C - (rho * self.n / self.a) ** 2) / self.n
        qp = _q_s(math.pi / 2.0, self.e, self.e2)
        beta = o.asin(o.clip(q / qp, -1.0, 1.0))
        lam = o.atan2(ep, np_) / self.n + self.lon0
        return self._norm_lam(o, lam) * R2D, self._phi_from_beta(o, beta) * R2D


class LambertAzimuthalEqualArea(_Proj):
    """EPSG method 9820, oblique aspect (|φ₀| < 90°)."""

    def __init__(self, a, f, lat0, lon0, fe, fn, name=""):
        super().__init__(a, f, lon0, fe, fn, name)
        e, e2 = self.e, self.e2
        if abs(abs(lat0) - math.pi / 2.0) < 1e-12:
            raise ValueError("polar-aspect LAEA not supported (oblique only)")
        self.qp = _q_s(math.pi / 2.0, e, e2)
        q0 = _q_s(lat0, e, e2)
        self.beta0 = math.asin(min(1.0, max(-1.0, q0 / self.qp)))
        self.Rq = self.a * math.sqrt(self.qp / 2.0)
        self.D = self.a * _m_s(lat0, e2) / (self.Rq * math.cos(self.beta0))
        self.lat0 = lat0

    def forward(self, o, lon_deg, lat_deg):
        phi = lat_deg * D2R
        lam = lon_deg * D2R - self.lon0
        beta = o.asin(o.clip(self._q(o, phi) / self.qp, -1.0, 1.0))
        sb0, cb0 = math.sin(self.beta0), math.cos(self.beta0)
        sb, cb = o.sin(beta), o.cos(beta)
        cl = o.cos(lam)
        b = self.Rq * o.sqrt(2.0 / (1.0 + sb0 * sb + cb0 * cb * cl))
        x = self.fe + b * self.D * cb * o.sin(lam)
        y = self.fn + (b / self.D) * (cb0 * sb - sb0 * cb * cl)
        return x, y

    def inverse(self, o, x, y):
        ep = x - self.fe
        np_ = y - self.fn
        rho = o.sqrt((ep / self.D) ** 2 + (self.D * np_) ** 2)
        # ρ=0 → the natural origin; guard the divisions, then patch via where
        at_origin = rho == 0.0
        rho_s = o.where(at_origin, 1.0, rho)
        c = 2.0 * o.asin(o.clip(rho / (2.0 * self.Rq), -1.0, 1.0))
        sc, cc = o.sin(c), o.cos(c)
        sb0, cb0 = math.sin(self.beta0), math.cos(self.beta0)
        beta = o.asin(o.clip(cc * sb0 + self.D * np_ * sc * cb0 / rho_s, -1.0, 1.0))
        lam = o.atan2(
            ep * sc, self.D * rho_s * cb0 * cc - self.D * self.D * np_ * sb0 * sc
        )
        lon = self._norm_lam(o, o.where(at_origin, self.lon0, lam + self.lon0)) * R2D
        lat = o.where(at_origin, self.lat0, self._phi_from_beta(o, beta)) * R2D
        return lon, lat


class MercatorEllipsoidal(_Proj):
    """EPSG methods 9804 (1SP, k₀) / 9805 (2SP via k₀ = m(φ₁))."""

    def __init__(self, a, f, lon0, fe, fn, k0=1.0, lat_ts=None, name=""):
        super().__init__(a, f, lon0, fe, fn, name)
        if lat_ts is not None:
            k0 = _m_s(lat_ts, self.e2)
        self.k0 = k0

    def forward(self, o, lon_deg, lat_deg):
        phi = lat_deg * D2R
        lam = self._norm_lam(o, lon_deg * D2R - self.lon0)
        x = self.fe + self.a * self.k0 * lam
        y = self.fn - self.a * self.k0 * o.log(self._t(o, phi))
        return x, y

    def inverse(self, o, x, y):
        t = o.exp(-(y - self.fn) / (self.a * self.k0))
        lam = (x - self.fe) / (self.a * self.k0) + self.lon0
        return self._norm_lam(o, lam) * R2D, self._phi_from_t(o, t) * R2D


class SphericalMercator(_Proj):
    """EPSG method 1024 (EPSG:3857): Mercator of WGS84 lon/lat on the
    sphere of radius ``a``.  Latitude clamps to the square-world bound
    atan(sinh π) through ``o.clip``, so both backends map the poles to
    ±extent rather than ±inf.  Deg→rad is one multiply by the rounded
    π/180 literal (not F.radians, which the JVM evaluates as x/180·π),
    so a SQL engine repeating this op order is bit-exact (the KDE gate's
    DuckDB oracle)."""

    MAX_LAT = math.degrees(math.atan(math.sinh(math.pi)))  # 85.05112877980659

    def __init__(self, a, name=""):
        super().__init__(a, 0.0, 0.0, 0.0, 0.0, name)

    def forward(self, o, lon_deg, lat_deg):
        lat = o.clip(lat_deg, -self.MAX_LAT, self.MAX_LAT)
        y = o.log(o.tan(math.pi / 4.0 + lat * D2R / 2.0)) * self.a
        return lon_deg * D2R * self.a, y

    def inverse(self, o, x, y):
        return x / self.a * R2D, (2.0 * o.atan(o.exp(y / self.a)) - math.pi / 2.0) * R2D


class PolarStereographic(_Proj):
    """EPSG methods 9810 (variant A: k₀ at the pole) and 9829/9830
    (variant B/C: standard parallel φ_ts) — the polar complement to the
    oblique LAEA (EPSG:3413/3031 sea-ice grids, EPSG:5041/5042 UPS).

    Both aspects share one formula source through the hemisphere sign
    ``s`` (+1 north, −1 south): conformal t is evaluated at s·φ, and the
    northing flips sign (y grows toward the pole's far side).
    """

    def __init__(self, a, f, lon0, fe, fn, south, k0=None, lat_ts=None, name=""):
        super().__init__(a, f, lon0, fe, fn, name)
        self.s = -1.0 if south else 1.0
        self.lat0 = self.s * math.pi / 2.0
        e = self.e
        if lat_ts is not None:
            # variant B/C: ρ = a·m(φ_ts)·t / t(φ_ts)
            ats = abs(lat_ts)
            self.rho_k = self.a * _m_s(ats, self.e2) / _t_s(ats, e)
        else:
            # variant A: ρ = 2·a·k₀·t / √((1+e)^(1+e)·(1−e)^(1−e))
            k0 = 1.0 if k0 is None else k0
            self.rho_k = (
                2.0 * self.a * k0 / math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
            )

    def forward(self, o, lon_deg, lat_deg):
        phi = lat_deg * (self.s * D2R)  # s·φ in one multiply
        lam = self.s * (lon_deg * D2R - self.lon0)
        rho = self.rho_k * self._t(o, phi)
        x = self.fe + self.s * (rho * o.sin(lam))
        y = self.fn - self.s * (rho * o.cos(lam))
        return x, y

    def inverse(self, o, x, y):
        ep = (x - self.fe) * self.s
        np_ = (y - self.fn) * self.s
        rho = o.sqrt(ep * ep + np_ * np_)
        t = rho / self.rho_k
        phi = self.s * self._phi_from_t(o, t)
        # at the pole itself (ρ=0) atan2(0,0)=0 → λ = λ0, a fine convention
        lam = self.lon0 + self.s * o.atan2(ep, 0.0 - np_)
        return self._norm_lam(o, lam) * R2D, phi * R2D


class GeographicLonLat(_Proj):
    """``+proj=longlat`` — geographic coordinates as the "projected"
    plane, PROJ's convention: x = longitude°, y = latitude°.  Identity
    both ways; the ellipsoid params only matter for datum shifts, which
    the parser already rejects (non-zero towgs84)."""

    def forward(self, o, lon_deg, lat_deg):
        return lon_deg + 0.0, lat_deg + 0.0

    def inverse(self, o, x, y):
        return x + 0.0, y + 0.0


class TransverseMercatorGeneric(_Proj):
    """EPSG method 9807 — Krüger n-series to n⁴ (Karney 2011 / IOGP
    GN7-2), parameterized over ellipsoid, λ₀, φ₀, k₀, FE/FN; the series
    coefficients are computed for the requested ellipsoid at parse time.
    The n⁴ series is accurate to well under a millimeter inside a UTM
    zone (|λ−λ₀| ≤ 3°), which matches the reference's geotools
    ``lenient=true`` transform tolerance."""

    def __init__(self, a, f, lat0, lon0, fe, fn, k0=1.0, name=""):
        super().__init__(a, f, lon0, fe, fn, name)
        self.lat0 = lat0
        n = f / (2.0 - f)
        self.n3 = n
        self.A1 = a / (1.0 + n) * (1.0 + n**2 / 4.0 + n**4 / 64.0)
        self.alpha = (
            n / 2.0 - 2.0 * n**2 / 3.0 + 5.0 * n**3 / 16.0 + 41.0 * n**4 / 180.0,
            13.0 * n**2 / 48.0 - 3.0 * n**3 / 5.0 + 557.0 * n**4 / 1440.0,
            61.0 * n**3 / 240.0 - 103.0 * n**4 / 140.0,
            49561.0 * n**4 / 161280.0,
        )
        self.beta = (
            n / 2.0 - 2.0 * n**2 / 3.0 + 37.0 * n**3 / 96.0 - n**4 / 360.0,
            n**2 / 48.0 + n**3 / 15.0 - 437.0 * n**4 / 1440.0,
            17.0 * n**3 / 480.0 - 37.0 * n**4 / 840.0,
            4397.0 * n**4 / 161280.0,
        )
        self.delta = (
            2.0 * n - 2.0 * n**2 / 3.0 - 2.0 * n**3 + 116.0 * n**4 / 45.0,
            7.0 * n**2 / 3.0 - 8.0 * n**3 / 5.0 - 227.0 * n**4 / 45.0,
            56.0 * n**3 / 15.0 + 136.0 * n**4 / 35.0,
            4279.0 * n**4 / 630.0,
        )
        self.e2n = 2.0 * math.sqrt(n) / (1.0 + n) if n > 0.0 else 0.0
        self.k0 = k0
        # meridian-arc offset for a non-equatorial natural origin: the
        # rectifying latitude of φ₀ scaled by A1 (ξ at λ=0 is exactly μ(φ₀))
        if lat0 != 0.0:
            s0 = math.sin(lat0)
            t0 = math.sinh(
                math.atanh(s0) - self.e2n * math.atanh(self.e2n * s0)
            )
            xi0 = math.atan2(t0, 1.0)
            mu0 = xi0
            for j, al in enumerate(self.alpha, start=1):
                mu0 += al * math.sin(2.0 * j * xi0)
            self.M0 = k0 * self.A1 * mu0
        else:
            self.M0 = 0.0

    def forward(self, o, lon_deg, lat_deg):
        phi = lat_deg * D2R
        lam = lon_deg * D2R - self.lon0
        sphi = o.sin(phi)
        if self.e2n:
            t = o.sinh(o.atanh(sphi) - self.e2n * o.atanh(self.e2n * sphi))
        else:
            t = o.sinh(o.atanh(sphi))
        xi = o.atan2(t, o.cos(lam))
        eta = o.atanh(o.sin(lam) / o.sqrt(1.0 + t * t))
        xs, es = xi, eta
        for j, al in enumerate(self.alpha, start=1):
            xs = xs + al * o.sin(2.0 * j * xi) * o.cosh(2.0 * j * eta)
            es = es + al * o.cos(2.0 * j * xi) * o.sinh(2.0 * j * eta)
        x = self.fe + self.k0 * self.A1 * es
        y = self.fn + self.k0 * self.A1 * xs - self.M0
        return x, y

    def inverse(self, o, x, y):
        xi = (y - self.fn + self.M0) / (self.k0 * self.A1)
        eta = (x - self.fe) / (self.k0 * self.A1)
        xp, ep = xi, eta
        for j, b in enumerate(self.beta, start=1):
            xp = xp - b * o.sin(2.0 * j * xi) * o.cosh(2.0 * j * eta)
            ep = ep - b * o.cos(2.0 * j * xi) * o.sinh(2.0 * j * eta)
        chi = o.asin(o.clip(o.sin(xp) / o.cosh(ep), -1.0, 1.0))
        phi = chi
        for j, d in enumerate(self.delta, start=1):
            phi = phi + d * o.sin(2.0 * j * chi)
        lam = o.atan2(o.sinh(ep), o.cos(xp))
        return self._norm_lam(o, self.lon0 + lam) * R2D, phi * R2D


# --------------------------------------------------------------------------
# Helmert datum shift (EPSG method 9606, geog2D domain)
# --------------------------------------------------------------------------

_A_WGS84 = 6378137.0
_E2_WGS84 = (1.0 / 298.257223563) * (2.0 - 1.0 / 298.257223563)


def _geodetic_to_xyz(o, lam, phi, a: float, e2: float):
    """Geodetic (rad, h=0) → geocentric XYZ — EPSG GN7-2 §4.1.1.

    h=0 on input and h dropped on output is exactly the published
    "geog2D domain" variant of the coordinate-frame/position-vector
    methods (EPSG 9606/9607): the ellipsoidal height never carries
    survey meaning in a 2D CRS pipeline."""
    sphi = o.sin(phi)
    nu = a / o.sqrt(1.0 - e2 * sphi * sphi)
    cphi = o.cos(phi)
    return nu * cphi * o.cos(lam), nu * cphi * o.sin(lam), nu * (1.0 - e2) * sphi


def _xyz_to_geodetic(o, x, y, z, a: float, e2: float):
    """Geocentric XYZ → geodetic (rad): Bowring's closed-form first
    approximation + two fixed-point correction rounds.

    Bowring alone is ~5e-9 rad for surface points; each correction
    contracts by ~e² ≈ 0.0067 → < 1e-12 rad after two.  The round count
    is kept at two ON PURPOSE: every round duplicates the upstream
    expression subtree in the Catalyst backend (φ appears twice per
    round), so a long unroll multiplies the plan size exponentially —
    Bowring's good start is what keeps the column expression tractable
    when the upstream x/y/z are themselves full Helmert trees."""
    lam = o.atan2(y, x)
    p = o.sqrt(x * x + y * y)
    b = a * math.sqrt(1.0 - e2)  # semi-minor
    ep2 = e2 / (1.0 - e2)
    th = o.atan2(z * a, p * b)
    sth, cth = o.sin(th), o.cos(th)
    phi = o.atan2(z + ep2 * b * sth * sth * sth, p - e2 * a * cth * cth * cth)
    for _ in range(2):
        sphi = o.sin(phi)
        nu = a / o.sqrt(1.0 - e2 * sphi * sphi)
        phi = o.atan2(z + e2 * nu * sphi, p)
    return lam, phi


class HelmertShift:
    """7-parameter Helmert transform, position-vector rotation
    convention — EPSG method 9606 (proj's ``+towgs84`` semantics):

        X_wgs84 = T + (1 + ds·10⁻⁶) · M · X_local,
        M = [[1, −rz, ry], [rz, 1, −rx], [−ry, rx, 1]]

    with translations in meters, rotations in arcseconds (converted
    here), scale in ppm — all as published by EPSG for the given datum
    pair.  The reverse direction inverts the EXACT 3×3 linearized matrix
    (computed once at parse time in plain floats), so forward∘inverse is
    the identity to float round-off rather than the sign-flip
    approximation's O(rot²) residual.

    The reference inherits this behavior from geotools' datum machinery
    (GeoWaveRasterReader.java:492-744 via CRS.decode / lenient
    transforms); here it is the same published math as the rest of this
    module, evaluated through the dual Catalyst/numpy ops shim."""

    def __init__(self, params: tuple, a_local: float, f_local: float):
        if len(params) == 3:
            dx, dy, dz = params
            rx = ry = rz = ds = 0.0
        elif len(params) == 7:
            dx, dy, dz, rx, ry, rz, ds = params
        else:
            raise ValueError(
                f"towgs84 needs 3 or 7 comma-separated values, got {len(params)}"
            )
        as2r = math.pi / (180.0 * 3600.0)  # arcsec → rad
        rx, ry, rz = rx * as2r, ry * as2r, rz * as2r
        self.t = (float(dx), float(dy), float(dz))
        self.s = 1.0 + float(ds) * 1e-6
        self.m = (
            (1.0, -rz, ry),
            (rz, 1.0, -rx),
            (-ry, rx, 1.0),
        )
        # exact inverse of the linearized matrix (adjugate / det)
        m = self.m
        det = (
            m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
            - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
            + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0])
        )
        self.minv = tuple(
            tuple(
                (
                    m[(j + 1) % 3][(i + 1) % 3] * m[(j + 2) % 3][(i + 2) % 3]
                    - m[(j + 1) % 3][(i + 2) % 3] * m[(j + 2) % 3][(i + 1) % 3]
                )
                / det
                for j in range(3)
            )
            for i in range(3)
        )
        self.a_local, self.f_local = a_local, f_local
        self.e2_local = f_local * (2.0 - f_local)
        self.params = tuple(float(v) for v in params)

    def _apply(self, mat, scale, t, x, y, z):
        return (
            t[0] + scale * (mat[0][0] * x + mat[0][1] * y + mat[0][2] * z),
            t[1] + scale * (mat[1][0] * x + mat[1][1] * y + mat[1][2] * z),
            t[2] + scale * (mat[2][0] * x + mat[2][1] * y + mat[2][2] * z),
        )

    def local_to_wgs84(self, o, lam, phi):
        """Geodetic on the local datum (rad) → geodetic WGS84 (rad)."""
        x, y, z = _geodetic_to_xyz(o, lam, phi, self.a_local, self.e2_local)
        xw, yw, zw = self._apply(self.m, self.s, self.t, x, y, z)
        return _xyz_to_geodetic(o, xw, yw, zw, _A_WGS84, _E2_WGS84)

    def wgs84_to_local(self, o, lam, phi):
        """Geodetic WGS84 (rad) → geodetic on the local datum (rad)."""
        x, y, z = _geodetic_to_xyz(o, lam, phi, _A_WGS84, _E2_WGS84)
        xs = (x - self.t[0]) / self.s
        ys = (y - self.t[1]) / self.s
        zs = (z - self.t[2]) / self.s
        xl, yl, zl = self._apply(self.minv, 1.0, (0.0, 0.0, 0.0), xs, ys, zs)
        return _xyz_to_geodetic(o, xl, yl, zl, self.a_local, self.e2_local)


class DatumShifted:
    """A projection whose geodetic datum differs from WGS84: the engine's
    lon/lat (index CRS EPSG:4326 = WGS84) pass through the Helmert shift
    before/after the base projection's own formulas, so NAD27/ED50-class
    codes transform correctly instead of inheriting the ≈identity that is
    only valid for the ETRS89/NAD83 family."""

    def __init__(self, base: _Proj, shift: HelmertShift):
        self.base = base
        self.shift = shift
        # mirror the attributes resolve()/crs.py consult on projections
        self.a, self.f = base.a, base.f
        self.lon0, self.fe, self.fn = base.lon0, base.fe, base.fn
        self.name = base.name

    def forward(self, o, lon_deg, lat_deg):
        lam, phi = self.shift.wgs84_to_local(o, lon_deg * D2R, lat_deg * D2R)
        return self.base.forward(o, lam * R2D, phi * R2D)

    def inverse(self, o, x, y):
        lon_l, lat_l = self.base.inverse(o, x, y)
        lam, phi = self.shift.local_to_wgs84(o, lon_l * D2R, lat_l * D2R)
        return lam * R2D, phi * R2D


# --------------------------------------------------------------------------
# proj-string parsing + EPSG registry
# --------------------------------------------------------------------------

_PROJ_KV = re.compile(r"\+([A-Za-z_0-9]+)(?:=([^\s]+))?")


def parse_proj_string(text: str, name: str = "") -> _Proj:
    """Build a projection from a proj-style parameter string.

    Supported: ``+proj=lcc|aea|laea|merc|tmerc|longlat`` with
    ``lat_0/lat_1/lat_2/lon_0/k_0(k)/x_0/y_0/lat_ts``, ellipsoid params
    (``ellps/a/b/rf/f/R``), and 3/7-value ``+towgs84`` Helmert datum
    shifts (position-vector convention, EPSG method 9606 — r5; all-zero
    shifts stay the identity fast path).  Raises on non-meter units and
    malformed towgs84 arities."""
    params: dict[str, str] = {}
    for m in _PROJ_KV.finditer(text):
        params[m.group(1)] = m.group(2) if m.group(2) is not None else ""
    proj = params.get("proj")
    if not proj:
        raise ValueError(f"proj string without +proj=: {text!r}")
    units = params.get("units", "m")
    if proj != "longlat" and units != "m":
        raise ValueError(f"unsupported units {units!r} (meters only)")
    tw = params.get("towgs84")
    shift_vals: tuple = ()
    if tw:
        vals = tuple(float(v) for v in tw.split(","))
        if len(vals) not in (3, 7):
            raise ValueError(
                f"towgs84 needs 3 or 7 comma-separated values, got {len(vals)}"
            )
        if any(abs(v) > 1e-9 for v in vals):
            shift_vals = vals
    pm = params.get("pm", "greenwich")
    if pm not in ("greenwich", "0"):
        raise ValueError(
            f"non-greenwich prime meridian +pm={pm!r} unsupported (would "
            f"silently shift longitudes)"
        )
    if params.get("axis", "enu") != "enu":
        raise ValueError(f"non-ENU axis order +axis={params['axis']!r} unsupported")
    tm = params.get("to_meter")
    if tm is not None and abs(float(tm) - 1.0) > 1e-12:
        raise ValueError(f"+to_meter={tm} unsupported (meters only)")
    a, f = _ellipsoid(params)

    def ang(key, default=0.0):
        return float(params.get(key, default)) * D2R

    lat0, lon0 = ang("lat_0"), ang("lon_0")
    fe, fn = float(params.get("x_0", 0.0)), float(params.get("y_0", 0.0))
    k0 = float(params.get("k_0", params.get("k", 1.0)))
    name = name or text.strip()

    if proj == "lcc":
        lat1 = ang("lat_1", params.get("lat_0", 0.0))
        lat2 = ang("lat_2", params.get("lat_1", params.get("lat_0", 0.0)))
        base = LambertConformal(a, f, lat0, lat1, lat2, lon0, fe, fn, k0, name)
    elif proj == "aea":
        lat1 = ang("lat_1")
        lat2 = ang("lat_2", params.get("lat_1", 0.0))
        base = AlbersEqualArea(a, f, lat0, lat1, lat2, lon0, fe, fn, name)
    elif proj == "laea":
        base = LambertAzimuthalEqualArea(a, f, lat0, lon0, fe, fn, name)
    elif proj == "merc":
        lat_ts = ang("lat_ts") if "lat_ts" in params else None
        base = MercatorEllipsoidal(a, f, lon0, fe, fn, k0, lat_ts, name)
    elif proj == "tmerc":
        base = TransverseMercatorGeneric(a, f, lat0, lon0, fe, fn, k0, name)
    elif proj == "longlat":
        if lon0 != 0.0 or fe != 0.0 or fn != 0.0:
            raise ValueError("+proj=longlat with lon_0/x_0/y_0 unsupported")
        base = GeographicLonLat(a, f, 0.0, 0.0, 0.0, name)
    elif proj == "stere":
        if abs(abs(lat0) - math.pi / 2.0) > 1e-12:
            raise ValueError(
                "only polar-aspect stereographic supported (lat_0=±90)"
            )
        lat_ts = ang("lat_ts") if "lat_ts" in params else None
        base = PolarStereographic(
            a, f, lon0, fe, fn, south=lat0 < 0, k0=k0, lat_ts=lat_ts, name=name
        )
    else:
        raise ValueError(f"unsupported +proj={proj!r}")
    if shift_vals:
        # the shift's local ellipsoid is the proj string's own (a, f):
        # geodetic coordinates on that datum convert through it, while the
        # WGS84 leg always uses the WGS84 constants
        return DatumShifted(base, HelmertShift(shift_vals, a, f))
    return base


# EPSG registry: code → (proj string, area-of-use lon/lat bbox).
# Definitions and areas of use are from the public EPSG registry pages.
EPSG_REGISTRY: dict[str, tuple[str, tuple[float, float, float, float]]] = {
    # RGF93 / Lambert-93 (France)
    "EPSG:2154": (
        "+proj=lcc +lat_0=46.5 +lat_1=49 +lat_2=44 +lon_0=3"
        " +x_0=700000 +y_0=6600000 +ellps=GRS80 +units=m",
        (-9.86, 41.15, 10.38, 51.56),
    ),
    # ETRS89-extended / LCC Europe
    "EPSG:3034": (
        "+proj=lcc +lat_0=52 +lat_1=35 +lat_2=65 +lon_0=10"
        " +x_0=4000000 +y_0=2800000 +ellps=GRS80 +units=m",
        (-35.58, 24.6, 44.83, 84.73),
    ),
    # ETRS89-extended / LAEA Europe
    "EPSG:3035": (
        "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000"
        " +ellps=GRS80 +units=m",
        (-35.58, 24.6, 44.83, 84.73),
    ),
    # NAD83 / Conus Albers
    "EPSG:5070": (
        "+proj=aea +lat_0=23 +lat_1=29.5 +lat_2=45.5 +lon_0=-96"
        " +x_0=0 +y_0=0 +ellps=GRS80 +units=m",
        (-124.79, 24.41, -66.91, 49.38),
    ),
    # World Mercator (ellipsoidal)
    "EPSG:3395": (
        "+proj=merc +lon_0=0 +k_0=1 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
        (-180.0, -80.0, 180.0, 84.0),
    ),
    # NSIDC Sea Ice Polar Stereographic North (variant B, φ_ts=70N)
    "EPSG:3413": (
        "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=0 +y_0=0"
        " +ellps=WGS84 +units=m",
        (-180.0, 60.0, 180.0, 90.0),
    ),
    # Antarctic Polar Stereographic (variant B, φ_ts=71S)
    "EPSG:3031": (
        "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +x_0=0 +y_0=0"
        " +ellps=WGS84 +units=m",
        (-180.0, -90.0, 180.0, -60.0),
    ),
    # ED50 / UTM zone 32N — a genuinely shifted datum (International 1924
    # ellipsoid; towgs84 is EPSG transformation 1133, "ED50 to WGS 84 (1)",
    # the pan-European mean: dX=-87, dY=-98, dZ=-121 m)
    "EPSG:23032": (
        "+proj=tmerc +lat_0=0 +lon_0=9 +k_0=0.9996 +x_0=500000 +y_0=0"
        " +ellps=intl +towgs84=-87,-98,-121 +units=m",
        (6.0, 38.0, 12.0, 72.0),
    ),
    # Universal Polar Stereographic north / south (variant A, k₀=0.994)
    "EPSG:5041": (
        "+proj=stere +lat_0=90 +lon_0=0 +k_0=0.994 +x_0=2000000"
        " +y_0=2000000 +ellps=WGS84 +units=m",
        (-180.0, 60.0, 180.0, 90.0),
    ),
    "EPSG:5042": (
        "+proj=stere +lat_0=-90 +lon_0=0 +k_0=0.994 +x_0=2000000"
        " +y_0=2000000 +ellps=WGS84 +units=m",
        (-180.0, -90.0, 180.0, -60.0),
    ),
}


def resolve(crs: str) -> tuple[_Proj, tuple[float, float, float, float]] | None:
    """→ (projection, area-of-use lon/lat bbox), or None if this module
    doesn't recognize the string (caller raises its own error)."""
    c = crs.strip()
    key = c.upper().replace(" ", "")
    if key in EPSG_REGISTRY:
        text, area = EPSG_REGISTRY[key]
        return parse_proj_string(text, name=key), area
    if c.startswith("+"):
        proj = parse_proj_string(c)
        # default working area: a generous window around the natural
        # origin (every projection stores lat0 in radians; Mercator's
        # natural origin is the equator).  Polar aspects get the full
        # longitude circle down to a 45° ring — a lon window around the
        # pole is meaningless and would truncate the cap's extent.
        # Datum-shifted projections take their window from the base
        # projection (a Helmert shift moves points by < 1 km — noise at
        # working-area granularity)
        area_proj = getattr(proj, "base", proj)
        if isinstance(area_proj, GeographicLonLat):
            return proj, (-180.0, -90.0, 180.0, 90.0)
        if isinstance(area_proj, PolarStereographic):
            if area_proj.s > 0:
                return proj, (-180.0, 45.0, 180.0, 90.0)
            return proj, (-180.0, -90.0, 180.0, -45.0)
        lon0d = area_proj.lon0 * R2D
        lat0d = getattr(area_proj, "lat0", 0.0) * R2D
        # transverse Mercator blows up at λ = ±90° from the central
        # meridian (atanh(±1) = ∞ on the equator), so its window must
        # stay well inside that singularity; EPSG GN7-2 puts the Krüger
        # series' useful domain around the central meridian — cap at
        # ±30°, far beyond any real TM zone (UTM is ±3°)
        half_lon = 30.0 if isinstance(area_proj, TransverseMercatorGeneric) else 90.0
        return proj, (
            max(-180.0, lon0d - half_lon),
            max(-85.0, lat0d - 45.0),
            min(180.0, lon0d + half_lon),
            min(85.0, lat0d + 45.0),
        )
    return None
