"""Coordinate reference system transforms — Catalyst-native.

Reference parity: the reference runs its KDE / raster-resize pipeline in
a custom CRS (test/.../CustomCRSKDERasterResizeIT.java:88-89) and
reprojects raster coverage envelopes into the index CRS on ingest
(core/geotime/.../RasterDataAdapter.java:444-550, via geotools).  No
geotools/pyproj/GDAL is used: every projection is implemented from its
published formulas in :mod:`crs_conic`, written once against an ops
shim.  This module parses CRS strings into those projection objects and
evaluates them with one of two backends: ``pyspark.sql.functions``
column expressions (JVM-side, whole-stage codegen, zero Python in the
hot path) or numpy (driver-side envelope densification and test
oracles).

Supported: ``EPSG:4326`` (lon/lat WGS84, the index CRS; identity),
``EPSG:3857`` (web mercator, :class:`~crs_conic.SphericalMercator`),
``EPSG:326zz``/``EPSG:327zz`` (WGS84 UTM zone zz north/south,
:class:`~crs_conic.TransverseMercatorGeneric`), and every
:mod:`crs_conic` EPSG registry code or ``+proj=`` parameter string.
"""

from __future__ import annotations

import functools
import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import crs_conic
from .crs_conic import (
    CATALYST_OPS,
    D2R,
    NUMPY_OPS,
    DatumShifted,
    SphericalMercator,
    TransverseMercatorGeneric,
)

# WGS84 ellipsoid
A_WGS84 = 6378137.0
F_WGS84 = 1.0 / 298.257223563

WEB_MERCATOR_EXTENT = A_WGS84 * math.pi  # 20037508.342789244

_UTM_RE = re.compile(r"^EPSG:32([67])(\d\d)$")


@functools.lru_cache(maxsize=256)
def _parse(crs: str):
    """→ ("lonlat",) | ("ext", proj, area): a :mod:`crs_conic`
    projection and its area of use as a lon/lat bbox.  Cached:
    extension parsing tokenizes a proj string and precomputes
    transcendental scalar constants, and driver planning loops (warp
    block plans) call transform_np thousands of times."""
    c = crs.upper().replace(" ", "")
    if c in ("EPSG:4326", "CRS:84", "WGS84"):
        return ("lonlat",)
    if c in ("EPSG:3857", "EPSG:900913"):
        b = SphericalMercator.MAX_LAT
        return ("ext", SphericalMercator(A_WGS84, name=c), (-180.0, -b, 180.0, b))
    m = _UTM_RE.match(c)
    if m:
        zone = int(m.group(2))
        if not 1 <= zone <= 60:
            raise ValueError(f"bad UTM zone in {crs}")
        lon0 = -183.0 + 6.0 * zone
        fn = 10000000.0 if m.group(1) == "7" else 0.0
        proj = TransverseMercatorGeneric(
            A_WGS84, F_WGS84, 0.0, lon0 * D2R, 500000.0, fn, 0.9996, name=c
        )
        # the official zone box: 6° wide, 80S..84N
        return ("ext", proj, (lon0 - 3.0, -80.0, lon0 + 3.0, 84.0))
    ext = crs_conic.resolve(crs)
    if ext is not None:
        return ("ext", ext[0], ext[1])
    raise ValueError(
        f"unsupported CRS {crs!r} (EPSG:4326, EPSG:3857, EPSG:326xx/327xx, "
        f"a crs_conic EPSG registry code, or a +proj= string)"
    )


def crs_extent(crs: str) -> tuple[float, float, float, float]:
    """Full valid (minx, miny, maxx, maxy) of the CRS plane — the KDE /
    tile grid extent (mirrors the reference's CRS-bounds-driven grid):
    web mercator's square world, else the area of use projected."""
    kind = _parse(crs)
    if kind[0] == "lonlat":
        return (-180.0, -90.0, 180.0, 90.0)
    if isinstance(kind[1], SphericalMercator):
        e = WEB_MERCATOR_EXTENT
        return (-e, -e, e, e)
    return reproject_envelope(kind[2], "EPSG:4326", crs, densify=181)


def _arrow_transform_cols(proj, a: Column, b: Column, inverse: bool) -> tuple[Column, Column]:
    """Datum-shifted transforms as ONE Arrow-batched numpy evaluation.

    A DatumShifted chain (geodetic→geocentric→Helmert→geodetic→
    projection) inlined as a Catalyst expression duplicates its subtree
    multiplicatively at every reuse point; embedded in a larger stage
    (e.g. KDE binning, which references x and y several times) the
    generated code grows past what janino can compile — measured
    OutOfMemoryError on KDE + EPSG:23032.  Expressions have no
    let-binding, so the structural fix is evaluation through the numpy
    twin in a single vectorized pandas UDF returning a struct: both
    output columns read fields of the SAME UDF call (one Arrow pass, no
    per-row Python), and the values are bit-identical to the plain-
    Catalyst path wherever libm agrees because the numpy twin consumes
    literally the same parse-time literals."""

    @F.pandas_udf("x double, y double")
    def _tx(u: pd.Series, v: pd.Series) -> pd.DataFrame:
        fn = proj.inverse if inverse else proj.forward
        X, Y = fn(NUMPY_OPS, u.to_numpy(np.float64), v.to_numpy(np.float64))
        return pd.DataFrame({"x": X, "y": Y})

    out = _tx(a, b)
    return out.getField("x"), out.getField("y")


def _cols(crs: str, a: Column | str, b: Column | str, inverse: bool) -> tuple[Column, Column]:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    kind = _parse(crs)
    if kind[0] == "lonlat":
        return a, b
    proj = kind[1]
    if isinstance(proj, DatumShifted):
        return _arrow_transform_cols(proj, a, b, inverse)
    return (proj.inverse if inverse else proj.forward)(CATALYST_OPS, a, b)


def forward_cols(crs: str, lon: Column | str, lat: Column | str) -> tuple[Column, Column]:
    """(lon°, lat°) → projected (x, y) as Catalyst columns."""
    return _cols(crs, lon, lat, inverse=False)


def inverse_cols(crs: str, x: Column | str, y: Column | str) -> tuple[Column, Column]:
    """projected (x, y) → (lon°, lat°) as Catalyst columns."""
    return _cols(crs, x, y, inverse=True)


def _np(crs: str, a: np.ndarray, b: np.ndarray, inverse: bool):
    kind = _parse(crs)
    if kind[0] == "lonlat":
        return a.copy(), b.copy()
    proj = kind[1]
    return (proj.inverse if inverse else proj.forward)(NUMPY_OPS, a, b)


def transform_df(
    df: DataFrame,
    src: str,
    dst: str,
    x: str = "lon",
    y: str = "lat",
    out_x: str = "x",
    out_y: str = "y",
) -> DataFrame:
    """Add columns ``out_x/out_y`` = ``(x, y)`` reprojected src → dst.
    Pure column expressions; the scan's pushed filters and pruning are
    untouched."""
    lon, lat = inverse_cols(src, x, y)
    px, py = forward_cols(dst, lon, lat)
    return df.withColumn(out_x, px).withColumn(out_y, py)


def transform_np(
    x: np.ndarray, y: np.ndarray, src: str, dst: str
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized numpy reprojection src → dst (driver-side metadata and
    oracle use; the distributed path is :func:`transform_df`)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon, lat = _np(src, x, y, inverse=True)
    return _np(dst, lon, lat, inverse=False)


def reproject_envelope(
    bounds: tuple[float, float, float, float],
    src: str,
    dst: str,
    densify: int = 21,
) -> tuple[float, float, float, float]:
    """Envelope src → dst by densified boundary sampling — the geotools
    ``ReferencedEnvelope.transform(…, true)`` behavior the reference uses
    for raster ingest (RasterDataAdapter.convertToIndex): project
    ``densify`` points along each edge and take the bbox, so curved edges
    (e.g. UTM ↔ lon/lat) don't under-cover.  Each extreme is then
    re-sampled three times between the samples next to it, each round
    (densify−1)/2× finer, so the box only grows: uniform samples alone
    undercut an extreme that falls between them (a UTM zone is widest on
    the equator, which 181 samples of 80S..84N miss)."""
    minx, miny, maxx, maxy = bounds
    # edges (bottom, top, left, right) × extremes (min x, min y, max x, max y)
    x0 = np.array([minx, minx, minx, maxx])[:, None, None]
    y0 = np.array([miny, maxy, miny, miny])[:, None, None]
    dx = np.array([maxx - minx, maxx - minx, 0.0, 0.0])[:, None, None]
    dy = np.array([0.0, 0.0, maxy - miny, maxy - miny])[:, None, None]
    lo, hi = np.zeros((4, 4, 1)), np.ones((4, 4, 1))
    best = np.full(4, np.inf)  # minima of x, y, −x, −y
    for _ in range(4):
        t = lo + (hi - lo) * np.linspace(0.0, 1.0, densify)
        px, py = transform_np(x0 + t * dx, y0 + t * dy, src, dst)
        v = np.stack([px[:, 0], py[:, 1], -px[:, 2], -py[:, 3]], axis=1)
        best = np.minimum(best, v.min(axis=(0, 2)))
        ti = np.take_along_axis(t, v.argmin(axis=2)[..., None], axis=2)
        step = (hi - lo) / (densify - 1)
        lo, hi = np.maximum(0.0, ti - step), np.minimum(1.0, ti + step)
    return (float(best[0]), float(best[1]), float(-best[2]), float(-best[3]))
