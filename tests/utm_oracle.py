"""Fixed-WGS84 UTM forward projection — the independent oracle for the
engine's parameterized transverse Mercator.

Krüger n-series to n⁴ (Karney 2011, "Transverse Mercator with an
accuracy of a few nanometers"; coefficients also in IOGP Guidance Note
7-2), with every constant written out for WGS84 here instead of computed
per ellipsoid at parse time as ``crs_conic.TransverseMercatorGeneric``
does.
"""

import math

import numpy as np

A_WGS84 = 6378137.0
F_WGS84 = 1.0 / 298.257223563

# third flattening and rectifying radius
N = F_WGS84 / (2.0 - F_WGS84)
A1 = A_WGS84 / (1.0 + N) * (1.0 + N**2 / 4.0 + N**4 / 64.0)

# forward series α
ALPHA = (
    N / 2.0 - 2.0 * N**2 / 3.0 + 5.0 * N**3 / 16.0 + 41.0 * N**4 / 180.0,
    13.0 * N**2 / 48.0 - 3.0 * N**3 / 5.0 + 557.0 * N**4 / 1440.0,
    61.0 * N**3 / 240.0 - 103.0 * N**4 / 140.0,
    49561.0 * N**4 / 161280.0,
)

K0_UTM = 0.9996
FE_UTM = 500000.0
# eccentricity term of the conformal-latitude step: e = 2√n/(1+n)
E2N = 2.0 * math.sqrt(N) / (1.0 + N)


def utm_forward(lon, lat, lon0, fn):
    """(lon°, lat°) → UTM (easting, northing) for central meridian
    ``lon0``° and false northing ``fn`` (0 north, 10,000 km south)."""
    phi = np.radians(lat)
    lam = np.radians(lon - lon0)
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - E2N * np.arctanh(E2N * sphi))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    xs, es = xi.copy(), eta.copy()
    for j, a in enumerate(ALPHA, start=1):
        xs += a * np.sin(2.0 * j * xi) * np.cosh(2.0 * j * eta)
        es += a * np.cos(2.0 * j * xi) * np.sinh(2.0 * j * eta)
    return FE_UTM + K0_UTM * A1 * es, fn + K0_UTM * A1 * xs
