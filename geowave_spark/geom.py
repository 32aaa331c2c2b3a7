"""Vectorized planar geometry (pure numpy — shapely is unavailable here).

Implements the exact-predicate math GeoWave gets from JTS
(core/geotime/.../store/query/filter/SpatialQueryFilter.java predicates,
analytics/spark/.../sparksql/udf/{GeomIntersects,GeomWithinDistance,
GeomDistance}.java): point-in-polygon, point↔segment/polygon distance,
envelope intersection — the fine-filter stage that runs after the coarse
cell-range join.

Polygons are (N, 2) float arrays of ring vertices.  Interior rings
(holes) are supported as of r3: ``parse_wkt_multi`` keeps every ring,
and geometry-level containment is the CROSSING PARITY of strict
containment across a geometry's closed rings OR exactly-on-boundary —
one rule that covers exterior+hole rings and disjoint multipolygon
shells alike (``points_contained_batch``).  The single-ring fast paths
(``points_in_polygons_batch``) stay as-is for the simple-ring pipelines.
A minimal WKT POLYGON/POINT parser reads the fixture format.
"""

from __future__ import annotations

import numpy as np


# --- WKT (minimal: POINT, POLYGON without holes) -------------------------

def parse_wkt(wkt: str) -> tuple[str, np.ndarray]:
    """Parse 'POINT (x y)' or 'POLYGON ((x y, ...))' → (kind, coords).

    Legacy flat parser: returns ALL coordinates of the geometry as one
    (N, 2) array (multi-part / multi-ring structure is flattened).  Kept
    for the polygon-only fast paths; kind-aware callers use
    :func:`parse_wkt_multi`.
    """
    s = wkt.strip()
    kind = s.split("(", 1)[0].strip().upper()
    body = s[s.index("(") :].replace("(", " ").replace(")", " ").strip()
    pts = np.array(
        [[float(t) for t in pair.split()] for pair in body.split(",")],
        dtype=np.float64,
    )
    return kind, pts


def parse_wkt_multi(wkt: str) -> tuple[str, list[np.ndarray]]:
    """Kind-aware WKT parser → (kind, [part, ...]) with each part an
    (N, 2) float array.

    Supported: POINT, MULTIPOINT, LINESTRING, MULTILINESTRING, POLYGON,
    MULTIPOLYGON — all rings kept (exterior + interior holes; containment
    is crossing parity across the closed rings).  The distinction this
    parser preserves — and :func:`parse_wkt` loses — is *which* parts are
    open polylines vs closed rings: the reference's flagship join fixture is
    point × LINESTRING within-distance (GeoWaveSparkSpatialJoinIT.java:
    111-172, hail × tornado_tracks), where closing the line into a
    phantom ring gives silently wrong distances.
    """
    s = wkt.strip()
    kind = s.split("(", 1)[0].strip().upper()
    if kind == "EMPTY" or "EMPTY" in s.upper().split("(")[0]:
        return kind.replace("EMPTY", "").strip(), []
    body = s[s.index("(") + 1 : s.rindex(")")]
    if kind in ("POINT", "LINESTRING"):
        parts = [_coords(body)]
    elif kind == "MULTIPOINT":
        # both 'MULTIPOINT (1 2, 3 4)' and 'MULTIPOINT ((1 2), (3 4))'
        txt = body.replace("(", " ").replace(")", " ")
        flat = _coords(txt)
        parts = [flat[i : i + 1] for i in range(len(flat))]
    elif kind == "MULTILINESTRING":
        parts = [_coords(g) for g in _split_groups(body)]
    elif kind == "POLYGON":
        # ALL rings (exterior + interior holes, r3): containment is
        # crossing PARITY across a geometry's closed rings, which makes
        # holes and disjoint multipolygon shells one uniform rule
        parts = [_coords(g) for g in _split_groups(body)]
    elif kind == "MULTIPOLYGON":
        parts = [
            _coords(ring) for g in _split_groups(body) for ring in _split_groups(g)
        ]
    elif kind == "GEOMETRYCOLLECTION":
        # JTS semantics: a collection is the UNION of its components
        # (r4, VERDICT r3 Next #5).  A single-dimension collection
        # collapses losslessly to its MULTI* kind, so every existing
        # kind-aware consumer handles it unchanged; a mixed-dimension
        # collection keeps per-component kinds — (kind, [(kind, parts),
        # ...]) — because one geometry-level closed flag cannot describe
        # it.  Consumers that cannot route per component (DE-9IM relate)
        # raise, matching JTS RelateOp's IllegalArgumentException on
        # GeometryCollection.
        comps = [parse_wkt_multi(item) for item in _split_top_commas(body)]
        flat: list[tuple[str, list[np.ndarray]]] = []
        for k, ps in comps:
            if k == "GEOMETRYCOLLECTION":  # nested mixed collection
                flat.extend(ps)
            elif ps:
                flat.append((k, ps))
        fams = {_KIND_FAMILY[k] for k, _ in flat}
        if not fams:
            return kind, []
        if len(fams) == 1:
            return _FAMILY_KIND[fams.pop()], [p for _, ps in flat for p in ps]
        return kind, flat
    else:
        raise ValueError(f"unsupported WKT kind: {kind}")
    return kind, parts


_KIND_FAMILY = {
    "POINT": 0, "MULTIPOINT": 0,
    "LINESTRING": 1, "MULTILINESTRING": 1,
    "POLYGON": 2, "MULTIPOLYGON": 2,
}
_FAMILY_KIND = {0: "MULTIPOINT", 1: "MULTILINESTRING", 2: "MULTIPOLYGON"}


def _split_top_commas(body: str) -> list[str]:
    """Split at depth-0 commas: 'POINT (1 2), LINESTRING (0 0, 1 1)' →
    ['POINT (1 2)', 'LINESTRING (0 0, 1 1)']."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(body[start:i])
            start = i + 1
    items.append(body[start:])
    return [s.strip() for s in items if s.strip()]


def as_components(g: tuple[str, list]) -> list[tuple[str, list[np.ndarray]]]:
    """Homogeneous components of a parsed geometry: [(kind, parts), ...]
    (singleton for non-collections; per-component for mixed collections)."""
    return list(g[1]) if g[0] == "GEOMETRYCOLLECTION" else [g]


def flatten_parts(g: tuple[str, list]) -> list[np.ndarray]:
    """All coordinate parts of a parsed geometry regardless of kind —
    for envelope/coordinate consumers that don't need per-part kinds."""
    return [p for _, ps in as_components(g) for p in ps]


def any_pair_dist2(a: tuple[str, list], b: tuple[str, list]) -> float:
    """Squared distance between two parsed geometries of ANY kind
    (collections = min over component pairs — JTS union semantics)."""
    best = np.inf
    for ka, pa in as_components(a):
        for kb, pb in as_components(b):
            d = geoms_pair_dist2(pa, geom_is_closed(ka), pb, geom_is_closed(kb))
            if d < best:
                best = d
            if best == 0.0:
                return 0.0
    return float(best)


def _coords(txt: str) -> np.ndarray:
    return np.array(
        [[float(t) for t in pair.split()] for pair in txt.split(",")],
        dtype=np.float64,
    )


def _split_groups(body: str) -> list[str]:
    """Split 'top-level' parenthesized groups: '(a),( b )' → ['a', ' b ']."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(body):
        if ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append(body[start:i])
    return groups


_CLOSED_KINDS = {"POLYGON", "MULTIPOLYGON"}


def geom_is_closed(kind: str) -> bool:
    return kind in _CLOSED_KINDS


# --- predicates -----------------------------------------------------------

def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Ray-casting point-in-polygon, boundary-inclusive, vectorized over points.

    Boundary inclusion uses an exact cross-product on-segment test (no
    epsilon): for axis-aligned edges this is bit-exact, matching a SQL
    BETWEEN on the same doubles."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = poly
    if np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    # (P, E) edge crossing test
    pyv = py[:, None]
    pxv = px[:, None]
    cond = (y1[None, :] > pyv) != (y2[None, :] > pyv)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (pyv - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
            x2[None, :] - x1[None, :]
        )
    crossings = (cond & (pxv < xint)).sum(axis=1)
    inside = (crossings % 2) == 1
    # exact on-boundary: cross == 0 and point within the edge bbox
    cross = (x2 - x1)[None, :] * (pyv - y1[None, :]) - (y2 - y1)[None, :] * (pxv - x1[None, :])
    on_edge = (
        (cross == 0.0)
        & (pxv >= np.minimum(x1, x2)[None, :])
        & (pxv <= np.maximum(x1, x2)[None, :])
        & (pyv >= np.minimum(y1, y2)[None, :])
        & (pyv <= np.maximum(y1, y2)[None, :])
    ).any(axis=1)
    return inside | on_edge


def points_segments_dist2(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Min squared distance from each point to the ring's edges."""
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    dx, dy = x2 - x1, y2 - y1
    seg_len2 = dx * dx + dy * dy
    seg_len2 = np.where(seg_len2 == 0, 1.0, seg_len2)
    t = ((px[:, None] - x1[None, :]) * dx[None, :] + (py[:, None] - y1[None, :]) * dy[None, :]) / seg_len2[None, :]
    t = np.clip(t, 0.0, 1.0)
    cx = x1[None, :] + t * dx[None, :]
    cy = y1[None, :] + t * dy[None, :]
    d2 = (px[:, None] - cx) ** 2 + (py[:, None] - cy) ** 2
    return d2.min(axis=1)


def points_polygon_dist2(px: np.ndarray, py: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Squared distance point→polygon (0 inside)."""
    ring = poly if not np.array_equal(poly[0], poly[-1]) else poly[:-1]
    d2 = points_segments_dist2(np.asarray(px, float), np.asarray(py, float), ring)
    inside = points_in_polygon(px, py, poly)
    return np.where(inside, 0.0, d2)


def points_in_polygons_batch(
    px: np.ndarray, py: np.ndarray, codes: np.ndarray, padded: np.ndarray
) -> np.ndarray:
    """Boundary-inclusive PIP for N (point, polygon-code) rows in one shot.

    ``padded`` is a (K, E, 2) :attr:`GeomBatch.padded` array; ``codes`` maps
    each row to its polygon.  One (N, E) vectorized pass — no per-group
    Python, which is what makes the join's fine filter scale.
    """
    P = padded[codes]  # (N, E, 2)
    x1 = P[:, :, 0]
    y1 = P[:, :, 1]
    x2 = np.roll(x1, -1, axis=1)
    y2 = np.roll(y1, -1, axis=1)
    pxv = px[:, None]
    pyv = py[:, None]
    cond = (y1 > pyv) != (y2 > pyv)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (pyv - y1) / (y2 - y1) * (x2 - x1)
    inside = ((cond & (pxv < xint)).sum(axis=1) % 2) == 1
    cross = (x2 - x1) * (pyv - y1) - (y2 - y1) * (pxv - x1)
    on_edge = (
        (cross == 0.0)
        & (pxv >= np.minimum(x1, x2))
        & (pxv <= np.maximum(x1, x2))
        & (pyv >= np.minimum(y1, y2))
        & (pyv <= np.maximum(y1, y2))
    ).any(axis=1)
    return inside | on_edge


class GeomBatch:
    """Part-batched geometries for the vectorized kernels.

    Holds K parts (rings / polylines / points) across N geometries as one
    padded (K, E, 2) vertex array plus a per-part ``closed`` flag and a
    part→geometry map.  Closed parts (polygon exterior rings) keep their
    wrap edge and participate in containment; open parts (LINESTRING,
    POINT) get the wrap edge masked to zero length and never "contain" —
    this is the fix for the phantom-ring line-distance bug (round-2
    verdict #2): a LINESTRING's distance is min over its E−1 real
    segments, with no closing edge and no interior.
    """

    def __init__(self, parsed: list[tuple[str, list[np.ndarray]]]):
        parts: list[np.ndarray] = []
        closed: list[bool] = []
        part_geom: list[int] = []
        for gi, g in enumerate(parsed):
            # mixed GEOMETRYCOLLECTION (r4): flatten components with
            # PER-PART closedness — the parity containment rule then sees
            # only the polygon-family rings, which is exactly the union
            # semantics MULTIPOLYGON already gets
            for kind, ps in as_components(g):
                c = geom_is_closed(kind)
                for p in ps:
                    if c and len(p) > 1 and np.array_equal(p[0], p[-1]):
                        p = p[:-1]
                    parts.append(p)
                    closed.append(bool(c) and len(p) >= 3)
                    part_geom.append(gi)
        self.n = len(parsed)
        if parts:
            E = max(len(p) for p in parts)
            padded = np.empty((len(parts), E, 2), dtype=np.float64)
            for k, p in enumerate(parts):
                padded[k, : len(p)] = p
                padded[k, len(p):] = p[-1]
            self.padded = padded
        else:
            self.padded = np.zeros((0, 1, 2), dtype=np.float64)
        self.closed = np.array(closed, dtype=bool)
        self.part_geom = np.array(part_geom, dtype=np.int64)
        counts = np.bincount(self.part_geom, minlength=self.n).astype(np.int64)
        self.part_count = counts
        self.part_start = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)

    def envelopes(self) -> np.ndarray:
        """(N, 4) per-geometry envelope over all parts (padding vertices
        repeat real ones, so they never widen the box)."""
        env = np.empty((self.n, 4), dtype=np.float64)
        pminx = self.padded[:, :, 0].min(axis=1)
        pmaxx = self.padded[:, :, 0].max(axis=1)
        pminy = self.padded[:, :, 1].min(axis=1)
        pmaxy = self.padded[:, :, 1].max(axis=1)
        env[:, 0] = np.inf
        env[:, 1] = np.inf
        env[:, 2] = -np.inf
        env[:, 3] = -np.inf
        np.minimum.at(env[:, 0], self.part_geom, pminx)
        np.minimum.at(env[:, 1], self.part_geom, pminy)
        np.maximum.at(env[:, 2], self.part_geom, pmaxx)
        np.maximum.at(env[:, 3], self.part_geom, pmaxy)
        return env


def _expand_to_parts(codes: np.ndarray, gb: GeomBatch) -> tuple[np.ndarray, np.ndarray]:
    """(row, geom_code) rows → (expanded_row_index, part_index) with one
    entry per part of the row's geometry (vectorized explode)."""
    cnt = gb.part_count[codes]
    total = int(cnt.sum())
    rows = np.repeat(np.arange(len(codes), dtype=np.int64), cnt)
    starts2 = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    off = np.arange(total, dtype=np.int64) - np.repeat(starts2, cnt)
    pcodes = np.repeat(gb.part_start[codes], cnt) + off
    return rows, pcodes


def _points_parts_dist2(
    px: np.ndarray,
    py: np.ndarray,
    pcodes: np.ndarray,
    gb: GeomBatch,
    interior_zero: bool = True,
) -> np.ndarray:
    """Squared distance from each point to its part (0 inside closed rings
    unless ``interior_zero=False`` — the parity-aware geometry-level
    callers zero the interior themselves; open parts use only their real
    segments — no wrap edge)."""
    P = gb.padded[pcodes]
    x1 = P[:, :, 0]
    y1 = P[:, :, 1]
    x2 = np.roll(x1, -1, axis=1)
    y2 = np.roll(y1, -1, axis=1)
    open_m = ~gb.closed[pcodes]
    if open_m.any():
        # wrap edge (last padded vertex → first vertex) exists only for
        # closed rings; zero it out for open parts so it is inert
        x2[open_m, -1] = x1[open_m, -1]
        y2[open_m, -1] = y1[open_m, -1]
    dx = x2 - x1
    dy = y2 - y1
    seg_len2 = dx * dx + dy * dy
    safe = np.where(seg_len2 == 0, 1.0, seg_len2)
    pxv = px[:, None]
    pyv = py[:, None]
    t = np.clip(((pxv - x1) * dx + (pyv - y1) * dy) / safe, 0.0, 1.0)
    cx = x1 + t * dx
    cy = y1 + t * dy
    d2 = ((pxv - cx) ** 2 + (pyv - cy) ** 2).min(axis=1)
    if interior_zero:
        cmask = gb.closed[pcodes]
        if cmask.any():
            sub = np.nonzero(cmask)[0]
            ins = points_in_polygons_batch(px[sub], py[sub], pcodes[sub], gb.padded)
            d2[sub[ins]] = 0.0
    return d2


def points_contained_batch(
    px: np.ndarray, py: np.ndarray, codes: np.ndarray, gb: GeomBatch
) -> np.ndarray:
    """Boundary-inclusive containment in each point's geometry, hole-aware
    (r3): inside = CROSSING PARITY of strict containment across the
    geometry's closed rings (odd ⇒ in the filled area — one rule covers
    exterior+hole rings AND disjoint multipolygon shells) OR exactly on
    any ring boundary (the hole boundary belongs to the polygon)."""
    rows, pcodes = _expand_to_parts(codes, gb)
    cmask = gb.closed[pcodes]
    parity = np.zeros(len(codes), dtype=bool)
    on_ring = np.zeros(len(codes), dtype=bool)
    if cmask.any():
        sub = np.nonzero(cmask)[0]
        sx, sy = px[rows[sub]], py[rows[sub]]
        incl = points_in_polygons_batch(sx, sy, pcodes[sub], gb.padded)
        seg_d2 = _points_parts_dist2(sx, sy, pcodes[sub], gb, interior_zero=False)
        on = seg_d2 == 0.0
        np.logical_xor.at(parity, rows[sub], incl & ~on)
        np.logical_or.at(on_ring, rows[sub], on)
    return parity | on_ring


def points_geoms_dist2_batch(
    px: np.ndarray, py: np.ndarray, codes: np.ndarray, gb: GeomBatch
) -> np.ndarray:
    """Squared distance point → its geometry, kind- and hole-aware: min
    over every part's segments, then 0 where the geometry contains the
    point (parity rule — a point inside a hole keeps its distance to the
    hole boundary instead of snapping to 0)."""
    rows, pcodes = _expand_to_parts(codes, gb)
    d2 = _points_parts_dist2(px[rows], py[rows], pcodes, gb, interior_zero=False)
    out = np.full(len(codes), np.inf, dtype=np.float64)
    np.minimum.at(out, rows, d2)
    out[points_contained_batch(px, py, codes, gb)] = 0.0
    return out


def points_intersect_geoms_batch(
    px: np.ndarray, py: np.ndarray, codes: np.ndarray, gb: GeomBatch
) -> np.ndarray:
    """Point INTERSECTS geometry: hole-aware parity containment for the
    closed rings; exact on-segment (d² == 0) for open parts; coordinate
    equality for point parts."""
    rows, pcodes = _expand_to_parts(codes, gb)
    hit = np.zeros(len(rows), dtype=bool)
    omask = ~gb.closed[pcodes]
    if omask.any():
        sub = np.nonzero(omask)[0]
        hit[sub] = (
            _points_parts_dist2(px[rows[sub]], py[rows[sub]], pcodes[sub], gb) == 0.0
        )
    out = np.zeros(len(codes), dtype=bool)
    np.logical_or.at(out, rows, hit)
    return out | points_contained_batch(px, py, codes, gb)


def _part_edges(p: np.ndarray, closed: bool) -> tuple[np.ndarray, np.ndarray]:
    """Explicit (start, end) edge arrays of one part, honoring openness."""
    if closed:
        a = p[:-1] if len(p) > 1 and np.array_equal(p[0], p[-1]) else p
        return a, np.roll(a, -1, axis=0)
    return p[:-1], p[1:]


def geoms_pair_dist2(
    parts_a: list[np.ndarray], closed_a: bool,
    parts_b: list[np.ndarray], closed_b: bool,
) -> float:
    """Squared distance between two arbitrary geometries (each a list of
    open polylines OR closed rings): 0 if any edges intersect or either's
    vertices lie inside the other's closed rings; else the min vertex→edge
    distance either way (exact for piecewise-linear, non-crossing
    geometries — the closest approach of two non-intersecting segment sets
    is attained at a vertex of one of them)."""
    for a in parts_a:
        for b in parts_b:
            if len(a) > 1 and len(b) > 1 and rings_edges_intersect(
                a, b, closed_a=closed_a, closed_b=closed_b
            ):
                return 0.0
    kb = "POLYGON" if closed_b else "LINESTRING"
    ka = "POLYGON" if closed_a else "LINESTRING"
    gb_b = GeomBatch([(kb, parts_b)])
    gb_a = GeomBatch([(ka, parts_a)])
    va = np.vstack(parts_a)
    vb = np.vstack(parts_b)
    d1 = points_geoms_dist2_batch(
        va[:, 0], va[:, 1], np.zeros(len(va), dtype=np.int64), gb_b
    ).min()
    d2 = points_geoms_dist2_batch(
        vb[:, 0], vb[:, 1], np.zeros(len(vb), dtype=np.int64), gb_a
    ).min()
    return float(min(d1, d2))


_PARSE_CACHE: dict[str, tuple[str, list]] = {}


def parse_wkt_cached(w: str) -> tuple[str, list]:
    """:func:`parse_wkt_multi` through a bounded per-process cache (a
    Python worker keeps it across the Arrow batches of its tasks)."""
    g = _PARSE_CACHE.get(w)
    if g is None:
        g = parse_wkt_multi(w)
        if len(_PARSE_CACHE) < 500_000:
            _PARSE_CACHE[w] = g
    return g


def pairs_dist2(a, b) -> np.ndarray:
    """Squared distance of each WKT pair ``(a[i], b[i])``, any kinds; NaN
    where either side is null (a null geometry is at no distance) and inf
    where either side is EMPTY (an empty point set meets nothing).

    The one exact distance kernel behind the SQL distance predicates and
    :func:`~geowave_spark.operators.join.geom_pair_join`: intersects is
    ``== 0``, within-distance ``<= r²``.  POINT × POINT pairs are one
    vectorized pass, POINT × geometry pairs (either order) one
    :class:`GeomBatch` pass, and the remaining pairs go through
    :func:`any_pair_dist2` (open polylines keep only their real segments;
    closed rings keep interior distance 0)."""
    a = np.asarray(a, dtype=object)
    b = np.asarray(b, dtype=object)
    out = np.full(len(a), np.nan, dtype=np.float64)
    rows = [i for i in range(len(a)) if isinstance(a[i], str) and isinstance(b[i], str)]
    ga = {i: parse_wkt_cached(a[i]) for i in rows}
    gb = {i: parse_wkt_cached(b[i]) for i in rows}
    pp, pts, geoms, prow = [], [], [], []
    for i in rows:
        if not ga[i][1] or not gb[i][1]:
            out[i] = np.inf
        elif ga[i][0] == "POINT" and gb[i][0] == "POINT":
            pp.append(i)
        elif ga[i][0] == "POINT" or gb[i][0] == "POINT":
            p, g = (ga[i], gb[i]) if ga[i][0] == "POINT" else (gb[i], ga[i])
            pts.append(p[1][0][0]); geoms.append(g); prow.append(i)
        else:
            out[i] = any_pair_dist2(ga[i], gb[i])
    if pp:
        pa = np.array([ga[i][1][0][0] for i in pp])
        pb = np.array([gb[i][1][0][0] for i in pp])
        out[pp] = ((pa - pb) ** 2).sum(axis=1)
    if prow:
        xy = np.array(pts)
        out[prow] = points_geoms_dist2_batch(
            xy[:, 0], xy[:, 1], np.arange(len(geoms), dtype=np.int64), GeomBatch(geoms)
        )
    return out


def cell_rect_intersects_geom(
    cminx: np.ndarray,
    cminy: np.ndarray,
    cmaxx: np.ndarray,
    cmaxy: np.ndarray,
    parts: list[np.ndarray],
    closed: bool,
) -> np.ndarray:
    """Each rect ∩ one geometry given as parts, closed rings or open
    polylines: :func:`rects_hit_geoms` as a batch of one geometry."""
    g = ("MULTIPOLYGON" if closed else "MULTILINESTRING", list(parts))
    return rects_hit_geoms(cminx, cminy, cmaxx, cmaxy, np.zeros(len(cminx), dtype=np.int64), [g])


# (rect, vertex or edge) pairs evaluated per numpy pass
_RECT_PAIR_BLOCK = 1 << 20


class _EdgeTable:
    """Flat vertex and edge tables of parsed geometries for
    :func:`rects_hit_geoms`, each sorted by geometry, then part.  A closed
    ring drops its repeated closing vertex and keeps its wrap edge; an open
    part keeps its real segments only (none for a single vertex)."""

    def __init__(self, geoms: list):
        parts = [
            (gi, c, p[:-1] if c and np.array_equal(p[0], p[-1]) else p)
            for gi, g in enumerate(geoms)
            for kind, ps in as_components(g)
            for c in (geom_is_closed(kind),)
            for p in ps
        ]
        n = len(geoms)
        nv = np.array([len(p) for _, _, p in parts], dtype=np.int64)
        v = np.concatenate([p for _, _, p in parts]) if parts else np.zeros((0, 2))
        vgeom = np.repeat(np.array([gi for gi, _, _ in parts], dtype=np.int64), nv)
        vpart = np.repeat(np.arange(len(parts), dtype=np.int64), nv)
        closed = np.repeat(np.array([c for _, c, _ in parts], dtype=bool), nv)
        first = np.repeat(np.cumsum(nv) - nv, nv)
        nxt = np.arange(len(v), dtype=np.int64) + 1
        last = nxt == first + np.repeat(nv, nv)
        nxt[last] = first[last]  # a closed ring wraps to its first vertex
        e = closed | ~last
        self.vx, self.vy = v[:, 0], v[:, 1]
        self.v_range = _ranges(vgeom, n)
        # every edge: the clip test; closed rings' edges: corner parity
        self.x1, self.y1 = v[e, 0], v[e, 1]
        self.x2, self.y2 = v[nxt[e], 0], v[nxt[e], 1]
        self.e_range = _ranges(vgeom[e], n)
        ring = closed[e]
        self.ring_edge = np.nonzero(ring)[0]
        self.ring_part = vpart[e][ring]
        self.r_range = _ranges(vgeom[e][ring], n)


def _ranges(sorted_geom: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(start, count) of each geometry's run in a geometry-sorted table."""
    count = np.bincount(sorted_geom, minlength=n).astype(np.int64)
    return np.cumsum(count) - count, count


def _rect_pairs(rects: np.ndarray, rect_geom: np.ndarray, ranges):
    """(rect, item) index pairs: each rect of ``rects`` against every item
    of its geometry's (start, count) range, in blocks of about
    ``_RECT_PAIR_BLOCK`` pairs that never split a rect."""
    start, count = ranges
    g = rect_geom[rects]
    cnt = count[g]
    ends = np.cumsum(cnt)
    lo = 0
    while lo < len(rects):
        base = ends[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(ends, base + _RECT_PAIR_BLOCK, side="right")))
        c = cnt[lo:hi]
        if c.any():
            off = np.arange(int(c.sum()), dtype=np.int64) - np.repeat(np.cumsum(c) - c, c)
            yield np.repeat(rects[lo:hi], c), np.repeat(start[g[lo:hi]], c) + off
        lo = hi


def rects_hit_geoms(
    rminx: np.ndarray,
    rminy: np.ndarray,
    rmaxx: np.ndarray,
    rmaxy: np.ndarray,
    rect_geom: np.ndarray,
    geoms: list,
) -> np.ndarray:
    """Does each closed rect ``k`` intersect the parsed geometry
    ``geoms[rect_geom[k]]``?  → (K,) bool.

    The package's one rect ∩ geometry test: the trimIndexIds pruning of
    :func:`~geowave_spark.encode.polygon_cells_np` (RDDUtils.java:158-184)
    and ``st_bbox``.  Kind-aware per component: a rect hits a geometry
    when one of its vertices lies in the rect, a rect corner lies in one
    of its closed rings (crossing parity, or exactly on a ring edge), or
    one of its edges crosses the rect (Liang–Barsky clip).  Open polylines
    take only the vertex and clip tests, so a rect inside a line's
    phantom hull misses it.  Each test runs once over all (rect, vertex)
    or (rect, edge) pairs, and a rect that one test hits skips the rest.
    """
    rminx, rminy, rmaxx, rmaxy = (np.asarray(a, dtype=np.float64) for a in (rminx, rminy, rmaxx, rmaxy))
    rect_geom = np.asarray(rect_geom, dtype=np.int64)
    t = _EdgeTable(geoms)
    hit = np.zeros(len(rminx), dtype=bool)
    for r, i in _rect_pairs(np.arange(len(rminx)), rect_geom, t.v_range):
        vx, vy = t.vx[i], t.vy[i]
        hit[r[(vx >= rminx[r]) & (vx <= rmaxx[r]) & (vy >= rminy[r]) & (vy <= rmaxy[r])]] = True
    for r, i in _rect_pairs(np.nonzero(~hit)[0], rect_geom, t.r_range):
        e = t.ring_edge[i]
        x1, y1, x2, y2 = t.x1[e], t.y1[e], t.x2[e], t.y2[e]
        part = t.ring_part[i]
        first = np.nonzero(np.r_[True, (r[1:] != r[:-1]) | (part[1:] != part[:-1])])[0]
        for px, py in ((rminx, rminy), (rminx, rmaxy), (rmaxx, rminy), (rmaxx, rmaxy)):
            pxv, pyv = px[r], py[r]
            cond = (y1 > pyv) != (y2 > pyv)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x1 + (pyv - y1) / (y2 - y1) * (x2 - x1)
            odd = np.add.reduceat(cond & (pxv < xint), first, dtype=np.int64) % 2 == 1
            cross = (x2 - x1) * (pyv - y1) - (y2 - y1) * (pxv - x1)
            on_edge = (
                (cross == 0.0)
                & (pxv >= np.minimum(x1, x2))
                & (pxv <= np.maximum(x1, x2))
                & (pyv >= np.minimum(y1, y2))
                & (pyv <= np.maximum(y1, y2))
            )
            hit[r[first[odd]]] = True
            hit[r[on_edge]] = True
    for r, i in _rect_pairs(np.nonzero(~hit)[0], rect_geom, t.e_range):
        x1, y1 = t.x1[i], t.y1[i]
        dx, dy = t.x2[i] - x1, t.y2[i] - y1
        t0 = np.zeros(len(r))
        t1 = np.ones(len(r))
        ok = np.ones(len(r), dtype=bool)
        for p, q in (
            (-dx, x1 - rminx[r]),
            (dx, rmaxx[r] - x1),
            (-dy, y1 - rminy[r]),
            (dy, rmaxy[r] - y1),
        ):
            with np.errstate(divide="ignore", invalid="ignore"):
                s = q / p
            ok &= ~((p == 0) & (q < 0))
            ent = np.where(p < 0, s, -np.inf)
            ext = np.where(p > 0, s, np.inf)
            t0 = np.maximum(t0, np.where(np.isfinite(ent), ent, t0))
            t1 = np.minimum(t1, np.where(np.isfinite(ext), ext, t1))
        hit[r[ok & (t0 <= t1)]] = True
    return hit


def rings_edges_intersect(
    ra: np.ndarray, rb: np.ndarray, closed_a: bool = True, closed_b: bool = True
) -> bool:
    """Do any edges of the two parts intersect? (orientation test,
    vectorized over the E_a × E_b edge pairs; collinear touches count).
    ``closed_*=False`` treats the part as an open polyline (no wrap
    edge)."""
    p1, p2 = _part_edges(ra, closed_a)
    q1, q2 = _part_edges(rb, closed_b)
    if not len(p1) or not len(q1):
        return False

    def cross(ox, oy, ax_, ay, bx, by):
        return (ax_ - ox) * (by - oy) - (ay - oy) * (bx - ox)

    # (Ea, Eb) orientation values
    d1 = cross(q1[None, :, 0], q1[None, :, 1], q2[None, :, 0], q2[None, :, 1], p1[:, None, 0], p1[:, None, 1])
    d2 = cross(q1[None, :, 0], q1[None, :, 1], q2[None, :, 0], q2[None, :, 1], p2[:, None, 0], p2[:, None, 1])
    d3 = cross(p1[:, None, 0], p1[:, None, 1], p2[:, None, 0], p2[:, None, 1], q1[None, :, 0], q1[None, :, 1])
    d4 = cross(p1[:, None, 0], p1[:, None, 1], p2[:, None, 0], p2[:, None, 1], q2[None, :, 0], q2[None, :, 1])
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    if proper.any():
        return True
    # collinear / endpoint touches: a zero orientation with bbox overlap
    for d, s1, s2, pt in (
        (d1, q1, q2, p1),
        (d2, q1, q2, p2),
        (d3, p1, p2, q1),
        (d4, p1, p2, q2),
    ):
        z = d == 0
        if z.any():
            if d is d1 or d is d2:
                px_ = pt[:, None, 0]; py_ = pt[:, None, 1]
                sx1 = s1[None, :, 0]; sy1 = s1[None, :, 1]
                sx2 = s2[None, :, 0]; sy2 = s2[None, :, 1]
            else:
                px_ = pt[None, :, 0]; py_ = pt[None, :, 1]
                sx1 = s1[:, None, 0]; sy1 = s1[:, None, 1]
                sx2 = s2[:, None, 0]; sy2 = s2[:, None, 1]
            on = (
                z
                & (px_ >= np.minimum(sx1, sx2))
                & (px_ <= np.maximum(sx1, sx2))
                & (py_ >= np.minimum(sy1, sy2))
                & (py_ <= np.maximum(sy1, sy2))
            )
            if on.any():
                return True
    return False


def polygon_envelope(poly: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(poly[:, 0].min()),
        float(poly[:, 1].min()),
        float(poly[:, 0].max()),
        float(poly[:, 1].max()),
    )


class LocalGeomGrid:
    """Uniform grid index over a (collected) geometry set, for map-side
    point⋈geometry joins.

    Indexes arbitrary parsed geometries (points / lines / polygons /
    MULTI\\*) via a :class:`GeomBatch`, so the broadcast side of
    ``point_in_polygon_join`` and ``geometry_distance_join`` handles the
    reference's point × LINESTRING fixture (hail × tornado_tracks) with
    correct open-polyline distances; exact predicates route through the
    kind-aware kernels.

    The Spark-side analog is still a cell-key hash join — here the hash
    lookup runs inside the Arrow batch (numpy searchsorted on packed cell
    keys) against a broadcast index, so the probe side needs no shuffle and
    no tier explosion.  Cell size adapts to the median (buffered) envelope
    so a geometry covers ~1-4 cells and a point's candidate list stays
    short even when geometry sizes vary by orders of magnitude.

    Everything is plain numpy arrays, so the object pickles efficiently
    into a Spark broadcast.
    """

    def __init__(self, ids, parsed: list[tuple[str, list[np.ndarray]]], buffer: float = 0.0):
        self.ids = np.asarray(ids, dtype=object)
        self.gb = GeomBatch(parsed)
        n = self.gb.n
        env = self.gb.envelopes() if n else np.zeros((0, 4), dtype=np.float64)
        env += (-buffer, -buffer, buffer, buffer)
        if n:
            w = np.median(np.maximum(env[:, 2] - env[:, 0], env[:, 3] - env[:, 1]))
            self.cell = max(float(w), 1e-9)
        else:
            self.cell = 1.0
        gx0 = np.floor(env[:, 0] / self.cell).astype(np.int64)
        gx1 = np.floor(env[:, 2] / self.cell).astype(np.int64)
        gy0 = np.floor(env[:, 1] / self.cell).astype(np.int64)
        gy1 = np.floor(env[:, 3] / self.cell).astype(np.int64)
        cnx = gx1 - gx0 + 1
        cnt = cnx * (gy1 - gy0 + 1)
        code = np.repeat(np.arange(n, dtype=np.int64), cnt)
        starts = np.concatenate(([0], np.cumsum(cnt)[:-1]))
        off = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(starts, cnt)
        gx = gx0[code] + off % cnx[code]
        gy = gy0[code] + off // cnx[code]
        key = self._pack(gx, gy)
        order = np.argsort(key, kind="stable")
        key = key[order]
        self.codes = code[order]
        self.keys, first = np.unique(key, return_index=True)
        self.starts = np.concatenate([first, [len(key)]])

    @staticmethod
    def _pack(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
        return ((gx + (1 << 31)) << 32) | (gy + (1 << 31))

    def candidates(self, px: np.ndarray, py: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(probe_row_index, geometry_code) candidate pairs for N points."""
        if not len(self.keys) or not len(px):
            z = np.zeros(0, dtype=np.int64)
            return z, z
        key = self._pack(
            np.floor(px / self.cell).astype(np.int64),
            np.floor(py / self.cell).astype(np.int64),
        )
        idx = np.searchsorted(self.keys, key)
        idx_c = np.minimum(idx, len(self.keys) - 1)
        hit = self.keys[idx_c] == key
        rows = np.nonzero(hit)[0]
        if not len(rows):
            z = np.zeros(0, dtype=np.int64)
            return z, z
        b = self.starts[idx_c[rows]]
        e = self.starts[idx_c[rows] + 1]
        cnt = e - b
        rowrep = np.repeat(rows, cnt)
        starts2 = np.concatenate(([0], np.cumsum(cnt)[:-1]))
        off = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(starts2, cnt)
        codes = self.codes[np.repeat(b, cnt) + off]
        return rowrep, codes

    def dist2(self, px: np.ndarray, py: np.ndarray, codes: np.ndarray) -> np.ndarray:
        return points_geoms_dist2_batch(px, py, codes, self.gb)

    def intersects(self, px: np.ndarray, py: np.ndarray, codes: np.ndarray) -> np.ndarray:
        return points_intersect_geoms_batch(px, py, codes, self.gb)
