"""Exact DE-9IM topological relate for piecewise-linear geometries.

Replaces the r2 vertex-sample approximations of TOUCHES / CROSSES /
OVERLAPS / CONTAINS with the real intersection-matrix semantics GeoWave
gets from JTS (analytics/spark/.../sparksql/udf/{GeomTouches,GeomCrosses,
GeomOverlaps,GeomContains,GeomWithin,GeomEquals,GeomCovers}.java delegate
to Geometry.touches/crosses/… — JTS RelateOp).  Everything here is pure
numpy over the parsed-multi representation from :mod:`geowave_spark.geom`;
no shapely.

Method (exact for valid piecewise-linear input whose contact parameters
are representable in double precision — e.g. lattice or dyadic-rational
coordinates; for inputs with nearly-parallel edges or nearly-coincident
contacts the rounded split parameters t = qpxs/rxs can land a midpoint
on the wrong side, where JTS would fall back to robust orientation
predicates.  Near-duplicate split parameters are snapped within 1e-12
before midpoint classification to keep slivers from degrading this):

* Every boundary/line contact between two segment sets is one of
  (a) a PROPER crossing — opposite strict orientation signs both ways,
  (b) a vertex of one lying ON a segment of the other — exact
      cross-product-zero + bbox test on the input coordinates,
  (c) a collinear overlap — both orientation signs zero; the overlap is
      tracked as a *parameter interval* on the edge, bounded by vertices
      of one of the two inputs, so "this subsegment lies ON the other
      geometry" is bookkeeping, never a float re-test.
* Each edge is split at all contact parameters; every open subsegment is
  then HOMOGENEOUS (entirely interior / on-boundary / exterior of the
  other geometry), so classifying its midpoint classifies the whole
  subsegment.
* Line boundaries follow the OGC mod-2 rule (an endpoint is boundary iff
  it terminates an odd number of part-ends), so closed LINESTRINGs have
  empty boundary, exactly like JTS.
* Polygon interior tests are the hole-aware crossing parity from
  ``geom.points_contained_batch``; the "boundaries coincide" corner
  (identical rings, a polygon equal to another's hole, …) is resolved by
  per-ring scanline interior points — one candidate interior point per
  connected component of the interior, never a sampled guess.

The DE-9IM matrix M[i][j] = (region_i(a) ∩ region_j(b)) ≠ ∅ with regions
(Interior, Boundary, Exterior); predicates derive from it the JTS way:

  intersects = II ∨ IB ∨ BI ∨ BB          touches = intersects ∧ ¬II
  covers(a,b) = ¬EI ∧ ¬EB′                contains = covers ∧ II
  crosses   dim a<b: II ∧ IE;  a>b: II ∧ EI;  1×1: II ∧ dim(II)=0
  overlaps  dim a=b: II ∧ IE ∧ EI (lines additionally dim(II)=1)
  equals    covers(a,b) ∧ covers(b,a)

where EB′ is ext(a)∩bnd(b) — i.e. covers(a,b) means nothing of b's
interior or boundary falls in a's exterior.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .geom import (
    GeomBatch,
    geom_is_closed,
    parse_wkt_cached,
    points_contained_batch,
    points_on_edges,
)

_DIM = {
    "POINT": 0,
    "MULTIPOINT": 0,
    "LINESTRING": 1,
    "MULTILINESTRING": 1,
    "POLYGON": 2,
    "MULTIPOLYGON": 2,
}

I, B, E = 0, 1, 2  # matrix row/col indices


class PreparedGeom:
    """Per-geometry structures shared by every relate() against it."""

    def __init__(self, kind: str, parts: list[np.ndarray]):
        self.kind = kind
        self.dim = _DIM[kind]
        self.parts = parts
        # segments, vertices and locate() all read the one flat table; a
        # one-vertex ring's zero-length edge is no segment here
        self.gb = GeomBatch([(kind, parts)])
        self.verts = np.c_[self.gb.x, self.gb.y]
        seg = self.gb.e_start != self.gb.e_end
        self.seg_s = self.verts[self.gb.e_start[seg]]
        self.seg_e = self.verts[self.gb.e_end[seg]]
        if self.dim == 0:
            self.pts = self.verts
            self.vert_boundary = np.zeros(len(self.pts), dtype=bool)
            return
        if geom_is_closed(kind):
            # every polygon vertex lies on the boundary
            self.vert_boundary = np.ones(len(self.verts), dtype=bool)
        else:
            # OGC mod-2 boundary rule over part endpoints
            nv = self.gb.part_nv
            end = np.cumsum(nv)[nv >= 2]
            ends: dict[tuple[float, float], int] = {}
            for v in np.r_[self.verts[end - nv[nv >= 2]], self.verts[end - 1]]:
                k = (float(v[0]), float(v[1]))
                ends[k] = ends.get(k, 0) + 1
            bnd = {k for k, c in ends.items() if c % 2 == 1}
            self.vert_boundary = np.array(
                [(float(v[0]), float(v[1])) in bnd for v in self.verts], dtype=bool
            )
        self._interior_pts: np.ndarray | None = None

    # -- region classification of points --------------------------------

    def locate(self, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
        """0 interior / 1 boundary / 2 exterior for each point, exact."""
        n = len(xs)
        out = np.full(n, E, dtype=np.int8)
        if n == 0:
            return out
        if self.dim == 0:
            if len(self.pts):
                eq = (xs[:, None] == self.pts[None, :, 0]) & (
                    ys[:, None] == self.pts[None, :, 1]
                )
                out[eq.any(axis=1)] = I  # point boundary is empty
            return out
        zeros = np.zeros(n, dtype=np.int64)
        on = points_on_edges(xs, ys, zeros, self.gb)
        if self.dim == 1:
            bnd = np.zeros(n, dtype=bool)
            if on.any() and self.vert_boundary.any():
                bv = self.verts[self.vert_boundary]
                bnd = (
                    (xs[:, None] == bv[None, :, 0])
                    & (ys[:, None] == bv[None, :, 1])
                ).any(axis=1)
            out[on] = I
            out[on & bnd] = B
            return out
        out[points_contained_batch(xs, ys, zeros, self.gb)] = I
        out[on] = B  # containment is boundary-inclusive; on-ring wins
        return out

    def interior_points(self) -> np.ndarray:
        """One-or-more points strictly inside EVERY connected component of
        a polygon's interior: per ring, a horizontal scanline just above
        the ring's lowest vertex, crossed with ALL rings; midpoints of the
        parity-inside intervals are interior points, and the interval next
        to each ring's own crossing guarantees per-component coverage."""
        if self._interior_pts is not None:
            return self._interior_pts
        cands: list[tuple[float, float]] = []
        sx, sy = self.seg_s, self.seg_e
        for p in self.parts:
            ring = p
            if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
                ring = ring[:-1]
            if len(ring) < 3:
                continue
            yu = np.unique(ring[:, 1])
            if len(yu) < 2:
                continue
            ystar = (yu[0] + yu[1]) / 2.0
            y1, y2 = sx[:, 1], sy[:, 1]
            crossing = (y1 > ystar) != (y2 > ystar)
            if not crossing.any():
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = sx[:, 0] + (ystar - y1) / (y2 - y1) * (sy[:, 0] - sx[:, 0])
            xs = np.sort(xint[crossing])
            mids = (xs[:-1] + xs[1:]) / 2.0
            if not len(mids):
                continue
            keep = mids[xs[:-1] < xs[1:]]
            if not len(keep):
                continue
            ky = np.full(len(keep), ystar)
            zeros = np.zeros(len(keep), dtype=np.int64)
            ins = points_contained_batch(keep, ky, zeros, self.gb)
            on = points_on_edges(keep, ky, zeros, self.gb)
            for x in keep[ins & ~on]:
                cands.append((float(x), ystar))
        self._interior_pts = (
            np.array(cands, dtype=np.float64)
            if cands
            else np.zeros((0, 2), dtype=np.float64)
        )
        return self._interior_pts


def _edge_matrix(a: PreparedGeom, b: PreparedGeom):
    """All pairwise orientation data between a's and b's segment sets."""
    p, p2 = a.seg_s[:, None, :], a.seg_e[:, None, :]
    q, q2 = b.seg_s[None, :, :], b.seg_e[None, :, :]
    r = p2 - p
    s = q2 - q
    qp = q - p
    rxs = r[:, :, 0] * s[:, :, 1] - r[:, :, 1] * s[:, :, 0]
    qpxs = qp[:, :, 0] * s[:, :, 1] - qp[:, :, 1] * s[:, :, 0]
    qpxr = qp[:, :, 0] * r[:, :, 1] - qp[:, :, 1] * r[:, :, 0]
    return r, s, qp, rxs, qpxs, qpxr


def _subsegments(a: PreparedGeom, b: PreparedGeom):
    """Split a's edges at every contact with b.

    Returns (mid_x, mid_y, on_b) over all subsegment midpoints of a's
    edges, where on_b marks subsegments that lie ON b (from collinear
    overlaps — provenance, not a float re-test), plus has_proper (any
    proper crossing between the edge sets).
    """
    Ea, Eb = len(a.seg_s), len(b.seg_s)
    if Ea == 0:
        z = np.zeros(0, dtype=np.float64)
        return z, z, np.zeros(0, dtype=bool), False
    if Eb == 0:
        mids = (a.seg_s + a.seg_e) / 2.0
        return mids[:, 0], mids[:, 1], np.zeros(Ea, dtype=bool), False
    r, s, qp, rxs, qpxs, qpxr = _edge_matrix(a, b)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = qpxs / rxs
        u = qpxr / rxs
    nonpar = rxs != 0
    hit = nonpar & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
    proper = nonpar & (t > 0) & (t < 1) & (u > 0) & (u < 1)
    has_proper = bool(proper.any())
    # collinear overlaps: parallel AND b's start on a's support line
    col = (rxs == 0) & (qpxr == 0)
    rr = (r[:, :, 0] ** 2 + r[:, :, 1] ** 2)
    rr_safe = np.where(rr == 0, 1.0, rr)
    t0 = (qp[:, :, 0] * r[:, :, 0] + qp[:, :, 1] * r[:, :, 1]) / rr_safe
    qp2 = (b.seg_e[None, :, :] - a.seg_s[:, None, :])
    t1 = (qp2[:, :, 0] * r[:, :, 0] + qp2[:, :, 1] * r[:, :, 1]) / rr_safe
    lo = np.maximum(np.minimum(t0, t1), 0.0)
    hi = np.minimum(np.maximum(t0, t1), 1.0)
    overlap = col & (lo < hi) & (rr != 0)
    # b vertices exactly on a's edges (covers endpoint touches and
    # T-junctions; exact cross-product test)
    bx, by = b.verts[:, 0], b.verts[:, 1]
    x1, y1 = a.seg_s[:, None, 0], a.seg_s[:, None, 1]
    x2, y2 = a.seg_e[:, None, 0], a.seg_e[:, None, 1]
    vcross = (x2 - x1) * (by[None, :] - y1) - (y2 - y1) * (bx[None, :] - x1)
    von = (
        (vcross == 0.0)
        & (bx[None, :] >= np.minimum(x1, x2))
        & (bx[None, :] <= np.maximum(x1, x2))
        & (by[None, :] >= np.minimum(y1, y2))
        & (by[None, :] <= np.maximum(y1, y2))
    )
    dx = a.seg_e[:, 0] - a.seg_s[:, 0]
    dy = a.seg_e[:, 1] - a.seg_s[:, 1]
    len2 = np.where(dx * dx + dy * dy == 0, 1.0, dx * dx + dy * dy)
    mid_x: list[np.ndarray] = []
    mid_y: list[np.ndarray] = []
    marked: list[np.ndarray] = []
    for i in range(Ea):
        ts = [0.0, 1.0]
        hj = np.nonzero(hit[i])[0]
        if len(hj):
            ts.extend(t[i, hj].tolist())
        oj = np.nonzero(overlap[i])[0]
        ivals = []
        if len(oj):
            ts.extend(lo[i, oj].tolist())
            ts.extend(hi[i, oj].tolist())
            ivals = list(zip(lo[i, oj].tolist(), hi[i, oj].tolist()))
        vj = np.nonzero(von[i])[0]
        if len(vj):
            tv = (
                (b.verts[vj, 0] - a.seg_s[i, 0]) * dx[i]
                + (b.verts[vj, 1] - a.seg_s[i, 1]) * dy[i]
            ) / len2[i]
            ts.extend(np.clip(tv, 0.0, 1.0).tolist())
        tt = np.unique(np.clip(np.asarray(ts, dtype=np.float64), 0.0, 1.0))
        if len(tt) > 1:
            # snap split parameters that agree to within 1e-12: the same
            # geometric contact can arrive via two float routes (proper
            # intersection t vs vertex-on-edge projection) differing in
            # the last ulps; without snapping the sliver between them
            # yields a midpoint AT the contact, whose side classification
            # is unreliable (round-3 ADVICE)
            tt = tt[np.concatenate(([True], np.diff(tt) > 1e-12))]
        tm = (tt[:-1] + tt[1:]) / 2.0
        tm = tm[tt[:-1] < tt[1:]]
        if not len(tm):
            continue
        mid_x.append(a.seg_s[i, 0] + tm * dx[i])
        mid_y.append(a.seg_s[i, 1] + tm * dy[i])
        if ivals:
            mk = np.zeros(len(tm), dtype=bool)
            for lo_, hi_ in ivals:
                mk |= (tm > lo_) & (tm < hi_)
            marked.append(mk)
        else:
            marked.append(np.zeros(len(tm), dtype=bool))
    if not mid_x:
        z = np.zeros(0, dtype=np.float64)
        return z, z, np.zeros(0, dtype=bool), has_proper
    return (
        np.concatenate(mid_x),
        np.concatenate(mid_y),
        np.concatenate(marked),
        has_proper,
    )


def _vertex_contacts(a: PreparedGeom, b: PreparedGeom, M: np.ndarray) -> None:
    """Classify a's vertices against b and fold into M rows (their region
    within a is interior for non-boundary line vertices, boundary for
    polygon vertices and line endpoints)."""
    if not len(a.verts):
        return
    loc_b = b.locate(a.verts[:, 0], a.verts[:, 1])
    row = np.where(a.vert_boundary, B, I) if a.dim == 1 else np.full(
        len(a.verts), B if a.dim == 2 else I, dtype=np.int8
    )
    for ra in (I, B):
        sel = row == ra
        if sel.any():
            for cb in (I, B, E):
                if (loc_b[sel] == cb).any():
                    M[ra][cb] = True


def relate(a: PreparedGeom, b: PreparedGeom) -> tuple[np.ndarray, int]:
    """→ (3×3 DE-9IM boolean matrix, dim(II) ∈ {-1, 0, 1, 2})."""
    if a.dim > b.dim:
        M, d = relate(b, a)
        return M.T.copy(), d
    M = np.zeros((3, 3), dtype=bool)
    M[E][E] = True
    dim_ii = -1

    if a.dim == 0:
        loc = b.locate(a.pts[:, 0], a.pts[:, 1])
        for cb, flag in ((I, (loc == I).any()), (B, (loc == B).any()), (E, (loc == E).any())):
            M[I][cb] |= bool(flag)
        if M[I][I]:
            dim_ii = 0
        # b's side vs the finite point set
        if b.dim == 0:
            locb = a.locate(b.pts[:, 0], b.pts[:, 1])
            M[E][I] = bool((locb == E).any())
        else:
            M[E][I] = True  # a 1-/2-D interior can't be a finite point set
            if b.dim == 2:
                M[E][B] = True
            else:
                bv = b.verts[b.vert_boundary]
                if len(bv):
                    M[E][B] = bool((a.locate(bv[:, 0], bv[:, 1]) == E).any())
        return M, dim_ii

    # --- both a and b have segments -----------------------------------
    amx, amy, a_on_b, has_proper = _subsegments(a, b)
    bmx, bmy, b_on_a, _ = _subsegments(b, a)
    a_row = I if a.dim == 1 else B  # a's edges are its interior (line)
    b_col = I if b.dim == 1 else B  # or its boundary (polygon rings)

    loc_am = b.locate(amx, amy) if len(amx) else np.zeros(0, dtype=np.int8)
    loc_bm = a.locate(bmx, bmy) if len(bmx) else np.zeros(0, dtype=np.int8)
    # marked subsegments lie on the other geometry by construction
    # (collinear overlap is symmetric): on b's segments = interior of a
    # line b / boundary of a polygon b, and vice versa — one matrix cell
    if a_on_b.any() or b_on_a.any():
        M[a_row][b_col] = True
        if a_row == I and b_col == I:
            dim_ii = 1
    for cb in (I, B, E):
        if len(loc_am) and (loc_am[~a_on_b] == cb).any():
            M[a_row][cb] = True
    for ra in (I, B, E):
        if len(loc_bm) and (loc_bm[~b_on_a] == ra).any():
            M[ra][b_col] = True
    _vertex_contacts(a, b, M)
    Mt = np.zeros((3, 3), dtype=bool)
    _vertex_contacts(b, a, Mt)
    M |= Mt.T
    # a proper crossing point is interior to both edge sets
    if has_proper:
        M[a_row][b_col] = True
        if a_row == I and b_col == I and dim_ii < 0:
            dim_ii = 0

    if a.dim == 1 and b.dim == 1:
        if M[I][I] and dim_ii < 0:
            dim_ii = 0  # vertex-contact interior-interior
    elif a.dim == 1 and b.dim == 2:
        # line subsegment/vertex strictly inside the polygon ⇒ 1-D II
        if M[I][I]:
            dim_ii = 1
        # a valid polygon's 2-D interior always exceeds a 1-D line
        M[E][I] = True
    else:  # 2 × 2
        # boundary-in-interior either way opens both interiors/exteriors
        if M[B][I]:  # bnd(a) ∩ int(b)
            M[I][I] = True
            M[E][I] = True
        if M[I][B]:  # int(a) ∩ bnd(b)
            M[I][I] = True
            M[I][E] = True
        if M[B][E]:
            M[I][E] = True
        if M[E][B]:
            M[E][I] = True
        # containment fallback: one interior point per component
        if not (M[I][I] and M[I][E] and M[E][I]):
            aip = a.interior_points()
            if len(aip):
                loc = b.locate(aip[:, 0], aip[:, 1])
                if (loc == I).any():
                    M[I][I] = True
                if (loc == E).any():
                    M[I][E] = True
            bip = b.interior_points()
            if len(bip):
                loc = a.locate(bip[:, 0], bip[:, 1])
                if (loc == I).any():
                    M[I][I] = True
                if (loc == E).any():
                    M[E][I] = True
        if M[I][I]:
            dim_ii = 2
    return M, dim_ii


# --- predicate layer -------------------------------------------------------
# The relate_* wrappers take one pair, as PreparedGeom or a parsed (kind,
# parts) tuple.  Many pairs go through relation_batch over RELATIONS, the
# one table behind the st_* SQL relations and geom_pair_join(predicate=…);
# it caches PreparedGeom per WKT.


def prepare(parsed) -> PreparedGeom:
    if isinstance(parsed, PreparedGeom):
        return parsed
    if parsed[0] == "GEOMETRYCOLLECTION":
        # JTS RelateOp parity: DE-9IM relate does not support
        # mixed-dimension GeometryCollection arguments (homogeneous
        # collections parse to their MULTI* kind and never reach here);
        # intersects/distance route per component instead (geom.py r4)
        raise ValueError(
            "DE-9IM relate on a mixed-dimension GEOMETRYCOLLECTION is "
            "unsupported (JTS RelateOp raises the same way); use "
            "intersects/distance, which apply union-of-components semantics"
        )
    return PreparedGeom(*parsed)


def _m(a, b) -> tuple[np.ndarray, int]:
    return relate(prepare(a), prepare(b))


def relate_intersects(a, b) -> bool:
    M, _ = _m(a, b)
    return bool(M[I][I] or M[I][B] or M[B][I] or M[B][B])


def relate_touches(a, b) -> bool:
    M, _ = _m(a, b)
    return bool((M[I][B] or M[B][I] or M[B][B]) and not M[I][I])


def relate_crosses(a, b) -> bool:
    ga, gb = prepare(a), prepare(b)
    M, d = relate(ga, gb)
    if ga.dim < gb.dim:
        return bool(M[I][I] and M[I][E])
    if ga.dim > gb.dim:
        return bool(M[I][I] and M[E][I])
    if ga.dim == 1:
        return bool(M[I][I] and d == 0)
    return False


def relate_overlaps(a, b) -> bool:
    ga, gb = prepare(a), prepare(b)
    if ga.dim != gb.dim:
        return False
    M, d = relate(ga, gb)
    base = bool(M[I][I] and M[I][E] and M[E][I])
    if ga.dim == 1:
        return base and d == 1
    return base


def relate_covers(a, b) -> bool:
    M, _ = _m(a, b)
    return bool(
        (M[I][I] or M[I][B] or M[B][I] or M[B][B]) and not M[E][I] and not M[E][B]
    )


def relate_contains(a, b) -> bool:
    M, _ = _m(a, b)
    return bool(M[I][I] and not M[E][I] and not M[E][B])


def relate_equals(a, b) -> bool:
    M, _ = _m(a, b)
    return bool(
        M[I][I]
        and not M[I][E]
        and not M[B][E]
        and not M[E][I]
        and not M[E][B]
    )


# name → (predicate on prepared geometries, the side that may be a POINT,
# the locate() rule that decides the relation for such a POINT against the
# other side).  contains(g, p) ⇔ p in g's interior, covers(g, p) ⇔ p not in
# g's exterior, touches(g, p) ⇔ p on g's boundary, for every kind of g.
RELATIONS = {
    "contains": (relate_contains, "b", lambda loc: loc == I),
    "within": (lambda a, b: relate_contains(b, a), "a", lambda loc: loc == I),
    "covers": (relate_covers, "b", lambda loc: loc != E),
    "covered_by": (lambda a, b: relate_covers(b, a), "a", lambda loc: loc != E),
    "touches": (relate_touches, "b", lambda loc: loc == B),
    "crosses": (relate_crosses, None, None),
    "overlaps": (relate_overlaps, None, None),
    "equals": (relate_equals, None, None),
}

_PREPARED_CACHE: dict[str, PreparedGeom] = {}
_POINT_RE = r"^\s*POINT\s*\(\s*([-+0-9.eE]+)\s+([-+0-9.eE]+)\s*\)\s*$"


def _prepared(w: str) -> PreparedGeom:
    """WKT → PreparedGeom through a bounded per-process cache."""
    g = _PREPARED_CACHE.get(w)
    if g is None:
        g = prepare(parse_wkt_cached(w))
        if len(_PREPARED_CACHE) < 200_000:
            _PREPARED_CACHE[w] = g
    return g


def relation_batch(name: str, a, b) -> np.ndarray:
    """``RELATIONS[name]`` over each WKT pair ``(a[i], b[i])``; False where
    either side is null (a null geometry is in no relation).

    Rows whose point side is a POINT take one vectorized ``locate`` per
    distinct other-side geometry (the dominant SQL shape, one constant
    region against a point column, is a single call); the other rows run
    the full DE-9IM relate."""
    fn, side, rule = RELATIONS[name]
    a = pd.Series(np.asarray(a, dtype=object))
    b = pd.Series(np.asarray(b, dtype=object))
    out = np.zeros(len(a), dtype=bool)
    todo = a.notna() & b.notna()
    if side is not None:
        pts, other = (b, a) if side == "b" else (a, b)
        xy = pts.astype(str).str.extract(_POINT_RE).apply(pd.to_numeric, errors="coerce")
        fast = todo & xy.notna().all(axis=1)
        codes, uniq = pd.factorize(other[fast])
        px, py = xy[0][fast].to_numpy(np.float64), xy[1][fast].to_numpy(np.float64)
        hit = np.zeros(len(codes), dtype=bool)
        for k, w in enumerate(uniq):
            m = codes == k
            hit[m] = rule(_prepared(w).locate(px[m], py[m]))
        out[fast.to_numpy()] = hit
        todo &= ~fast
    for i in np.nonzero(todo.to_numpy())[0]:
        out[i] = fn(_prepared(a[i]), _prepared(b[i]))
    return out
