"""The batched DE-9IM relate against the per-pair relate it replaced.

``relate._relate`` relates every row pair of two geometry tables in one
pass: one segment-pair pass for the contacts, one sort for the split
parameters, one point-kernel pass per side, array rules for the matrix.
The reference below is the per-pair ``relate`` it replaced, written out
here as it was: a prepared geometry per WKT, dense (E_a, E_b) edge
matrices, a Python loop over edges to split them, a per-ring scanline for
interior points.  On seeded lattice batches (holes, MULTI*, EMPTY,
collinear overlaps, T-junctions, shared edges, identical rings, a polygon
equal to another's hole, closed lines, points on vertices and edges), every
(M, dim(II)) must equal the reference's.

Lattice coordinates keep every orientation and split parameter exact, so
the two agree bit for bit; the reference predates the one point-on-segment
rule only on one-vertex parts, which the batches leave out.
"""

import tracemalloc

import numpy as np
import pytest

from geowave_spark.geom import (
    GeomBatch,
    _cross,
    _on_segment,
    _range_pairs,
    geom_is_closed,
    pairs_dist2,
    parse_wkt_cached,
    parse_wkt_multi,
    points_contained_batch,
)
from geowave_spark.relate import (
    RELATIONS,
    _relate,
    _Table,
    relate_covers,
    relate_crosses,
    relate_intersects,
    relate_touches,
    relation_batch,
)

# --- the per-pair reference ----------------------------------------------------


def _ref_on_edges(px, py, codes, gb):
    """Does each point lie exactly on an edge of its geometry (cross
    product 0 within the edge's box)?  A one-vertex ring has no edge."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.zeros(len(px), dtype=bool)
    for r, i in _range_pairs(np.arange(len(px), dtype=np.int64), np.asarray(codes, dtype=np.int64), gb.e_range):
        s, e = gb.e_start[i], gb.e_end[i]
        x1, y1, x2, y2 = gb.x[s], gb.y[s], gb.x[e], gb.y[e]
        on = _on_segment(px[r], py[r], x1, y1, x2, y2, _cross(px[r], py[r], x1, y1, x2, y2))
        out[r[on & (s != e)]] = True
    return out


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
        on = _ref_on_edges(xs, ys, zeros, self.gb)
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
            on = _ref_on_edges(keep, ky, zeros, self.gb)
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


def ref_relate(a: PreparedGeom, b: PreparedGeom) -> tuple[np.ndarray, int]:
    """→ (3×3 DE-9IM boolean matrix, dim(II) ∈ {-1, 0, 1, 2})."""
    if a.dim > b.dim:
        M, d = ref_relate(b, a)
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


# --- seeded lattice batches ----------------------------------------------------


def _fmt(p):
    return ", ".join(f"{x} {y}" for x, y in p)


def _rect(x0, y0, w, h):
    return [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)]


def _lattice_wkts(seed, n=80):
    """Every kind relate takes, on a 0..7 lattice small enough that shared
    edges, collinear overlaps, T-junctions, vertices on edges and
    identical geometries are frequent."""
    rng = np.random.default_rng(seed)

    def pt():
        return tuple(int(v) for v in rng.integers(0, 8, 2))

    def rect(lo=1, hi=4):
        x0, y0 = (int(v) for v in rng.integers(0, 6, 2))
        w, h = (int(v) for v in rng.integers(lo, hi, 2))
        return _rect(x0, y0, w, h)

    out = []
    while len(out) < n:
        k = int(rng.integers(0, 12))
        if k == 0:
            out.append(f"POINT ({_fmt([pt()])})")
        elif k == 1:
            out.append(f"MULTIPOINT ({_fmt([pt() for _ in range(int(rng.integers(2, 4)))])})")
        elif k == 2:  # may be collinear with, or end on, another's edge
            out.append(f"LINESTRING ({_fmt([pt() for _ in range(int(rng.integers(2, 5)))])})")
        elif k == 3:  # closed: empty boundary
            a, b, c = pt(), pt(), pt()
            out.append(f"LINESTRING ({_fmt([a, b, c, a])})")
        elif k == 4:
            ls = [[pt() for _ in range(int(rng.integers(2, 4)))] for _ in range(2)]
            out.append("MULTILINESTRING (" + ", ".join(f"({_fmt(p)})" for p in ls) + ")")
        elif k == 5:
            out.append(f"POLYGON (({_fmt(rect())}))")
        elif k == 6:  # a hole, and the polygon equal to it
            x0, y0 = (int(v) for v in rng.integers(0, 4, 2))
            w, h = (int(v) for v in rng.integers(3, 5, 2))
            hole = _rect(x0 + 1, y0 + 1, w - 2, h - 2)
            out.append(f"POLYGON (({_fmt(_rect(x0, y0, w, h))}), ({_fmt(hole[::-1])}))")
            out.append(f"POLYGON (({_fmt(hole)}))")
        elif k == 7:
            out.append(f"MULTIPOLYGON ((({_fmt(rect())})), (({_fmt(rect())})))")
        elif k == 8:  # diagonal edges
            a = pt()
            b, c = (a[0] + int(rng.integers(1, 4)), a[1]), (a[0], a[1] + int(rng.integers(1, 4)))
            out.append(f"POLYGON (({_fmt([a, b, c, a])}))")
        elif k == 9:
            out.append(str(rng.choice(["POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY", "MULTIPOLYGON EMPTY"])))
        elif out:  # an identical geometry, or the same ring walked the other way
            w = out[int(rng.integers(0, len(out)))]
            kind, parts = parse_wkt_multi(w)
            if k == 10 or not parts or not geom_is_closed(kind) or len(parts) > 1:
                out.append(w)
            else:
                out.append(f"POLYGON (({_fmt(parts[0][::-1].astype(int))}))")
    return out


def _pairs(seed, n=700):
    rng = np.random.default_rng(seed)
    wkts = _lattice_wkts(seed)
    a = [wkts[i] for i in rng.integers(0, len(wkts), n)]
    b = [wkts[i] for i in rng.integers(0, len(wkts), n)]
    return a, b


def _reference(a, b):
    ga = [PreparedGeom(*parse_wkt_multi(w)) for w in a]
    gb = [PreparedGeom(*parse_wkt_multi(w)) for w in b]
    out = [ref_relate(x, y) for x, y in zip(ga, gb)]
    dims = np.array([g.dim for g in ga]), np.array([g.dim for g in gb])
    return np.array([m for m, _ in out]), np.array([d for _, d in out]), dims


SEEDS = [1, 2, 3, 4]


@pytest.mark.parametrize("seed", SEEDS)
def test_batched_relate_matches_per_pair_reference(seed):
    a, b = _pairs(seed)
    ta = _Table([parse_wkt_multi(w) for w in a])
    tb = _Table([parse_wkt_multi(w) for w in b])
    rows = np.arange(len(a))
    M, dim = _relate(ta, rows, tb, rows)
    want_m, want_d, _ = _reference(a, b)
    bad = np.nonzero((M != want_m).any(axis=(1, 2)) | (dim != want_d))[0]
    assert not len(bad), [(a[i], b[i]) for i in bad[:5]]
    # every matrix cell and every dim(II) occurs
    assert M.any(axis=0).all() and not M.all(axis=0)[:2].any()
    assert set(dim.tolist()) == {-1, 0, 1, 2}


@pytest.mark.parametrize("seed", SEEDS)
def test_relation_batch_matches_reference_predicates(seed):
    """relation_batch dedupes, swaps and skips nulls around the kernel;
    every relation must equal its predicate on the reference matrices."""
    a, b = _pairs(seed, 300)
    want_m, want_d, (da, db) = _reference(a, b)
    a, b = a + [None, a[0]], b + [b[0], None]
    for name, pred in RELATIONS.items():
        got = relation_batch(name, a, b)
        np.testing.assert_array_equal(got[:-2], pred(want_m, want_d, da, db), err_msg=name)
        assert not got[-2:].any()


def test_contact_blocks_do_not_change_results(monkeypatch):
    import geowave_spark.geom as geom

    a, b = _pairs(5, 200)
    ta = _Table([parse_wkt_multi(w) for w in a])
    tb = _Table([parse_wkt_multi(w) for w in b])
    rows = np.arange(len(a))
    want = _relate(ta, rows, tb, rows)
    monkeypatch.setattr(geom, "_RECT_PAIR_BLOCK", 5)
    got = _relate(ta, rows, tb, rows)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)


# --- one point-on-segment rule -------------------------------------------------


def _on_segment_sweep(kind, n=1500, seed=11):
    """Segments with endpoints uniform in [-50, 50]², and on each either the
    point x1 + t·(x2 - x1) or a line starting there (a T-junction), every
    coordinate written with repr()."""
    rng = np.random.default_rng(seed)
    p1, p2, far = (rng.uniform(-50, 50, (n, 2)).tolist() for _ in range(3))
    t = rng.uniform(0, 1, n).tolist()
    q = [(a[0] + s * (b[0] - a[0]), a[1] + s * (b[1] - a[1])) for a, b, s in zip(p1, p2, t)]
    seg = [f"LINESTRING ({a[0]!r} {a[1]!r}, {b[0]!r} {b[1]!r})" for a, b in zip(p1, p2)]
    if kind == "point":
        return seg, [f"POINT ({x!r} {y!r})" for x, y in q]
    return seg, [f"LINESTRING ({x!r} {y!r}, {f[0]!r} {f[1]!r})" for (x, y), f in zip(q, far)]


@pytest.mark.parametrize("kind", ["point", "t_junction"])
def test_intersects_and_relations_share_one_point_on_segment_rule(kind):
    """st_intersects (distance 0), the relations intersects implies for
    these pairs and the relate_* functions decide "on the segment" alike,
    on float inputs where a projection test and an orientation test
    disagree."""
    seg, other = _on_segment_sweep(kind)
    inter = pairs_dist2(seg, other) == 0
    if kind == "point":
        rel = relation_batch("covers", seg, other)
        one = [relate_covers(parse_wkt_multi(a), parse_wkt_multi(b)) for a, b in zip(seg, other)]
    else:
        rel = relation_batch("touches", seg, other) | relation_batch("crosses", seg, other)
        one = [
            relate_touches(a, b) or relate_crosses(a, b)
            for a, b in ((parse_wkt_multi(a), parse_wkt_multi(b)) for a, b in zip(seg, other))
        ]
    meets = [relate_intersects(parse_wkt_multi(a), parse_wkt_multi(b)) for a, b in zip(seg, other)]
    assert int((inter != rel).sum()) == 0
    assert int((inter != np.array(one)).sum()) == 0
    assert int((inter != np.array(meets)).sum()) == 0
    assert inter.any() and not inter.all()


# --- memory --------------------------------------------------------------------


def _circle(cx, n, cy=0.0, r=1.0):
    a = np.linspace(0, 2 * np.pi, n, endpoint=False)
    p = np.c_[cx + r * np.cos(a), cy + r * np.sin(a)].tolist()
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in p + p[:1]) + "))"


def _peak(fn):
    tracemalloc.start()
    try:
        fn()
        return tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def _squares(n, cols=25):
    """A MULTIPOLYGON of ``n`` unit squares on a grid of pitch 2."""
    sq = (
        f"(({x} {y}, {x + 1} {y}, {x + 1} {y + 1}, {x} {y + 1}, {x} {y}))"
        for x, y in ((2 * (i % cols), 2 * (i // cols)) for i in range(n))
    )
    return "MULTIPOLYGON (" + ", ".join(sq) + ")"


def test_relate_memory_is_bounded_by_the_pair_pass(monkeypatch):
    """Two offset many-vertex circles: relate's traced peak stays within 2×
    the distance kernel's on the same pair, and does not grow with the
    vertex count (the segment-pair pass runs in blocks).  A 2,000-vertex
    region containing a 500-part MULTIPOLYGON reaches the interior-point
    fallback on both sides: its scanline pass runs in (ring, edge) blocks
    and the point kernel folds each block into its per-point results, so
    that peak stays within 2× the distance kernel's too (checked at a
    smaller block, which keeps it quick)."""
    import geowave_spark.geom as geom

    peaks = {}
    for n in (2000, 4000):
        a, b = _circle(0.0, n), _circle(0.5, n)
        parse_wkt_cached(a), parse_wkt_cached(b)
        peaks[n] = _peak(lambda: relation_batch("touches", [a], [b]))
        if n == 2000:
            d = _peak(lambda: pairs_dist2([a], [b]))
            assert peaks[n] <= 2 * d, (peaks[n], d)
    assert peaks[4000] <= 1.25 * peaks[2000], peaks

    monkeypatch.setattr(geom, "_RECT_PAIR_BLOCK", 1 << 16)
    region = _circle(25.0, 2000, cy=20.0, r=40.0)
    parts = _squares(500)
    parse_wkt_cached(region), parse_wkt_cached(parts)
    got = _peak(lambda: relation_batch("contains", [region], [parts]))
    d = _peak(lambda: pairs_dist2([region], [parts]))
    assert got <= 2 * d, (got, d)
    assert relation_batch("contains", [region], [parts]).all()
    assert relation_batch("within", [parts], [region]).all()


def test_relate_memory_does_not_grow_with_rows(monkeypatch):
    """One 2,000-vertex region against many short lines: the (pair, vertex)
    and (pair, edge) rows of the repeated region are located block by
    block, so doubling the rows past one block leaves the traced peak
    where it was (a smaller block keeps it quick)."""
    import geowave_spark.geom as geom

    monkeypatch.setattr(geom, "_RECT_PAIR_BLOCK", 1 << 16)
    region = _circle(0.0, 2000, r=10.0)
    xy = np.random.default_rng(7).uniform(-12, 12, (128, 2)).tolist()
    lines = [f"LINESTRING ({x!r} {y!r}, {x + 1.5!r} {y + 0.5!r})" for x, y in xy]
    for w in [region] + lines:
        parse_wkt_cached(w)
    peaks, out = {}, {}
    for n in (64, 128):
        peaks[n] = _peak(lambda: relation_batch("crosses", [region] * n, lines[:n]))
        out[n] = relation_batch("crosses", [region] * n, lines[:n])
    assert peaks[128] <= 1.25 * peaks[64], peaks
    np.testing.assert_array_equal(out[128][:64], out[64])
    assert out[128].any() and not out[128].all()
