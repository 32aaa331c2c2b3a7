"""Exact DE-9IM topological relate for piecewise-linear geometries.

Replaces the r2 vertex-sample approximations of TOUCHES / CROSSES /
OVERLAPS / CONTAINS with the real intersection-matrix semantics GeoWave
gets from JTS (analytics/spark/.../sparksql/udf/{GeomTouches,GeomCrosses,
GeomOverlaps,GeomContains,GeomWithin,GeomEquals,GeomCovers}.java delegate
to Geometry.touches/crosses/… — JTS RelateOp).  Everything here is pure
numpy over the flat :class:`~geowave_spark.geom.GeomBatch` table; no
shapely.

One batched kernel relates row k of one table with row k of another and
returns a (P, 3, 3) matrix and a (P,) dim(II) per batch; the ``relate_*``
functions are batches of one.  Method (exact for valid piecewise-linear
input whose contact parameters are representable in double precision —
e.g. lattice or dyadic-rational coordinates; for nearly-parallel edges or
nearly-coincident contacts the rounded split parameters t = qpxs/rxs can
land a midpoint on the wrong side, where JTS would fall back to robust
orientation predicates.  Near-duplicate split parameters are snapped
within 1e-12 before midpoint classification to keep slivers from
degrading this):

* Every boundary/line contact between two segment sets is found by the
  package's one segment-pair pass (``geom._meeting_edges``, the one
  ``pairs_dist2`` uses) and is one of
  (a) a PROPER crossing — opposite strict orientation signs both ways,
  (b) a vertex of one lying ON a segment of the other — exact
      cross-product-zero + bbox test on the input coordinates,
  (c) a collinear overlap — both orientation signs zero; the overlap is
      tracked as a *parameter interval* on the edge, bounded by vertices
      of one of the two inputs, so "this subsegment lies ON the other
      geometry" is bookkeeping, never a float re-test.
* Each edge is split at all its contact parameters (one ``lexsort`` over
  the (pair, edge, t) of each block of edges); every open subsegment is then
  HOMOGENEOUS (entirely interior / on-boundary / exterior of the other
  geometry), so classifying its midpoint classifies the whole subsegment.
  The midpoints and vertices of one side are located in the other side by
  the point kernel, one block of (pair, vertex) or (pair, edge) rows at a
  time, so memory follows the block, not the batch: "on" is the kernel's
  distance 0, the same rule ``st_intersects`` uses.
* Line boundaries follow the OGC mod-2 rule (an endpoint is boundary iff
  it terminates an odd number of part-ends), so closed LINESTRINGs have
  empty boundary, exactly like JTS.
* Polygon interior tests are the hole-aware crossing parity of the point
  kernel; the "boundaries coincide" corner (identical rings, a polygon
  equal to another's hole, …) is resolved by per-ring scanline interior
  points (a blocked pass over (ring, edge) pairs that keeps only the
  crossings) — one candidate interior point per connected component of the
  interior, never a sampled guess.

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

from itertools import chain

import numpy as np
import pandas as pd

from .geom import (
    _KIND_FAMILY,
    GeomBatch,
    _cross,
    _meeting_edges,
    _on_segment,
    _points_kernel,
    _range_pairs,
    _ranges,
    parse_wkt_cached,
)

I, B, E = 0, 1, 2  # matrix row/col indices


def _cat(chunks, n):
    """The ``n`` arrays of a list of chunks, each concatenated."""
    if not chunks:
        return (np.zeros(0, dtype=np.int64),) * n
    return tuple(np.concatenate(c) for c in zip(*chunks))


def _runs(g, x, y):
    """Run id of each (g, x, y) triple; equal triples share one."""
    o = np.lexsort((y, x, g))
    g, x, y = g[o], x[o], y[o]
    new = np.ones(len(o), dtype=bool)
    new[1:] = (g[1:] != g[:-1]) | (x[1:] != x[:-1]) | (y[1:] != y[:-1])
    run = np.empty(len(o), dtype=np.int64)
    run[o] = np.cumsum(new) - 1
    return run


def _member(g, x, y, sg, sx, sy):
    """Is each (g, x, y) one of the triples (sg, sx, sy)?"""
    run = _runs(*(np.concatenate(c) for c in ((sg, g), (sx, x), (sy, y))))
    has = np.zeros(len(run) + 1, dtype=bool)
    has[run[: len(sg)]] = True
    return has[run[len(sg):]]


class _Table:
    """A :class:`GeomBatch` plus what relate reads of each geometry: its
    dimension, its line boundary (the OGC mod-2 part ends), each vertex's
    region in its own geometry and the edges contacts are sought on."""

    def __init__(self, parsed):
        gb = self.gb = GeomBatch(parsed)
        self.dim = np.array([_KIND_FAMILY[k] for k, _ in parsed], dtype=np.int64)
        vgeom = gb.part_geom[gb.vpart]
        nv = gb.part_nv
        first = np.cumsum(nv) - nv
        line = ~gb.part_closed & (nv >= 2)
        ends = np.concatenate((first[line], (first + nv - 1)[line]))
        g, x, y = vgeom[ends], gb.x[ends], gb.y[ends]
        run = _runs(g, x, y)
        odd = np.bincount(run)[run] % 2 == 1
        self.ends = g[odd], x[odd], y[odd]
        vdim = self.dim[vgeom]
        lv = np.nonzero(vdim == 1)[0]
        bnd = np.zeros(len(gb.x), dtype=bool)
        if len(lv):
            bnd[lv] = _member(vgeom[lv], gb.x[lv], gb.y[lv], *self.ends)
        # every polygon vertex lies on the boundary, a point is interior
        self.vrow = np.where((vdim == 2) | bnd, B, I)
        bv = np.nonzero(bnd)[0]
        self.bnd = bv, _ranges(vgeom[bv], gb.n)
        # the edges, plus one zero-length edge at each one-vertex open
        # part, so that every vertex ends some edge
        j = np.nonzero(~gb.part_closed[gb.vpart] & (nv[gb.vpart] == 1))[0]
        self.edges = gb.e_start, gb.e_end, gb.e_range
        if len(j):
            s, e = np.concatenate((gb.e_start, j)), np.concatenate((gb.e_end, j))
            o = np.argsort(s, kind="stable")
            self.edges = s[o], e[o], _ranges(vgeom[s[o]], gb.n)

    def locate(self, codes, x, y):
        """I / B / E of each point in its geometry ``codes[k]``."""
        contained, _, on = _points_kernel(x, y, codes, self.gb)
        d = self.dim[codes]
        loc = np.full(len(x), E, dtype=np.int64)
        loc[on] = I
        loc[(d == 2) & contained] = I
        loc[(d == 2) & on] = B
        k = np.nonzero(on & (d == 1))[0]
        if len(k):
            loc[k[_member(codes[k], x[k], y[k], *self.ends)]] = B
        return loc

    def interior_points(self, geoms):
        """Points strictly inside every connected component of each of the
        polygons ``geoms`` → (geom, x, y) sorted by geom: per ring, a
        horizontal scanline just above the ring's lowest vertex, crossed
        with ALL rings of its geometry; midpoints of the parity-inside
        intervals are interior points, and the interval next to each
        ring's own crossing guarantees per-component coverage."""
        gb = self.gb
        want = np.zeros(gb.n, dtype=bool)
        want[geoms] = True
        rp = np.nonzero(gb.ring & want[gb.part_geom])[0]
        if not len(rp):
            return _cat([], 3)
        # each part's lowest y and the next higher one (inf where flat)
        first = np.cumsum(gb.part_nv) - gb.part_nv
        y0 = np.minimum.reduceat(gb.y, first)
        y1 = np.minimum.reduceat(np.where(gb.y > y0[gb.vpart], gb.y, np.inf), first)[rp]
        ystar = (y0[rp] + y1) / 2.0
        # (ring, edge) pairs in blocks, keeping the scanline's crossings
        hits = []
        for ri, k in _range_pairs(np.nonzero(np.isfinite(y1))[0], gb.part_geom[rp], gb.e_range):
            i, f, ys = gb.e_start[k], gb.e_end[k], ystar[ri]
            c = (gb.y[i] > ys) != (gb.y[f] > ys)
            ri, i, f, ys = ri[c], i[c], f[c], ys[c]
            ya, yb = gb.y[i], gb.y[f]
            hits.append((ri, gb.x[i] + (ys - ya) / (yb - ya) * (gb.x[f] - gb.x[i])))
        ri, xint = _cat(hits, 2)
        o = np.lexsort((xint, ri))
        ri, xs = ri[o], xint[o]
        keep = np.nonzero((ri[1:] == ri[:-1]) & (xs[:-1] < xs[1:]))[0]
        g = gb.part_geom[rp[ri[keep]]]
        x, y = (xs[keep] + xs[keep + 1]) / 2.0, ystar[ri[keep]]
        # rings of one geometry on one scanline give the same points: one
        # of each, sorted by (geom, x, y)
        u = np.unique(_runs(g, x, y), return_index=True)[1]
        g, x, y = g[u], x[u], y[u]
        ins = self.locate(g, x, y) == I
        return g[ins], x[ins], y[ins]


def _contacts(p1x, p1y, p2x, p2y, q1x, q1y, q2x, q2y):
    """Contacts of each segment p with its segment q → (proper, which, t,
    overlap, lo, hi): ``t`` are the split parameters along p of the pairs
    ``which`` (crossings, collinear-overlap ends and q's ends lying on p),
    ``overlap`` marks the pairs whose overlap interval along p is [lo, hi],
    and ``proper`` the crossings strictly inside both segments."""
    rx, ry = p2x - p1x, p2y - p1y
    sx, sy = q2x - q1x, q2y - q1y
    qx, qy = q1x - p1x, q1y - p1y
    rxs = rx * sy - ry * sx
    qpxs = qx * sy - qy * sx
    qpxr = qx * ry - qy * rx
    with np.errstate(divide="ignore", invalid="ignore"):
        t = qpxs / rxs
        u = qpxr / rxs
    nonpar = rxs != 0
    hit = nonpar & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
    proper = nonpar & (t > 0) & (t < 1) & (u > 0) & (u < 1)
    rr = rx ** 2 + ry ** 2
    rr_safe = np.where(rr == 0, 1.0, rr)
    t0 = (qx * rx + qy * ry) / rr_safe
    t1 = ((q2x - p1x) * rx + (q2y - p1y) * ry) / rr_safe
    lo = np.maximum(np.minimum(t0, t1), 0.0)
    hi = np.minimum(np.maximum(t0, t1), 1.0)
    overlap = ~nonpar & (qpxr == 0) & (lo < hi) & (rr != 0)
    on1 = _on_segment(q1x, q1y, p1x, p1y, p2x, p2y, _cross(q1x, q1y, p1x, p1y, p2x, p2y))
    on2 = _on_segment(q2x, q2y, p1x, p1y, p2x, p2y, _cross(q2x, q2y, p1x, p1y, p2x, p2y))
    sel = (hit, overlap, overlap, on1, on2)
    cut = np.concatenate([v[m] for m, v in zip(sel, (t, lo, hi, t0, t1))])
    which = np.concatenate([np.nonzero(m)[0] for m in sel])
    return proper, which, np.clip(cut, 0.0, 1.0), overlap, lo, hi


def _midpoints(t: _Table, rows, geom, cuts, spans):
    """Split every edge of geometry ``geom[p]`` for each p of the ascending
    ``rows`` at its contact parameters ``cuts`` (pair, edge, t) → per block
    of (pair, edge) pairs, the midpoints of their subsegments (pair, x, y,
    on), where ``on`` marks the subsegments inside a collinear overlap
    ``spans`` (pair, edge, lo, hi)."""
    s, e, ranges = t.edges
    # (pair, edge) as one key, which grows along the blocks
    ck, sk = (c[0] * len(s) + c[1] for c in (cuts, spans))
    for kp, ke in _range_pairs(rows, geom, ranges):
        bk = kp * len(s) + ke
        n = len(bk)
        c = (ck >= bk[0]) & (ck <= bk[-1])
        keys = np.concatenate((np.arange(n), np.arange(n), np.searchsorted(bk, ck[c])))
        vals = np.concatenate((np.zeros(n), np.ones(n), cuts[2][c]))
        o = np.lexsort((vals, keys))
        keys, vals = keys[o], vals[o]
        # drop duplicates and snap parameters within 1e-12 of the one
        # before: the same contact can arrive via two float routes (proper
        # crossing t vs vertex-on-edge projection) differing in the last
        # ulps, and the sliver between them would put a midpoint AT it
        keep = np.ones(len(keys), dtype=bool)
        keep[1:] = (keys[1:] != keys[:-1]) | (np.diff(vals) > 1e-12)
        keys, vals = keys[keep], vals[keep]
        m = np.nonzero((keys[1:] == keys[:-1]) & (vals[:-1] < vals[1:]))[0]
        mk = keys[m]
        tm = (vals[m] + vals[m + 1]) / 2.0
        real = s[ke[mk]] != e[ke[mk]]
        mk, tm = mk[real], tm[real]
        on = np.zeros(len(mk), dtype=bool)
        c = (sk >= bk[0]) & (sk <= bk[-1])
        lo, hi = spans[2][c], spans[3][c]
        for i, j in _range_pairs(np.arange(len(lo)), np.searchsorted(bk, sk[c]), _ranges(mk, n)):
            on[j[(tm[j] > lo[i]) & (tm[j] < hi[i])]] = True
        i, f = s[ke[mk]], e[ke[mk]]
        x = t.gb.x[i] + tm * (t.gb.x[f] - t.gb.x[i])
        y = t.gb.y[i] + tm * (t.gb.y[f] - t.gb.y[i])
        yield kp[mk], x, y, on


def _relate_rows(ta: _Table, ia, tb: _Table, ib):
    """(P, 3, 3) DE-9IM and (P,) dim(II) of ``ta``'s geometry ``ia[k]``
    against ``tb``'s ``ib[k]``, for rows with dim(a) ≤ dim(b)."""
    P = len(ia)
    da, db = ta.dim[ia], tb.dim[ib]
    rows = np.arange(P, dtype=np.int64)
    M = np.zeros((P, 3, 3), dtype=bool)
    M[:, E, E] = True
    dim = np.full(P, -1, dtype=np.int64)
    if not P:
        return M, dim
    lines = da >= 1
    a_row = np.where(da == 1, I, B)  # a's edges are its interior (line)
    b_col = np.where(db == 1, I, B)  # or its boundary (polygon rings)

    # every vertex of a; b's vertices where they can add to the matrix:
    # against a point set only a point set's, or a line's boundary.  Each
    # block of (pair, vertex) pairs is located in the other side at once
    for p, v in _range_pairs(rows, ia, ta.gb.v_range):
        M[p, ta.vrow[v], tb.locate(ib[p], ta.gb.x[v], ta.gb.y[v])] = True
    for p, v in chain(
        _range_pairs(rows[lines | (db == 0)], ib, tb.gb.v_range),
        ((p, tb.bnd[0][k]) for p, k in _range_pairs(rows[~lines & (db == 1)], ib, tb.bnd[1])),
    ):
        M[p, ta.locate(ia[p], tb.gb.x[v], tb.gb.y[v]), tb.vrow[v]] = True

    # contacts between the edge sets of line / polygon pairs
    lp = rows[lines]
    cuts_a, cuts_b, spans_a, spans_b = [], [], [], []
    proper = np.zeros(P, dtype=bool)
    for p, ka, kb in _meeting_edges(ta.gb, ta.edges, ia[lp], tb.gb, tb.edges, ib[lp]):
        p = lp[p]
        a = [c[i] for i in (ta.edges[0][ka], ta.edges[1][ka]) for c in (ta.gb.x, ta.gb.y)]
        b = [c[i] for i in (tb.edges[0][kb], tb.edges[1][kb]) for c in (tb.gb.x, tb.gb.y)]
        for cuts, spans, k, (pr, w, t, ov, lo, hi) in (
            (cuts_a, spans_a, ka, _contacts(*a, *b)),
            (cuts_b, spans_b, kb, _contacts(*b, *a)),
        ):
            cuts.append((p[w], k[w], t))
            spans.append((p[ov], k[ov], lo[ov], hi[ov]))
            proper[p[pr]] = True  # the same crossings from either side

    # each subsegment's midpoint is located in the other side; a marked
    # one lies on it by construction (collinear overlap is symmetric)
    overlap = np.zeros(P, dtype=bool)
    for p, x, y, on in _midpoints(ta, lp, ia, _cat(cuts_a, 3), _cat(spans_a, 4)):
        overlap[p[on]] = True
        p, x, y = p[~on], x[~on], y[~on]
        M[p, a_row[p], tb.locate(ib[p], x, y)] = True
    for p, x, y, on in _midpoints(tb, lp, ib, _cat(cuts_b, 3), _cat(spans_b, 4)):
        overlap[p[on]] = True
        p, x, y = p[~on], x[~on], y[~on]
        M[p, ta.locate(ia[p], x, y), b_col[p]] = True
    # a proper crossing point is interior to both edge sets
    M[rows, a_row, b_col] |= overlap | proper

    d0 = da == 0
    M[d0 & (db >= 1), E, I] = True  # a 1-/2-D interior can't be a finite point set
    M[d0 & (db == 2), E, B] = True
    ii = M[:, I, I].copy()
    dim[ii & (d0 | (db == 1))] = 0
    dim[(da == 1) & (db == 1) & overlap] = 1
    # line × polygon: a line part strictly inside ⇒ 1-D II, and a valid
    # polygon's 2-D interior always exceeds a 1-D line
    l2 = (da == 1) & (db == 2)
    dim[l2 & ii] = 1
    M[l2, E, I] = True
    # polygon × polygon: boundary-in-interior either way opens both
    # interiors / exteriors
    p2 = da == 2
    bi, ib_, be, eb = (M[:, r, c] & p2 for r, c in ((B, I), (I, B), (B, E), (E, B)))
    M[:, I, I] |= bi | ib_
    M[:, E, I] |= bi | eb
    M[:, I, E] |= ib_ | be
    # containment fallback: one interior point per component
    fb = rows[p2 & ~(M[:, I, I] & M[:, I, E] & M[:, E, I])]
    if len(fb):
        for t, g, u, h, tr in ((ta, ia, tb, ib, False), (tb, ib, ta, ia, True)):
            ig, ix, iy = t.interior_points(g[fb])
            for p, k in _range_pairs(fb, g, _ranges(ig, t.gb.n)):
                loc = u.locate(h[p], ix[k], iy[k])
                s = loc != B
                if tr:
                    M[p[s], loc[s], I] = True
                else:
                    M[p[s], I, loc[s]] = True
    dim[p2 & M[:, I, I]] = 2
    return M, dim


def _relate(ta: _Table, ia, tb: _Table, ib):
    """DE-9IM of every row pair (``ia[k]`` of ``ta``, ``ib[k]`` of
    ``tb``): rows with dim(a) > dim(b) run as (b, a) and transpose."""
    ia, ib = np.asarray(ia, dtype=np.int64), np.asarray(ib, dtype=np.int64)
    M = np.zeros((len(ia), 3, 3), dtype=bool)
    dim = np.zeros(len(ia), dtype=np.int64)
    swap = ta.dim[ia] > tb.dim[ib]
    k = np.nonzero(~swap)[0]
    M[k], dim[k] = _relate_rows(ta, ia[k], tb, ib[k])
    k = np.nonzero(swap)[0]
    Mt, dim[k] = _relate_rows(tb, ib[k], ta, ia[k])
    M[k] = Mt.transpose(0, 2, 1)
    return M, dim


# --- predicate layer -------------------------------------------------------
# RELATIONS maps each relation name to a predicate on the batch arrays
# (M, dim(II), dim(a), dim(b)); it is the one table behind the st_* SQL
# relations and geom_pair_join(predicate=…).  relate_* are batches of one.


def _intersects(M, d, da, db):
    return M[:, I, I] | M[:, I, B] | M[:, B, I] | M[:, B, B]


def _touches(M, d, da, db):
    return (M[:, I, B] | M[:, B, I] | M[:, B, B]) & ~M[:, I, I]


def _crosses(M, d, da, db):
    ii = M[:, I, I]
    return np.where(
        da < db, ii & M[:, I, E], np.where(da > db, ii & M[:, E, I], (da == 1) & ii & (d == 0))
    )


def _overlaps(M, d, da, db):
    return (da == db) & M[:, I, I] & M[:, I, E] & M[:, E, I] & ((da != 1) | (d == 1))


def _covers(M, d, da, db):
    return _intersects(M, d, da, db) & ~M[:, E, I] & ~M[:, E, B]


def _contains(M, d, da, db):
    return M[:, I, I] & ~M[:, E, I] & ~M[:, E, B]


def _equals(M, d, da, db):
    return M[:, I, I] & ~M[:, I, E] & ~M[:, B, E] & ~M[:, E, I] & ~M[:, E, B]


def _converse(pred):
    return lambda M, d, da, db: pred(M.transpose(0, 2, 1), d, db, da)


RELATIONS = {
    "contains": _contains,
    "within": _converse(_contains),
    "covers": _covers,
    "covered_by": _converse(_covers),
    "touches": _touches,
    "crosses": _crosses,
    "overlaps": _overlaps,
    "equals": _equals,
}


def _checked(parsed):
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
    return parsed


def prepare(parsed) -> _Table:
    """A parsed ``(kind, parts)`` geometry as a relate table of one, which
    the ``relate_*`` functions take as they take the parsed tuple."""
    return parsed if isinstance(parsed, _Table) else _Table([_checked(parsed)])


def _one(a, b):
    ta, tb = prepare(a), prepare(b)
    z = np.zeros(1, dtype=np.int64)
    M, d = _relate(ta, z, tb, z)
    return M, d, ta.dim, tb.dim


def relate(a, b) -> tuple[np.ndarray, int]:
    """→ (3×3 DE-9IM boolean matrix, dim(II) ∈ {-1, 0, 1, 2})."""
    M, d, _, _ = _one(a, b)
    return M[0], int(d[0])


def relate_intersects(a, b) -> bool:
    return bool(_intersects(*_one(a, b))[0])


def relate_touches(a, b) -> bool:
    return bool(_touches(*_one(a, b))[0])


def relate_crosses(a, b) -> bool:
    return bool(_crosses(*_one(a, b))[0])


def relate_overlaps(a, b) -> bool:
    return bool(_overlaps(*_one(a, b))[0])


def relate_covers(a, b) -> bool:
    return bool(_covers(*_one(a, b))[0])


def relate_contains(a, b) -> bool:
    return bool(_contains(*_one(a, b))[0])


def relate_equals(a, b) -> bool:
    return bool(_equals(*_one(a, b))[0])


def relation_batch(name: str, a, b) -> np.ndarray:
    """``RELATIONS[name]`` over each WKT pair ``(a[i], b[i])``; False where
    either side is null (a null geometry is in no relation).

    Each side's distinct WKTs are parsed once into one table, and every
    distinct pair runs through one batched relate: a POINT is a dim-0 row
    like any other, and the dominant SQL shape, one constant region
    against a point column, is a single kernel call."""
    pred = RELATIONS[name]
    a = np.asarray(a, dtype=object)
    b = np.asarray(b, dtype=object)
    out = np.zeros(len(a), dtype=bool)
    ok = np.nonzero(pd.notna(a) & pd.notna(b))[0]
    if not len(ok):
        return out
    ca, ua = pd.factorize(a[ok])
    cb, ub = pd.factorize(b[ok])
    pair, inv = np.unique(ca.astype(np.int64) * len(ub) + cb, return_inverse=True)
    ta = _Table([_checked(parse_wkt_cached(w)) for w in ua])
    tb = _Table([_checked(parse_wkt_cached(w)) for w in ub])
    ia, ib = pair // len(ub), pair % len(ub)
    M, d = _relate(ta, ia, tb, ib)
    out[ok] = pred(M, d, ta.dim[ia], tb.dim[ib])[inv.reshape(-1)]
    return out
