"""The flat-table geometry kernels against the padded, per-pair reference.

Every exact kernel reads one flat vertex table (``geom.GeomBatch``).  The
reference below is the layout it replaced, written out here: a padded
(parts, max_vertices, 2) array, where each row repeats its last vertex up
to the batch's longest ring, with the point kernels run over every padded
slot; a per-geometry-pair loop for the pair distance; and a separate
vertex/edge table for the rect test.  On seeded batches of every kind the
package handles (holes, MULTI*, mixed collections, EMPTY, single-vertex
parts, degenerate rings, shapes on ±180, points on vertices, edges and
hole rings), the kernels must equal the reference bit for bit.

The last test pins the size of the intermediates: a far-away ring with
many vertices leaves a broadcast grid's memory and pickle about as they
were.
"""

import pickle
import tracemalloc

import numpy as np
import pytest

import geowave_spark.geom as geom
from geowave_spark.geom import (
    GeomBatch,
    LocalGeomGrid,
    as_components,
    geom_is_closed,
    pairs_dist2,
    parse_wkt_cached,
    parse_wkt_multi,
    points_contained_batch,
    points_geoms_dist2_batch,
    points_intersect_geoms_batch,
    rects_hit_geoms,
)
from geowave_spark.sources.fixtures import points_pdf, regions_pdf

# --- the padded, per-pair reference ------------------------------------------


class _RefBatch:
    """Padded parts: a closed ring drops its closing vertex and keeps its
    wrap edge; a part of fewer than 3 vertices is open; every row repeats
    its last vertex up to the longest part."""

    def __init__(self, parsed):
        parts, closed, part_geom = [], [], []
        for gi, g in enumerate(parsed):
            for kind, ps in as_components(g):
                c = geom_is_closed(kind)
                for p in ps:
                    if c and len(p) > 1 and np.array_equal(p[0], p[-1]):
                        p = p[:-1]
                    parts.append(p)
                    closed.append(bool(c) and len(p) >= 3)
                    part_geom.append(gi)
        self.padded = np.zeros((0, 1, 2))
        if parts:
            self.padded = np.empty((len(parts), max(len(p) for p in parts), 2))
            for k, p in enumerate(parts):
                self.padded[k, : len(p)] = p
                self.padded[k, len(p):] = p[-1]
        self.closed = np.array(closed, dtype=bool)
        self.part_count = np.bincount(np.array(part_geom, dtype=np.int64), minlength=len(parsed))
        self.part_start = np.concatenate(([0], np.cumsum(self.part_count)[:-1])).astype(np.int64)


def _ref_expand(codes, gb):
    cnt = gb.part_count[codes]
    rows = np.repeat(np.arange(len(codes), dtype=np.int64), cnt)
    off = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return rows, np.repeat(gb.part_start[codes], cnt) + off


def _ref_pip(px, py, pcodes, padded):
    P = padded[pcodes]
    x1, y1 = P[:, :, 0], P[:, :, 1]
    x2, y2 = np.roll(x1, -1, axis=1), np.roll(y1, -1, axis=1)
    pxv, pyv = px[:, None], py[:, None]
    cond = (y1 > pyv) != (y2 > pyv)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (pyv - y1) / (y2 - y1) * (x2 - x1)
    inside = ((cond & (pxv < xint)).sum(axis=1) % 2) == 1
    cross = (x2 - x1) * (pyv - y1) - (y2 - y1) * (pxv - x1)
    on_edge = (
        (cross == 0.0)
        & (pxv >= np.minimum(x1, x2)) & (pxv <= np.maximum(x1, x2))
        & (pyv >= np.minimum(y1, y2)) & (pyv <= np.maximum(y1, y2))
    ).any(axis=1)
    return inside | on_edge


def _ref_parts_dist2(px, py, pcodes, gb):
    P = gb.padded[pcodes]
    x1, y1 = P[:, :, 0], P[:, :, 1]
    x2, y2 = np.roll(x1, -1, axis=1), np.roll(y1, -1, axis=1)
    open_m = ~gb.closed[pcodes]
    x2[open_m, -1] = x1[open_m, -1]
    y2[open_m, -1] = y1[open_m, -1]
    # JTS Distance.pointToSegment: the nearer end outside the projection,
    # else cross² / len²
    dx, dy = x2 - x1, y2 - y1
    len2 = dx * dx + dy * dy
    pxv, pyv = px[:, None], py[:, None]
    dot = (pxv - x1) * dx + (pyv - y1) * dy
    cross = dx * (pyv - y1) - dy * (pxv - x1)
    with np.errstate(divide="ignore", invalid="ignore"):
        inner = cross * cross / len2
    d2 = np.where(
        dot <= 0,
        (pxv - x1) ** 2 + (pyv - y1) ** 2,
        np.where(dot >= len2, (pxv - x2) ** 2 + (pyv - y2) ** 2, inner),
    )
    return d2.min(axis=1)


def _ref_contained(px, py, codes, gb):
    rows, pcodes = _ref_expand(codes, gb)
    sub = np.nonzero(gb.closed[pcodes])[0]
    parity = np.zeros(len(codes), dtype=bool)
    on_ring = np.zeros(len(codes), dtype=bool)
    if len(sub):
        sx, sy = px[rows[sub]], py[rows[sub]]
        incl = _ref_pip(sx, sy, pcodes[sub], gb.padded)
        on = _ref_parts_dist2(sx, sy, pcodes[sub], gb) == 0.0
        np.logical_xor.at(parity, rows[sub], incl & ~on)
        np.logical_or.at(on_ring, rows[sub], on)
    return parity | on_ring


def _ref_dist2(px, py, codes, gb):
    rows, pcodes = _ref_expand(codes, gb)
    out = np.full(len(codes), np.inf)
    np.minimum.at(out, rows, _ref_parts_dist2(px[rows], py[rows], pcodes, gb))
    out[_ref_contained(px, py, codes, gb)] = 0.0
    return out


def _ref_intersects(px, py, codes, gb):
    rows, pcodes = _ref_expand(codes, gb)
    sub = np.nonzero(~gb.closed[pcodes])[0]
    hit = np.zeros(len(rows), dtype=bool)
    if len(sub):
        hit[sub] = _ref_parts_dist2(px[rows[sub]], py[rows[sub]], pcodes[sub], gb) == 0.0
    out = np.zeros(len(codes), dtype=bool)
    np.logical_or.at(out, rows, hit)
    return out | _ref_contained(px, py, codes, gb)


def _ref_part_edges(p, closed):
    if closed:
        a = p[:-1] if len(p) > 1 and np.array_equal(p[0], p[-1]) else p
        return a, np.roll(a, -1, axis=0)
    return p[:-1], p[1:]


def _ref_edges_intersect(ra, rb, closed_a, closed_b):
    p1, p2 = _ref_part_edges(ra, closed_a)
    q1, q2 = _ref_part_edges(rb, closed_b)
    if not len(p1) or not len(q1):
        return False

    def cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    P1, P2 = (v[:, None, :] for v in (p1, p2))
    Q1, Q2 = (v[None, :, :] for v in (q1, q2))
    d1 = cross(Q1[..., 0], Q1[..., 1], Q2[..., 0], Q2[..., 1], P1[..., 0], P1[..., 1])
    d2 = cross(Q1[..., 0], Q1[..., 1], Q2[..., 0], Q2[..., 1], P2[..., 0], P2[..., 1])
    d3 = cross(P1[..., 0], P1[..., 1], P2[..., 0], P2[..., 1], Q1[..., 0], Q1[..., 1])
    d4 = cross(P1[..., 0], P1[..., 1], P2[..., 0], P2[..., 1], Q2[..., 0], Q2[..., 1])
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    if proper.any():
        return True
    for d, s1, s2, pt in ((d1, Q1, Q2, P1), (d2, Q1, Q2, P2), (d3, P1, P2, Q1), (d4, P1, P2, Q2)):
        on = (
            (d == 0)
            & (pt[..., 0] >= np.minimum(s1[..., 0], s2[..., 0]))
            & (pt[..., 0] <= np.maximum(s1[..., 0], s2[..., 0]))
            & (pt[..., 1] >= np.minimum(s1[..., 1], s2[..., 1]))
            & (pt[..., 1] <= np.maximum(s1[..., 1], s2[..., 1]))
        )
        if on.any():
            return True
    return False


def _ref_geoms_pair_dist2(parts_a, closed_a, parts_b, closed_b):
    for a in parts_a:
        for b in parts_b:
            if len(a) > 1 and len(b) > 1 and _ref_edges_intersect(a, b, closed_a, closed_b):
                return 0.0
    gb_a = _RefBatch([("POLYGON" if closed_a else "LINESTRING", parts_a)])
    gb_b = _RefBatch([("POLYGON" if closed_b else "LINESTRING", parts_b)])
    va, vb = np.vstack(parts_a), np.vstack(parts_b)
    d1 = _ref_dist2(va[:, 0], va[:, 1], np.zeros(len(va), dtype=np.int64), gb_b).min()
    d2 = _ref_dist2(vb[:, 0], vb[:, 1], np.zeros(len(vb), dtype=np.int64), gb_a).min()
    return float(min(d1, d2))


def _ref_any_pair_dist2(a, b):
    best = np.inf
    for ka, pa in as_components(a):
        for kb, pb in as_components(b):
            d = _ref_geoms_pair_dist2(pa, geom_is_closed(ka), pb, geom_is_closed(kb))
            if d < best:
                best = d
            if best == 0.0:
                return 0.0
    return float(best)


def _ref_pairs_dist2(a, b):
    out = np.full(len(a), np.nan)
    ga = [parse_wkt_multi(w) for w in a]
    gb = [parse_wkt_multi(w) for w in b]
    pts, geoms, prow = [], [], []
    for i, (x, y) in enumerate(zip(ga, gb)):
        if not x[1] or not y[1]:
            out[i] = np.inf
        elif x[0] == "POINT" and y[0] == "POINT":
            out[i] = ((x[1][0][0] - y[1][0][0]) ** 2).sum()
        elif x[0] == "POINT" or y[0] == "POINT":
            p, g = (x, y) if x[0] == "POINT" else (y, x)
            pts.append(p[1][0][0])
            geoms.append(g)
            prow.append(i)
        else:
            out[i] = _ref_any_pair_dist2(x, y)
    if prow:
        xy = np.array(pts)
        out[prow] = _ref_dist2(xy[:, 0], xy[:, 1], np.arange(len(geoms)), _RefBatch(geoms))
    return out


def _ref_rects_hit(rminx, rminy, rmaxx, rmaxy, rect_geom, geoms):
    """Each rect against its geometry's own vertex and edge lists."""
    hit = np.zeros(len(rminx), dtype=bool)
    for k in range(len(rminx)):
        for kind, ps in as_components(geoms[rect_geom[k]]):
            c = geom_is_closed(kind)
            for p in ps:
                if c and np.array_equal(p[0], p[-1]):
                    p = p[:-1]
                if not len(p):
                    continue
                vx, vy = p[:, 0], p[:, 1]
                if ((vx >= rminx[k]) & (vx <= rmaxx[k]) & (vy >= rminy[k]) & (vy <= rmaxy[k])).any():
                    hit[k] = True
                a, b = (p, np.roll(p, -1, axis=0)) if c else (p[:-1], p[1:])
                x1, y1, x2, y2 = a[:, 0], a[:, 1], b[:, 0], b[:, 1]
                if c:
                    for px, py in ((rminx[k], rminy[k]), (rminx[k], rmaxy[k]), (rmaxx[k], rminy[k]), (rmaxx[k], rmaxy[k])):
                        cond = (y1 > py) != (y2 > py)
                        with np.errstate(divide="ignore", invalid="ignore"):
                            xint = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
                        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
                        on = (
                            (cross == 0.0)
                            & (px >= np.minimum(x1, x2)) & (px <= np.maximum(x1, x2))
                            & (py >= np.minimum(y1, y2)) & (py <= np.maximum(y1, y2))
                        )
                        if (cond & (px < xint)).sum() % 2 == 1 or on.any():
                            hit[k] = True
                dx, dy = x2 - x1, y2 - y1
                t0, t1, ok = np.zeros(len(x1)), np.ones(len(x1)), np.ones(len(x1), dtype=bool)
                for pp, q in ((-dx, x1 - rminx[k]), (dx, rmaxx[k] - x1), (-dy, y1 - rminy[k]), (dy, rmaxy[k] - y1)):
                    with np.errstate(divide="ignore", invalid="ignore"):
                        s = q / pp
                    ok &= ~((pp == 0) & (q < 0))
                    ent = np.where(pp < 0, s, -np.inf)
                    ext = np.where(pp > 0, s, np.inf)
                    t0 = np.maximum(t0, np.where(np.isfinite(ent), ent, t0))
                    t1 = np.minimum(t1, np.where(np.isfinite(ext), ext, t1))
                if (ok & (t0 <= t1)).any():
                    hit[k] = True
    return hit


# --- seeded cases --------------------------------------------------------------


def _fmt(p):
    return ", ".join(f"{x!r} {y!r}" for x, y in p)


def _closed(p):
    return np.r_[p, p[:1]]


def _star(rng, cx, cy, r, n, lattice):
    a = np.sort(rng.uniform(0, 2 * np.pi, n))
    rr = r * rng.uniform(0.3, 1.0, n)
    s = np.c_[cx + rr * np.cos(a), cy + rr * np.sin(a)]
    return np.round(s) if lattice else s


def _wkts(seed, n=60):
    """Every kind the kernels see.  ``lattice`` rounds to integers, so
    shared edges, vertices on edges and touching corners are exact."""
    rng = np.random.default_rng(seed)
    lattice = seed % 2 == 0
    out = []
    for _ in range(n):
        cx, cy = rng.uniform(-20, 20, 2)
        r = rng.uniform(2, 8) if lattice else 10 ** rng.uniform(-1, 1)
        s = _star(rng, cx, cy, r, int(rng.integers(3, 40)), lattice)
        k = int(rng.integers(0, 12))
        if k == 0:
            h = _star(rng, cx, cy, r * 0.3, 5, lattice)
            out.append(f"POLYGON (({_fmt(_closed(s))}), ({_fmt(_closed(h))}))")
        elif k == 1:
            s2 = _star(rng, cx + 1.5 * r, cy, r, 6, lattice)
            out.append(f"MULTIPOLYGON ((({_fmt(_closed(s))})), (({_fmt(_closed(s2))})))")
        elif k == 2:
            out.append(f"LINESTRING ({_fmt(s)})")
        elif k == 3:
            out.append(f"MULTILINESTRING (({_fmt(s[:1])}), ({_fmt(s)}))")
        elif k == 4:
            out.append(f"MULTIPOINT ({_fmt(s[:5])})")
        elif k == 5:
            out.append(f"POINT ({_fmt(s[:1])})")
        elif k == 6:
            out.append(
                f"GEOMETRYCOLLECTION (POINT ({_fmt(s[:1])}), "
                f"LINESTRING ({_fmt(s[1:4])}), POLYGON (({_fmt(_closed(s))})))"
            )
        elif k == 7:
            out.append(str(rng.choice(["POINT EMPTY", "POLYGON EMPTY", "MULTILINESTRING EMPTY"])))
        elif k == 8:
            x = float(rng.choice([-180.0, 180.0]))
            e = np.c_[np.clip(x + rng.uniform(-r, r, 5), -180, 180), cy + rng.uniform(-r, r, 5)]
            out.append(f"POLYGON (({_fmt(_closed(e))}))")
        elif k == 9:  # a ring of one vertex, and one of two
            out.append(f"POLYGON (({_fmt(s[:1])}, {_fmt(s[:1])}))")
            out.append(f"MULTIPOLYGON ((({_fmt(_closed(s[:2]))})), (({_fmt(_closed(s))})))")
        elif k == 10:  # collinear ring, zero area
            c = np.c_[np.linspace(cx, cx + r, 4), np.linspace(cy, cy + r, 4)]
            out.append(f"POLYGON (({_fmt(_closed(np.round(c) if lattice else c))}))")
        else:
            out.append(f"POLYGON (({_fmt(_closed(s))}))")
    return out


def _probe_points(rng, geoms, n=1500):
    """Random points near the geometries, plus each geometry's vertices,
    edge midpoints and points along its edges (on hole rings too)."""
    xs, ys = [rng.uniform(-30, 30, n)], [rng.uniform(-30, 30, n)]
    for g in geoms:
        for kind, ps in as_components(g):
            for p in ps:
                xs.append(p[:, 0])
                ys.append(p[:, 1])
                if len(p) > 1:
                    t = rng.uniform(0, 1, len(p) - 1)
                    for w in (0.5, t):
                        xs.append(p[:-1, 0] + w * (p[1:, 0] - p[:-1, 0]))
                        ys.append(p[:-1, 1] + w * (p[1:, 1] - p[:-1, 1]))
    return np.concatenate(xs), np.concatenate(ys)


SEEDS = [1, 2, 3, 4, 5, 6]


@pytest.mark.parametrize("seed", SEEDS)
def test_point_kernels_match_padded_reference(seed):
    rng = np.random.default_rng(seed)
    geoms = [parse_wkt_multi(w) for w in _wkts(seed)]
    px, py = _probe_points(rng, geoms)
    codes = rng.integers(0, len(geoms), len(px))
    gb, ref = GeomBatch(geoms), _RefBatch(geoms)
    np.testing.assert_array_equal(points_contained_batch(px, py, codes, gb), _ref_contained(px, py, codes, ref))
    np.testing.assert_array_equal(points_geoms_dist2_batch(px, py, codes, gb), _ref_dist2(px, py, codes, ref))
    np.testing.assert_array_equal(
        points_intersect_geoms_batch(px, py, codes, gb), _ref_intersects(px, py, codes, ref)
    )


@pytest.mark.parametrize("seed", SEEDS)
def test_point_kernel_blocks_do_not_change_results(seed, monkeypatch):
    rng = np.random.default_rng(seed)
    geoms = [parse_wkt_multi(w) for w in _wkts(seed, 20)]
    px, py = _probe_points(rng, geoms, 200)
    codes = rng.integers(0, len(geoms), len(px))
    gb = GeomBatch(geoms)
    want = points_geoms_dist2_batch(px, py, codes, gb), points_intersect_geoms_batch(px, py, codes, gb)
    monkeypatch.setattr(geom, "_RECT_PAIR_BLOCK", 7)
    got = points_geoms_dist2_batch(px, py, codes, gb), points_intersect_geoms_batch(px, py, codes, gb)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)


def _on_edge_pairs(rng, wkts, n=300):
    """Pairs whose first side sits on the second's edges or vertices: a
    point, a two-point MULTIPOINT, a ring of one vertex and a short
    segment, each placed where the orientation and distance tests are
    both exercised."""
    a, b = [], []
    for _ in range(n):
        w = wkts[int(rng.integers(0, len(wkts)))]
        parts = [p for _, ps in as_components(parse_wkt_multi(w)) for p in ps if len(p) > 1]
        if not parts:
            continue
        p = parts[int(rng.integers(0, len(parts)))]
        k = int(rng.integers(0, len(p) - 1))
        q = p[k] + rng.choice([0.0, 0.5, rng.uniform()]) * (p[k + 1] - p[k])
        f = _fmt([q])
        g = _fmt([q + rng.uniform(-1, 1, 2)])
        a += [f"POINT ({f})", f"MULTIPOINT ({f}, {g})", f"POLYGON (({f}, {f}))", f"LINESTRING ({f}, {g})"]
        b += [w] * 4
    return a, b


@pytest.mark.parametrize("seed", SEEDS)
def test_pairs_dist2_matches_per_pair_reference(seed):
    rng = np.random.default_rng(seed)
    wkts = _wkts(seed) + _wkts(seed + 100, 30)
    a = [wkts[i] for i in rng.integers(0, len(wkts), 400)]
    b = [wkts[i] for i in rng.integers(0, len(wkts), 400)]
    ea, eb = _on_edge_pairs(rng, wkts)
    a, b = a + ea + eb, b + eb + ea
    np.testing.assert_array_equal(pairs_dist2(a, b), _ref_pairs_dist2(a, b))


@pytest.mark.parametrize("seed", SEEDS)
def test_rects_hit_geoms_matches_reference(seed):
    rng = np.random.default_rng(seed)
    geoms = [parse_wkt_multi(w) for w in _wkts(seed)]
    k = 3000
    x0, y0 = rng.uniform(-30, 30, k), rng.uniform(-30, 30, k)
    if seed % 2 == 0:
        x0, y0 = np.round(x0), np.round(y0)
    w, h = rng.uniform(0, 4, k), rng.uniform(0, 4, k)
    rect_geom = rng.integers(0, len(geoms), k)
    got = rects_hit_geoms(x0, y0, x0 + w, y0 + h, rect_geom, geoms)
    np.testing.assert_array_equal(got, _ref_rects_hit(x0, y0, x0 + w, y0 + h, rect_geom, geoms))
    assert got.any() and not got.all()


def test_geom_batch_pickles_to_its_vertices():
    """A pickled table carries its vertices and per-part arrays only, and
    loads to the same kernels."""
    geoms = [parse_wkt_multi(w) for w in _wkts(7)]
    gb = GeomBatch(geoms)
    back = pickle.loads(pickle.dumps(gb))
    rng = np.random.default_rng(7)
    px, py = _probe_points(rng, geoms, 100)
    codes = rng.integers(0, len(geoms), len(px))
    np.testing.assert_array_equal(
        points_geoms_dist2_batch(px, py, codes, back), points_geoms_dist2_batch(px, py, codes, gb)
    )
    assert len(pickle.dumps(gb)) < 16 * len(gb.x) + 64 * len(gb.part_nv) + 1024


# --- intermediate size ---------------------------------------------------------


def _ring(cx, cy, r, n):
    a = np.linspace(0, 2 * np.pi, n, endpoint=False)
    return f"POLYGON (({_fmt(_closed(np.c_[cx + r * np.cos(a), cy + r * np.sin(a)]))}))"


def _peak(fn):
    tracemalloc.start()
    try:
        out = fn()
        return out, tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def test_intermediate_size_stays_bounded():
    """One 2,000-vertex ring that no point comes near must not widen the
    kernels' intermediates or the broadcast grid: same hits on the other
    geometries, a traced peak within 2× and a pickle under 64 KB larger."""
    pts = points_pdf(20_000, seed=1)
    px, py = pts["lon"].to_numpy(np.float64), pts["lat"].to_numpy(np.float64)
    regions = list(regions_pdf(600, seed=2)["wkt"])
    ring = _ring(170.0, -89.0, 0.01, 2000)
    grids = {
        extra: LocalGeomGrid(np.arange(600 + len(extra)), [parse_wkt_multi(w) for w in regions + list(extra)])
        for extra in ((), (ring,))
    }
    results = {}
    for key, grid in grids.items():
        rows, codes = grid.candidates(px, py)
        qx, qy = px[rows], py[rows]
        hits, p_int = _peak(lambda: grid.intersects(qx, qy, codes))
        _, p_dist = _peak(lambda: grid.dist2(qx, qy, codes))
        hit = hits & (codes < 600)
        results[key] = (set(zip(rows[hit].tolist(), codes[hit].tolist())), p_int, p_dist, len(pickle.dumps(grid)))
    (h0, i0, d0, s0), (h1, i1, d1, s1) = results[()], results[(ring,)]
    assert h1 == h0 and h0
    assert i1 <= 2 * i0 and d1 <= 2 * d0, (i0, i1, d0, d1)
    assert s1 - s0 < 64 * 1024, (s0, s1)

    # pairs_dist2 over 5,000 point × polygon pairs, one of them the ring
    rng = np.random.default_rng(3)
    a = [f"POINT ({x!r} {y!r})" for x, y in zip(px[:5000], py[:5000])]
    b = [regions[i] for i in rng.integers(0, len(regions), 5000)]
    for w in a + b + [ring]:
        parse_wkt_cached(w)
    want, p0 = _peak(lambda: pairs_dist2(a, b))
    got, p1 = _peak(lambda: pairs_dist2(a, b[:-1] + [ring]))
    np.testing.assert_array_equal(got[:-1], want[:-1])
    assert p1 <= 2 * p0, (p0, p1)
