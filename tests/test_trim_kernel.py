"""The batched trimIndexIds kernel against a per-geometry reference.

``polygon_cells_np`` trims a batch's cells with one
``rects_hit_geoms`` call.  The reference below is the per-geometry form
it replaced, written out here: for every geometry with more than 3 cells,
decode its cells at its tier and test them against each component's
parts with a closed-ring test (vertex in rect, rect corner in ring or on
its edge, edge clips rect) or an open-part test (vertex in rect, segment
clips rect).  The two must return bit-identical (row, tier, cell) arrays.
"""

import numpy as np
import pytest

from geowave_spark.encode import DEFAULT_STRATEGY, _envelopes, polygon_cells_np
from geowave_spark.geom import (
    as_components,
    flatten_parts,
    geom_is_closed,
    parse_wkt_multi,
    points_in_polygon,
    rects_hit_geoms,
)
from geowave_spark.sfc.hilbert import hilbert_to_xy
from geowave_spark.sources.fixtures import regions_pdf, tracks_pdf


def _ref_segments_hit_rects(x1, y1, x2, y2, rminx, rminy, rmaxx, rmaxy):
    x1, y1, x2, y2 = (np.asarray(v, dtype=np.float64)[None, :] for v in (x1, y1, x2, y2))
    dx, dy = x2 - x1, y2 - y1
    r0x, r0y, r1x, r1y = rminx[:, None], rminy[:, None], rmaxx[:, None], rmaxy[:, None]
    shape = (len(rminx), x1.shape[1])
    t0, t1, ok = np.zeros(shape), np.ones(shape), np.ones(shape, dtype=bool)
    for p, q in ((-dx, x1 - r0x), (dx, r1x - x1), (-dy, y1 - r0y), (dy, r1y - y1)):
        with np.errstate(divide="ignore", invalid="ignore"):
            r = q / p
        ok &= ~((p == 0) & (q < 0))
        ent = np.where(p < 0, r, -np.inf)
        ext = np.where(p > 0, r, np.inf)
        t0 = np.maximum(t0, np.where(np.isfinite(ent), ent, t0))
        t1 = np.minimum(t1, np.where(np.isfinite(ext), ext, t1))
    return (ok & (t0 <= t1)).any(axis=1)


def _ref_vertex_in_rect(v, cminx, cminy, cmaxx, cmaxy):
    vx, vy = v[:, 0], v[:, 1]
    return (
        (vx[None, :] >= cminx[:, None])
        & (vx[None, :] <= cmaxx[:, None])
        & (vy[None, :] >= cminy[:, None])
        & (vy[None, :] <= cmaxy[:, None])
    ).any(axis=1)


def _ref_rect_hits_ring(cminx, cminy, cmaxx, cmaxy, poly):
    ring = poly if not np.array_equal(poly[0], poly[-1]) else poly[:-1]
    out = _ref_vertex_in_rect(ring, cminx, cminy, cmaxx, cmaxy)
    for cx, cy in ((cminx, cminy), (cminx, cmaxy), (cmaxx, cminy), (cmaxx, cmaxy)):
        out |= points_in_polygon(cx, cy, poly)
    x1, y1 = ring[:, 0], ring[:, 1]
    return out | _ref_segments_hit_rects(
        x1, y1, np.roll(x1, -1), np.roll(y1, -1), cminx, cminy, cmaxx, cmaxy
    )


def _ref_rect_hits_parts(cminx, cminy, cmaxx, cmaxy, parts, closed):
    out = np.zeros(len(cminx), dtype=bool)
    for p in parts:
        if closed:
            out |= _ref_rect_hits_ring(cminx, cminy, cmaxx, cmaxy, p)
            continue
        out |= _ref_vertex_in_rect(p, cminx, cminy, cmaxx, cmaxy)
        if len(p) > 1:
            out |= _ref_segments_hit_rects(
                p[:-1, 0], p[:-1, 1], p[1:, 0], p[1:, 1], cminx, cminy, cmaxx, cmaxy
            )
    return out


def _ref_polygon_cells(wkts, strategy, max_duplicates, buffer):
    """The per-geometry trim loop, one geometry at a time."""
    geoms = [parse_wkt_multi(w) for w in wkts]
    full = [i for i, g in enumerate(geoms) if flatten_parts(g)]
    if not full:
        return (np.empty(0, dtype=np.int64),) * 3
    env = _envelopes([geoms[i] for i in full])
    row, tier, cell = strategy.envelope_insertion_ids(
        env[:, 0] - buffer, env[:, 1] - buffer, env[:, 2] + buffer, env[:, 3] + buffer,
        max_duplicates=max_duplicates,
    )
    row = np.asarray(full, dtype=np.int64)[row]
    keep = np.ones(len(row), dtype=bool)
    counts = np.bincount(row, minlength=len(wkts))
    for i in np.nonzero(counts > 3)[0]:
        m = row == i
        t = int(tier[m][0])
        if t == 0:
            continue
        cx, cy = hilbert_to_xy(cell[m].astype(np.uint64), t)
        span_x = strategy.dim_x.range / (1 << t)
        span_y = strategy.dim_y.range / (1 << t)
        rminx = strategy.dim_x.min + cx.astype(np.float64) * span_x - buffer
        rminy = strategy.dim_y.min + cy.astype(np.float64) * span_y - buffer
        hit = np.zeros(int(m.sum()), dtype=bool)
        for kind, parts in as_components(geoms[i]):
            hit |= _ref_rect_hits_parts(
                rminx, rminy, rminx + span_x + 2 * buffer, rminy + span_y + 2 * buffer,
                parts, geom_is_closed(kind),
            )
        keep[np.nonzero(m)[0][~hit]] = False
    return row[keep], tier[keep], cell[keep]


def _fmt(p):
    return ", ".join(f"{x!r} {y!r}" for x, y in p)


def _star(rng, cx, cy, r, n):
    a = np.sort(rng.uniform(0, 2 * np.pi, n))
    rr = r * rng.uniform(0.3, 1.0, n)
    return np.c_[cx + rr * np.cos(a), cy + rr * np.sin(a)]


def _mixed_wkts(seed, n=150):
    """Every kind the trim sees: polygons with holes, MULTI*, lines,
    single-vertex parts, mixed collections, EMPTY, and shapes on the
    antimeridian whose buffered envelope runs past ±180."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        r = 10 ** rng.uniform(-3, 0.5)
        s = _star(rng, cx, cy, r, int(rng.integers(3, 30)))
        ring = np.r_[s, s[:1]]
        k = int(rng.integers(0, 9))
        if k == 0:
            h = _star(rng, cx, cy, r * 0.2, 5)
            out.append(f"POLYGON (({_fmt(ring)}), ({_fmt(np.r_[h, h[:1]])}))")
        elif k == 1:
            s2 = _star(rng, cx + 2 * r, cy, r, 6)
            out.append(f"MULTIPOLYGON ((({_fmt(ring)})), (({_fmt(np.r_[s2, s2[:1]])})))")
        elif k == 2:
            out.append(f"LINESTRING ({_fmt(s)})")
        elif k == 3:
            out.append(f"MULTILINESTRING (({_fmt(s[:1])}), ({_fmt(s)}))")
        elif k == 4:
            out.append(f"MULTIPOINT ({_fmt(s)})")
        elif k == 5:
            out.append(
                f"GEOMETRYCOLLECTION (POINT ({_fmt(s[:1])}), "
                f"LINESTRING ({_fmt(s[1:4])}), POLYGON (({_fmt(ring)})))"
            )
        elif k == 6:
            out.append(str(rng.choice(["POINT EMPTY", "POLYGON EMPTY", "LINESTRING EMPTY"])))
        elif k == 7:
            x = float(rng.choice([-180.0, 180.0]))
            e = np.c_[np.clip(x + rng.uniform(-r, r, 5), -180, 180), cy + rng.uniform(-r, r, 5)]
            out.append(f"POLYGON (({_fmt(np.r_[e, e[:1]])}))")
        else:
            out.append(f"POLYGON (({_fmt(s[:1])}, {_fmt(s[:1])}))")
    return out


_SETS = {
    "tracks": lambda seed: list(tracks_pdf(120, seed=seed)["wkt"]),
    "regions": lambda seed: list(regions_pdf(120, seed=seed)["wkt"]),
    "mixed": _mixed_wkts,
}


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize("name", sorted(_SETS))
@pytest.mark.parametrize("max_duplicates", [4, 16, 80])
@pytest.mark.parametrize("buffer", [0.0, 0.05])
def test_batched_trim_matches_per_geometry(seed, name, max_duplicates, buffer):
    wkts = _SETS[name](seed)
    got = polygon_cells_np(wkts, DEFAULT_STRATEGY, max_duplicates, buffer)
    want = _ref_polygon_cells(wkts, DEFAULT_STRATEGY, max_duplicates, buffer)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype
        np.testing.assert_array_equal(g, w)
    untrimmed = polygon_cells_np(wkts, DEFAULT_STRATEGY, max_duplicates, buffer, trim=False)
    if max_duplicates > 4:
        assert len(got[0]) < len(untrimmed[0]), "the sweep must drop cells"


def test_rect_kernel_blocks_do_not_change_results(monkeypatch):
    """Splitting the (rect, edge) pairs into blocks gives the same hits."""
    import geowave_spark.geom as geom

    wkts = _mixed_wkts(3)
    want = polygon_cells_np(wkts, max_duplicates=80, buffer=0.05)
    monkeypatch.setattr(geom, "_RECT_PAIR_BLOCK", 7)
    got = polygon_cells_np(wkts, max_duplicates=80, buffer=0.05)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)


def test_rect_kernel_empty_and_degenerate():
    """No rects, an EMPTY geometry, a one-vertex ring and a point part."""
    z = np.zeros(0)
    assert rects_hit_geoms(z, z, z, z, np.zeros(0, dtype=np.int64), []).shape == (0,)
    one = np.array([0.0]), np.array([0.0]), np.array([2.0]), np.array([2.0])
    geoms = [
        parse_wkt_multi("POLYGON EMPTY"),
        parse_wkt_multi("POINT (1 1)"),
        parse_wkt_multi("POINT (3 3)"),
        ("POLYGON", [np.array([[1.0, 1.0]])]),
    ]
    got = [bool(rects_hit_geoms(*one, np.array([i]), geoms)[0]) for i in range(len(geoms))]
    assert got == [False, True, False, False]
