"""Interior-ring (hole) semantics — r3.  Pure-numpy kernel tests: the
parity rule must make a point inside a hole NOT contained, keep its
distance to the hole boundary, and leave simple rings bit-identical."""

import numpy as np

from geowave_spark.geom import (
    GeomBatch,
    any_pair_dist2,
    parse_wkt_multi,
    points_contained_batch,
    points_geoms_dist2_batch,
    points_intersect_geoms_batch,
)

DONUT = (
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))"
)
MULTI = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))"


def _batch(wkt):
    return GeomBatch([parse_wkt_multi(wkt)])


def _contained(wkt, pts):
    gb = _batch(wkt)
    px = np.array([p[0] for p in pts], float)
    py = np.array([p[1] for p in pts], float)
    return points_contained_batch(px, py, np.zeros(len(pts), np.int64), gb)


def _d(wkt, pts):
    gb = _batch(wkt)
    px = np.array([p[0] for p in pts], float)
    py = np.array([p[1] for p in pts], float)
    return np.sqrt(
        points_geoms_dist2_batch(px, py, np.zeros(len(pts), np.int64), gb)
    )


def test_parse_keeps_holes():
    kind, parts = parse_wkt_multi(DONUT)
    assert kind == "POLYGON" and len(parts) == 2
    kind, parts = parse_wkt_multi(MULTI)
    assert kind == "MULTIPOLYGON" and len(parts) == 2


def test_containment_parity():
    got = _contained(
        DONUT,
        [
            (1.0, 1.0),  # in the filled area
            (5.0, 5.0),  # in the hole → NOT contained
            (3.0, 5.0),  # exactly on the hole boundary → contained
            (0.0, 5.0),  # exactly on the exterior boundary → contained
            (11.0, 5.0),  # outside
        ],
    )
    assert got.tolist() == [True, False, True, True, False]


def test_distance_inside_hole_is_to_hole_boundary():
    d = _d(DONUT, [(5.0, 5.0), (1.0, 1.0), (12.0, 5.0), (5.0, 4.0)])
    assert abs(d[0] - 2.0) < 1e-12  # hole center → 2 from the 3..7 ring
    assert d[1] == 0.0  # filled area
    assert abs(d[2] - 2.0) < 1e-12  # outside
    assert abs(d[3] - 1.0) < 1e-12  # 1 below the hole's lower edge


def test_intersects_matches_containment_for_points():
    gb = _batch(DONUT)
    px = np.array([5.0, 1.0])
    py = np.array([5.0, 1.0])
    hit = points_intersect_geoms_batch(px, py, np.zeros(2, np.int64), gb)
    assert hit.tolist() == [False, True]


def test_multipolygon_parity_disjoint_shells():
    got = _contained(MULTI, [(1.0, 1.0), (6.0, 6.0), (3.5, 3.5)])
    assert got.tolist() == [True, True, False]


def test_simple_ring_unchanged():
    simple = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    got = _contained(simple, [(5.0, 5.0), (0.0, 0.0), (10.0, 5.0), (11.0, 5.0)])
    assert got.tolist() == [True, True, True, False]
    d = _d(simple, [(5.0, 5.0), (12.0, 5.0)])
    assert d[0] == 0.0 and abs(d[1] - 2.0) < 1e-12


def test_pair_distance_geometry_in_hole():
    # a square fully inside the donut's hole: distance is to the hole ring
    inner = parse_wkt_multi("POLYGON ((4.5 4.5, 5.5 4.5, 5.5 5.5, 4.5 5.5, 4.5 4.5))")
    donut = parse_wkt_multi(DONUT)
    d2 = any_pair_dist2(inner, donut)
    assert abs(np.sqrt(d2) - 1.5) < 1e-12
    # and a line crossing only the hole interior does not intersect
    line = parse_wkt_multi("LINESTRING (4 5, 6 5)")
    d2l = any_pair_dist2(line, donut)
    assert abs(np.sqrt(d2l) - 1.0) < 1e-12


def test_line_entering_hole_from_filled_area_intersects():
    donut = parse_wkt_multi(DONUT)
    line = parse_wkt_multi("LINESTRING (1 5, 5 5)")  # filled → hole
    assert any_pair_dist2(line, donut) == 0.0
