"""GEOMETRYCOLLECTION support (r4, VERDICT r3 Next #5): JTS semantics —
a collection is the UNION of its components.  Homogeneous collections
collapse losslessly to their MULTI* kind; mixed-dimension collections
keep typed parts and route intersects/distance per component; DE-9IM
relate on mixed collections raises exactly as JTS RelateOp does.

Oracle: per-part brute force — parse each component separately and
reduce with min (distance) / any (intersects) over component pairs.
"""

import numpy as np
import pytest

from geowave_spark.geom import (
    GeomBatch,
    any_pair_dist2,
    as_components,
    flatten_parts,
    geom_is_closed,
    parse_wkt_multi,
    points_geoms_dist2_batch,
    points_intersect_geoms_batch,
)

GC_MIXED = (
    "GEOMETRYCOLLECTION (POINT (10 10), "
    "LINESTRING (0 0, 4 0), "
    "POLYGON ((20 20, 24 20, 24 24, 20 24, 20 20)))"
)


class TestParse:
    def test_homogeneous_points_collapse_to_multipoint(self):
        k, parts = parse_wkt_multi("GEOMETRYCOLLECTION (POINT (1 2), POINT (3 4))")
        assert k == "MULTIPOINT"
        assert len(parts) == 2 and np.array_equal(parts[1], [[3.0, 4.0]])

    def test_homogeneous_lines_collapse_to_multilinestring(self):
        k, parts = parse_wkt_multi(
            "GEOMETRYCOLLECTION (LINESTRING (0 0, 1 1), "
            "MULTILINESTRING ((2 2, 3 3), (4 4, 5 5)))"
        )
        assert k == "MULTILINESTRING" and len(parts) == 3

    def test_homogeneous_polygons_collapse_to_multipolygon(self):
        k, parts = parse_wkt_multi(
            "GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 0)), "
            "POLYGON ((5 5, 6 5, 6 6, 5 5)))"
        )
        assert k == "MULTIPOLYGON" and len(parts) == 2
        assert geom_is_closed(k)

    def test_mixed_keeps_typed_components(self):
        k, comps = parse_wkt_multi(GC_MIXED)
        assert k == "GEOMETRYCOLLECTION"
        kinds = [c[0] for c in comps]
        assert kinds == ["POINT", "LINESTRING", "POLYGON"]
        assert len(flatten_parts((k, comps))) == 3

    def test_nested_collection_flattens(self):
        k, comps = parse_wkt_multi(
            "GEOMETRYCOLLECTION (POINT (1 1), "
            "GEOMETRYCOLLECTION (LINESTRING (0 0, 1 0), POINT (9 9)))"
        )
        assert k == "GEOMETRYCOLLECTION"
        fams = sorted(c[0] for c in comps)
        # nested mixed GC flattens; nested points merge under their kinds
        assert "LINESTRING" in fams and any("POINT" in f for f in fams)

    def test_empty_collection(self):
        k, parts = parse_wkt_multi("GEOMETRYCOLLECTION EMPTY")
        assert parts == []


def _brute_dist2(wkt_a: str, wkt_b: str) -> float:
    best = np.inf
    for ka, pa in as_components(parse_wkt_multi(wkt_a)):
        for kb, pb in as_components(parse_wkt_multi(wkt_b)):
            best = min(best, any_pair_dist2((ka, pa), (kb, pb)))
    return float(best)


class TestUnionSemantics:
    CASES = [
        # (other WKT, true dist² to GC_MIXED by hand)
        ("POINT (10 13)", 9.0),          # nearest: the point component
        ("POINT (2 1)", 1.0),            # nearest: the line component
        ("POINT (22 22)", 0.0),          # inside the polygon component
        ("LINESTRING (6 0, 8 0)", 4.0),  # nearest: line endpoint (4,0)
        ("POLYGON ((9 9, 12 9, 12 12, 9 12, 9 9))", 0.0),  # contains the point
    ]

    @pytest.mark.parametrize("other,want", CASES)
    def test_any_pair_dist2_matches_hand_truth(self, other, want):
        a = parse_wkt_multi(GC_MIXED)
        b = parse_wkt_multi(other)
        assert any_pair_dist2(a, b) == pytest.approx(want)
        assert any_pair_dist2(b, a) == pytest.approx(want)
        assert _brute_dist2(GC_MIXED, other) == pytest.approx(want)

    def test_gc_vs_gc(self):
        other = "GEOMETRYCOLLECTION (POINT (30 30), LINESTRING (24 22, 30 22))"
        a, b = parse_wkt_multi(GC_MIXED), parse_wkt_multi(other)
        # line (24..30, y=22) touches polygon edge x=24 at (24,22): dist 0
        assert any_pair_dist2(a, b) == 0.0

    def test_geombatch_point_kernels_on_mixed_gc(self):
        gb = GeomBatch([parse_wkt_multi(GC_MIXED)])
        px = np.array([10.0, 2.0, 22.0, 50.0])
        py = np.array([10.0, 0.0, 22.0, 50.0])
        codes = np.zeros(4, dtype=np.int64)
        hit = points_intersect_geoms_batch(px, py, codes, gb)
        assert hit.tolist() == [True, True, True, False]
        d2 = points_geoms_dist2_batch(px, py, codes, gb)
        assert d2[:3].tolist() == [0.0, 0.0, 0.0]
        # (50,50) nearest = polygon corner (24,24): 26² + 26²
        assert d2[3] == pytest.approx(26.0**2 * 2)


class TestSparkFrontDoor:
    def test_st_distance_and_intersects_on_mixed_gc(self, spark):
        from geowave_spark.functions import register_all

        register_all(spark)
        rows = spark.sql(
            f"SELECT st_distance('{GC_MIXED}', 'POINT (2 1)') AS d, "
            f"       st_intersects('{GC_MIXED}', 'POINT (22 22)') AS i1, "
            f"       st_intersects('{GC_MIXED}', 'POINT (50 50)') AS i2, "
            f"       st_within_distance('{GC_MIXED}', 'POINT (10 13)', 3.0) AS w"
        ).first()
        assert rows["d"] == pytest.approx(1.0)
        assert rows["i1"] is True and rows["i2"] is False
        assert rows["w"] is True

    def test_relate_on_mixed_gc_raises_jts_parity(self, spark):
        from geowave_spark.functions import register_all
        from py4j.protocol import Py4JJavaError

        register_all(spark)
        with pytest.raises(Exception) as ei:
            spark.sql(
                f"SELECT st_touches('{GC_MIXED}', 'POINT (10 10)') AS t"
            ).collect()
        assert "GEOMETRYCOLLECTION" in str(ei.value)

    def test_range_index_paths_accept_gc(self, spark):
        """Cell explode / envelope paths treat a mixed GC as the union
        envelope of its parts (coarse phase only needs the envelope)."""
        from geowave_spark.encode import explode_polygon_cells

        df = spark.createDataFrame([(1, GC_MIXED)], "id int, wkt string")
        cells = explode_polygon_cells(df, "wkt", keep=["id", "wkt"])
        assert cells.count() > 0

    def test_envelope_family_on_mixed_gc(self, spark):
        """r4 review fix: st_envelope / st_bbox / the min-max accessors
        route mixed collections through flatten_parts / as_components
        instead of np.vstack-ing the (kind, parts) component tuples."""
        from geowave_spark.functions import register_all

        register_all(spark)
        r = spark.sql(
            f"SELECT st_envelope('{GC_MIXED}') AS env, "
            f"       st_xmin('{GC_MIXED}') AS x0, st_ymin('{GC_MIXED}') AS y0, "
            f"       st_xmax('{GC_MIXED}') AS x1, st_ymax('{GC_MIXED}') AS y1, "
            f"       st_bbox('{GC_MIXED}', 9.0D, 9.0D, 11.0D, 11.0D) AS hit_pt, "
            f"       st_bbox('{GC_MIXED}', 30.0D, 30.0D, 40.0D, 40.0D) AS miss, "
            f"       st_bbox('{GC_MIXED}', 21.0D, 21.0D, 22.0D, 22.0D) AS hit_poly, "
            f"       st_bbox('{GC_MIXED}', 14.0D, 14.0D, 18.0D, 18.0D) AS gap, "
            f"       st_bbox_loose('{GC_MIXED}', 14.0D, 14.0D, 18.0D, 18.0D) AS gap_loose, "
            f"       st_intersects_loose('{GC_MIXED}', 'POINT (15 15)') AS il"
        ).first()
        assert r["x0"] == 0.0 and r["y0"] == 0.0
        assert r["x1"] == 24.0 and r["y1"] == 24.0
        assert "24" in r["env"] and r["env"].startswith("POLYGON")
        assert r["hit_pt"] is True and r["hit_poly"] is True
        assert r["miss"] is False
        # the 14..18 box sits in the gap between components: exact bbox
        # is False, envelope-only (LOOSE) is True
        assert r["gap"] is False and r["gap_loose"] is True
        assert r["il"] is True
