"""Spatial-join row-set parity vs brute-force oracles (FIXTURES.md F3).

Mirrors GeoWaveSparkSpatialJoinIT: indexed tiered join row set must equal
the brute-force cross-join row set (`except → count()==0` both ways,
test/.../GeoWaveSparkSpatialJoinIT.java:111-172).  Oracles are numpy
cross products — exact, no index involved.
"""

import numpy as np
import pytest

from geowave_spark.geom import parse_wkt, points_in_polygon, points_polygon_dist2
from geowave_spark.operators.join import (
    distance_join,
    point_in_polygon_join,
    polygon_distance_join,
)
from geowave_spark.sources.fixtures import points_pdf, regions_pdf

N_POINTS = 1200
N_REGIONS = 120
RADIUS = 0.75


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame(points_pdf(N_POINTS)).cache()


@pytest.fixture(scope="module")
def points_b(spark):
    return (
        spark.createDataFrame(points_pdf(400, seed=7))
        .withColumnRenamed("image_id", "other_id")
        .cache()
    )


@pytest.fixture(scope="module")
def regions(spark):
    return spark.createDataFrame(regions_pdf(N_REGIONS)).cache()


def _pairs(df, a, b):
    return set(map(tuple, df.select(a, b).collect()))


def oracle_distance(pa, pb, r):
    ax = pa["lon"].to_numpy()[:, None]
    ay = pa["lat"].to_numpy()[:, None]
    bx = pb["lon"].to_numpy()[None, :]
    by = pb["lat"].to_numpy()[None, :]
    hit = (ax - bx) ** 2 + (ay - by) ** 2 <= r * r
    ii, jj = np.nonzero(hit)
    return {(pa["image_id"].iloc[i], pb.iloc[j, 0]) for i, j in zip(ii, jj)}


class TestDistanceJoin:
    def test_parity_vs_bruteforce(self, spark, points, points_b):
        got = _pairs(
            distance_join(points, points_b, RADIUS, "image_id", "other_id"),
            "image_id",
            "other_id",
        )
        want = oracle_distance(points_pdf(N_POINTS), points_pdf(400, seed=7), RADIUS)
        assert got == want
        assert len(want) > 20  # fixture actually produces matches

    def test_self_join_parity(self, spark, points):
        right = points.select(
            points.image_id.alias("rid"), "lon", "lat"
        )
        got = _pairs(
            distance_join(points, right, 0.05, "image_id", "rid"), "image_id", "rid"
        )
        pa = points_pdf(N_POINTS)
        pb = pa.rename(columns={"image_id": "rid"})
        want = oracle_distance(pa, pb[["rid", "lon", "lat"]], 0.05)
        assert got == want

    def test_negative_join(self, spark, points, points_b):
        got = {r[0] for r in distance_join(
            points, points_b, RADIUS, "image_id", "other_id", negative=True
        ).collect()}
        matched = {a for a, _ in oracle_distance(points_pdf(N_POINTS), points_pdf(400, seed=7), RADIUS)}
        want = set(points_pdf(N_POINTS)["image_id"]) - matched
        assert got == want

    def test_salted_join_same_rows(self, spark, points, points_b):
        got = _pairs(
            distance_join(points, points_b, RADIUS, "image_id", "other_id", salt=4),
            "image_id",
            "other_id",
        )
        want = oracle_distance(points_pdf(N_POINTS), points_pdf(400, seed=7), RADIUS)
        assert got == want

    def test_auto_salted_join_same_rows(self, spark, points, points_b):
        """Census-driven salting (hot cells only, per-cell factor) must
        not change the row set; low cap forces real salting on the
        clustered fixture."""
        got = _pairs(
            distance_join(
                points, points_b, RADIUS, "image_id", "other_id",
                salt="auto", salt_cap=20,
            ),
            "image_id",
            "other_id",
        )
        want = oracle_distance(points_pdf(N_POINTS), points_pdf(400, seed=7), RADIUS)
        assert got == want


class TestPolygonJoins:
    def test_pip_parity(self, spark, points, regions):
        got = _pairs(
            point_in_polygon_join(points, regions, "image_id", "region_id"),
            "image_id",
            "region_id",
        )
        pa = points_pdf(N_POINTS)
        want = set()
        for _, row in regions_pdf(N_REGIONS).iterrows():
            poly = parse_wkt(row.wkt)[1]
            hit = points_in_polygon(pa["lon"].to_numpy(), pa["lat"].to_numpy(), poly)
            want |= {(pa["image_id"].iloc[i], row.region_id) for i in np.nonzero(hit)[0]}
        assert got == want
        assert len(want) > 20

    def test_polygon_distance_parity(self, spark, points, regions):
        r = 0.5
        got = _pairs(
            polygon_distance_join(points, regions, r, "image_id", "region_id"),
            "image_id",
            "region_id",
        )
        pa = points_pdf(N_POINTS)
        want = set()
        for _, row in regions_pdf(N_REGIONS).iterrows():
            poly = parse_wkt(row.wkt)[1]
            d2 = points_polygon_dist2(pa["lon"].to_numpy(), pa["lat"].to_numpy(), poly)
            want |= {(pa["image_id"].iloc[i], row.region_id) for i in np.nonzero(d2 <= r * r)[0]}
        assert got == want

    def test_polygon_distance_negative(self, spark, points, regions):
        """negative=True = points with NO polygon within the radius
        (JoinOptions negative predicate, closed v2 stub) — brute
        complement oracle, on both plans."""
        r = 0.5
        pa = points_pdf(N_POINTS)
        near = set()
        for _, row in regions_pdf(N_REGIONS).iterrows():
            poly = parse_wkt(row.wkt)[1]
            d2 = points_polygon_dist2(pa["lon"].to_numpy(), pa["lat"].to_numpy(), poly)
            near |= {pa["image_id"].iloc[i] for i in np.nonzero(d2 <= r * r)[0]}
        want = set(pa["image_id"]) - near
        for plan in ("broadcast", "shuffle"):
            got = {
                row["image_id"]
                for row in polygon_distance_join(
                    points, regions, r, "image_id", "region_id",
                    plan=plan, negative=True,
                ).collect()
            }
            assert got == want, plan
        assert 0 < len(want) < N_POINTS

    def test_polygon_distance_salted_same_rows(self, spark, points, regions):
        """An int salt on the shuffle plan must not change the row set."""
        r = 0.5
        base = _pairs(
            polygon_distance_join(
                points, regions, r, "image_id", "region_id", plan="shuffle"
            ),
            "image_id",
            "region_id",
        )
        salted = _pairs(
            polygon_distance_join(
                points, regions, r, "image_id", "region_id",
                plan="shuffle", salt=4,
            ),
            "image_id",
            "region_id",
        )
        assert salted == base and len(base) > 20

    def test_polygon_distance_auto_salt_same_rows(self, spark, points, regions, monkeypatch):
        """salt="auto" on the shuffle plan: the census groups by its
        (tier, cell) keys and must not change the row set.  The census cap
        is lowered so that hot keys really are split."""
        import geowave_spark.operators.join as J

        salt = J._apply_salt
        monkeypatch.setattr(J, "_apply_salt", lambda b, p, keys, s, cap: salt(b, p, keys, s, 5))
        r = 0.5
        base = _pairs(
            polygon_distance_join(points, regions, r, "image_id", "region_id", plan="shuffle"),
            "image_id",
            "region_id",
        )
        auto = polygon_distance_join(
            points, regions, r, "image_id", "region_id", plan="shuffle", salt="auto"
        )
        assert _pairs(auto, "image_id", "region_id") == base and len(base) > 20
        # hot keys were found, so the salted sides were repartitioned
        assert "REPARTITION_BY_NUM" in auto._jdf.queryExecution().executedPlan().toString()


class TestShufflePolygonJoin:
    """Big-both-sides fallback (TieredSpatialJoin shape, no driver
    geometry collect) — same row sets as the brute oracle and as the
    broadcast plan."""

    def test_pip_shuffle_parity_vs_bruteforce(self, spark, points, regions):
        got = _pairs(
            point_in_polygon_join(
                points, regions, "image_id", "region_id", plan="shuffle"
            ),
            "image_id",
            "region_id",
        )
        pa = points_pdf(N_POINTS)
        want = set()
        for _, row in regions_pdf(N_REGIONS).iterrows():
            poly = parse_wkt(row.wkt)[1]
            hit = points_in_polygon(pa["lon"].to_numpy(), pa["lat"].to_numpy(), poly)
            want |= {(pa["image_id"].iloc[i], row.region_id) for i in np.nonzero(hit)[0]}
        assert got == want

    def test_polygon_distance_shuffle_parity(self, spark, points, regions):
        r = 0.5
        got = _pairs(
            polygon_distance_join(
                points, regions, r, "image_id", "region_id", plan="shuffle"
            ),
            "image_id",
            "region_id",
        )
        want = _pairs(
            polygon_distance_join(
                points, regions, r, "image_id", "region_id", plan="broadcast"
            ),
            "image_id",
            "region_id",
        )
        assert got == want
        assert len(want) > 20

    def test_auto_plan_one_job_below_limit(self, spark, points, regions):
        """Below broadcast_limit the auto plan runs ONE bounded collect that
        both picks the plan and feeds the grid: one Spark job while the
        join is built."""
        sc = spark.sparkContext
        group = "pip_auto_plan_construction"
        sc.setJobGroup(group, group)
        try:
            point_in_polygon_join(points, regions, "image_id", "region_id")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    def test_auto_plan_picks_shuffle_above_limit(self, spark, points, regions):
        """auto must switch to the shuffle plan past broadcast_limit and
        produce the identical row set."""
        got = _pairs(
            point_in_polygon_join(
                points, regions, "image_id", "region_id", broadcast_limit=10
            ),
            "image_id",
            "region_id",
        )
        want = _pairs(
            point_in_polygon_join(
                points, regions, "image_id", "region_id", plan="broadcast"
            ),
            "image_id",
            "region_id",
        )
        assert got == want

    def test_big_polygon_fixture(self, spark):
        """100k polygons (over POLYGON_BROADCAST_LIMIT would be the real
        trigger; forced here) × 2k points: shuffle plan == broadcast plan,
        with geometry never collected to the driver on the shuffle path."""
        pts = spark.createDataFrame(points_pdf(2000, seed=11)).cache()
        regs = spark.createDataFrame(regions_pdf(100_000, seed=13)).cache()
        got = _pairs(
            point_in_polygon_join(pts, regs, "image_id", "region_id", plan="shuffle"),
            "image_id",
            "region_id",
        )
        want = _pairs(
            point_in_polygon_join(pts, regs, "image_id", "region_id", plan="broadcast"),
            "image_id",
            "region_id",
        )
        assert got == want
        assert len(want) > 100
        pts.unpersist()
        regs.unpersist()


class TestHaversineJoin:
    """Geodesic (meter) distance join — numpy haversine brute oracle,
    including dateline-straddling and high-latitude pairs."""

    @staticmethod
    def _hav(lon1, lat1, lon2, lat2):
        R = 6371008.8
        p1, p2 = np.radians(lat1), np.radians(lat2)
        dphi = p2 - p1
        dl = np.radians(lon2 - lon1)
        a = np.sin(dphi / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
        return 2 * R * np.arcsin(np.sqrt(a))

    def test_meters_parity_with_edges(self, spark):
        from geowave_spark.operators.join import haversine_distance_join

        rng = np.random.default_rng(17)
        n = 600
        lon = rng.uniform(-180, 180, n)
        lat = rng.uniform(-85, 85, n)
        # force dateline-straddling and high-latitude pairs
        lon[:6] = [179.5, -179.6, 178.9, -178.8, 179.9, -179.9]
        lat[:6] = [10.0, 10.2, -30.0, -30.1, 84.0, 84.05]
        lat[6:10] = [83.5, 83.6, -84.0, -84.2]
        lon[6:10] = [10.0, 14.0, -120.0, -119.0]
        # full-ring regime: Δlon buffer ≥ 180° (these polar rows caught a
        # bug where the clamped primary envelope missed most of the ring)
        lat[10:14] = [-88.9, -88.7, 89.0, 88.8]
        lon[10:14] = [150.0, -100.0, 20.0, -170.0]
        import pandas as pd

        a = pd.DataFrame({"aid": np.arange(n), "lon": lon, "lat": lat})
        b = pd.DataFrame({"bid": np.arange(1000, 1000 + n), "lon": np.roll(lon, 7), "lat": np.roll(lat, 7)})
        r_m = 300_000.0
        got = {
            (r["aid"], r["bid"])
            for r in haversine_distance_join(
                spark.createDataFrame(a), spark.createDataFrame(b), r_m, "aid", "bid"
            ).collect()
        }
        d = self._hav(
            lon[:, None], lat[:, None], np.roll(lon, 7)[None, :], np.roll(lat, 7)[None, :]
        )
        ii, jj = np.nonzero(d <= r_m)
        want = {(int(i), int(1000 + j)) for i, j in zip(ii, jj)}
        assert got == want and len(want) > 20
        # the fixture really exercises the dateline path
        cross = [(i, j - 1000) for i, j in want if abs(lon[i] - np.roll(lon, 7)[j - 1000]) > 300]
        assert cross, "no dateline pairs in fixture"
