"""Bucketed-table persistence: the probe side of a repeated distance
join must come out of the parquet buckets with NO Exchange, and the
row set must match the shuffle-everything path exactly."""

from __future__ import annotations

import numpy as np
import pytest

from geowave_spark.operators.join import distance_join
from geowave_spark.sources.bucketing import (
    bucketed_distance_join,
    count_exchanges,
    write_bucketed_points,
)

RADIUS = 1.5


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(7)
    n = 2500
    rows = [
        (int(i), float(lon), float(lat))
        for i, (lon, lat) in enumerate(
            zip(rng.uniform(-30, 30, n), rng.uniform(-20, 20, n))
        )
    ]
    return spark.createDataFrame(rows, "id long, lon double, lat double")


@pytest.fixture(scope="module")
def bucketed_table(spark, points):
    name = "test_bucketed_pts"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_bucketed_points(points, name, RADIUS, n_buckets=8)
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


class TestBucketedJoin:
    def test_row_set_parity_with_shuffle_path(self, spark, points, bucketed_table):
        q = points.where("id % 5 = 0").selectExpr(
            "id as qid", "lon + 0.3 as lon", "lat - 0.2 as lat"
        )
        got = sorted(
            (r["id"], r["qid"])
            for r in bucketed_distance_join(
                spark, bucketed_table, q, RADIUS, "id", "qid"
            ).collect()
        )
        want = sorted(
            (r["id"], r["qid"])
            for r in distance_join(points, q, RADIUS, "id", "qid").collect()
        )
        assert got and got == want

    def test_probe_side_has_no_exchange(self, spark, points, bucketed_table):
        # force the shuffle join family — with a broadcastable build side
        # Spark would (correctly) pick BHJ and the bucketing is moot; the
        # claim under test is the big-query-side plan shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            # filter, not limit: GlobalLimit adds its own SinglePartition
            # Exchange and would pollute the count under test
            q = points.where("id % 12 = 0").selectExpr("id as qid", "lon", "lat")
            fast = bucketed_distance_join(
                spark, bucketed_table, q, RADIUS, "id", "qid"
            )
            slow = distance_join(points, q, RADIUS, "id", "qid")
            n_fast, n_slow = count_exchanges(fast), count_exchanges(slow)
            # build side still shuffles into the buckets; the probe side
            # must not — one Exchange fewer than both-sides-shuffle
            assert n_fast == 1 and n_slow >= 2, (n_fast, n_slow)
            plan = fast._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def test_tier_mismatch_raises(self, spark, points, bucketed_table):
        q = points.limit(10).selectExpr("id as qid", "lon", "lat")
        with pytest.raises(ValueError, match="tier"):
            bucketed_distance_join(spark, bucketed_table, q, RADIUS * 40, "id", "qid")

    def test_unmanaged_table_rejected(self, spark, points):
        points.limit(5).write.mode("overwrite").saveAsTable("test_plain_pts")
        q = points.limit(5).selectExpr("id as qid", "lon", "lat")
        try:
            with pytest.raises(ValueError, match="write_bucketed_points"):
                bucketed_distance_join(spark, "test_plain_pts", q, RADIUS, "id", "qid")
        finally:
            spark.sql("DROP TABLE IF EXISTS test_plain_pts")

    def test_strategy_fingerprint_mismatch_raises(self, spark, points, bucketed_table):
        """A differently-parameterized strategy can yield the SAME tier
        number while producing disjoint cell encodings — the recorded
        fingerprint must catch it, not return an empty join (r4 review)."""
        from geowave_spark.sfc.dimensions import Dimension
        from geowave_spark.sfc.tiered import TieredStrategy

        other = TieredStrategy(
            dim_x=Dimension(-60.0, 60.0, wraps=True),
            dim_y=Dimension(-40.0, 40.0),
        )
        # same radius → possibly same tier under the shrunken ranges is
        # irrelevant: the fingerprint check fires before the tier check
        q = points.where("id % 50 = 0").selectExpr("id as qid", "lon", "lat")
        with pytest.raises(ValueError, match="strategy"):
            bucketed_distance_join(
                spark, bucketed_table, q, RADIUS, "id", "qid", strategy=other
            )
        from geowave_spark.sources.bucketing import bucketed_bbox_scan

        with pytest.raises(ValueError, match="strategy"):
            bucketed_bbox_scan(
                spark, bucketed_table, (-4.0, -3.0, 5.0, 4.0), strategy=other
            )

    def test_overwrite_db_qualified_after_registration_lost(self, spark, points, tmp_path):
        """A `db.table` whose registration is gone (in-memory catalog after
        a driver restart) but whose files survive under {warehouse}/{db}.db
        must still overwrite, not fail with LOCATION_ALREADY_EXISTS."""
        import os
        import shutil
        from urllib.parse import urlparse

        spark.sql("CREATE DATABASE IF NOT EXISTS stale_db")
        name = "stale_db.stale_pts"
        try:
            write_bucketed_points(points, name, RADIUS, n_buckets=4)
            db_dir = urlparse(spark.catalog.getDatabase("stale_db").locationUri).path
            assert db_dir.rstrip("/").endswith("stale_db.db")
            loc = os.path.join(db_dir, "stale_pts")
            assert os.path.isdir(loc)
            shutil.copytree(loc, tmp_path / "kept")
            spark.sql(f"DROP TABLE {name}")  # drops registration and files
            shutil.copytree(tmp_path / "kept", loc)  # the files outlive it
            write_bucketed_points(points.where("id < 100"), name, RADIUS, n_buckets=4)
            assert spark.table(name).count() == 100
        finally:
            spark.sql("DROP DATABASE IF EXISTS stale_db CASCADE")


class TestBucketedBboxScan:
    def test_bucket_pruned_scan_parity(self, spark, points, bucketed_table):
        from geowave_spark.sources.bucketing import bucketed_bbox_scan

        bbox = (-4.0, -3.0, 5.0, 4.0)
        pruned = bucketed_bbox_scan(spark, bucketed_table, bbox)
        got = sorted(r["id"] for r in pruned.collect())
        want = sorted(
            r["id"]
            for r in points.where(
                f"lon >= {bbox[0]} and lon <= {bbox[2]} "
                f"and lat >= {bbox[1]} and lat <= {bbox[3]}"
            ).collect()
        )
        assert got and got == want
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # planning-time bucket skip: fewer buckets selected than exist
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) < int(m.group(2)), m.group(0)

    def test_wide_bbox_falls_back_to_plain_filter(self, spark, points, bucketed_table):
        from geowave_spark.sources.bucketing import bucketed_bbox_scan

        bbox = (-30.0, -20.0, 30.0, 20.0)
        out = bucketed_bbox_scan(spark, bucketed_table, bbox, max_cells=4)
        assert out.count() == points.count()

    def test_custom_coordinate_column_names(self, spark, points):
        # the writer records which columns the cell came from; the join
        # and the pruned scan must read THOSE, not assume "lon"/"lat"
        from geowave_spark.sources.bucketing import bucketed_bbox_scan

        name = "test_bucketed_xy"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        renamed = points.selectExpr("id", "lon as x", "lat as y")
        write_bucketed_points(renamed, name, RADIUS, n_buckets=8, lon="x", lat="y")
        try:
            q = points.where("id % 5 = 0").selectExpr(
                "id as qid", "lon + 0.3 as lon", "lat - 0.2 as lat"
            )
            got = sorted(
                (r["id"], r["qid"])
                for r in bucketed_distance_join(
                    spark, name, q, RADIUS, "id", "qid"
                ).collect()
            )
            want = sorted(
                (r["id"], r["qid"])
                for r in distance_join(points, q, RADIUS, "id", "qid").collect()
            )
            assert got and got == want
            bbox = (-5.0, -4.0, 5.0, 4.0)
            scan = sorted(
                r["id"] for r in bucketed_bbox_scan(spark, name, bbox).collect()
            )
            brute = sorted(
                r["id"]
                for r in points.where(
                    f"lon >= {bbox[0]} and lon <= {bbox[2]} "
                    f"and lat >= {bbox[1]} and lat <= {bbox[3]}"
                ).collect()
            )
            assert scan == brute
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


class TestAttributeIndex:
    """Secondary (non-geometry) attribute index — AttributeIndexImpl
    semantics re-expressed as a bucketed+sorted table."""

    @pytest.fixture(scope="class")
    def attr_table(self, spark, points):
        from geowave_spark.sources.bucketing import write_attribute_index

        name = "test_attr_idx"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        tagged = points.selectExpr("id", "lon", "lat", "id % 37 as category")
        write_attribute_index(tagged, name, "category", n_buckets=16)
        yield name, tagged
        spark.sql(f"DROP TABLE IF EXISTS {name}")

    def test_equality_prunes_buckets_and_matches(self, spark, attr_table):
        import re

        from geowave_spark.sources.bucketing import attribute_index_scan

        name, tagged = attr_table
        scan = attribute_index_scan(spark, name, equals=11)
        got = sorted(r["id"] for r in scan.collect())
        want = sorted(r["id"] for r in tagged.where("category = 11").collect())
        assert got and got == want
        plan = scan._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) < int(m.group(2)), m.group(0)

    def test_in_list_prunes_buckets_and_matches(self, spark, attr_table):
        import re

        from geowave_spark.sources.bucketing import attribute_index_scan

        name, tagged = attr_table
        scan = attribute_index_scan(spark, name, values=[3, 19, 30])
        got = sorted(r["id"] for r in scan.collect())
        want = sorted(
            r["id"] for r in tagged.where("category in (3, 19, 30)").collect()
        )
        assert got and got == want
        m = re.search(
            r"SelectedBucketsCount: (\d+) out of (\d+)",
            scan._jdf.queryExecution().executedPlan().toString(),
        )
        assert m and int(m.group(1)) < int(m.group(2))

    def test_range_scan_matches_and_pushes_filter(self, spark, attr_table):
        from geowave_spark.sources.bucketing import attribute_index_scan

        name, tagged = attr_table
        scan = attribute_index_scan(spark, name, between=(5, 9))
        got = sorted(r["id"] for r in scan.collect())
        want = sorted(
            r["id"] for r in tagged.where("category between 5 and 9").collect()
        )
        assert got and got == want
        plan = scan._jdf.queryExecution().executedPlan().toString()
        # the range predicate must reach the parquet scan (row-group
        # pruning rides the sorted layout's min/max stats)
        assert "PushedFilters: [" in plan and "GreaterThanOrEqual(category,5)" in plan

    def test_guards(self, spark, points, attr_table):
        from geowave_spark.sources.bucketing import attribute_index_scan

        name, _ = attr_table
        with pytest.raises(ValueError, match="exactly one"):
            attribute_index_scan(spark, name, equals=1, between=(0, 2))
        with pytest.raises(ValueError, match="exactly one"):
            attribute_index_scan(spark, name)
        points.limit(5).write.mode("overwrite").saveAsTable("test_plain_attr")
        try:
            with pytest.raises(ValueError, match="write_attribute_index"):
                attribute_index_scan(spark, "test_plain_attr", equals=1)
        finally:
            spark.sql("DROP TABLE IF EXISTS test_plain_attr")
