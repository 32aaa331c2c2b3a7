"""Checkpointed sink (lineage/metrics/resume), pruning predicates, streaming ingest."""

import os
import re
import tempfile

import numpy as np
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from geowave_spark.encode import with_point_cells
from geowave_spark.plans.prune import bbox_cell_predicate, pruned_bbox_scan
from geowave_spark.sfc.tiered import TieredStrategy
from geowave_spark.sources.catalog import (
    checkpointed_write,
    read_indexed,
    read_lineage,
    read_metrics,
    verify_lineage,
)
from geowave_spark.sources.fixtures import points_pdf
from geowave_spark.sources.statistics import read_statistics


@pytest.fixture(scope="module")
def pts(spark):
    return spark.createDataFrame(points_pdf(800)).withColumn(
        "grp", F.pmod(F.xxhash64("image_id"), F.lit(6)).cast("int")
    ).cache()


class TestCheckpointedWrite:
    def test_write_resume_skips_done_partitions(self, spark, pts):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "tbl")
            # simulate a partial run: first write only groups 0-2
            first = checkpointed_write(pts.where(F.col("grp") <= 2), path, "grp")
            assert sorted(first["written"]) == ["0", "1", "2"] and first["skipped"] == []
            # resume with the full input: groups 0-2 must be skipped
            second = checkpointed_write(pts, path, "grp")
            assert sorted(second["written"]) == ["3", "4", "5"]
            assert sorted(second["skipped"]) == ["0", "1", "2"]
            # full table present exactly once
            got = read_indexed(spark, path)
            assert got.count() == pts.count()
            assert got.select("image_id").distinct().count() == pts.count()
            # third run: everything skipped, nothing duplicated
            third = checkpointed_write(pts, path, "grp")
            assert third["written"] == [] and len(third["skipped"]) == 6
            assert read_indexed(spark, path).count() == pts.count()

    def test_lineage_and_metrics(self, spark, pts):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "tbl")
            checkpointed_write(pts, path, "grp")
            lin = {r["part_key"]: r["n_rows"] for r in read_lineage(spark, path).collect()}
            want = {str(r["grp"]): r["n"] for r in pts.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
            assert lin == want
            assert verify_lineage(spark, path, pts, "grp")
            m = read_metrics(spark, path).collect()
            assert len(m) == 6 and all(r["minx"] >= -180 and r["maxx"] <= 180 for r in m)


    def test_bad_column_writes_nothing(self, spark, pts):
        """Every aggregate resolves before the first write: a misspelled
        stats field, or a missing lat beside lon, raises with nothing
        written, and a retry with the right fields writes stats for every
        partition."""
        with tempfile.TemporaryDirectory() as d:
            path, no_lat = os.path.join(d, "tbl"), os.path.join(d, "no_lat")
            with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
                checkpointed_write(pts, path, "grp", stats_fields=["lon", "no_such_col"])
            with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
                checkpointed_write(pts.drop("lat"), no_lat, "grp")
            assert os.listdir(d) == []
            res = checkpointed_write(pts, path, "grp", stats_fields=["lon", "lat"])
            assert res["skipped"] == [] and len(res["written"]) == 6
            stats = {(r["part_key"], r["field"]) for r in read_statistics(spark, path).collect()}
            assert stats == {(p, f) for p in res["written"] for f in ("lon", "lat")}

    def test_lineage_read_failure_raises(self, spark, pts):
        """A missing or empty lineage table means nothing is written yet;
        an unreadable one raises, naming its path, instead of re-appending
        every partition."""
        with tempfile.TemporaryDirectory() as d:
            path, empty = os.path.join(d, "tbl"), os.path.join(d, "empty")
            checkpointed_write(pts, path, "grp")
            with open(os.path.join(path, "lineage", "part-99999-bad.parquet"), "wb") as f:
                f.write(b"not a parquet file")
            with pytest.raises(RuntimeError, match=re.escape(f"{path}/lineage")):
                checkpointed_write(pts, path, "grp")
            assert read_indexed(spark, path).count() == pts.count()
            os.makedirs(os.path.join(empty, "lineage"))
            assert len(checkpointed_write(pts, empty, "grp")["written"]) == 6


class TestPruning:
    strat = TieredStrategy()

    def test_pruned_scan_equals_exact_filter(self, spark, pts):
        tier = 10
        idx = with_point_cells(pts, strategy=TieredStrategy(max_bits=tier))
        bbox = (-40.0, -30.0, 35.0, 25.0)
        got = {
            r["image_id"]
            for r in pruned_bbox_scan(idx, TieredStrategy(max_bits=tier), bbox, tier).collect()
        }
        want = {
            r["image_id"]
            for r in pts.where(
                (F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
                & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])
            ).collect()
        }
        assert got == want

    def test_loose_scan_superset(self, spark, pts):
        tier = 10
        strat = TieredStrategy(max_bits=tier)
        idx = with_point_cells(pts, strategy=strat)
        bbox = (-40.0, -30.0, 35.0, 25.0)
        loose = {r["image_id"] for r in pruned_bbox_scan(idx, strat, bbox, tier, loose=True).collect()}
        exact = {r["image_id"] for r in pruned_bbox_scan(idx, strat, bbox, tier).collect()}
        assert exact <= loose

    def test_predicate_prunes_parquet_scan(self, spark, pts, tmp_path):
        """The coarse predicate must reach the parquet reader as pushed
        filters (the Iceberg min/max pruning analog)."""
        tier = 10
        strat = TieredStrategy(max_bits=tier)
        idx = with_point_cells(pts, strategy=strat)
        p = str(tmp_path / "idx.parquet")
        idx.write.parquet(p)
        scan = spark.read.parquet(p).where(
            bbox_cell_predicate(strat, (-40.0, -30.0, 35.0, 25.0), tier)
        )
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "cell" in plan


class TestSpatialTemporalPruning:
    """Spatial-temporal gated query ("this bbox, this month") — the
    reference's second default index (SpatialTemporalDimensionalityTypeProvider)."""

    BBOX = (-60.0, -30.0, 40.0, 30.0)
    T0, T1 = "2024-01-08 00:00:00", "2024-01-22 00:00:00"

    @pytest.fixture(scope="class")
    def ev(self, spark):
        import pandas as pd

        r = np.random.default_rng(21)
        n = 3000
        ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
            r.integers(0, 30 * 86_400, n), unit="s"
        )
        pdf = pd.DataFrame(
            {
                "event_id": np.arange(n),
                "ts": ts,
                "lon": r.uniform(-180, 180, n),
                "lat": r.uniform(-90, 90, n),
            }
        )
        return spark.createDataFrame(pdf).cache()

    def test_pruned_scan_equals_exact_filter(self, spark, ev):
        from geowave_spark.encode import with_spatiotemporal_cells
        from geowave_spark.plans.prune import pruned_spatiotemporal_scan
        from geowave_spark.sfc import DEFAULT_ST_STRATEGY

        idx = with_spatiotemporal_cells(ev)
        got = {
            r["event_id"]
            for r in pruned_spatiotemporal_scan(
                idx, DEFAULT_ST_STRATEGY, self.BBOX, self.T0, self.T1
            ).collect()
        }
        want = {
            r["event_id"]
            for r in ev.where(
                (F.col("lon") >= self.BBOX[0]) & (F.col("lon") <= self.BBOX[2])
                & (F.col("lat") >= self.BBOX[1]) & (F.col("lat") <= self.BBOX[3])
                & (F.col("ts") >= F.lit(self.T0)) & (F.col("ts") < F.lit(self.T1))
            ).collect()
        }
        assert got == want and len(want) > 20

    def test_loose_superset_and_pushdown(self, spark, ev, tmp_path):
        from geowave_spark.encode import with_spatiotemporal_cells
        from geowave_spark.plans.prune import (
            pruned_spatiotemporal_scan,
            st_cell_predicate,
        )
        from geowave_spark.sfc import DEFAULT_ST_STRATEGY

        idx = with_spatiotemporal_cells(ev)
        loose = {
            r["event_id"]
            for r in pruned_spatiotemporal_scan(
                idx, DEFAULT_ST_STRATEGY, self.BBOX, self.T0, self.T1, loose=True
            ).collect()
        }
        exact = {
            r["event_id"]
            for r in pruned_spatiotemporal_scan(
                idx, DEFAULT_ST_STRATEGY, self.BBOX, self.T0, self.T1
            ).collect()
        }
        assert exact <= loose
        # coarse predicate reaches the parquet reader as pushed filters
        p = str(tmp_path / "st_idx.parquet")
        idx.write.parquet(p)
        scan = spark.read.parquet(p).where(
            st_cell_predicate(DEFAULT_ST_STRATEGY, self.BBOX, self.T0, self.T1)
        )
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "cell" in plan


class TestStreaming:
    def test_rate_stream_encode_and_window(self, spark, tmp_path):
        from geowave_spark.streaming.ingest import (
            ingest_to_table,
            synthetic_point_stream,
            windowed_cell_counts,
        )

        import glob
        import time

        stream = synthetic_point_stream(spark, rows_per_second=500)
        q = ingest_to_table(stream, str(tmp_path / "tbl"), str(tmp_path / "ckpt"))
        # Wait until at least one micro-batch with rows has COMMITTED
        # (recentProgress only reports completed batches); the file sink's
        # _spark_metadata log then guarantees the read below sees only
        # committed files even if q.stop() interrupts an in-flight write.
        deadline = time.time() + 90
        while time.time() < deadline and not any(
            p["numInputRows"] > 0 for p in q.recentProgress
        ):
            time.sleep(1)
        q.stop()
        q.awaitTermination(30)
        out = spark.read.parquet(str(tmp_path / "tbl" / "data"))
        n = out.count()
        assert n > 0 and set(["cell", "lon", "lat"]) <= set(out.columns)
        assert glob.glob(str(tmp_path / "tbl" / "data" / "tier=*"))
        # windowed agg compiles into a valid streaming plan
        win = windowed_cell_counts(synthetic_point_stream(spark))
        assert win.isStreaming

    def test_parse_kafka_records_batch(self, spark):
        # the kafka value-parse stage is a pure transform: drive it with a
        # batch DataFrame shaped exactly like the kafka source's output
        import json

        from geowave_spark.streaming.ingest import encode_stream, parse_kafka_records

        payloads = [
            json.dumps({"event_id": 1, "lon": 10.5, "lat": -3.25}),
            json.dumps({"event_id": 2, "lon": 181.0, "lat": 0.0}),  # out of range
            "not json at all",                                        # malformed
            json.dumps({"event_id": 4, "lon": -179.9, "lat": 89.9}),
            json.dumps({"lon": 1.0, "lat": 1.0}),                     # missing id
        ]
        rows = [
            (str(i).encode(), p.encode(), "points", 0, i)
            for i, p in enumerate(payloads)
        ]
        batch = spark.createDataFrame(
            rows, "key binary, value binary, topic string, partition int, offset long"
        ).withColumn("timestamp", F.current_timestamp())
        got = parse_kafka_records(batch).orderBy("event_id").collect()
        assert [(r.event_id, r.lon, r.lat) for r in got] == [
            (1, 10.5, -3.25),
            (4, -179.9, 89.9),
        ]
        # and the parsed shape feeds the same cell encoder as the rate source
        enc = encode_stream(parse_kafka_records(batch))
        assert {"tier", "cell"} <= set(enc.columns)


class TestStatefulStreaming:
    def test_dedup_stream_plan(self, spark):
        from geowave_spark.streaming.ingest import dedup_stream, synthetic_point_stream

        s = dedup_stream(synthetic_point_stream(spark), id_col="event_id")
        assert s.isStreaming

    def test_stateful_cell_counts_runs(self, spark, tmp_path):
        import time

        from geowave_spark.streaming.ingest import stateful_cell_counts, synthetic_point_stream

        out = stateful_cell_counts(synthetic_point_stream(spark, rows_per_second=2000))
        q = (
            out.writeStream.format("memory")
            .queryName("cellcounts")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="1 seconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            rows = []
            while time.time() < deadline:
                rows = spark.sql("SELECT * FROM cellcounts").collect()
                if len(rows) >= 3 and any(r.total > 0 for r in rows):
                    break
                time.sleep(1)
            assert rows and all(r.total > 0 for r in rows)
            # cumulative: totals only grow across batches for the same cell
            time.sleep(3)
            later = {(r.cx, r.cy): r.total for r in spark.sql(
                "SELECT cx, cy, max(total) AS total FROM cellcounts GROUP BY cx, cy").collect()}
            first = {}
            for r in rows:
                first.setdefault((r.cx, r.cy), r.total)
            grew = [later[k] >= v for k, v in first.items() if k in later]
            assert grew and all(grew)
        finally:
            q.stop()
            q.awaitTermination(30)


class TestDeploy:
    def test_pyfiles_zip_contents(self, tmp_path):
        import zipfile

        from geowave_spark.deploy import build_zip

        z = build_zip(str(tmp_path / "pkg.zip"))
        names = zipfile.ZipFile(z).namelist()
        assert "geowave_spark/operators/join.py" in names
        assert "geowave_spark/sfc/hilbert.py" in names
        assert all(n.endswith(".py") for n in names)


class TestStreamPipJoin:
    def test_static_side_over_broadcast_limit_raises(self, spark):
        from geowave_spark.sources.fixtures import regions_pdf
        from geowave_spark.streaming.ingest import stream_pip_join, synthetic_point_stream

        regions = spark.createDataFrame(regions_pdf(30))
        stream = synthetic_point_stream(spark, rows_per_second=10)
        with pytest.raises(ValueError, match="exceeds broadcast_limit=10"):
            stream_pip_join(stream, regions, broadcast_limit=10)

    def test_stream_static_pip_matches_batch(self, spark, tmp_path):
        """Stream-static PIP join over a memory-ish harness: run the rate
        stream briefly into a sink, then re-check every emitted (event,
        region) pair against the batch broadcast join on the captured
        points — identical pair semantics, zero stream-side shuffle."""
        import time

        from geowave_spark.operators.join import point_in_polygon_join
        from geowave_spark.sources.fixtures import regions_pdf
        from geowave_spark.streaming.ingest import (
            stream_pip_join,
            synthetic_point_stream,
        )

        regions = spark.createDataFrame(regions_pdf(300))
        stream = synthetic_point_stream(spark, rows_per_second=2000)
        hits = stream_pip_join(
            stream, regions, keep=("event_id", "ts", "lon", "lat")
        )
        assert hits.isStreaming
        q = (
            hits.writeStream.format("memory")
            .queryName("pip_hits")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_pip"))
            .trigger(processingTime="1 seconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                if spark.sql("SELECT count(*) c FROM pip_hits").first()["c"] >= 20:
                    break
                time.sleep(1)
        finally:
            q.stop()
            q.awaitTermination(30)
        got_rows = spark.sql(
            "SELECT DISTINCT event_id, region_id, lon, lat FROM pip_hits"
        ).collect()
        assert len(got_rows) >= 20
        # batch-side truth over the captured points
        pts = spark.createDataFrame(
            [(r["event_id"], r["lon"], r["lat"]) for r in got_rows],
            "event_id long, lon double, lat double",
        ).distinct()
        want = {
            (r["event_id"], r["region_id"])
            for r in point_in_polygon_join(
                pts, regions, "event_id", "region_id"
            ).collect()
        }
        got = {(r["event_id"], r["region_id"]) for r in got_rows}
        # every streamed hit must be a batch hit (the same kernel decides
        # both, so this is an end-to-end plumbing check, not tautology:
        # it catches keep-column misalignment / id permutation bugs)
        assert got <= want

    def test_windowed_region_counts_compiles_streaming(self, spark):
        from geowave_spark.sources.fixtures import regions_pdf
        from geowave_spark.streaming.ingest import (
            synthetic_point_stream,
            windowed_region_counts,
        )

        regions = spark.createDataFrame(regions_pdf(50))
        win = windowed_region_counts(synthetic_point_stream(spark), regions)
        assert win.isStreaming
        assert {"win", "region_id", "n"} <= set(win.columns)
