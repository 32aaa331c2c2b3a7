"""The workloads: seeded inputs, the queries of one pass, and the
driver-side kernel probes of the traced run.

A workload is a sequence of parts; one pass runs every part's steps in
order, one after another, from a single client (the driver).  A step's
``build`` constructs the operator's DataFrame — the driver-side planning
and probe jobs run here — and the benchmark then forces it with one
digest aggregate (``perfbench.digest``).  Steps whose work is an action
of its own (table writes) return their check value directly.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geowave_spark.operators.join import JOIN_MAX_DUPLICATES
from geowave_spark.sfc.tiered import TieredStrategy

STRATEGY = TieredStrategy()
# the checkpointed table's cell column: tier 10 (0.35° × 0.18° cells)
STORE_STRATEGY = TieredStrategy(max_bits=10)


@dataclass
class Step:
    """One query of a pass.  ``build`` returns a DataFrame to digest, or
    (for writes) a finished check value."""

    op: str
    build: Callable[[], object]
    loose: tuple[str, ...] = ()
    kind: str = "query"  # "query" | "write" | "scan"
    check: str = ""  # key under which the output is checked


def _median_ns(fn, n_items: int, repeats: int = 3) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times)) / max(n_items, 1) * 1e9


def _write_parquet(pdf: pd.DataFrame, path: str, files: int, schema=None) -> float:
    """Write a pandas frame as ``files`` parquet files, without a Spark job
    (so set-up does not warm the JVM the cold pass is meant to find cold);
    returns MB written.  ``schema`` is an optional Spark schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema) if schema is not None else None
    os.makedirs(path)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), files)):
        table = pa.Table.from_pandas(
            pdf.iloc[chunk], schema=arrow_schema, preserve_index=False
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    return _path_mb(path)


def _vertices(wkt: str) -> np.ndarray:
    from geowave_spark.geom import flatten_parts, parse_wkt_multi

    return np.vstack(flatten_parts(parse_wkt_multi(wkt)))


def _envelopes(wkts) -> np.ndarray:
    """(minx, miny, maxx, maxy) per WKT geometry."""
    out = np.empty((len(wkts), 4), dtype=np.float64)
    for i, w in enumerate(wkts):
        c = _vertices(w)
        out[i] = (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())
    return out


def _polygon_wkt(ring: np.ndarray) -> str:
    # repr keeps every bit, so a corner placed on a track vertex is that vertex
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring.tolist()) + "))"


def _path_mb(path: str) -> float:
    from .host import dir_bytes

    return dir_bytes(path)[0] / (1024.0 * 1024.0)


class Part:
    def __init__(self, seed: int, cpus: int, scratch):
        self.seed = seed
        self.cpus = cpus
        self.scratch = scratch
        self.fixture_mb = 0.0
        self.spark: SparkSession | None = None

    def path(self, name: str) -> str:
        return os.path.join(self.scratch.inputs, name)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def generate(self, spark: SparkSession) -> None:
        """Make the seeded inputs and write them under the run's scratch."""
        raise NotImplementedError

    def steps(self, pass_no: int) -> list[Step]:
        raise NotImplementedError

    def after_pass(self, pass_no: int) -> None:
        """Drop what a pass left behind (caches the operators persisted)."""
        self.spark.catalog.clearCache()

    def store_stats(self, pass_no: int) -> dict[str, float]:
        """Bytes and files the pass's writes left on disk."""
        return {}

    def probes(self) -> dict[str, float]:
        """Driver-side kernel timings on a fixed sample of the inputs."""
        return {}


# ---------------------------------------------------------------------------
# point joins
# ---------------------------------------------------------------------------


class PointJoins(Part):
    """Zipf-skewed points: distance self-join (auto salt), then KDE in
    EPSG:3857.  ``knn_join`` is not run in the pass (a run has no time
    for it)."""

    N = 4_000
    RADIUS = 0.01
    KDE_LEVEL = 7

    def generate(self, spark):
        from geowave_spark.sources.fixtures import points_pdf

        self.pdf = points_pdf(self.N, seed=self.seed)
        self.fixture_mb = _write_parquet(self.pdf, self.path("points"), self.cpus * 2)

    def steps(self, pass_no):
        from geowave_spark.operators.join import distance_join
        from geowave_spark.operators.kde import kde

        def _dj():
            pts = self.read("points")
            right = pts.select(F.col("image_id").alias("rid"), "lon", "lat")
            return distance_join(pts, right, self.RADIUS, "image_id", "rid", salt="auto")

        return [
            Step("distance_join", _dj),
            Step(
                "kde", lambda: kde(self.read("points"), self.KDE_LEVEL, crs="EPSG:3857"),
                loose=("pct",),
            ),
        ]

    def probes(self):
        from geowave_spark.crs import transform_df
        from geowave_spark.encode import explode_envelope_cells

        from .digest import digest

        out = {}
        lon = self.pdf["lon"].to_numpy()
        lat = self.pdf["lat"].to_numpy()
        r = self.RADIUS
        tier = STRATEGY.tier_for_width(2 * r, 2 * r)
        out["sfc.point_cell_ns"] = _median_ns(
            lambda: STRATEGY.point_cells_at_tier(lon, lat, tier), len(lon)
        )
        rows = STRATEGY.envelope_cells_at_tier(lon - r, lat - r, lon + r, lat + r, tier)[0]
        out["sfc.envelope_cell_ns"] = _median_ns(
            lambda: STRATEGY.envelope_cells_at_tier(lon - r, lat - r, lon + r, lat + r, tier),
            len(lon),
        )
        out["sfc.cells_per_envelope"] = len(rows) / len(lon)
        pts = self.read("points")
        t0 = time.perf_counter()
        got = digest(
            explode_envelope_cells(
                pts, F.col("lon") - r, F.col("lat") - r, F.col("lon") + r, F.col("lat") + r,
                keep=["image_id"], tier=tier,
            )
        )
        out["encode.explode_s"] = time.perf_counter() - t0
        out["encode.rows_out_per_in"] = got["rows"] / self.N
        t0 = time.perf_counter()
        digest(transform_df(pts, "EPSG:4326", "EPSG:3857"))
        out["crs.transform_s"] = time.perf_counter() - t0
        return out


# ---------------------------------------------------------------------------
# indexed store
# ---------------------------------------------------------------------------


class IndexedStore(Part):
    """Writes beside reads, on the point cell keys.  Each pass ingests the
    point batch into a bucketed table and a checkpointed partitioned table
    with statistics, then runs a closed loop of bbox range scans — every
    window through both tables, which must agree.  ``bucketed_distance_join``
    is not run in the pass (a run has no time for it)."""

    N = 4_000
    # the bucketed table's cells are sized for this join radius (tier 11,
    # 0.18° × 0.09° cells), so a city window is one to four cells and a
    # 2° window about 250
    RADIUS = 0.04
    BUCKETS = 16
    # window sides in degrees, city and region; a scan costs 0.3-2 s on
    # the seed code (plan plus one Spark job), so the loop is sized to
    # the run's time budget, not to the p90's sample count
    WINDOW_DEG = (0.05, 2.0)
    TABLE = "perfbench_points"

    def generate(self, spark):
        from geowave_spark.sources.fixtures import points_pdf

        pdf = points_pdf(self.N, seed=self.seed + 5)
        pdf["part"] = np.floor((pdf["lon"].to_numpy() + 180.0) / 45.0).astype(np.int32)
        self.pdf = pdf
        self.fixture_mb = _write_parquet(pdf, self.path("batch"), self.cpus * 2)
        self.windows = self._windows()
        # raw bytes of the ingested columns, the base of store.write_amp
        self.input_bytes = float(self.N * (8 + 8 + 4) + pdf["image_id"].str.len().sum())

    def _windows(self) -> list[tuple[float, float, float, float]]:
        """One window per size, each centred on a seeded input point — so
        most land on the hot clusters where 80% of the points are, and
        every seed scans the same sizes."""
        rng = np.random.default_rng(self.seed + 11)
        out = []
        for size in self.WINDOW_DEG:
            i = int(rng.integers(0, self.N))
            half = 0.5 * size
            cx, cy = float(self.pdf["lon"].iat[i]), float(self.pdf["lat"].iat[i])
            out.append(
                (max(cx - half, -180.0), max(cy - half, -90.0),
                 min(cx + half, 180.0), min(cy + half, 90.0))
            )
        return out

    def ckpt_path(self, pass_no: int) -> str:
        return os.path.join(self.scratch.tables, f"ckpt-{pass_no}")

    def steps(self, pass_no):
        from geowave_spark.encode import with_point_cells
        from geowave_spark.plans.prune import pruned_bbox_scan
        from geowave_spark.sources.bucketing import (
            bucketed_bbox_scan,
            write_bucketed_points,
        )
        from geowave_spark.sources.catalog import checkpointed_write, read_indexed

        spark = self.spark
        ckpt = self.ckpt_path(pass_no)
        opened: dict[str, DataFrame] = {}

        def _write_bucketed():
            tier = write_bucketed_points(
                self.read("batch").select("image_id", "lon", "lat"), self.TABLE, self.RADIUS,
                n_buckets=self.BUCKETS,
            )
            return {"rows": tier, "hash": "tier", "loose": 0.0}

        def _write_ckpt():
            batch = with_point_cells(self.read("batch"), strategy=STORE_STRATEGY)
            res = checkpointed_write(batch, ckpt, "part", stats_fields=["lon", "lat"])
            return {"rows": len(res["written"]), "hash": ",".join(res["written"]), "loose": 0.0}

        def _bucketed(bbox):
            return bucketed_bbox_scan(spark, self.TABLE, bbox).select("image_id", "lon", "lat")

        def _pruned(bbox):
            # the client opens the written table once, at its first scan
            if "ckpt" not in opened:
                opened["ckpt"] = read_indexed(spark, ckpt)
            return pruned_bbox_scan(
                opened["ckpt"], STORE_STRATEGY, bbox, tier=STORE_STRATEGY.max_bits,
            ).select("image_id", "lon", "lat")

        steps = [
            Step("write_bucketed", _write_bucketed, kind="write"),
            Step("checkpointed_write", _write_ckpt, kind="write"),
        ]
        for w, bbox in enumerate(self.windows):
            for scan in (_bucketed, _pruned):
                steps.append(
                    Step("bbox_scan", lambda scan=scan, bbox=bbox: scan(bbox),
                         kind="scan", check=f"window{w}")
                )
        return steps

    def after_pass(self, pass_no):
        super().after_pass(pass_no)
        shutil.rmtree(self.ckpt_path(pass_no), ignore_errors=True)

    def store_stats(self, pass_no):
        from .host import dir_bytes

        b1, f1 = dir_bytes(os.path.join(self.scratch.warehouse, self.TABLE))
        b2, f2 = dir_bytes(self.ckpt_path(pass_no))
        return {
            "store.mb_written": (b1 + b2) / (1024.0 * 1024.0),
            "store.files_written": float(f1 + f2),
            "store.write_amp": (b1 + b2) / self.input_bytes,
        }


# ---------------------------------------------------------------------------
# geometry joins
# ---------------------------------------------------------------------------


class GeometryJoins(Part):
    """points × polygons (broadcast grid PIP), then a polygon × track
    intersects join.  The ``touches`` predicate is not run in the pass
    (a run has no time for it); the traced run times its DE-9IM kernel
    on every envelope-overlapping pair instead."""

    N_POINTS = 20_000
    N_REGIONS = 600
    # pair-join regions are small regions_pdf shapes (the seed code
    # re-covers every probe envelope at every distinct build tier, so one
    # 20° region against one tier-18 track is ~10^8 probe rows) and the
    # tracks those at tiers 11-12; a fixed count of each, drawn from more,
    # so every seed joins the same number of rows
    N_PAIR_REGIONS = 280
    N_PAIR_REGIONS_DRAWN = 700
    PAIR_REGION_MAX_DEG = 0.5
    N_TRACKS = 150
    N_TRACKS_DRAWN = 600
    TRACK_TIERS = (11, 12)
    # boxes planted with a corner on a track's first vertex
    N_TOUCH = 40

    def generate(self, spark):
        from geowave_spark.sources.fixtures import points_pdf, regions_pdf, tracks_pdf

        self.points_pd = points_pdf(self.N_POINTS, seed=self.seed)
        self.regions_pd = regions_pdf(self.N_REGIONS, seed=self.seed + 1)
        tracks = tracks_pdf(self.N_TRACKS_DRAWN, seed=self.seed + 2)
        env = _envelopes(tracks["wkt"])
        row, tier, _cell = STRATEGY.envelope_insertion_ids(
            env[:, 0], env[:, 1], env[:, 2], env[:, 3], max_duplicates=JOIN_MAX_DUPLICATES
        )
        track_tier = np.zeros(len(tracks), dtype=np.int64)
        track_tier[row] = tier
        keep = np.isin(track_tier, self.TRACK_TIERS)
        self.tracks_pd = tracks[keep].head(self.N_TRACKS).reset_index(drop=True)
        self.pair_regions_pd = self._pair_regions(regions_pdf(self.N_PAIR_REGIONS_DRAWN, seed=self.seed + 3))
        mb = _write_parquet(self.points_pd, self.path("points"), self.cpus * 2)
        mb += _write_parquet(self.regions_pd, self.path("regions"), 1)
        mb += _write_parquet(self.pair_regions_pd, self.path("pair_regions"), 1)
        mb += _write_parquet(self.tracks_pd, self.path("tracks"), 1)
        self.fixture_mb = mb

    def _pair_regions(self, shapes: pd.DataFrame) -> pd.DataFrame:
        """The small fixture shapes moved onto track vertices, so the
        intersects join has hits, plus boxes whose corner is a track's
        first vertex and that lie away from its first segment, so the
        touches relation holds for some pairs."""
        rng = np.random.default_rng(self.seed + 4)
        verts = [_vertices(w) for w in self.tracks_pd["wkt"]]
        rows = []
        for rid, w in zip(shapes["region_id"], shapes["wkt"]):
            if len(rows) == self.N_PAIR_REGIONS:
                break
            ring = _vertices(w)
            if np.ptp(ring, axis=0).max() > self.PAIR_REGION_MAX_DEG:
                continue
            v = verts[int(rng.integers(len(verts)))]
            ring = ring - ring[:-1].mean(axis=0) + v[int(rng.integers(len(v)))]
            rows.append((rid, _polygon_wkt(ring)))
        for j in range(min(self.N_TOUCH, len(verts))):
            (x0, y0), (x1, y1) = verts[j][0], verts[j][1]
            sx = -1.0 if x1 > x0 else 1.0
            sy = -1.0 if y1 > y0 else 1.0
            h = 10 ** rng.uniform(-2, -0.5)
            ring = np.array(
                [[x0, y0], [x0 + sx * h, y0], [x0 + sx * h, y0 + sy * h], [x0, y0 + sy * h], [x0, y0]]
            )
            rows.append((f"tch{j:06d}", _polygon_wkt(ring)))
        return pd.DataFrame(rows, columns=["region_id", "wkt"])

    def steps(self, pass_no):
        from geowave_spark.operators.join import geom_pair_join, point_in_polygon_join

        return [
            Step(
                "pip_join",
                lambda: point_in_polygon_join(
                    self.read("points"), self.read("regions"), "image_id", "region_id"
                ),
            ),
            Step(
                "geom_pair_join",
                lambda: geom_pair_join(
                    self.read("pair_regions"), self.read("tracks"), "region_id", "track_id"
                ),
            ),
        ]

    def probes(self):
        from geowave_spark.encode import explode_polygon_cells
        from geowave_spark.geom import LocalGeomGrid, parse_wkt_multi
        from geowave_spark.relate import prepare, relate_touches

        from .digest import digest

        out = {}
        lon = self.points_pd["lon"].to_numpy()
        lat = self.points_pd["lat"].to_numpy()
        out["sfc.point_cell_ns"] = _median_ns(lambda: STRATEGY.point_cells(lon, lat), len(lon))
        parsed_tracks = [parse_wkt_multi(w) for w in self.tracks_pd["wkt"]]
        env = _envelopes(self.tracks_pd["wkt"])
        rows = STRATEGY.envelope_insertion_ids(env[:, 0], env[:, 1], env[:, 2], env[:, 3])[0]
        out["sfc.envelope_cell_ns"] = _median_ns(
            lambda: STRATEGY.envelope_insertion_ids(env[:, 0], env[:, 1], env[:, 2], env[:, 3]),
            len(env),
        )
        out["sfc.cells_per_envelope"] = len(rows) / len(env)
        t0 = time.perf_counter()
        got = digest(explode_polygon_cells(self.read("tracks"), "wkt", keep=["track_id"]))
        out["encode.explode_s"] = time.perf_counter() - t0
        out["encode.rows_out_per_in"] = got["rows"] / len(self.tracks_pd)

        parsed = [parse_wkt_multi(w) for w in self.regions_pd["wkt"]]
        t0 = time.perf_counter()
        grid = LocalGeomGrid(list(self.regions_pd["region_id"]), parsed)
        out["geom.grid_build_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        rows, codes = grid.candidates(lon, lat)
        out["geom.lookup_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        hit = grid.intersects(lon[rows], lat[rows], codes)
        out["geom.refine_s"] = time.perf_counter() - t0
        out["geom.candidates"] = float(len(rows))
        out["geom.hits"] = float(np.count_nonzero(hit))

        # relate: every (region, track) pair whose envelopes overlap
        reg = [parse_wkt_multi(w) for w in self.pair_regions_pd["wkt"]]
        renv = _envelopes(self.pair_regions_pd["wkt"])
        ov = (
            (renv[:, None, 0] <= env[None, :, 2])
            & (env[None, :, 0] <= renv[:, None, 2])
            & (renv[:, None, 1] <= env[None, :, 3])
            & (env[None, :, 1] <= renv[:, None, 3])
        )
        ia, ib = np.nonzero(ov)
        t0 = time.perf_counter()
        prep_a = {i: prepare(reg[i]) for i in set(ia.tolist())}
        prep_b = {j: prepare(parsed_tracks[j]) for j in set(ib.tolist())}
        for i, j in zip(ia.tolist(), ib.tolist()):
            relate_touches(prep_a[i], prep_b[j])
        dt = time.perf_counter() - t0
        out["relate.pairs"] = float(len(ia))
        out["relate.us_per_pair"] = dt / max(len(ia), 1) * 1e6
        return out


# ---------------------------------------------------------------------------
# image pipeline
# ---------------------------------------------------------------------------


class ImagePipeline(Part):
    """tile_images → merge_tiles, pHash near-dups from the encoded bytes
    (two images planted twice), and cosine near-dups over an embedding
    table with planted near-duplicates."""

    N_IMAGES = 16
    N_DUP_IMAGES = 2
    N_VECS = 1_000
    DIM = 32
    N_PLANTED = 50
    TILE = 32
    # 8 bands of 8 hyperplane bits: ~N²/512 candidate pairs per band, so
    # the vectors the seed code carries through the band shuffle stay in
    # the tens of MB
    LSH_PLANES = 64
    LSH_BANDS = 8

    def image_offset(self) -> int:
        return (self.seed % 100_000) * self.N_IMAGES

    def generate(self, spark):
        from geowave_spark.sources.images import IMAGE_SCHEMA, gen_images_pdf

        off = self.image_offset()
        images = gen_images_pdf(np.arange(off, off + self.N_IMAGES))
        # planted duplicates: byte copies under the next ids (an image's
        # footprint is derived from its id)
        dups = images.iloc[: self.N_DUP_IMAGES].assign(
            image_id=gen_images_pdf(off + self.N_IMAGES + np.arange(self.N_DUP_IMAGES))["image_id"]
        )
        images = pd.concat([images, dups], ignore_index=True)
        mb = _write_parquet(images, self.path("images"), self.cpus * 2, IMAGE_SCHEMA)
        rng = np.random.default_rng(self.seed)
        base = rng.standard_normal((self.N_VECS, self.DIM))
        src = rng.choice(self.N_VECS, self.N_PLANTED, replace=False)
        dup = base[src] + 0.05 * rng.standard_normal((self.N_PLANTED, self.DIM))
        vecs = np.vstack([base, dup])
        emb = pd.DataFrame(
            {
                "vec_id": [f"v{i:06d}" for i in range(len(vecs))],
                "embedding": list(vecs),
            }
        )
        mb += _write_parquet(emb, self.path("embeddings"), self.cpus * 2)
        self.fixture_mb = mb

    def steps(self, pass_no):
        from geowave_spark.operators.imagedup import image_phash_neardup
        from geowave_spark.operators.similarity import cosine_neardup_pairs
        from geowave_spark.raster.tiling import merge_tiles, tile_images
        from geowave_spark.sources.images import with_geometry

        def _tiles():
            # the pipeline keeps its tiles for the merge, as a job would
            self.tiles = tile_images(with_geometry(self.read("images")), tile_size=self.TILE).persist()
            return self.tiles

        return [
            Step("tile_images", _tiles),
            Step("merge_tiles", lambda: merge_tiles(self.tiles, tile_size=self.TILE)),
            Step("phash_neardup", lambda: image_phash_neardup(self.read("images"), max_hamming=4)),
            Step(
                "cosine_neardup",
                lambda: cosine_neardup_pairs(
                    self.read("embeddings"), threshold=0.95,
                    num_planes=self.LSH_PLANES, bands=self.LSH_BANDS,
                ),
            ),
        ]

    def probes(self):
        from geowave_spark.raster.codec import decode_image
        from geowave_spark.sources.images import gen_images_pdf

        off = self.image_offset()
        sample = gen_images_pdf(np.arange(off, off + 48))
        out = {}
        for fmt in ("png", "jpeg", "bmp"):
            blobs = [bytes(b) for b, f in zip(sample["bytes"], sample["fmt"]) if f == fmt]
            out[f"raster.decode_us.{fmt}"] = (
                _median_ns(lambda: [decode_image(b, fmt) for b in blobs], len(blobs)) / 1e3
            )
        return out


# Each workload runs its parts' steps in this order in every pass.  The
# issue's four workloads are merged two by two: see perfbench/README.md.
WORKLOADS = {
    "point_joins_store": (PointJoins, IndexedStore),
    "geometry_images": (GeometryJoins, ImagePipeline),
}
