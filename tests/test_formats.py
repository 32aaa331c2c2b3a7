"""Ingest format plugins (sources/formats.py): shapefile + dbf + gpx.

Round-trips a generated point shapefile (writer emits the public layout
byte-for-byte), parses hand-built polygon/polyline records, and feeds
the parsed output straight into a spatial operator — the reference's
ingest-plugin contract (external format → features → query)."""

import struct

import numpy as np
import pandas as pd
import pytest

from geowave_spark.sources.formats import (
    _parse_shp_records,
    read_gpx,
    read_shapefile,
    write_shapefile_points,
)


@pytest.fixture(scope="module")
def shp_points(tmp_path_factory):
    rng = np.random.default_rng(3)
    n = 500
    pdf = pd.DataFrame(
        {
            "lon": rng.uniform(-60, 60, n).round(5),
            "lat": rng.uniform(-40, 40, n).round(5),
            "name": [f"site{i:03d}" for i in range(n)],
            "value": rng.uniform(0, 10, n).round(3),
        }
    )
    base = str(tmp_path_factory.mktemp("shp") / "pts")
    write_shapefile_points(pdf, base)
    return pdf, base


class TestShapefile:
    def test_point_round_trip_with_attributes(self, spark, shp_points):
        pdf, base = shp_points
        df = read_shapefile(spark, base + ".shp")
        got = df.orderBy("fid").toPandas()
        assert len(got) == len(pdf)
        assert (got["shape"] == "POINT").all()
        # geometry round-trips through WKT
        lon = got["wkt"].str.extract(r"POINT \(([-0-9.e]+) ")[0].astype(float)
        assert np.allclose(lon.to_numpy(), pdf["lon"].to_numpy())
        # dbf attributes survive
        assert got["name"].iloc[7] == "site007"
        assert got["value"].iloc[3] == pytest.approx(pdf["value"].iloc[3], abs=1e-6)

    def test_parallel_ranges_cover_all_records(self, spark, shp_points):
        pdf, base = shp_points
        df = read_shapefile(spark, base + ".shp", parallelism=7)
        assert df.count() == len(pdf)
        assert df.select("fid").distinct().count() == len(pdf)

    def test_polygon_and_polyline_records(self):
        def rec(recno, stype, pts, nparts=1):
            body = struct.pack("<i", stype)
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            body += struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
            body += struct.pack("<ii", nparts, len(pts))
            body += struct.pack(f"<{nparts}i", *([0] * nparts))
            for x, y in pts:
                body += struct.pack("<dd", x, y)
            return struct.pack(">ii", recno, len(body) // 2) + body

        ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (0.0, 0.0)]
        line = [(1.0, 1.0), (2.0, 5.0), (7.0, 5.0)]
        buf = rec(1, 5, ring) + rec(2, 3, line)
        rows = _parse_shp_records(buf, [0, len(rec(1, 5, ring))])
        assert rows[0][1] == "POLYGON" and rows[0][2].startswith("POLYGON ((0 0, 4 0, 4 3")
        assert rows[1][1] == "POLYLINE" and rows[1][2] == "LINESTRING (1 1, 2 5, 7 5)"

    def test_feeds_spatial_operator(self, spark, shp_points):
        """Parsed shapefile points join against a polygon table — the
        ingest → query contract."""
        from geowave_spark.operators.join import point_in_polygon_join

        pdf, base = shp_points
        pts = read_shapefile(spark, base + ".shp", attributes=False)
        pts = pts.selectExpr(
            "fid",
            "CAST(regexp_extract(wkt, 'POINT \\\\(([-0-9.e]+) ', 1) AS DOUBLE) AS lon",
            "CAST(regexp_extract(wkt, ' ([-0-9.e]+)\\\\)', 1) AS DOUBLE) AS lat",
        )
        polys = spark.createDataFrame(
            [(1, "POLYGON ((-20 -20, 20 -20, 20 20, -20 20, -20 -20))")],
            "region_id int, wkt string",
        )
        got = {r["fid"] for r in point_in_polygon_join(pts, polys, "fid", "region_id").collect()}
        want = set(
            np.arange(1, len(pdf) + 1)[
                (pdf.lon.to_numpy() >= -20) & (pdf.lon.to_numpy() <= 20)
                & (pdf.lat.to_numpy() >= -20) & (pdf.lat.to_numpy() <= 20)
            ]
        )
        assert got == want and len(want) > 10


class TestGpx:
    def test_track_points(self, spark, tmp_path):
        gpx = """<?xml version="1.0"?>
<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">
  <trk><name>t</name><trkseg>
    <trkpt lon="-71.1" lat="42.3"><ele>12.5</ele><time>2024-01-01T00:00:00Z</time></trkpt>
    <trkpt lon="-71.2" lat="42.4"><ele>13.0</ele><time>2024-01-01T00:01:00Z</time></trkpt>
  </trkseg><trkseg>
    <trkpt lon="-71.3" lat="42.5"/>
  </trkseg></trk>
</gpx>"""
        p = tmp_path / "a.gpx"
        p.write_text(gpx)
        df = read_gpx(spark, str(p))
        rows = df.orderBy("seg", "seq").collect()
        assert len(rows) == 3
        assert rows[0]["lon"] == -71.1 and rows[0]["ele"] == 12.5
        assert rows[2]["seg"] == 1 and rows[2]["ele"] is None
        assert rows[1]["wkt"] == "POINT (-71.2 42.4)"


class TestGeoTiff:
    """Baseline GeoTIFF parse (sources/geotiff.py): writer→reader
    round-trip, georeferencing, and the feed into general raster tiling."""

    def test_round_trip_float32(self, tmp_path):
        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        rng = np.random.default_rng(5)
        arr = rng.normal(0, 1, (20, 30, 2)).astype(np.float32)
        p = str(tmp_path / "a.tif")
        write_geotiff(p, arr, origin=(-10.5, 42.25), res=0.01)
        got, meta = parse_geotiff(open(p, "rb").read())
        assert np.array_equal(got, arr)
        assert meta["origin"] == (-10.5, 42.25)
        assert meta["pixel_scale"][0] == 0.01

    def test_nonzero_tiepoint_anchor(self, tmp_path):
        """ModelTiepoint anchored at raster (I, J) ≠ (0, 0): the recovered
        raster-(0,0) origin must subtract (I·scale_x, J·scale_y) — a
        non-origin anchor was silently mis-georeferenced (round-2 ADVICE).
        Built by patching the writer's tiepoint doubles in place (the
        writer always emits a (0,0) anchor, so round-trips can't catch it)."""
        import struct

        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        arr = (np.arange(4 * 5) % 7).astype(np.float32).reshape(4, 5, 1)
        p = str(tmp_path / "tp.tif")
        res = 0.25
        write_geotiff(p, arr, origin=(10.0, 20.0), res=res)
        raw = bytearray(open(p, "rb").read())
        # the writer's tiepoint payload is (0,0,0, 10.0, 20.0, 0.0); move
        # the anchor to raster (2, 3) and shift the model point to match:
        # model(2,3) = (10 + 2*res, 20 + 3*res)
        old = struct.pack("<6d", 0.0, 0.0, 0.0, 10.0, 20.0, 0.0)
        new = struct.pack("<6d", 2.0, 3.0, 0.0, 10.0 + 2 * res, 20.0 + 3 * res, 0.0)
        i = raw.find(old)
        assert i >= 0, "writer tiepoint payload not found"
        raw[i : i + len(old)] = new
        got, meta = parse_geotiff(bytes(raw))
        assert np.array_equal(got, arr)
        assert meta["origin"] == (10.0, 20.0)

    def test_round_trip_uint16_bigendian_reject(self, tmp_path):
        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        arr = (np.arange(6 * 8) % 1000).astype(np.uint16).reshape(6, 8, 1)
        p = str(tmp_path / "b.tif")
        write_geotiff(p, arr, origin=(0.0, 0.0), res=0.5)
        got, meta = parse_geotiff(open(p, "rb").read())
        assert np.array_equal(got, arr) and meta["bands"] == 1
        with pytest.raises(ValueError):
            parse_geotiff(b"XX\x00\x2a")

    def test_spark_read_feeds_tiling(self, spark, tmp_path):
        from geowave_spark.raster.grid import RasterSpec, tile_rasters
        from geowave_spark.sources.geotiff import read_geotiffs, write_geotiff

        rng = np.random.default_rng(9)
        for i in range(3):
            arr = rng.normal(50, 5, (24, 32, 1)).astype(np.float32)
            write_geotiff(
                str(tmp_path / f"r{i}.tif"), arr, origin=(-5 + i, 10.0), res=0.002
            )
        df = read_geotiffs(spark, str(tmp_path))
        rows = df.collect()
        assert len(rows) == 3 and rows[0]["bands"] == 1
        spec = RasterSpec(bands=1, dtype="float32", nodata=0.0)
        tiles = tile_rasters(df, spec, tile_size=16)
        assert tiles.count() >= 3
        t = tiles.first()
        a = spec.to_array(t["tile"], 16)
        valid = a != 0.0
        assert valid.any() and 30 < a[valid].mean() < 70


class TestGeoTiffCompression:
    """Compressed + tiled GeoTIFF (TIFF 6.0 §9/§13/§14/§15): LZW decoder
    pinned by hand-packed bitstreams, every codec by writer round-trip."""

    def test_lzw_hand_packed_vector(self):
        """Distinct bytes produce no table hits, so the stream is exactly
        Clear, the literals, EOI at 9 bits MSB-first — packable by hand."""
        from geowave_spark.sources.geotiff import lzw_decode

        codes = [256, 1, 2, 3, 257]
        acc, nacc, out = 0, 0, bytearray()
        for c in codes:
            acc = (acc << 9) | c
            nacc += 9
            while nacc >= 8:
                out.append((acc >> (nacc - 8)) & 0xFF)
                nacc -= 8
        if nacc:
            out.append((acc << (8 - nacc)) & 0xFF)
        assert lzw_decode(bytes(out)) == b"\x01\x02\x03"

    def test_lzw_kwkwk_case(self):
        """The classic code==next_code case: 'ababab' makes the encoder
        emit a code the decoder hasn't finished defining."""
        from geowave_spark.sources.geotiff import lzw_decode

        # encode by the spec by hand: a=97 b=98; w progression emits
        # 97, 98, 258(ab), 260?? — derive with the module encoder and
        # check the known first codes appear, then decode must invert it.
        from geowave_spark.sources.geotiff import lzw_encode

        data = b"ababababab"
        assert lzw_decode(lzw_encode(data)) == data

    def test_lzw_round_trip_long_table_growth(self):
        """> 512 distinct table entries forces the 9→10 bit early change
        on both sides; random-ish data exercises hit and miss paths."""
        from geowave_spark.sources.geotiff import lzw_decode, lzw_encode

        rng = np.random.default_rng(11)
        data = rng.integers(0, 256, 200_000, dtype=np.uint8).tobytes()
        assert lzw_decode(lzw_encode(data)) == data
        runs = (b"A" * 500 + b"B" * 300 + bytes(range(256))) * 40
        assert lzw_decode(lzw_encode(runs)) == runs

    def test_packbits_vector(self):
        """The worked example from TIFF 6.0 §9."""
        from geowave_spark.sources.geotiff import packbits_decode

        enc = bytes(
            [0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA, 0x03, 0x80, 0x00,
             0x2A, 0x22, 0xF7, 0xAA]
        )
        exp = bytes(
            [0xAA, 0xAA, 0xAA, 0x80, 0x00, 0x2A, 0xAA, 0xAA, 0xAA, 0xAA, 0x80,
             0x00, 0x2A, 0x22, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA,
             0xAA, 0xAA]
        )
        assert packbits_decode(enc) == exp

    @pytest.mark.parametrize("compression", ["deflate", "lzw"])
    @pytest.mark.parametrize("predictor", [1, 2])
    def test_compressed_strip_round_trip(self, tmp_path, compression, predictor):
        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        rng = np.random.default_rng(3)
        arr = (rng.integers(0, 4000, (33, 21, 2))).astype(np.uint16)
        p = str(tmp_path / "c.tif")
        write_geotiff(
            p, arr, origin=(1.0, 2.0), res=0.1,
            compression=compression, predictor=predictor,
        )
        got, meta = parse_geotiff(open(p, "rb").read())
        assert np.array_equal(got, arr)
        assert meta["origin"] == (1.0, 2.0)

    def test_tiled_deflate_round_trip_with_edge_tiles(self, tmp_path):
        """Raster not a multiple of the tile size: edge tiles are padded
        on disk and must be clipped on read."""
        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        rng = np.random.default_rng(4)
        arr = rng.normal(0, 10, (70, 50, 1)).astype(np.float32)
        p = str(tmp_path / "t.tif")
        write_geotiff(p, arr, origin=(5.0, 6.0), res=0.05,
                      compression="deflate", tile_size=32)
        got, meta = parse_geotiff(open(p, "rb").read())
        assert np.array_equal(got, arr)
        assert meta["width"] == 50 and meta["height"] == 70

    def test_tiled_uncompressed_predictor_uint8(self, tmp_path):
        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        arr = (np.arange(48 * 40 * 3) % 251).astype(np.uint8).reshape(48, 40, 3)
        p = str(tmp_path / "t8.tif")
        write_geotiff(p, arr, origin=(0.0, 0.0), res=1.0,
                      compression="lzw", predictor=2, tile_size=16)
        got, _ = parse_geotiff(open(p, "rb").read())
        assert np.array_equal(got, arr)

    def test_unsupported_compression_raises(self, tmp_path):
        import struct as _s

        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        arr = np.zeros((4, 4, 1), dtype=np.uint8)
        p = str(tmp_path / "u.tif")
        write_geotiff(p, arr, origin=(0.0, 0.0), res=1.0)
        raw = bytearray(open(p, "rb").read())
        # patch Compression (259) SHORT value to 34712 (JPEG2000 — out of
        # scope; 7 = baseline JPEG is now supported, see test_jpeg.py)
        i = raw.find(_s.pack("<HHI", 259, 3, 1))
        assert i >= 0
        raw[i + 8 : i + 10] = _s.pack("<H", 34712)
        with pytest.raises(ValueError, match="compression"):
            parse_geotiff(bytes(raw))


class TestGeoTiffCRS:
    def test_geokey_round_trip(self, tmp_path):
        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        arr = np.arange(12, dtype=np.float32).reshape(3, 4, 1)
        p = str(tmp_path / "utm.tif")
        write_geotiff(p, arr, origin=(500000.0, 4649776.0), res=30.0, crs="EPSG:32631")
        _, meta = parse_geotiff(open(p, "rb").read())
        assert meta["crs"] == "EPSG:32631"
        p2 = str(tmp_path / "geo.tif")
        write_geotiff(p2, arr, origin=(-10.0, 42.0), res=0.01)
        _, meta2 = parse_geotiff(open(p2, "rb").read())
        assert meta2["crs"] == "EPSG:4326"

    def test_read_geotiffs_reprojects_utm_envelope(self, spark, tmp_path):
        """A UTM-georeferenced file lands in the 4326 index with an
        envelope that covers the projected footprint (the
        RasterDataAdapter.convertToIndex behavior)."""
        from geowave_spark.crs import transform_np
        from geowave_spark.sources.geotiff import read_geotiffs, write_geotiff

        # a 100×100-pixel, 100 m tile at UTM 31N near (2°E, 45°N)
        lon0, lat0 = 2.0, 45.0
        x0, y0 = transform_np(np.array([lon0]), np.array([lat0]), "EPSG:4326", "EPSG:32631")
        w = h = 100
        res_m = 100.0
        arr = np.ones((h, w, 1), dtype=np.uint8)
        # write with the TOP-left origin convention (origin y = top)
        write_geotiff(
            str(tmp_path / "t.tif"),
            arr,
            origin=(float(x0[0]), float(y0[0]) + h * res_m),
            res=res_m,
            crs="EPSG:32631",
        )
        row = read_geotiffs(spark, str(tmp_path)).collect()[0]
        # the reprojected SW corner must sit at/under the known lon/lat
        assert row["lon"] <= lon0 + 1e-6
        assert row["lat"] <= lat0 + 1e-6
        # and the envelope must cover the tile's far corner
        xf, yf = x0[0] + w * res_m, y0[0] + h * res_m
        lon_f, lat_f = transform_np(np.array([xf]), np.array([yf]), "EPSG:32631", "EPSG:4326")
        assert row["lon"] + row["w"] * row["res"] >= lon_f[0] - 1e-6
        # ~10 km at 45N is ~0.127° lon — sanity-check the degree res
        assert 0.10 < row["w"] * row["res"] < 0.16

    def test_reprojection_carries_anisotropic_res_y(self, spark, tmp_path):
        """UTM→4326 away from the equator shrinks the y extent in degrees
        relative to x; the north edge must land at the reprojected top
        latitude via res_y, not at sw_lat + h*res_x (round-3 ADVICE)."""
        from geowave_spark.crs import transform_np
        from geowave_spark.sources.geotiff import read_geotiffs, write_geotiff

        lon0, lat0 = 2.0, 45.0
        x0, y0 = transform_np(np.array([lon0]), np.array([lat0]), "EPSG:4326", "EPSG:32631")
        w = h = 100
        res_m = 100.0
        arr = np.ones((h, w, 1), dtype=np.uint8)
        write_geotiff(
            str(tmp_path / "t.tif"),
            arr,
            origin=(float(x0[0]), float(y0[0]) + h * res_m),
            res=res_m,
            crs="EPSG:32631",
        )
        row = read_geotiffs(spark, str(tmp_path)).collect()[0]
        # at 45N a degree of latitude spans ~111 km vs ~78.8 km per degree
        # of longitude, so the degree-space pixel is anisotropic
        assert abs(row["res_y"] - row["res"]) > 0.15 * row["res"]
        # north edge covers the reprojected top corner exactly (±1e-9)
        _, yt = transform_np(
            np.array([x0[0] + w * res_m / 2]),
            np.array([y0[0] + h * res_m]),
            "EPSG:32631",
            "EPSG:4326",
        )
        top = row["lat"] + row["h"] * row["res_y"]
        assert top >= yt[0] - 1e-9
        # ~10 km of northing at 45N ≈ 0.090°; sanity-check the y span
        assert 0.085 < row["h"] * row["res_y"] < 0.095

    def test_read_geotiffs_reprojects_ext_crs_envelope(self, spark, tmp_path):
        """A Lambert-93 (EPSG:2154, crs_conic extension) GeoTIFF reads
        straight through the same front door: the geokey code resolves
        via the extended dispatch and the envelope reprojects into the
        4326 index — no special-casing for non-built-in CRSes."""
        from geowave_spark.crs import transform_np
        from geowave_spark.sources.geotiff import read_geotiffs, write_geotiff

        lon0, lat0 = 2.35, 48.85  # Paris-ish
        x0, y0 = transform_np(np.array([lon0]), np.array([lat0]), "EPSG:4326", "EPSG:2154")
        w = h = 80
        res_m = 100.0
        arr = np.ones((h, w, 1), dtype=np.uint8)
        write_geotiff(
            str(tmp_path / "l93.tif"),
            arr,
            origin=(float(x0[0]), float(y0[0]) + h * res_m),
            res=res_m,
            crs="EPSG:2154",
        )
        row = read_geotiffs(spark, str(tmp_path)).collect()[0]
        # envelope covers both the SW and the far NE corner
        assert row["lon"] <= lon0 + 1e-6 and row["lat"] <= lat0 + 1e-6
        xf, yf = x0[0] + w * res_m, y0[0] + h * res_m
        lon_f, lat_f = transform_np(np.array([xf]), np.array([yf]), "EPSG:2154", "EPSG:4326")
        assert row["lon"] + row["w"] * row["res"] >= lon_f[0] - 1e-6
        assert row["lat"] + row["h"] * row["res_y"] >= lat_f[0] - 1e-9
        # 8 km at 48.85N ≈ 0.109° lon / 0.072° lat — sanity-check spans
        assert 0.09 < row["w"] * row["res"] < 0.13
        assert 0.06 < row["h"] * row["res_y"] < 0.08

    def test_anisotropic_pixel_scale_round_trip(self, tmp_path):
        """A source file whose ModelPixelScale y differs from x keeps both
        through parse (no silent isotropy assumption)."""
        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        arr = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
        p = str(tmp_path / "a.tif")
        write_geotiff(p, arr, origin=(10.0, 20.0), res=0.5, res_y=0.25)
        _, meta = parse_geotiff(open(p, "rb").read())
        assert meta["pixel_scale"][0] == 0.5
        assert meta["pixel_scale"][1] == 0.25


class TestPalettePlanar:
    """Palette-color (Photometric 3 + ColorMap) and planar-separate
    (PlanarConfiguration 2) TIFF variants — r4, closing VERDICT missing
    #4's non-JPEG remainder."""

    def test_palette_round_trip(self, tmp_path):
        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        rng = np.random.default_rng(5)
        lut = rng.integers(0, 256, (256, 3)).astype(np.uint8)
        idx = rng.integers(0, 256, (20, 30, 1)).astype(np.uint8)
        p = str(tmp_path / "pal.tif")
        write_geotiff(p, idx, origin=(0.0, 10.0), res=0.5, colormap=lut)
        arr, meta = parse_geotiff(open(p, "rb").read())
        assert arr.shape == (20, 30, 3)
        assert meta["bands"] == 3
        # every pixel resolves through the LUT exactly
        assert np.array_equal(arr, lut[idx[:, :, 0]])

    @pytest.mark.parametrize("tile_size", [None, 16])
    @pytest.mark.parametrize("compression,predictor", [("none", 1), ("deflate", 2)])
    def test_planar_separate_round_trip(self, tmp_path, tile_size, compression, predictor):
        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        rng = np.random.default_rng(9)
        px = rng.integers(0, 256, (25, 37, 3)).astype(np.uint8)
        p = str(tmp_path / "pl.tif")
        write_geotiff(
            p,
            px,
            origin=(1.0, 2.0),
            res=0.25,
            planar=2,
            tile_size=tile_size,
            compression=compression,
            predictor=predictor,
        )
        arr, _ = parse_geotiff(open(p, "rb").read())
        assert np.array_equal(arr, px)

    def test_planar_separate_float_strips(self, tmp_path):
        from geowave_spark.sources.geotiff import parse_geotiff, write_geotiff

        rng = np.random.default_rng(3)
        px = rng.normal(0, 10, (12, 18, 2)).astype(np.float32)
        p = str(tmp_path / "plf.tif")
        write_geotiff(p, px, origin=(0.0, 0.0), res=1.0, planar=2)
        arr, _ = parse_geotiff(open(p, "rb").read())
        assert np.array_equal(arr, px)

    def test_planar_jpeg_rejected(self, tmp_path):
        from geowave_spark.sources.geotiff import write_geotiff

        px = np.zeros((8, 8, 3), dtype=np.uint8)
        with pytest.raises(ValueError, match="chunky"):
            write_geotiff(
                str(tmp_path / "x.tif"), px, origin=(0, 0), res=1.0,
                compression="jpeg", planar=2,
            )


class TestGeoJSON:
    """RFC 7946 ingest (geotools-vector GeoJSON front-door analog)."""

    GEOMS = {
        "Point": {"type": "Point", "coordinates": [10.25, -3.5]},
        "MultiPoint": {"type": "MultiPoint", "coordinates": [[1, 2], [3.5, -4]]},
        "LineString": {"type": "LineString", "coordinates": [[0, 0], [5, 5], [10, 0]]},
        "MultiLineString": {
            "type": "MultiLineString",
            "coordinates": [[[0, 0], [1, 1]], [[2, 2], [3, 3]]],
        },
        "Polygon": {  # with a hole
            "type": "Polygon",
            "coordinates": [
                [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
                [[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]],
            ],
        },
        "MultiPolygon": {
            "type": "MultiPolygon",
            "coordinates": [
                [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]],
                [[[10, 10], [14, 10], [14, 14], [10, 14], [10, 10]]],
            ],
        },
        "GeometryCollection": {
            "type": "GeometryCollection",
            "geometries": [
                {"type": "Point", "coordinates": [1, 2]},
                {"type": "LineString", "coordinates": [[0, 0], [1, 1]]},
            ],
        },
    }

    def test_every_geometry_type_parses_back(self):
        """WKT emitted by the converter must round-trip through the
        engine's own parser with exact coordinates."""
        from geowave_spark.geom import parse_wkt_multi
        from geowave_spark.sources.formats import geojson_geom_to_wkt

        for name, g in self.GEOMS.items():
            wkt = geojson_geom_to_wkt(g)
            assert wkt.startswith(name.upper())
            kind, parts = parse_wkt_multi(wkt)
            assert parts, (name, wkt)
        # hole round-trip: the polygon keeps both rings
        _, rings = parse_wkt_multi(geojson_geom_to_wkt(self.GEOMS["Polygon"]))
        assert len(rings) == 2
        assert np.allclose(rings[1][0], [4.0, 4.0])

    def test_feature_collection_typed_properties(self, spark, tmp_path):
        import json

        fc = {
            "type": "FeatureCollection",
            "features": [
                {
                    "type": "Feature",
                    "id": "a1",
                    "geometry": {"type": "Point", "coordinates": [1.5, 2.5]},
                    "properties": {"name": "alpha", "pop": 120, "frac": 0.5, "ok": True},
                },
                {
                    "type": "Feature",
                    "geometry": {"type": "Point", "coordinates": [-3.25, 7.0]},
                    "properties": {"name": "beta", "pop": 7, "frac": 1.25, "ok": False},
                },
            ],
        }
        p = tmp_path / "pts.geojson"
        p.write_text(json.dumps(fc))
        from geowave_spark.sources.formats import read_geojson

        df = read_geojson(spark, str(p))
        assert dict(df.dtypes) == {
            "fid": "string", "gtype": "string", "wkt": "string",
            "name": "string", "pop": "bigint", "frac": "double", "ok": "boolean",
        }
        rows = {r["fid"]: r for r in df.collect()}
        assert rows["a1"]["name"] == "alpha" and rows["a1"]["pop"] == 120
        assert rows["1"]["wkt"] == "POINT (-3.25 7)"
        assert rows["a1"]["ok"] is True and rows["1"]["frac"] == 1.25

    @staticmethod
    def _pop_fc(values) -> str:
        import json

        return json.dumps({"type": "FeatureCollection", "features": [
            {"type": "Feature", "geometry": {"type": "Point", "coordinates": [float(i), 0.0]},
             "properties": {"pop": v}}
            for i, v in enumerate(values)
        ]})

    @pytest.mark.parametrize("drift", [2.5, "12", True])
    def test_long_property_drift_names_column(self, spark, tmp_path, drift):
        """A property probed as long from the first file that meets a
        non-integral number, a boolean or a string in a later file raises,
        naming the column, the probed type and the value."""
        from geowave_spark.sources.formats import read_geojson

        (tmp_path / "a.geojson").write_text(self._pop_fc([1, 2]))
        (tmp_path / "b.geojson").write_text(self._pop_fc([3, 4.0, drift]))
        df = read_geojson(spark, str(tmp_path / "*.geojson"))
        assert dict(df.dtypes)["pop"] == "bigint"
        with pytest.raises(Exception) as exc:
            df.collect()
        msg = str(exc.value)
        assert "'pop' was probed as long" in msg and repr(drift) in msg

    def test_long_property_integral_float_is_kept(self, spark, tmp_path):
        from geowave_spark.sources.formats import read_geojson

        (tmp_path / "a.geojson").write_text(self._pop_fc([1, 2]))
        (tmp_path / "b.geojson").write_text(self._pop_fc([3, 5.0]))
        got = sorted(r["pop"] for r in read_geojson(spark, str(tmp_path / "*.geojson")).collect())
        assert got == [1, 2, 3, 5]

    def test_geojson_seq_splittable_path(self, spark, tmp_path):
        import json

        lines = []
        for i in range(257):
            lines.append(json.dumps({
                "type": "Feature",
                "id": i,
                "geometry": {"type": "Point", "coordinates": [i * 0.5 - 60.0, (i % 90) - 45.0]},
                "properties": {"v": i},
            }))
        p = tmp_path / "pts.ndjson"
        p.write_text("\n".join(lines) + "\n")
        from geowave_spark.sources.formats import read_geojson_seq

        df = read_geojson_seq(spark, str(p))
        assert df.count() == 257
        got = {int(r["fid"]): r["v"] for r in df.collect()}
        assert got[256] == 256 and got[0] == 0

    def test_join_from_geojson_matches_parquet_path(self, spark, tmp_path):
        """The done-criterion: a spatial join sourced from GeoJSON must
        return the same row set as the identical join from an in-memory
        (parquet-path) DataFrame."""
        import json

        from geowave_spark.operators.join import distance_join
        from geowave_spark.sources.formats import read_geojson

        rng = np.random.default_rng(31)
        n = 400
        lon = rng.uniform(-30, 30, n)
        lat = rng.uniform(-20, 20, n)
        feats = [
            {
                "type": "Feature",
                "id": int(i),
                "geometry": {"type": "Point", "coordinates": [float(lon[i]), float(lat[i])]},
                "properties": {"k": int(i)},
            }
            for i in range(n)
        ]
        p = tmp_path / "join_pts.geojson"
        p.write_text(json.dumps({"type": "FeatureCollection", "features": feats}))
        gj = read_geojson(spark, str(p)).selectExpr(
            "k as id",
            "cast(regexp_extract(wkt, 'POINT \\\\(([^ ]+) ([^)]+)\\\\)', 1) as double) as lon",
            "cast(regexp_extract(wkt, 'POINT \\\\(([^ ]+) ([^)]+)\\\\)', 2) as double) as lat",
        )
        import pandas as pd

        direct = spark.createDataFrame(
            pd.DataFrame({"qid": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})
        )
        q = direct.where("qid % 7 = 0")
        got = sorted(
            (r["id"], r["qid"])
            for r in distance_join(gj, q, 1.5, "id", "qid").collect()
        )
        want = sorted(
            (r["qid2"], r["qid"])
            for r in distance_join(
                direct.selectExpr("qid as qid2", "lon", "lat"), q, 1.5, "qid2", "qid"
            ).collect()
        )
        assert got and got == want
