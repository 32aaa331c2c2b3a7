"""Ingest format plugins: ESRI Shapefile (+dBase attributes), GPX, GeoJSON.

The reference ships ingest plugins that parse external vector formats
into features (extensions/formats/* — geotools-vector covers shapefiles
and GeoJSON, gpx parses track logs).  This module reads the formats from
scratch (public specs: the ESRI Shapefile Technical Description
whitepaper, the dBase III header layout, RFC 7946 GeoJSON; GPX is plain
XML) into DataFrames whose ``wkt`` geometry column feeds every engine
operator.

Scale shape: the .shx sidecar is a fixed-stride offset index, so a large
shapefile SPLITS — the driver reads only the tiny .shx, slices the
record offsets into ``parallelism`` ranges, and each executor seeks and
parses just its byte range of the .shp (and the matching fixed-stride
.dbf slice).  No whole-file driver read at any size; works on any
storage executors can open (posix/NFS; for object stores mount or
localize first).

Supported shapes: Point (1), PolyLine (3), Polygon (5), MultiPoint (8)
plus their Z/M variants (coordinates beyond x/y are ignored, like the
reference's 2-D indexing).  Polygons emit the outer ring as WKT POLYGON;
polylines emit LINESTRING (first part) — holes/multiparts are listed in
``n_parts`` so callers can detect them.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_SHAPE_NAMES = {
    0: "NULL",
    1: "POINT",
    3: "POLYLINE",
    5: "POLYGON",
    8: "MULTIPOINT",
    11: "POINT",
    13: "POLYLINE",
    15: "POLYGON",
    18: "MULTIPOINT",
    21: "POINT",
    23: "POLYLINE",
    25: "POLYGON",
    28: "MULTIPOINT",
}


def _ring_wkt(xy: np.ndarray, kind: str) -> str:
    pts = ", ".join(f"{x:.10g} {y:.10g}" for x, y in xy)
    if kind == "POLYGON":
        return f"POLYGON (({pts}))"
    if kind == "POLYLINE":
        return f"LINESTRING ({pts})"
    return f"MULTIPOINT ({pts})"


def _parse_shp_records(buf: bytes, offsets: list[int]) -> list[tuple]:
    """Parse .shp records at the given absolute byte offsets."""
    out = []
    for off in offsets:
        recno, clen = struct.unpack(">ii", buf[off : off + 8])
        body = buf[off + 8 : off + 8 + 2 * clen]
        (stype,) = struct.unpack("<i", body[:4])
        kind = _SHAPE_NAMES.get(stype)
        if kind is None or kind == "NULL":
            out.append((recno, "NULL", None, 0))
            continue
        if kind == "POINT":
            x, y = struct.unpack("<dd", body[4:20])
            out.append((recno, "POINT", f"POINT ({x:.10g} {y:.10g})", 1))
            continue
        # bbox (4 doubles) then numParts/numPoints (polyline/polygon) or
        # numPoints (multipoint)
        if kind == "MULTIPOINT":
            (npts,) = struct.unpack("<i", body[36:40])
            xy = np.frombuffer(body, dtype="<f8", count=2 * npts, offset=40).reshape(npts, 2)
            out.append((recno, kind, _ring_wkt(xy, kind), 1))
            continue
        nparts, npts = struct.unpack("<ii", body[36:44])
        parts = np.frombuffer(body, dtype="<i4", count=nparts, offset=44)
        pts_off = 44 + 4 * nparts
        xy = np.frombuffer(body, dtype="<f8", count=2 * npts, offset=pts_off).reshape(npts, 2)
        end0 = parts[1] if nparts > 1 else npts
        out.append((recno, kind, _ring_wkt(xy[:end0], kind), int(nparts)))
    return out


def _read_shx(path: str) -> np.ndarray:
    """Record offsets (absolute bytes into the .shp) from the .shx index."""
    with open(path, "rb") as f:
        raw = f.read()
    words = np.frombuffer(raw[100:], dtype=">i4").reshape(-1, 2)
    return words[:, 0].astype(np.int64) * 2  # 16-bit words → bytes


def _read_dbf_header(path: str) -> tuple[int, int, int, list[tuple[str, str, int]]]:
    """(n_records, header_len, record_len, [(name, type, len)]) of a dBase III file."""
    with open(path, "rb") as f:
        head = f.read(32)
        n_rec, hdr_len, rec_len = struct.unpack("<IHH", head[4:12])
        fields = []
        while True:
            fd = f.read(32)
            if not fd or fd[0:1] == b"\r":
                break
            name = fd[:11].split(b"\x00")[0].decode("ascii", "replace")
            ftype = fd[11:12].decode("ascii")
            flen = fd[16]
            fields.append((name, ftype, flen))
            if 32 + 32 * len(fields) >= hdr_len:
                break
    return n_rec, hdr_len, rec_len, fields


def _parse_dbf_slice(path: str, hdr_len: int, rec_len: int, fields, start: int, count: int) -> pd.DataFrame:
    with open(path, "rb") as f:
        f.seek(hdr_len + start * rec_len)
        raw = f.read(count * rec_len)
    cols: dict[str, list] = {name: [] for name, _, _ in fields}
    for i in range(count):
        rec = raw[i * rec_len : (i + 1) * rec_len]
        pos = 1  # deletion flag byte
        for name, ftype, flen in fields:
            cell = rec[pos : pos + flen]
            pos += flen
            text = cell.decode("latin-1").strip()
            if ftype in ("N", "F"):
                cols[name].append(float(text) if text else None)
            else:
                cols[name].append(text or None)
    return pd.DataFrame(cols)


def read_shapefile(
    spark: SparkSession,
    path: str,
    parallelism: int | None = None,
    attributes: bool = True,
) -> DataFrame:
    """Read ``path`` (.shp, with .shx and optional .dbf siblings) into a
    DataFrame (fid, shape, wkt, n_parts [+ dbf attribute columns]).

    Driver reads ONLY the .shx offsets; record ranges parse on executors.
    """
    base = path[:-4] if path.lower().endswith(".shp") else path
    shp, shx, dbf = base + ".shp", base + ".shx", base + ".dbf"
    offsets = _read_shx(shx)
    n = len(offsets)
    par = parallelism or max(1, min(n, spark.sparkContext.defaultParallelism))
    bounds = np.linspace(0, n, par + 1).astype(int)
    ranges = [
        (int(bounds[i]), int(bounds[i + 1]))
        for i in range(par)
        if bounds[i + 1] > bounds[i]
    ]
    has_dbf = attributes and os.path.exists(dbf)
    dbf_meta = _read_dbf_header(dbf) if has_dbf else None
    offs_list = offsets.tolist()

    def _parse(it):
        for lo, hi in it:
            with open(shp, "rb") as f:
                f.seek(int(offs_list[lo]))
                end = int(offs_list[hi]) if hi < n else os.path.getsize(shp)
                chunk = f.read(end - int(offs_list[lo]))
            rel = [int(o - offs_list[lo]) for o in offs_list[lo:hi]]
            rows = _parse_shp_records(chunk, rel)
            pdf = pd.DataFrame(rows, columns=["fid", "shape", "wkt", "n_parts"])
            if has_dbf:
                _, hdr_len, rec_len, fields = dbf_meta
                attrs = _parse_dbf_slice(dbf, hdr_len, rec_len, fields, lo, hi - lo)
                pdf = pd.concat([pdf.reset_index(drop=True), attrs.reset_index(drop=True)], axis=1)
            yield pdf

    # schema from a tiny driver-side probe (first ≤20 records)
    probe = next(_parse([(0, min(20, n))]))
    sample = spark.createDataFrame(probe)
    cols = list(sample.columns)
    rdd = (
        spark.sparkContext.parallelize(ranges, len(ranges))
        .mapPartitions(_parse)
        .flatMap(lambda pdf: list(pdf[cols].itertuples(index=False, name=None)))
    )
    return spark.createDataFrame(rdd, sample.schema)


def write_shapefile_points(pdf: pd.DataFrame, base: str, lon: str = "lon", lat: str = "lat") -> None:
    """Write a minimal point shapefile (.shp/.shx/.dbf) — used by tests and
    round-trip checks; emits dBase III with one N field per numeric column
    and C for strings."""
    n = len(pdf)
    recs = []
    offsets = []
    pos = 100
    for i in range(n):
        content = struct.pack("<i", 1) + struct.pack("<dd", float(pdf[lon].iloc[i]), float(pdf[lat].iloc[i]))
        rec = struct.pack(">ii", i + 1, len(content) // 2) + content
        offsets.append(pos)
        recs.append(rec)
        pos += len(rec)
    total = pos
    minx, maxx = float(pdf[lon].min()), float(pdf[lon].max())
    miny, maxy = float(pdf[lat].min()), float(pdf[lat].max())
    header = struct.pack(">i", 9994) + b"\x00" * 20 + struct.pack(">i", total // 2)
    header += struct.pack("<ii", 1000, 1)
    header += struct.pack("<8d", minx, miny, maxx, maxy, 0, 0, 0, 0)
    with open(base + ".shp", "wb") as f:
        f.write(header)
        for rec in recs:
            f.write(rec)
    shx_rows = b"".join(
        struct.pack(">ii", off // 2, (len(rec) - 8) // 2) for off, rec in zip(offsets, recs)
    )
    shx_header = header[:24] + struct.pack(">i", (100 + 8 * n) // 2) + header[28:]
    with open(base + ".shx", "wb") as f:
        f.write(shx_header)
        f.write(shx_rows)
    # dbf: attribute columns other than lon/lat
    cols = [c for c in pdf.columns if c not in (lon, lat)]
    fields = []
    for c in cols:
        if pd.api.types.is_numeric_dtype(pdf[c]):
            fields.append((c[:10], "N", 18))
        else:
            fields.append((c[:10], "C", 32))
    rec_len = 1 + sum(f[2] for f in fields)
    hdr_len = 32 + 32 * len(fields) + 1
    with open(base + ".dbf", "wb") as f:
        f.write(struct.pack("<B3BIHH", 3, 95, 1, 1, n, hdr_len, rec_len) + b"\x00" * 20)
        for name, ftype, flen in fields:
            f.write(name.encode().ljust(11, b"\x00") + ftype.encode() + b"\x00" * 4 + bytes([flen]) + b"\x00" * 15)
        f.write(b"\r")
        for i in range(n):
            row = b" "
            for (name, ftype, flen), c in zip(fields, cols):
                v = pdf[c].iloc[i]
                if ftype == "N":
                    row += f"{v:>{flen}.6f}".encode()[:flen]
                else:
                    row += str(v)[:flen].encode("latin-1").ljust(flen)
            f.write(row)


def read_gpx(spark: SparkSession, path: str) -> DataFrame:
    """Parse a GPX track log into (track, seg, seq, lon, lat, ele, time, wkt)
    point rows — the gpx ingest plugin analog.  Files parse on executors
    via binaryFile (one task per file; GPX files are small per the format's
    field use)."""
    import xml.etree.ElementTree as ET

    def _points(content: bytes):
        root = ET.fromstring(content)
        ns = ""
        if root.tag.startswith("{"):
            ns = root.tag.split("}")[0] + "}"
        rows = []
        for ti, trk in enumerate(root.iter(f"{ns}trk")):
            for si, seg in enumerate(trk.iter(f"{ns}trkseg")):
                for qi, pt in enumerate(seg.iter(f"{ns}trkpt")):
                    lon = float(pt.attrib["lon"])
                    lat = float(pt.attrib["lat"])
                    ele = pt.find(f"{ns}ele")
                    tm = pt.find(f"{ns}time")
                    rows.append(
                        (
                            ti,
                            si,
                            qi,
                            lon,
                            lat,
                            float(ele.text) if ele is not None else None,
                            tm.text if tm is not None else None,
                            f"POINT ({lon:.10g} {lat:.10g})",
                        )
                    )
        return rows

    files = spark.read.format("binaryFile").load(path).select("content")
    rdd = files.rdd.flatMap(lambda r: _points(bytes(r["content"])))
    return spark.createDataFrame(
        rdd, "track int, seg int, seq int, lon double, lat double, ele double, time string, wkt string"
    )


# ---------------------------------------------------------------------------
# GeoJSON (RFC 7946) — geotools-vector front-door analog
# ---------------------------------------------------------------------------


def geojson_geom_to_wkt(geom: dict | None) -> str | None:
    """RFC 7946 geometry object → WKT (every type, incl. polygon holes
    and nested GeometryCollection — the engine's WKT parser flattens the
    collection to union-of-components, r4 semantics).  Coordinates keep
    full float64 precision (``%.17g``) so ingest→parse round-trips
    bit-exact; any altitude (3rd element) is dropped like the 2-D
    shapefile path."""
    if geom is None:
        return None
    t = geom["type"]

    def pt(p):
        return f"{float(p[0]):.17g} {float(p[1]):.17g}"

    def ring(r):
        return "(" + ", ".join(pt(p) for p in r) + ")"

    if t == "Point":
        return f"POINT ({pt(geom['coordinates'])})"
    if t == "MultiPoint":
        return "MULTIPOINT (" + ", ".join(pt(p) for p in geom["coordinates"]) + ")"
    if t == "LineString":
        return "LINESTRING " + ring(geom["coordinates"])
    if t == "MultiLineString":
        return (
            "MULTILINESTRING ("
            + ", ".join(ring(r) for r in geom["coordinates"])
            + ")"
        )
    if t == "Polygon":
        return "POLYGON (" + ", ".join(ring(r) for r in geom["coordinates"]) + ")"
    if t == "MultiPolygon":
        return (
            "MULTIPOLYGON ("
            + ", ".join(
                "(" + ", ".join(ring(r) for r in poly) + ")"
                for poly in geom["coordinates"]
            )
            + ")"
        )
    if t == "GeometryCollection":
        return (
            "GEOMETRYCOLLECTION ("
            + ", ".join(geojson_geom_to_wkt(g) for g in geom["geometries"])
            + ")"
        )
    raise ValueError(f"unsupported GeoJSON geometry type {t!r}")


def _geojson_features(obj: dict) -> list[dict]:
    t = obj.get("type")
    if t == "FeatureCollection":
        return obj["features"]
    if t == "Feature":
        return [obj]
    # bare geometry object
    return [{"type": "Feature", "geometry": obj, "properties": {}}]


def _feature_rows(
    feats: list[dict], keys: list[str], default_ids: bool = True
) -> list[tuple]:
    rows = []
    for i, ft in enumerate(feats):
        g = ft.get("geometry")
        props = ft.get("properties") or {}
        fid = ft.get("id")
        if fid is None and default_ids:
            fid = i  # position within ONE document — meaningless across lines
        rows.append(
            (
                str(fid) if fid is not None else None,
                g.get("type") if g else None,
                geojson_geom_to_wkt(g),
                *(props.get(k) for k in keys),
            )
        )
    return rows


def _prop_schema(feats: list[dict]) -> list[tuple[str, str]]:
    """(key, spark type) per property, first-seen order; a key is long if
    every non-null value is a bool-free int, double if numeric, boolean
    if bool, else string (the same inference family as spark.read.json)."""
    order: list[str] = []
    kinds: dict[str, set] = {}
    for ft in feats:
        for k, v in (ft.get("properties") or {}).items():
            if k not in kinds:
                order.append(k)
                kinds[k] = set()
            if v is None:
                continue
            if isinstance(v, bool):
                kinds[k].add("boolean")
            elif isinstance(v, int):
                kinds[k].add("long")
            elif isinstance(v, float):
                kinds[k].add("double")
            else:
                kinds[k].add("string")
    out = []
    for k in order:
        s = kinds[k]
        if s <= {"long"} and s:
            t = "long"
        elif s <= {"long", "double"} and s:
            t = "double"
        elif s == {"boolean"}:
            t = "boolean"
        else:
            t = "string"
        out.append((k, t))
    return out


def read_geojson(
    spark: SparkSession, path: str, parallelism: int | None = None
) -> DataFrame:
    """Read GeoJSON file(s) (FeatureCollection / single Feature / bare
    geometry) into (fid, gtype, wkt [+ typed property columns]).

    One task per file (a FeatureCollection is one JSON document — not
    line-splittable; use :func:`read_geojson_seq` for the newline-
    delimited scale format).  The schema comes from a driver-side probe
    of the FIRST file, mirroring the shapefile reader: later files'
    extra property keys are dropped, missing keys are null."""
    import json
    from glob import glob

    paths = sorted(glob(path)) if any(ch in path for ch in "*?[") else None
    if paths is not None and not paths:
        raise FileNotFoundError(f"no files match GeoJSON glob {path!r}")
    first = paths[0] if paths else path
    if paths is None and os.path.isdir(path):
        paths = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith((".json", ".geojson"))
        )
        if not paths:
            raise FileNotFoundError(f"no .json/.geojson files in {path!r}")
        first = paths[0]
    with open(first, "rb") as f:
        probe_feats = _geojson_features(json.loads(f.read()))
    prop_cols = _prop_schema(probe_feats[:200])
    keys = [k for k, _ in prop_cols]
    schema = "fid string, gtype string, wkt string" + "".join(
        f", `{k}` {t}" for k, t in prop_cols
    )
    coerce = {k: t for k, t in prop_cols}

    def _parse(content: bytes):
        feats = _geojson_features(json.loads(content))
        rows = _feature_rows(feats, keys)
        # coerce to the probed types; a long-probed column that meets a
        # non-integral number, a boolean or a string in a later feature is
        # schema drift the probe missed — fail rather than truncate
        out = []
        for r in rows:
            fixed = list(r[:3])
            for (k, _t), v in zip(prop_cols, r[3:]):
                if v is not None:
                    t = coerce[k]
                    if t == "double":
                        v = float(v)
                    elif t == "long":
                        if isinstance(v, float) and v.is_integer():
                            v = int(v)
                        elif isinstance(v, bool) or not isinstance(v, int):
                            raise ValueError(
                                f"GeoJSON property {k!r} was probed as long from "
                                f"{first!r} but a later feature has {v!r}"
                            )
                    elif t == "string" and not isinstance(v, str):
                        v = json.dumps(v)
                    elif t == "boolean":
                        v = bool(v)
                fixed.append(v)
            out.append(tuple(fixed))
        return out

    files = spark.read.format("binaryFile").load(paths or path).select("content")
    rdd = files.rdd.flatMap(lambda r: _parse(bytes(r["content"])))
    return spark.createDataFrame(rdd, schema)


def read_geojson_seq(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited GeoJSON (GeoJSONSeq / *.ndjson: one Feature per
    line) → the same (fid, gtype, wkt [+ properties]) rows.

    This is the 100 TB path: plain text lines SPLIT, so a single huge
    file scans with full parallelism — schema probed from the first 200
    lines, parsing runs in executors via mapPartitions."""
    import json

    txt = spark.read.text(path)
    head = [r["value"] for r in txt.limit(200).collect() if r["value"].strip()]
    probe = [json.loads(s) for s in head]
    probe_feats = [f for obj in probe for f in _geojson_features(obj)]
    prop_cols = _prop_schema(probe_feats)
    keys = [k for k, _ in prop_cols]
    schema = "fid string, gtype string, wkt string" + "".join(
        f", `{k}` {t}" for k, t in prop_cols
    )

    def _parse(it):
        import json as _json

        for r in it:
            s = r["value"].strip()
            if not s:
                continue
            rows = _feature_rows(
                _geojson_features(_json.loads(s)), keys, default_ids=False
            )
            yield from rows

    return spark.createDataFrame(txt.rdd.mapPartitions(_parse), schema)
