"""Spatial SQL function registry.

From-scratch analog of GeoWave's Spark SQL UDF registry
(analytics/spark/.../sparksql/udf/UDFRegistrySPI.java:16-27 +
GeomFunctionRegistry.java:41-60: GeomDistance, GeomFromWKT,
GeomContains/Intersects/Within/WithinDistance …) and the GWQL predicate
surface (core/geotime/.../gwql/SpatialPredicates.java): after
``register_all(spark)`` users can write plain ``spark.sql`` —

    SELECT * FROM a JOIN b
    ON st_within_distance(st_point(a.lon, a.lat), b.wkt, 0.5)

Geometry travels as WKT strings (no shapely/UDT); every function is an
Arrow pandas UDF over the vectorized numpy kernels in ``geowave_spark.geom``
and ``geowave_spark.relate``, registered in one loop that applies Spark's
NULL-in, NULL-out rule.  GWQL's grammar is
a strict subset of Spark SQL once these are registered (SURVEY.md §3.2), so
there is no separate parser: Spark SQL *is* the SQL surface.

Scale note: predicates used in a join's ON clause force a cross-product
plan — for large joins use the indexed operators (operators/join.py); these
functions are the parity surface for filters and small joins, exactly like
the reference (SqlQueryRunner swaps in TieredSpatialJoin for the big case).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, StringType

from ..geom import (
    flatten_parts,
    pairs_dist2,
    parse_wkt_cached,
    polygon_envelope,
    rects_hit_geoms,
)
from ..relate import RELATIONS, relation_batch


def _sql_udf(rtype, fn):
    """Arrow pandas UDF over ``fn(*cols) -> values``, with Spark's NULL
    rule applied once for every function: a row with a NULL argument
    returns NULL and never reaches ``fn``."""

    @F.pandas_udf(rtype)
    def udf(*cols: pd.Series) -> pd.Series:
        null = np.logical_or.reduce([c.isna().to_numpy() for c in cols])
        if not null.any():
            return pd.Series(fn(*cols))
        out = pd.Series([None] * len(null), dtype=object)
        if not null.all():
            keep = ~null
            out[keep] = list(fn(*(c[keep].reset_index(drop=True) for c in cols)))
        return out

    return udf


# WKT coordinate token (2D engine: numbers come in x y pairs)
_WKT_NUM_RE = re.compile(r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?")


def _st_transform_batch(g: pd.Series, src: pd.Series, dst: pd.Series) -> list:
    """st_transform: reproject WKT geometries between CRSes — the SQL face
    of the engine's geotools-reprojection analog (the reference reprojects
    feature/raster geometry into the index CRS on ingest, core/geotime
    GeometryUtils crsTransform path; any CRS the :mod:`geowave_spark.crs`
    dispatch accepts works here, including crs_conic registry codes and
    +proj= strings).

    Structure-preserving by construction: rows are grouped by (src, dst),
    each WKT's coordinate tokens are located textually and substituted in
    place, so ring grouping (holes, multipolygon shells) and nested
    GEOMETRYCOLLECTION nesting survive exactly — no parse→flatten→
    reserialize loss.  The arithmetic is ONE vectorized transform_np call
    over all coordinates of a group per Arrow batch; only tokenization and
    substitution are per-row."""
    from ..crs import transform_np

    gv = g.to_numpy(dtype=object)
    sv = src.to_numpy(dtype=object)
    dv = dst.to_numpy(dtype=object)
    out: list = [None] * len(gv)
    groups: dict[tuple, list[int]] = {}
    for i in range(len(gv)):
        groups.setdefault((sv[i], dv[i]), []).append(i)
    for (s, d), idxs in groups.items():
        row_tok = []
        xs: list[float] = []
        ys: list[float] = []
        for i in idxs:
            toks = list(_WKT_NUM_RE.finditer(gv[i]))
            if len(toks) % 2:
                raise ValueError(
                    f"odd coordinate count (XY only) in WKT: {gv[i][:48]!r}"
                )
            row_tok.append(toks)
            vals = [float(t.group()) for t in toks]
            xs.extend(vals[0::2])
            ys.extend(vals[1::2])
        X, Y = transform_np(np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64), s, d)
        bad = ~(np.isfinite(X) & np.isfinite(Y))
        if bad.any():
            # repr(inf/nan) is not valid WKT and the failure would surface
            # far downstream — fail loudly at the source instead
            k = int(np.nonzero(bad)[0][0])
            raise ValueError(
                f"st_transform: coordinate ({xs[k]}, {ys[k]}) is outside the "
                f"domain of {s!r}→{d!r} (non-finite result)"
            )
        pos = 0
        for i, toks in zip(idxs, row_tok):
            w = gv[i]
            n = len(toks) // 2
            pieces = []
            last = 0
            for j in range(n):
                tx, ty = toks[2 * j], toks[2 * j + 1]
                pieces.append(w[last : tx.start()])
                pieces.append(repr(float(X[pos + j])))
                pieces.append(w[tx.end() : ty.start()])
                pieces.append(repr(float(Y[pos + j])))
                last = ty.end()
            pieces.append(w[last:])
            out[i] = "".join(pieces)
            pos += n
    return out


def _env_of(w: str):
    c = np.vstack(flatten_parts(parse_wkt_cached(w)))
    if len(c) == 1:
        return c[0][0], c[0][1], c[0][0], c[0][1]
    return polygon_envelope(c)


def _envelope_wkt(w: str) -> str:
    x0, y0, x1, y1 = _env_of(w)
    return (
        f"POLYGON (({x0:.17g} {y0:.17g}, {x1:.17g} {y0:.17g}, "
        f"{x1:.17g} {y1:.17g}, {x0:.17g} {y1:.17g}, {x0:.17g} {y0:.17g}))"
    )


def _bbox_hits(g: pd.Series, *box: pd.Series) -> np.ndarray:
    """st_bbox: exact geometry ∩ box for each row, one
    :func:`~geowave_spark.geom.rects_hit_geoms` call per batch (a
    collection meets the box iff any component does)."""
    x0, y0, x1, y1 = (b.to_numpy(np.float64) for b in box)
    return rects_hit_geoms(x0, y0, x1, y1, np.arange(len(g)), [parse_wkt_cached(w) for w in g])


def _envelopes_meet(e, f) -> bool:
    return not (e[2] < f[0] or e[0] > f[2] or e[3] < f[1] or e[1] > f[3])


def _functions() -> dict:
    """SQL name → (return type, ``fn(*cols) -> values``).

    The exact predicates are thin callers of the two batch kernels:
    :func:`~geowave_spark.geom.pairs_dist2` for distance, within-distance,
    intersects (``== 0``) and disjoint, and
    :func:`~geowave_spark.relate.relation_batch` for ``st_<name>`` of every
    DE-9IM relation in :data:`~geowave_spark.relate.RELATIONS` (one batched
    relate per Arrow batch, POINT rows included) — the same two kernels
    :func:`~geowave_spark.operators.join.geom_pair_join` calls, sharing one
    point-on-segment rule, so ``st_intersects`` and the relations agree.

    The GWQL predicate surface (SpatialPredicates.java, registered in
    GWQLSpatialTemporalExtensions.java:36-47) adds BBOX (+LOOSE), the LOOSE
    intersects and the envelope accessors; LOOSE is the envelope-only test
    (the reference's index-constraint-only variants return a superset,
    which is exactly the envelope semantics here)."""
    fns = {
        "st_distance": (DoubleType(), lambda a, b: np.sqrt(pairs_dist2(a, b))),
        "st_within_distance": (
            BooleanType(), lambda a, b, r: pairs_dist2(a, b) <= r.to_numpy(np.float64) ** 2,
        ),
        "st_intersects": (BooleanType(), lambda a, b: pairs_dist2(a, b) == 0),
        "st_disjoint": (BooleanType(), lambda a, b: pairs_dist2(a, b) != 0),
        **{
            f"st_{name}": (BooleanType(), lambda a, b, name=name: relation_batch(name, a, b))
            for name in RELATIONS
        },
        "st_point": (
            StringType(),
            lambda lon, lat: [f"POINT ({x:.17g} {y:.17g})" for x, y in zip(lon, lat)],
        ),
        "st_envelope": (StringType(), lambda g: [_envelope_wkt(w) for w in g]),
        "st_bbox": (BooleanType(), _bbox_hits),
        "st_bbox_loose": (
            BooleanType(),
            lambda g, *box: [_envelopes_meet(_env_of(w), b) for w, *b in zip(g, *box)],
        ),
        "st_intersects_loose": (
            BooleanType(),
            lambda a, b: [_envelopes_meet(_env_of(x), _env_of(y)) for x, y in zip(a, b)],
        ),
        "st_transform": (StringType(), _st_transform_batch),
    }
    for k, name in enumerate(("st_xmin", "st_ymin", "st_xmax", "st_ymax")):
        fns[name] = (DoubleType(), lambda g, k=k: [float(_env_of(w)[k]) for w in g])
    return fns


def register_all(spark: SparkSession) -> None:
    """Register every ST function with the session (idempotent)."""
    for name, (rtype, fn) in _functions().items():
        spark.udf.register(name, _sql_udf(rtype, fn))
