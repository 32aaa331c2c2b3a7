"""One exact-predicate layer behind SQL and the joins.

The ``st_*`` SQL functions and ``geom_pair_join`` evaluate the same
kernels (``geom.pairs_dist2`` and ``relate.relation_batch``), so the
indexed join must return exactly the pairs a cross join filtered by the
matching SQL predicate returns.  A NULL geometry follows Spark's rules:
NULL out of every ``st_*`` function, no match in a join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from geowave_spark.functions.registry import register_all
from geowave_spark.geom import pairs_dist2
from geowave_spark.operators.join import geom_pair_join, point_in_polygon_join
from geowave_spark.relate import RELATIONS

RADIUS = 1.5


def _lattice_geoms(n: int, seed: int, prefix: str) -> pd.DataFrame:
    """LINESTRING, POLYGON, MULTIPOLYGON and MULTILINESTRING rows with
    integer coordinates on a small lattice, so shared edges, touching
    corners, containment and crossings are frequent and exact."""
    rng = np.random.default_rng(seed)

    def rect():
        x0, y0 = (int(v) for v in rng.integers(0, 10, 2))
        w, h = (int(v) for v in rng.integers(1, 4, 2))
        return f"(({x0} {y0}, {x0 + w} {y0}, {x0 + w} {y0 + h}, {x0} {y0 + h}, {x0} {y0}))"

    def line():
        pts = rng.integers(0, 13, (int(rng.integers(2, 4)), 2))
        return "(" + ", ".join(f"{x} {y}" for x, y in pts) + ")"

    makers = [
        lambda: f"LINESTRING {line()}",
        lambda: f"POLYGON {rect()}",
        lambda: f"MULTIPOLYGON ({rect()}, {rect()})",
        lambda: f"MULTILINESTRING ({line()}, {line()})",
    ]
    wkts = [makers[i % 4]() for i in range(n)]
    return pd.DataFrame({"gid": [f"{prefix}{i:03d}" for i in range(n)], "wkt": wkts})


@pytest.fixture(scope="module")
def sides(spark):
    a = _lattice_geoms(36, 5, "a")
    b = _lattice_geoms(32, 6, "b")
    # shared geometries, so equals / covers both ways have true pairs
    b = pd.concat([b, a.iloc[:6].assign(gid=[f"c{i}" for i in range(6)])], ignore_index=True)
    da = spark.createDataFrame(a).withColumnRenamed("gid", "aid").cache()
    db = spark.createDataFrame(b).withColumnRenamed("gid", "bid").cache()
    return da, db


@pytest.fixture(scope="module")
def sql_truth(spark, sides):
    """Every SQL predicate over the full cross join, in one query."""
    register_all(spark)
    da, db = sides
    da.createOrReplaceTempView("twin_a")
    db.createOrReplaceTempView("twin_b")
    preds = {name: f"st_{name}(a.wkt, b.wkt)" for name in RELATIONS}
    preds["intersects"] = "st_intersects(a.wkt, b.wkt)"
    preds["within_distance"] = f"st_within_distance(a.wkt, b.wkt, {RADIUS})"
    cols = ", ".join(f"{sql} AS {name}" for name, sql in preds.items())
    rows = spark.sql(f"SELECT a.aid, b.bid, {cols} FROM twin_a a CROSS JOIN twin_b b").collect()
    return {name: {(r.aid, r.bid) for r in rows if r[name]} for name in preds}


@pytest.mark.parametrize(
    "predicate, radius, sql_name",
    [(name, None, name) for name in RELATIONS]
    + [(None, None, "intersects"), ("intersects", None, "intersects"),
       (None, RADIUS, "within_distance")],
)
def test_join_matches_sql_predicate(spark, sides, sql_truth, predicate, radius, sql_name):
    da, db = sides
    got = {
        tuple(r)
        for r in geom_pair_join(da, db, "aid", "bid", radius=radius, predicate=predicate).collect()
    }
    want = sql_truth[sql_name]
    assert got == want, f"{len(got - want)} join-only, {len(want - got)} sql-only"
    assert want, f"no true pair for {sql_name}"


# --- NULL geometry ---------------------------------------------------------

SQ = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
PT = "POINT (1 1)"

# registered function → call over the geometry columns a (and b)
SQL_CALLS = {
    "st_distance": "st_distance(a, b)",
    "st_within_distance": "st_within_distance(a, b, 1.0)",
    "st_intersects": "st_intersects(a, b)",
    "st_disjoint": "st_disjoint(a, b)",
    **{f"st_{name}": f"st_{name}(a, b)" for name in RELATIONS},
    "st_intersects_loose": "st_intersects_loose(a, b)",
    "st_envelope": "st_envelope(a)",
    "st_xmin": "st_xmin(a)",
    "st_ymin": "st_ymin(a)",
    "st_xmax": "st_xmax(a)",
    "st_ymax": "st_ymax(a)",
    "st_bbox": "st_bbox(a, 0, 0, 1, 1)",
    "st_bbox_loose": "st_bbox_loose(a, 0, 0, 1, 1)",
    "st_transform": "st_transform(a, 'EPSG:4326', 'EPSG:3857')",
}
JOINS = ["geom_pair_join", "geom_pair_join_touches", "pip_broadcast", "pip_shuffle"]


def test_sql_calls_cover_every_geometry_function(spark):
    """SQL_CALLS lists every st_* function ``register_all`` registers that
    takes a geometry (st_point takes coordinates; Spark's own st_*
    built-ins are not registered UDFs)."""
    register_all(spark)
    names = {
        f.name
        for f in spark.catalog.listFunctions()
        if f.name.startswith("st_") and "UDFRegistration" in (f.className or "")
    }
    assert names - {"st_point"} == set(SQL_CALLS)


def _null_join(spark, variant):
    """The join's pairs with null-WKT rows on its geometry sides, and
    without them."""
    sq_w, sq_e = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))"
    if variant.startswith("geom_pair_join"):
        predicate = "touches" if variant.endswith("touches") else None
        left = spark.createDataFrame(
            [("a0", sq_w), ("a1", None), ("a2", sq_e)], "aid string, wkt string"
        )
        right = spark.createDataFrame([("b0", sq_e), ("b1", None)], "bid string, wkt string")

        def run(left, right):
            return geom_pair_join(left, right, "aid", "bid", predicate=predicate)

    else:
        plan = variant.split("_")[1]
        left = spark.createDataFrame(
            [(0, 1.0, 1.0), (1, 3.0, 1.0), (2, 9.0, 9.0)], "image_id int, lon double, lat double"
        )
        right = spark.createDataFrame(
            [(0, sq_w), (1, None), (2, sq_e)], "region_id int, wkt string"
        )

        def run(left, right):
            return point_in_polygon_join(left, right, "image_id", "region_id", plan=plan)

    got = {tuple(r) for r in run(left, right).collect()}
    clean = [df.where("wkt IS NOT NULL") if "wkt" in df.columns else df for df in (left, right)]
    want = {tuple(r) for r in run(*clean).collect()}
    return got, want


@pytest.mark.parametrize("case", [*SQL_CALLS, *JOINS])
def test_null_geometry(spark, case):
    """st_* functions return NULL on a NULL geometry argument (Spark's
    function convention) without failing the query; the joins drop null-WKT
    rows, which match nothing, like a null equi-join key."""
    if case in JOINS:
        got, want = _null_join(spark, case)
        assert got == want and want
        return
    register_all(spark)
    call = SQL_CALLS[case]
    rows = [(SQ, PT), (None, PT), (SQ, None), (None, None)]
    df = spark.createDataFrame(rows, "a string, b string")
    vals = [r.v for r in df.selectExpr(f"{call} AS v").collect()]
    assert [v is None for v in vals] == [False, True, ", b" in call, True], vals


EMPTY_KINDS = [
    "POINT", "LINESTRING", "POLYGON",
    "MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION",
]


@pytest.mark.parametrize("empty_first", [True, False], ids=["empty_a", "empty_b"])
@pytest.mark.parametrize("kind", EMPTY_KINDS)
def test_empty_geometry(spark, kind, empty_first):
    """An EMPTY geometry of any kind, in either argument, is at infinite
    distance from a point, a line, a polygon and itself: it intersects
    nothing, is disjoint from everything and pairs with nothing in the
    join."""
    empty = f"{kind} EMPTY"
    others = [PT, "LINESTRING (0 0, 2 2)", SQ, empty]
    pairs = [(empty, o) if empty_first else (o, empty) for o in others]
    a, b = (list(side) for side in zip(*pairs))
    assert np.isinf(pairs_dist2(a, b)).all()
    register_all(spark)
    df = spark.createDataFrame(pairs, "a string, b string")
    got = df.selectExpr(
        "st_distance(a, b)", "st_intersects(a, b)", "st_within_distance(a, b, 1.0)", "st_disjoint(a, b)"
    ).collect()
    assert [tuple(r) for r in got] == [(np.inf, False, False, True)] * len(others)

    # the join: the EMPTY row beside a real geometry on its side pairs nothing
    own = [("e", empty), ("s", SQ)]
    rest = [(f"o{i}", o) for i, o in enumerate(others[:3])]
    left, right = (own, rest) if empty_first else (rest, own)

    def join(drop):
        sides = [
            spark.createDataFrame([r for r in rows if r[0] != drop], f"{name} string, wkt string")
            for rows, name in ((left, "aid"), (right, "bid"))
        ]
        return {tuple(r) for r in geom_pair_join(*sides, "aid", "bid").collect()}

    want = join(drop="e")
    assert join(drop=None) == want and want

    # the point joins, broadcast and shuffle plans: one geometry side, so
    # one order; the EMPTY row beside the square pairs nothing
    if empty_first:
        points = spark.createDataFrame([("p1", 1.0, 1.0)], "pid string, lon double, lat double")
        regions = spark.createDataFrame([("e", empty), ("a", SQ)], "gid string, wkt string")
        for plan in ("auto", "shuffle"):
            got = point_in_polygon_join(points, regions, "pid", "gid", plan=plan).collect()
            assert [tuple(r) for r in got] == [("p1", "a")], plan
