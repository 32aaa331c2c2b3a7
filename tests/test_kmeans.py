"""KMeans + hull parity (KMeansRunner.java / KMeansHullGenerator analogs)."""

import numpy as np
import pandas as pd

from geowave_spark.operators.kmeans import cluster_hulls, convex_hull, kmeans_clusters


def test_convex_hull_numpy():
    pts = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [1, 1], [0.5, 0.3]], float)
    ring = convex_hull(pts)
    assert len(ring) == 5  # 4 corners + closure
    corners = {(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)}
    assert {tuple(p) for p in ring[:-1]} == corners


def test_kmeans_recovers_separated_clusters(spark):
    rng = np.random.default_rng(5)
    centers = [(-120.0, 40.0), (10.0, -30.0), (100.0, 60.0)]
    rows = []
    for ci, (cx, cy) in enumerate(centers):
        for i in range(200):
            rows.append((f"p{ci}_{i}", cx + rng.normal(0, 0.5), cy + rng.normal(0, 0.5)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "lon", "lat"]))
    assigned = kmeans_clusters(df, k=3)
    pdf = assigned.toPandas()
    # each true cluster maps to exactly one predicted label
    pdf["truth"] = pdf["id"].str.split("_").str[0]
    grouping = pdf.groupby("truth")["cluster"].nunique()
    assert (grouping == 1).all()
    assert pdf["cluster"].nunique() == 3

    hulls = cluster_hulls(assigned).toPandas()
    assert len(hulls) == 3
    assert hulls["n_points"].sum() == 600
    # every hull is a polygon containing its cluster's points
    from geowave_spark.geom import GeomBatch, parse_wkt, points_contained_batch

    for _, h in hulls.iterrows():
        kind, ring = parse_wkt(h["hull_wkt"])
        assert kind == "POLYGON"
        sub = pdf[pdf["cluster"] == h["cluster"]]
        inside = points_contained_batch(
            sub["lon"].to_numpy(), sub["lat"].to_numpy(),
            np.zeros(len(sub), int), GeomBatch([("POLYGON", [ring])]),
        )
        assert inside.all()


def test_lloyd_kmeans_matches_independent_numpy_oracle(spark):
    """The deterministic Lloyd variant must agree with the independent
    numpy implementation in tools/oracle_values.py — exact integer sums,
    same labels, same counts (the driver-gate invariant)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools import oracle_values as ov

    from geowave_spark.operators.kmeans import lloyd_kmeans
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    clon = "-180.0 + (CAST((c_custkey * 48271) % 360000 AS DOUBLE) / 1000.0)"
    clat = "-90.0 + (CAST((c_custkey * 69621) % 180000 AS DOUBLE) / 1000.0)"
    df = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", F.expr(clon).alias("lon"), F.expr(clat).alias("lat"))
    )
    assigned = lloyd_kmeans(df, k=8, id_col="c_custkey")
    got = sorted(
        (r["cluster"], r["n"], r["sx"], r["sy"])
        for r in assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("lon") * 1000.0 + 0.5).cast("long")).alias("sx"),
            F.sum(F.floor(F.col("lat") * 1000.0 + 0.5).cast("long")).alias("sy"),
        )
        .collect()
    )
    want = ov.kmeans_rows(sf_dir, clon, clat, k=8)
    assert got == want


def test_lloyd_kmeans_separated_clusters_deterministic(spark):
    """Same separated fixture as the MLlib test: Lloyd finds the three
    blobs and two runs produce identical assignments."""
    rng = np.random.default_rng(7)
    centers = [(-120.0, 40.0), (10.0, -30.0), (100.0, 60.0)]
    rows = []
    for ci, (cx, cy) in enumerate(centers):
        for i in range(150):
            rows.append(
                (ci * 1000 + i, cx + rng.normal(0, 0.5), cy + rng.normal(0, 0.5))
            )
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "lon", "lat"]))
    from geowave_spark.operators.kmeans import lloyd_kmeans

    a = lloyd_kmeans(df, k=3, id_col="id").toPandas().sort_values("id")
    b = lloyd_kmeans(df, k=3, id_col="id").toPandas().sort_values("id")
    assert (a["cluster"].to_numpy() == b["cluster"].to_numpy()).all()
    a["truth"] = a["id"] // 1000
    assert (a.groupby("truth")["cluster"].nunique() == 1).all()
    assert a["cluster"].nunique() == 3
