"""Check the benchmark's output digests against independent numpy answers.

    python3 perfbench/check_digests.py [--seed 1]

At a tiny size, runs the operators whose row sets the benchmark pins and
compares ``perfbench.digest.digest`` of each output with the digest of
the same rows worked out by brute force in numpy:

- ``distance_join``: every pair within r, from the full distance matrix;
- ``point_in_polygon_join``: ray casting against every polygon ring;
- ``knn_join``: per query, candidates within the cut-off sorted by
  (squared distance, id) with ``argsort``, self excluded, first k;
- ``image_phash_neardup``: all pairs whose signatures' XOR has at most
  ``max_hamming`` set bits, both from decoded image bytes and from a
  signature column with planted near pairs.

Prints one line per check and exits 1 if any digest differs.  Runs from
the repository root, in the same private scratch tree as ``run.py``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import os  # noqa: E402

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _pairs_within(lon, lat, r):
    d2 = (lon[:, None] - lon[None, :]) ** 2 + (lat[:, None] - lat[None, :]) ** 2
    return np.nonzero(d2 <= r * r)


def _ray_cast(px, py, ring) -> np.ndarray:
    """Even-odd rule: a horizontal ray from each point crosses the closed
    ring's edges an odd number of times iff the point is inside."""
    inside = np.zeros(len(px), dtype=bool)
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    for a, b, c, d in zip(x0, y0, x1, y1):
        if b == d:
            continue
        crosses = (b > py) != (d > py)
        xint = a + (py - b) * (c - a) / (d - b)
        inside ^= crosses & (px < xint)
    return inside


def _knn(lon, lat, ids, k, max_d):
    d2 = (lon[:, None] - lon[None, :]) ** 2 + (lat[:, None] - lat[None, :]) ** 2
    np.fill_diagonal(d2, np.inf)
    id_rank = np.argsort(np.argsort(ids, kind="stable"), kind="stable")
    rows = []
    for q in range(len(ids)):
        order = np.lexsort((id_rank, d2[q]))
        keep = [c for c in order[:k] if d2[q, c] <= max_d * max_d]
        rows += [(ids[q], ids[c], r + 1) for r, c in enumerate(keep)]
    return rows


def _hamming_pairs(ids, sigs, max_hamming):
    u = sigs.astype(np.int64).view(np.uint64)
    x = u[:, None] ^ u[None, :]
    bits = np.unpackbits(x.view(np.uint8).reshape(len(u), len(u), 8), axis=2).sum(axis=2)
    rows = []
    for i, j in zip(*np.nonzero(bits <= max_hamming)):
        if ids[i] < ids[j]:
            rows.append((ids[i], ids[j], int(bits[i, j])))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from geowave_spark.operators.imagedup import image_phash_neardup, phash_from_pixels
    from geowave_spark.operators.join import distance_join, point_in_polygon_join
    from geowave_spark.operators.knn import knn_join
    from geowave_spark.raster.codec import decode_image
    from geowave_spark.session import get_spark
    from geowave_spark.sources.fixtures import points_pdf, regions_pdf
    from geowave_spark.sources.images import IMAGE_SCHEMA, gen_images_pdf

    from perfbench.digest import digest
    from perfbench.host import Scratch, nproc
    from perfbench.run import _stop_spark
    from perfbench.workloads import _polygon_wkt, _vertices

    scratch = Scratch(ROOT)
    cpus = min(2, nproc())
    scratch.configure_env(cpus, 1024)
    spark = get_spark("perfbench-check", master=f"local[{cpus}]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    try:
        def check(name, got_df, want_rows):
            nonlocal failures
            want_df = spark.createDataFrame(
                pd.DataFrame(want_rows, columns=got_df.columns), schema=got_df.schema
            )
            got, want = digest(got_df), digest(want_df)
            ok = got == want
            failures += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {name}: rows {got['rows']} (numpy {want['rows']})")

        rng = np.random.default_rng(args.seed)
        pts = points_pdf(400, seed=args.seed)
        lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        ids = pts["image_id"].to_numpy()
        sdf = spark.createDataFrame(pts)

        r = 0.05
        right = sdf.select(F.col("image_id").alias("rid"), "lon", "lat")
        i, j = _pairs_within(lon, lat, r)
        check(
            "distance_join (pairs within r)",
            distance_join(sdf, right, r, "image_id", "rid", salt="auto"),
            list(zip(ids[i], ids[j])),
        )

        cand = sdf.select(F.col("image_id").alias("cid"), "lon", "lat")
        check(
            "knn_join (argsort)",
            knn_join(sdf, cand, k=5, max_distance=0.3, query_id="image_id",
                     candidate_id="cid", exclude_self=True),
            _knn(lon, lat, ids, 5, 0.3),
        )

        # fixture shapes re-centred on points, so most polygons hold some
        shapes = regions_pdf(60, seed=args.seed + 1)
        polys = []
        for rid, w in zip(shapes["region_id"], shapes["wkt"]):
            ring = _vertices(w)
            if np.ptp(ring, axis=0).max() > 3.0:
                continue
            ring = ring - ring[:-1].mean(axis=0) + (lon[rng.integers(len(lon))], lat[rng.integers(len(lat))])
            polys.append((rid, ring))
        regions = spark.createDataFrame(
            pd.DataFrame([(rid, _polygon_wkt(ring)) for rid, ring in polys], columns=["region_id", "wkt"])
        )
        want = [(p, rid) for rid, ring in polys for p in ids[_ray_cast(lon, lat, ring)]]
        check(
            "point_in_polygon_join (ray casting)",
            point_in_polygon_join(sdf, regions, "image_id", "region_id"),
            want,
        )

        imgs = gen_images_pdf(np.arange(args.seed * 16, args.seed * 16 + 12))
        dups = imgs.iloc[:3].assign(image_id=lambda d: "dup-" + d["image_id"])
        imgs = pd.concat([imgs, dups], ignore_index=True)
        sig = np.array(
            [phash_from_pixels(decode_image(bytes(b), f)) for b, f in zip(imgs["bytes"], imgs["fmt"])]
        )
        check(
            "image_phash_neardup from bytes (popcount)",
            image_phash_neardup(spark.createDataFrame(imgs, IMAGE_SCHEMA), max_hamming=4),
            _hamming_pairs(imgs["image_id"].to_numpy(), sig, 4),
        )

        base = rng.integers(-(2**63), 2**63 - 1, 300, dtype=np.int64)
        near = base[:30].view(np.uint64).copy()
        for n in range(30):
            for bit in rng.choice(64, n % 5, replace=False):
                near[n] ^= np.uint64(1) << np.uint64(bit)
        sigs = np.concatenate([base, near.view(np.int64)])
        sid = np.array([f"s{n:04d}" for n in range(len(sigs))])
        check(
            "image_phash_neardup on signatures (popcount)",
            image_phash_neardup(
                spark.createDataFrame(pd.DataFrame({"image_id": sid, "phash": sigs})),
                max_hamming=4, signature_col="phash",
            ),
            _hamming_pairs(sid, sigs, 4),
        )
    finally:
        _stop_spark(spark)
        scratch.remove()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
