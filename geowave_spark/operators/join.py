"""Spatial joins as cell-key hash joins.

From-scratch Spark-first re-expression of GeoWave's TieredSpatialJoin
(analytics/spark/.../spatial/TieredSpatialJoin.java:76-551) and
SpatialJoinRunner (SpatialJoinRunner.java:90-107).  The reference cogroups
per tier with a nested-loop predicate inside each cell; here each join
picks the cheapest Spark plan that preserves those row-set semantics.

One keyed-join kernel, :func:`_cell_join` (optional salt → shuffled
**hash** equi-join on the cell keys → exact predicate → optional dedupe),
runs :func:`distance_join`, :func:`haversine_distance_join`,
``sources.bucketing.bucketed_distance_join`` and the polygon joins'
shuffle plan; each builds only its keyed sides and exact predicate, and
:func:`_negative` is the one ``left_anti`` tail:

- **point × point distance**: single-tier grid sized driver-side from
  the radius (the reference's NN partitioner rule,
  AbstractPartitioner.java:230-267) → flat mapInPandas cell explode of
  the buffered build side (latitude-aware and dateline-split for the
  haversine join) → kernel with a whole-stage-codegen distance filter.
  No dedupe stage: a pair can meet in at most one cell (build rows hold
  one tier/disjoint cells, probe points truncate to one cell), so the
  reference's reduceByKey dedupe (TieredSpatialJoin.java:349) has
  nothing to remove.
- **point × polygon** (PIP / within-distance, one core
  :func:`_polygon_join`): the polygon side is small relative to a
  planetary point table, so it broadcasts as a
  :class:`~geowave_spark.geom.LocalGeomGrid` cell-key hash index and
  the probe side streams through ONE map stage (candidate hash lookup +
  exact numpy predicate per Arrow batch) — zero shuffle.  Past the
  broadcast limit it falls back to the reference's tiered
  ``(tier, cell)`` shuffle join through the kernel.

Scale notes: the distance join's only shuffle is the hash join itself;
hot cells (Zipfian data) can additionally be salted (build rows replicate
per salt value, probe rows pick one deterministically) on top of AQE's
skew splitting — the same salting on the polygon shuffle plan.  The
broadcast polygon plan shuffles nothing and scales linearly in the point
count; its polygon side is bounded by driver memory (~10^6 polygons),
which matches the reference's broadcast of the indexing strategy + its
per-executor geometry caches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..encode import (
    DEFAULT_STRATEGY,
    cell_ancestors,
    cell_at_tier,
    distinct_polygon_tiers,
    explode_envelope_cells,
    explode_polygon_cells,
    point_cell_at_tier_udf,
    point_cell_udf,
    polygon_cells_np,
)
from ..geom import pairs_dist2
from ..relate import RELATIONS, relation_batch
from ..sfc import DEFAULT_MAX_DUPLICATES, JOIN_MAX_DUPLICATES, TieredStrategy

# Above this many polygon rows the build side no longer collects/broadcasts;
# the join falls back to the reference's big-both-sides tiered shuffle shape
# (cell-explode both sides + equi-join + exact post-filter + dedupe).  The
# limit bounds driver memory: the grid's geometry table costs Σ vertices ×
# 16 B, so ~10^5 rings × ~100 vertices ≈ 160 MB, comfortably under a 1 GiB
# broadcast budget.
POLYGON_BROADCAST_LIMIT = 100_000


MAX_SALT_FACTOR = 64
DEFAULT_SALT_CAP = 100_000


def _apply_salt(
    build: DataFrame, probe: DataFrame, keys: list[str], salt: int | str, cap: int
) -> tuple[DataFrame, DataFrame]:
    """Spread hot join keys over reducers: each build row replicates once
    per salt value of its key, each probe row hashes into one of them
    (pmod(xxhash64(probe row), factor)).

    An int ``salt`` is a constant factor for every key.  ``"auto"`` prices
    the skew first with a probe-side census (one map-side-combined count
    per key; only keys over ``cap`` rows reach the driver) and splits only
    those, each by its own factor ⌈count/cap⌉ (≤64).  A fixed global salt
    replicates the whole build side and widens the shuffle whether or not
    any key is actually hot — measurably slower than unsalted when skew is
    mild; the census gives cold keys a single reducer and each hot key
    exactly the parallelism its row count warrants — the same stats-driven
    sizing the reference's SplitsProvider applies to scan splits
    (SplitsProvider.java:148-228).  Deterministic given the data AND the
    cluster: the auto factor is also capped by defaultParallelism, so the
    plan adapts to cluster size the way AQE does — row sets are identical
    at every parallelism, only reducer fan-out differs.
    """
    spark = build.sparkSession
    probe_cols = [F.col(c) for c in probe.columns]
    factor = F.lit(int(salt)) if salt != "auto" else F.coalesce(F.col("_f"), F.lit(1))
    if salt == "auto":  # factor = the key's census factor, 1 for keys not in it
        # the split factor is additionally capped by the CLUSTER's
        # parallelism: splitting a hot key across more reducers than there
        # are cores buys no wall-clock and pays full build-replication
        # overhead (measured: factor-64 salting ran 1.8× slower than
        # unsalted at local[2] while winning at local[32]) — so the factor
        # scales with the cluster, and the same job stays optimal from a
        # laptop to 1000 executors
        par_cap = max(2, int(spark.sparkContext.defaultParallelism))
        hot = (
            probe.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .where(F.col("_cnt") > cap)
            .select(
                *keys,
                F.least(
                    F.lit(min(MAX_SALT_FACTOR, par_cap)),
                    F.ceil(F.col("_cnt") / F.lit(cap)),
                ).cast("int").alias("_f"),
            )
        )
        hot_rows = hot.collect()  # over-cap keys only — tiny by construction
        if not hot_rows:
            return (
                build.withColumn("_salt", F.lit(0)),
                probe.withColumn("_salt", F.lit(0)),
            )
        schema = StructType([probe.schema[k] for k in keys] + [StructField("_f", IntegerType())])
        hot_df = F.broadcast(spark.createDataFrame(hot_rows, schema))
        build, probe = (df.join(hot_df, keys, "left") for df in (build, probe))
    build = build.withColumn("_salt", F.explode(F.sequence(F.lit(0), factor - 1)))
    probe = probe.withColumn("_salt", F.pmod(F.xxhash64(*probe_cols), factor).cast("int"))
    # explicit numbered repartition on the salted key: AQE's partition
    # coalescing targets shuffle BYTES, and a hot cell's shuffle input is
    # tiny while its join work is quadratic — left to itself AQE folds
    # the freshly-separated salt buckets back into one reducer.
    # repartition(n, keys) (REPARTITION_BY_NUM) must be honored exactly,
    # and the join reuses this distribution with no extra exchange.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return (
        build.drop("_f").repartition(n_parts, *keys, "_salt"),
        probe.drop("_f").repartition(n_parts, *keys, "_salt"),
    )


def _cell_join(
    probe: DataFrame,
    build: DataFrame,
    keys: list[str],
    match,
    left_id: str,
    right_id: str,
    *,
    salt: int | str | None = None,
    salt_cap: int = DEFAULT_SALT_CAP,
    dedupe: bool = False,
) -> DataFrame:
    """The keyed-join dataflow of every cell-probe join, on sides that
    already carry their ``keys`` and ids (``_lid`` on the probe, ``_rid``
    on the build): optional salt (:func:`_apply_salt`) → shuffled hash
    equi-join (both sides are pre-projected, so a hash join saves
    sort-merge's two full sorts of the candidate sets) → exact predicate
    ``match`` → ``(left_id, right_id)`` pairs → optional dropDuplicates
    on them (the reference's reduceByKey dedupe, TieredSpatialJoin.java:349)."""
    if salt:
        build, probe = _apply_salt(build, probe, keys, salt, salt_cap)
        keys = [*keys, "_salt"]
    pairs = (
        probe.join(build.hint("shuffle_hash"), keys)
        .where(match)
        .select(F.col("_lid").alias(left_id), F.col("_rid").alias(right_id))
    )
    return pairs.dropDuplicates([left_id, right_id]) if dedupe else pairs


def _negative(left: DataFrame, left_id: str, pairs: DataFrame) -> DataFrame:
    """The distinct ``left_id`` values with NO pair — the reference's
    negative-predicate subtractByKey (TieredSpatialJoin.java:360-378)."""
    return (
        left.select(F.col(left_id))
        .distinct()
        .join(pairs.select(left_id).distinct(), left_id, "left_anti")
    )


def _points(df: DataFrame, id_col: str, lon: str, lat: str, side: str, *extra: str) -> DataFrame:
    """``(id, lon, lat)`` of a point frame as ``_{side}id, _{side}lon,
    _{side}lat``, plus any ``extra`` columns as they are."""
    return df.select(
        F.col(id_col).alias(f"_{side}id"),
        F.col(lon).alias(f"_{side}lon"),
        F.col(lat).alias(f"_{side}lat"),
        *extra,
    )


def _point_probe(
    df: DataFrame, id_col: str, lon: str, lat: str, strategy: TieredStrategy, tier: int
) -> DataFrame:
    """Probe side of the point joins: each point keyed by its cell at ``tier``."""
    return _points(df, id_col, lon, lat, "l").withColumn(
        "cell", point_cell_at_tier_udf(strategy, tier)(F.col("_llon"), F.col("_llat"))
    )


def _planar_build(
    df: DataFrame,
    id_col: str,
    lon: str,
    lat: str,
    radius: float,
    strategy: TieredStrategy,
    max_duplicates: int,
    tier: int,
):
    """Build side and exact predicate of the planar distance joins: each
    point's 2r × 2r envelope exploded into its cells at ``tier``
    (TieredSpatialJoin.java:146-166: only the buffered side expands its
    envelope; the flat mapInPandas explode keeps the Arrow exchange
    object-free), then whole-stage-codegen distance ≤ r."""
    build = explode_envelope_cells(
        _points(df, id_col, lon, lat, "r"),
        F.col("_rlon") - radius,
        F.col("_rlat") - radius,
        F.col("_rlon") + radius,
        F.col("_rlat") + radius,
        keep=["_rid", "_rlon", "_rlat"],
        strategy=strategy,
        max_duplicates=max_duplicates,
        tier=tier,
    ).drop("tier")
    dx = F.col("_llon") - F.col("_rlon")
    dy = F.col("_llat") - F.col("_rlat")
    return build, dx * dx + dy * dy <= F.lit(radius * radius)


def distance_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_id: str,
    right_id: str,
    left_lon: str = "lon",
    left_lat: str = "lat",
    right_lon: str = "lon",
    right_lat: str = "lat",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = DEFAULT_MAX_DUPLICATES,
    negative: bool = False,
    salt: int | str | None = None,
    salt_cap: int = DEFAULT_SALT_CAP,
) -> DataFrame:
    """Point×point within-distance join → distinct (left_id, right_id) pairs.

    Precondition: ``left_id`` / ``right_id`` are unique keys of their
    inputs — then output pairs are distinct with no dedupe stage (see the
    single-meeting-cell argument below).

    ``max_duplicates`` defaults to the reference's ingest-path 4 (2/dim,
    TieredSFCIndexStrategy.java:58) rather than its join-path 80
    (GeoWaveIndexedRDD.java:193): fewer duplicates pick a coarser tier, so
    the exploded build side is ~4 rows/point instead of ~40 — an order of
    magnitude less shuffle — while the extra candidate pairs are absorbed
    by the whole-stage-codegen distance predicate.  Row-set output is
    identical either way (the exact post-filter guarantees it).

    ``negative=True`` returns left rows with **no** right point within the
    radius (the reference's negative-predicate subtractByKey,
    TieredSpatialJoin.java:360-378).

    ``salt``: ``"auto"`` prices skew with a per-cell probe census and
    salts only cells above ``salt_cap`` rows, each by its own factor
    (:func:`_apply_salt` — the recommended mode); an int is a fixed
    factor for every cell.  Either way the output row set is unchanged.

    Distance is planar Euclidean on (lon, lat) — identical to the
    reference's GeomWithinDistance degree-radius semantics
    (analytics/spark/.../sparksql/udf/GeomWithinDistance.java:42-46).
    """
    # All buffered point envelopes share the same size (2r × 2r), so the
    # selected tier is known driver-side with NO data scan: the finest tier
    # whose cell covers the envelope (≤2 cells/dim ⇒ ≤4 duplicates) — the
    # reference's NN grid rule (AbstractPartitioner.java:230-267), which its
    # tiered join would converge to anyway for constant-size envelopes.
    # This removes the tier-collect job and the probe-side tier explosion;
    # the join key collapses to the single-tier cell id.
    t_star = strategy.tier_for_width(2.0 * radius, 2.0 * radius)
    # No dedupe stage needed: each build row lands at exactly ONE tier with a
    # disjoint cell set, and a probe point truncates to exactly one cell per
    # tier — so a (left, right) pair can meet in at most one (tier, cell).
    # (Buffered point envelopes clamp at ±180 rather than wrap, so the
    # dateline split can't produce a second tier for the same row.)  This
    # removes the reference's reduceByKey dedupe (TieredSpatialJoin.java:349)
    # and its full extra shuffle — the hottest stage at high parallelism.
    build, within = _planar_build(
        right, right_id, right_lon, right_lat, radius, strategy, max_duplicates, t_star
    )
    pairs = _cell_join(
        _point_probe(left, left_id, left_lon, left_lat, strategy, t_star),
        build, ["cell"], within, left_id, right_id, salt=salt, salt_cap=salt_cap,
    )
    return _negative(left, left_id, pairs) if negative else pairs


EARTH_RADIUS_M = 6371008.8
_M_PER_DEG = EARTH_RADIUS_M * np.pi / 180.0


def haversine_expr(llon, llat, rlon, rlat):
    """Great-circle distance in meters (haversine), pure Catalyst."""
    return (
        F.lit(2.0 * EARTH_RADIUS_M)
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(rlat - llat) / 2), 2)
                + F.cos(F.radians(llat))
                * F.cos(F.radians(rlat))
                * F.pow(F.sin(F.radians(rlon - llon) / 2), 2)
            )
        )
    )


def haversine_distance_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_id: str,
    right_id: str,
    left_lon: str = "lon",
    left_lat: str = "lat",
    right_lon: str = "lon",
    right_lat: str = "lat",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
) -> DataFrame:
    """Point×point join within ``radius_m`` METERS of great-circle
    distance — the geodesic semantics of the reference's
    OrthodromicDistancePartitioner (analytics/api/.../partitioner/
    OrthodromicDistancePartitioner.java:95-132: neighbor-expansion
    envelopes sized in meters, converted to degrees per latitude).

    Plan = the planar join's single-tier cell equi-join, with
    latitude-aware buffering on the build side:

    - Δlat = r / (111.2 km/deg) is latitude-independent; the tier comes
      from it exactly like the planar radius;
    - Δlon(row) = Δlat / cos(φ_worst) where φ_worst is the largest |lat|
      inside the row's lat band — an upper bound of the longitudinal
      separation any within-r partner can have, so coverage is complete
      (rows whose band reaches ±89.9° buffer the full lon ring);
    - envelopes crossing the antimeridian split into wrapped parts
      (LongitudeDefinition dateline semantics) so cross-dateline pairs
      are found — the planar join clamps instead, consistent with its
      planar-degrees oracle;
    - exact post-filter: whole-stage-codegen haversine ≤ r.

    A pair can meet in at most one (part, cell), so no dedupe stage —
    same argument as the planar join (wrap parts are disjoint lon
    intervals; the full-ring case emits no wrap parts).
    """
    dlat = radius_m / _M_PER_DEG
    t_star = strategy.tier_for_width(2.0 * dlat, 2.0 * dlat)

    r = _points(right, right_id, right_lon, right_lat, "r")
    phi_worst = F.least(F.abs(F.col("_rlat")) + F.lit(dlat), F.lit(89.9))
    polar = (F.abs(F.col("_rlat")) + F.lit(dlat)) >= F.lit(89.9)
    # exact lon-separation bound: Δλ = 2·asin(sin(d/2R)/cos φ) — the linear
    # Δlat/cos φ underestimates it by up to ~0.007° at r=500 km, φ=60°, so
    # boundary pairs in that sliver could be missed (round-2 ADVICE); the
    # asin form is a true upper bound and still pure Catalyst.
    dlon = F.when(polar, F.lit(180.0)).otherwise(
        F.degrees(
            2.0
            * F.asin(
                F.least(
                    F.lit(1.0),
                    F.sin(F.radians(F.lit(dlat)) / 2) / F.cos(F.radians(phi_worst)),
                )
            )
        )
    )
    r = r.withColumn("_dlon", dlon)
    minx = F.col("_rlon") - F.col("_dlon")
    maxx = F.col("_rlon") + F.col("_dlon")
    # Δlon ≥ 180 ⇒ the buffer wraps the whole ring regardless of center
    not_ring = F.col("_dlon") < 180.0
    prim = F.when(
        not_ring,
        F.struct(
            F.greatest(minx, F.lit(-180.0)).alias("lo"),
            F.least(maxx, F.lit(180.0)).alias("hi"),
        ),
    ).otherwise(
        F.struct(F.lit(-180.0).alias("lo"), F.lit(180.0).alias("hi"))
    )
    wrap_lo = F.when(
        (minx < F.lit(-180.0)) & not_ring,
        F.struct((minx + 360.0).alias("lo"), F.lit(180.0).alias("hi")),
    )
    wrap_hi = F.when(
        (maxx > F.lit(180.0)) & not_ring,
        F.struct(F.lit(-180.0).alias("lo"), (maxx - 360.0).alias("hi")),
    )
    parts = r.withColumn(
        "_part", F.explode(F.filter(F.array(prim, wrap_lo, wrap_hi), lambda x: x.isNotNull()))
    )
    build = explode_envelope_cells(
        parts,
        F.col("_part.lo"),
        F.col("_rlat") - F.lit(dlat),
        F.col("_part.hi"),
        F.col("_rlat") + F.lit(dlat),
        keep=["_rid", "_rlon", "_rlat"],
        strategy=strategy,
        tier=t_star,
    ).drop("tier")
    within = haversine_expr(F.col("_llon"), F.col("_llat"), F.col("_rlon"), F.col("_rlat"))
    return _cell_join(
        _point_probe(left, left_id, left_lon, left_lat, strategy, t_star),
        build, ["cell"], within <= F.lit(float(radius_m)), left_id, right_id,
    )


def _geom_grid(polygons: DataFrame, polygon_id: str, wkt: str, buffer: float, limit: int | None):
    """Broadcast :class:`LocalGeomGrid` over the collected geometry side,
    or None when it holds more than ``limit`` rows.

    With a ``limit`` this is ONE bounded collect of at most limit+1 rows:
    it both decides whether the side fits the driver and feeds the grid.
    The coalesce to one partition keeps it one Spark job — a collect
    under a limit otherwise scans partitions in scale-up rounds, one job
    each — and the scan still stops after limit+1 rows.
    """
    from ..geom import LocalGeomGrid, parse_wkt_multi

    q = polygons.select(polygon_id, wkt)
    rows = (q if limit is None else q.coalesce(1).limit(limit + 1)).collect()
    if limit is not None and len(rows) > limit:
        return None
    grid = LocalGeomGrid([r[0] for r in rows], [parse_wkt_multi(r[1]) for r in rows], buffer)
    return polygons.sparkSession.sparkContext.broadcast(grid)


def _grid_probe(
    src: DataFrame, grid_bc, lon: str, lat: str, keep: dict[str, str], polygon: StructField, r2
) -> DataFrame:
    """One ``mapInPandas`` pass of ``src`` points against a broadcast
    :class:`LocalGeomGrid`: per Arrow batch, a numpy hash lookup of
    candidate geometries, then the exact predicate — boundary-inclusive
    intersection when ``r2`` is None, else squared distance ≤ ``r2``.
    Emits one row per true match: the ``keep`` columns (output name →
    ``src`` column) and the ``polygon`` id field."""

    def _gen(batches):
        g = grid_bc.value
        for pdf in batches:
            px = pdf[lon].to_numpy(np.float64)
            py = pdf[lat].to_numpy(np.float64)
            rowrep, codes = g.candidates(px, py)
            if not len(rowrep):
                m = np.zeros(0, dtype=bool)
            elif r2 is None:
                m = g.intersects(px[rowrep], py[rowrep], codes)
            else:
                m = g.dist2(px[rowrep], py[rowrep], codes) <= r2
            out = {name: pdf[c].to_numpy()[rowrep[m]] for name, c in keep.items()}
            out[polygon.name] = g.ids[codes[m]]
            yield pd.DataFrame(out)

    fields = [StructField(name, src.schema[c].dataType) for name, c in keep.items()]
    return src.mapInPandas(_gen, StructType([*fields, polygon]))


def _pair_match_udf(radius: float | None):
    """Pandas UDF: (lon, lat, wkt) → does the exact predicate hold?

    Runs after the (tier, cell) equi-join of the shuffle plan.  Each Arrow
    batch factorizes its WKT values, parses each distinct geometry once per
    worker (:func:`~geowave_spark.geom.parse_wkt_cached`) and evaluates
    the whole batch in one vectorized pass — candidate pairs of the same
    geometry cluster in a batch because the join key is its cell.
    Kind-aware: polylines keep open-segment distances, closed rings keep
    containment.
    """
    r2 = None if radius is None else radius * radius

    @F.pandas_udf("boolean")
    def _m(lon: pd.Series, lat: pd.Series, wkt: pd.Series) -> pd.Series:
        from ..geom import (
            GeomBatch,
            parse_wkt_cached,
            points_geoms_dist2_batch,
            points_intersect_geoms_batch,
        )

        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        codes, uniq = pd.factorize(wkt)
        if not len(uniq):
            return pd.Series(np.zeros(0, dtype=bool))
        gb = GeomBatch([parse_wkt_cached(w) for w in uniq])
        if r2 is None:
            m = points_intersect_geoms_batch(px, py, codes, gb)
        else:
            m = points_geoms_dist2_batch(px, py, codes, gb) <= r2
        return pd.Series(m)

    return _m


def _polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str,
    polygon_id: str,
    lon: str,
    lat: str,
    wkt: str,
    radius: float | None,
    strategy: TieredStrategy,
    max_duplicates: int,
    negative: bool,
    salt: int | str | None,
    plan: str,
    broadcast_limit: int,
) -> DataFrame:
    """Shared core of the point⋈geometry joins: ``radius=None`` ⇒
    boundary-inclusive point-in-geometry (containment for closed rings,
    exact on-segment for polylines), else within-distance
    (GeomWithinDistance semantics, buffered).  The geometry side takes ANY
    WKT kind — POINT / LINESTRING / POLYGON / MULTI\\* — since the exact
    predicates are kind-aware, covering the reference's point × line
    flagship fixture (GeoWaveSparkSpatialJoinIT.java:111-172).

    **Broadcast plan**: the geometry side of a planetary point⋈region join
    is small relative to the point side (10^3–10^6 regions vs 10^12
    points), so it is collected once into a broadcast
    :class:`LocalGeomGrid` (:func:`_geom_grid`) and the points run ONE
    map-side pass (:func:`_grid_probe`) — no shuffle, no tier explosion
    and no pair materialization beyond true matches.  ``plan='auto'``
    takes it when the geometry side has at most ``broadcast_limit`` rows,
    decided by the same bounded collect that feeds the grid.

    **Shuffle plan** (above the limit, or ``plan='shuffle'``): the
    reference's big-both-sides TieredSpatialJoin dataflow
    (TieredSpatialJoin.java:76-551), with no driver collect of geometry:

    1. build side: flat ``mapInPandas`` explode of each (buffered) polygon
       to its insertion cells with trimIndexIds pruning
       (:func:`~geowave_spark.encode.explode_polygon_cells`) — geometry
       stays on executors, carried as WKT through the one shuffle;
    2. tier plan: the distinct build tiers come from a light tier-only scan
       (:func:`~geowave_spark.encode.distinct_polygon_tiers`, the analog
       of the tier-byte collectAsync), broadcast inside the join's job;
    3. probe side: one top-tier point cell (Arrow UDF), then one row per
       (point, build tier) via a broadcast cross join with the tiny tier
       list — tier re-projection is a Catalyst bit shift
       (:func:`~geowave_spark.encode.cell_at_tier`), the cheap analog of
       reprojectToTier (TieredSpatialJoin.java:471-511);
    4. :func:`_cell_join` on (tier, cell), salted when asked — shuffled
       hash equi-join + exact vectorized post-filter
       (:func:`_pair_match_udf`) + dropDuplicates, the reference's
       cogroup + nested-loop predicate + reduceByKey dedupe.

    At 1000 executors this is one shuffle of |polygons|·dup + |points|·|tiers|
    rows on a uniform key space (Hilbert cells), no single-node bottleneck.

    A geometry row with a null WKT matches nothing, like a null equi-join
    key, and is dropped before either plan.
    """
    polygons = polygons.where(F.col(wkt).isNotNull())
    buffer = radius or 0.0
    pts = _points(points, point_id, lon, lat, "l")
    grid_bc = None
    if plan != "shuffle":
        limit = broadcast_limit if plan == "auto" else None
        grid_bc = _geom_grid(polygons, polygon_id, wkt, buffer, limit)
    if grid_bc is not None:
        pairs = _grid_probe(
            pts, grid_bc, "_llon", "_llat", {point_id: "_lid"}, polygons.schema[polygon_id],
            None if radius is None else radius * radius,
        )
    else:
        build = explode_polygon_cells(
            polygons.select(F.col(polygon_id).alias("_rid"), F.col(wkt).alias("_rwkt")),
            "_rwkt",
            keep=["_rid", "_rwkt"],
            strategy=strategy,
            max_duplicates=max_duplicates,
            buffer=buffer,
        )
        tiers = distinct_polygon_tiers(
            polygons, wkt, strategy, max_duplicates=max_duplicates, buffer=buffer
        )
        probe = (
            pts.withColumn("_top", point_cell_udf(strategy)(F.col("_llon"), F.col("_llat")))
            .crossJoin(F.broadcast(tiers))
            .withColumn("cell", cell_at_tier("_top", "tier", strategy.max_bits))
            .drop("_top")
        )
        match = _pair_match_udf(radius)(F.col("_llon"), F.col("_llat"), F.col("_rwkt"))
        pairs = _cell_join(
            probe, build, ["tier", "cell"], match, point_id, polygon_id, salt=salt, dedupe=True
        )
    return _negative(points, point_id, pairs) if negative else pairs


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str,
    polygon_id: str,
    lon: str = "lon",
    lat: str = "lat",
    wkt: str = "wkt",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = JOIN_MAX_DUPLICATES,
    negative: bool = False,
    salt: int | str | None = None,
    plan: str = "auto",
    broadcast_limit: int = POLYGON_BROADCAST_LIMIT,
) -> DataFrame:
    """Point-in-polygon join → distinct (point_id, polygon_id) pairs.

    Plan selection (``plan='auto'``, :func:`_polygon_join`): up to
    ``broadcast_limit`` polygons the join runs as a zero-shuffle broadcast
    cell-grid; above it — or with ``plan='shuffle'`` — it falls back to
    the reference's big-both-sides tiered shuffle join, which never
    collects geometry to the driver.  The probe is one bounded
    ``limit(broadcast_limit+1)`` collect whose rows, when they fit, also
    build the grid — never a full count.
    ``salt`` (int or ``"auto"``, as in :func:`distance_join`) spreads hot
    (tier, cell) buckets on the shuffle plan; the broadcast plan has no
    shuffle, so salt is a no-op there.  ``negative=True`` returns the
    points inside NO polygon.
    """
    return _polygon_join(
        points, polygons, point_id, polygon_id, lon, lat, wkt, None,
        strategy, max_duplicates, negative, salt, plan, broadcast_limit,
    )


def polygon_distance_join(
    points: DataFrame,
    polygons: DataFrame,
    radius: float,
    point_id: str,
    polygon_id: str,
    lon: str = "lon",
    lat: str = "lat",
    wkt: str = "wkt",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = JOIN_MAX_DUPLICATES,
    plan: str = "auto",
    broadcast_limit: int = POLYGON_BROADCAST_LIMIT,
    negative: bool = False,
    salt: int | str | None = None,
) -> DataFrame:
    """Point within `radius` of polygon → distinct pairs (GeomWithinDistance
    against extended geometries, the hail×tornado_tracks fixture shape).
    Same plan selection, ``negative`` and ``salt`` as
    :func:`point_in_polygon_join`; ``negative=True`` returns the points
    with NO polygon within the radius (JoinOptions negative-predicate
    semantics)."""
    return _polygon_join(
        points, polygons, point_id, polygon_id, lon, lat, wkt, radius,
        strategy, max_duplicates, negative, salt, plan, broadcast_limit,
    )


# The kind-aware grid/kernels make the "polygon" joins correct for ANY WKT
# build side (LINESTRING / MULTI* included) — export the honest names.
# ``geometry_distance_join`` is the reference's hail × tornado_tracks
# flagship shape (point × line GeomWithinDistance,
# GeoWaveSparkSpatialJoinIT.java:111-172).
geometry_distance_join = polygon_distance_join
geometry_intersects_join = point_in_polygon_join


def geom_pair_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_wkt: str = "wkt",
    right_wkt: str = "wkt",
    radius: float | None = None,
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = JOIN_MAX_DUPLICATES,
    predicate: str | None = None,
) -> DataFrame:
    """Extended-geometry × extended-geometry join (polygon×polygon,
    line×polygon, …): INTERSECTS when ``radius`` is None, else
    within-distance — TieredSpatialJoin's general case
    (TieredSpatialJoin.java:76-551 accepts arbitrary JTS geometry pairs).

    ``predicate`` swaps the fine filter for any exact DE-9IM relation of
    :data:`~geowave_spark.relate.RELATIONS` (touches / crosses / overlaps /
    contains / within / covers / covered_by / equals — the
    SpatialJoinRunner GeomFunction parameter) or ``"intersects"``; the
    coarse cell phase is unchanged because every one of these relations
    implies envelope intersection.

    Plan (the reference's tier-by-tier join, TieredSpatialJoin.java:76-551,
    keyed so that neither side needs the other side's tier list):

    1. each side explodes once (one ``mapInPandas`` pass,
       :func:`_pair_keyed`) to its natural insertion cells with
       trimIndexIds pruning (:func:`~geowave_spark.encode.polygon_cells_np`,
       at most ``max_duplicates`` cells per geometry) and to the distinct
       strict ancestors of those cells at every coarser tier
       (:func:`~geowave_spark.encode.cell_ancestors`); only the right side
       is buffered by ``radius`` (TieredSpatialJoin.java:146-166);
    2. a role flag ``_k`` makes the key ``(_t, cell, _k)`` meet each pair
       at the coarser of the two tiers exactly once per shared coarse
       cell: left own cells carry ``_k = 0`` and left ancestors ``_k = 1``;
       right own cells appear with both flags and right ancestors carry
       ``_k = 0``.  ``_k = 0`` rows pair a left geometry with right ones
       of the same or a finer tier, ``_k = 1`` rows with right ones of a
       coarser tier — the pair set of the reference's re-projection of the
       finer cell to the coarser tier (reprojectToTier,
       TieredSpatialJoin.java:471-511);
    3. one shuffled hash equi-join, then dropDuplicates on the id pair
       (both sides span cell ranges, so a pair CAN meet in several coarse
       cells — the reference's reduceByKey dedupe,
       TieredSpatialJoin.java:349), then the exact kind-aware pair
       predicate once per distinct pair.

    ``left_id`` / ``right_id`` must be unique keys of their inputs (the
    dedupe keeps one geometry pair per id pair).  Rows with a null WKT
    match nothing and are dropped first.

    Scale: a geometry ships at most its own cells plus its tier count
    times those cells as keyed rows (ancestors merge as the tiers
    coarsen, so it is usually own cells plus about one row per tier), and
    the right side's own cells twice — bounded by the inputs, independent
    of envelope area and of the other side's tiers.  Rows carry (id, WKT);
    nothing is collected to the driver and no tier scan runs; the exact
    stage is one batch-kernel call per Arrow batch over per-process parse
    caches.
    """
    if predicate is not None and radius is not None:
        raise ValueError(
            "predicate joins take no radius (use radius= for within-distance)"
        )
    probe, build = _pair_keyed_sides(
        left.select(F.col(left_id).alias("_pid"), F.col(left_wkt).alias("_pwkt"))
        .where(F.col("_pwkt").isNotNull()),
        right.select(F.col(right_id).alias("_gid"), F.col(right_wkt).alias("_gwkt"))
        .where(F.col("_gwkt").isNotNull()),
        radius or 0.0, strategy, max_duplicates,
    )
    return (
        probe.join(build.hint("shuffle_hash"), ["_t", "cell", "_k"])
        .dropDuplicates(["_pid", "_gid"])
        .where(_geom_pair_match_udf(radius, predicate)(F.col("_pwkt"), F.col("_gwkt")))
        .select(F.col("_pid").alias(left_id), F.col("_gid").alias(right_id))
    )


def _pair_keyed_sides(
    left: DataFrame, right: DataFrame, buffer: float, strategy: TieredStrategy, max_duplicates: int
) -> tuple[DataFrame, DataFrame]:
    """The keyed sides of :func:`geom_pair_join` from two (id, wkt) frames,
    columns ``id, wkt, _t, cell, _k``: the left side's own cells with
    ``_k = 0`` and ancestors with ``_k = 1``; the right side's own cells
    with both flags and ancestors with ``_k = 0``.  Only the right side is
    buffered."""
    return (
        _pair_keyed(left, 0.0, (0,), 1, strategy, max_duplicates),
        _pair_keyed(right, buffer, (0, 1), 0, strategy, max_duplicates),
    )


def _pair_keyed(
    df: DataFrame,
    buffer: float,
    own_roles: tuple[int, ...],
    ancestor_role: int,
    strategy: TieredStrategy,
    max_duplicates: int,
) -> DataFrame:
    """One ``mapInPandas`` explode of an (id, wkt) frame to its own cells
    (one row per flag of ``own_roles``) and its cells' distinct strict
    ancestors (flag ``ancestor_role``), as ``id, wkt, _t, cell, _k``."""
    schema = StructType(
        df.schema.fields
        + [StructField("_t", IntegerType()), StructField("cell", LongType()), StructField("_k", IntegerType())]
    )

    def _gen(batches):
        for pdf in batches:
            own = polygon_cells_np(list(pdf.iloc[:, 1]), strategy, max_duplicates, buffer)
            sides = [own] * len(own_roles) + [cell_ancestors(*own)]
            roles = list(own_roles) + [ancestor_role]
            row, tier, cell = (np.concatenate(a) for a in zip(*sides))
            out = pdf.iloc[row].reset_index(drop=True)
            out["_t"] = tier.astype(np.int32)
            out["cell"] = cell
            out["_k"] = np.repeat(np.array(roles, dtype=np.int32), [len(s[0]) for s in sides])
            yield out

    return df.mapInPandas(_gen, schema)


def _geom_pair_match_udf(radius: float | None, predicate: str | None = None):
    """Pandas UDF: (wkt_a, wkt_b) → exact pair predicate, one batch-kernel
    call per Arrow batch.  ``predicate`` names a DE-9IM relation of
    :data:`~geowave_spark.relate.RELATIONS` (the reference's
    SpatialJoinRunner GeomFunction parameter) and runs
    :func:`~geowave_spark.relate.relation_batch`, one batched DE-9IM relate
    over the batch's distinct pairs; None or ``"intersects"`` is
    ``pairs_dist2 <= radius²`` (radius 0 when None) — the same two kernels,
    with one point-on-segment rule, that the ``st_*`` SQL functions call."""
    if predicate in (None, "intersects"):
        r2 = (radius or 0.0) ** 2

        def match(wa, wb):
            return pairs_dist2(wa, wb) <= r2

    elif predicate in RELATIONS:

        def match(wa, wb):
            return relation_batch(predicate, wa, wb)

    else:
        raise ValueError(f"unknown join predicate: {predicate}")

    @F.pandas_udf("boolean")
    def _m(wa: pd.Series, wb: pd.Series) -> pd.Series:
        return pd.Series(match(wa, wb))

    return _m
