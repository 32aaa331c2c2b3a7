"""Bucketed persistence of the cell-indexed point table — the exchange
that never happens again.

The reference persists its index ONCE (rows keyed by SFC cell in the
k/v store) and every later query range-scans it without re-keying
(GeoWaveRDDLoader reads pre-partitioned splits).  The Spark-native
analog is a **bucketed table**: ``bucketBy(n, "cell")`` at write time
makes every later equi-join on ``cell`` read the big side with NO
Exchange — HashPartitioning(cell, n) from the scan already satisfies the
join's ClusteredDistribution, so only the (small, per-query) exploded
build side shuffles.  At 100 TB this converts the dominant stage of
every repeated spatial join from "shuffle 100 TB" to "shuffle the query
geometries": the indexed table is written once, joined forever.

Design constraints this module enforces rather than documents:

* The persisted ``cell`` must be the SAME tier the join would compute
  (``distance_join`` derives tier from the radius: the finest tier whose
  cell covers the 2r×2r buffered envelope).  The writer records
  (tier, max radius, bucket count) in table properties and
  :func:`bucketed_distance_join` verifies them — a mismatched radius
  raises instead of silently joining disjoint id spaces.
* Bucket pruning/co-location only survives if the join key is the
  as-stored column — the join below uses the persisted ``cell`` column
  directly, never recomputing it through the UDF (which would insert a
  Python eval + Exchange above the scan).

Reference: GeoWaveRDDLoader.loadIndexedRDD + RDDUtils.writeRDDToGeoWave
(analytics/spark/.../RDDUtils.java) — persist-indexed-once semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..encode import DEFAULT_STRATEGY, point_cell_at_tier_udf
from ..operators.join import _cell_join, _planar_build, _points
from ..sfc.tiered import DEFAULT_MAX_DUPLICATES, TieredStrategy

_PROP_TIER = "geowave.cell.tier"
_PROP_RADIUS = "geowave.cell.max_radius"
_PROP_BUCKETS = "geowave.cell.buckets"
_PROP_LON = "geowave.cell.lon_col"
_PROP_LAT = "geowave.cell.lat_col"
_PROP_STRATEGY = "geowave.cell.strategy"
_PROP_ATTR = "geowave.attr.column"


def strategy_fingerprint(strategy: TieredStrategy) -> str:
    """Canonical string of every parameter that shapes cell encodings.

    Two strategies with the same tier number but different dimension
    ranges (or max_bits) produce disjoint cell id spaces; the writer
    records this fingerprint and the readers verify it, so a
    differently-parameterized strategy raises instead of silently
    joining mismatched encodings."""
    dx, dy = strategy.dim_x, strategy.dim_y
    return (
        f"max_bits={strategy.max_bits}"
        f"|x={dx.min!r},{dx.max!r},{dx.wraps}"
        f"|y={dy.min!r},{dy.max!r},{dy.wraps}"
    )


def _check_strategy(props: dict, table: str, strategy: TieredStrategy) -> None:
    want = strategy_fingerprint(strategy)
    stored = props.get(_PROP_STRATEGY)
    if stored != want:
        raise ValueError(
            f"{table} was bucketed under strategy [{stored}] but the query "
            f"passed [{want}]; same-tier cells from different strategies "
            f"are disjoint id spaces — rewrite the table or pass the "
            f"writer's strategy"
        )


def _clear_stale_location(spark: SparkSession, table: str) -> None:
    """Make ``mode="overwrite"`` reliable across driver restarts.

    The session catalog is in-memory: after a restart the table is
    unregistered but its managed location survives in the warehouse dir,
    and ``saveAsTable`` then fails with LOCATION_ALREADY_EXISTS instead
    of overwriting.  Drop the registration if present; if the location
    still exists on a local filesystem, remove it.  (On a shared
    metastore + object store the catalog outlives the driver and the
    normal overwrite path handles this — the fallback is for
    local/in-memory catalogs.)"""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a managed table lives under its database's location: the warehouse
    # root for `default`, {warehouse}/{db}.db for any other database
    *ns, name = table.split(".")
    db = ns[-1] if ns else spark.catalog.currentDatabase()
    root = spark.catalog.getDatabase(db).locationUri
    if root.startswith("file:"):
        import shutil
        from urllib.parse import urlparse

        shutil.rmtree(f"{urlparse(root).path}/{name.lower()}", ignore_errors=True)


def write_bucketed_points(
    df: DataFrame,
    table: str,
    radius: float,
    *,
    n_buckets: int = 64,
    lon: str = "lon",
    lat: str = "lat",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    mode: str = "overwrite",
) -> int:
    """Persist ``df`` as a catalog table bucketed + sorted by the join
    cell for within-``radius`` joins.  Returns the tier used.

    ``n_buckets`` is the fixed reduce-side width of every later join —
    size it like shuffle partitions at the target scale (e.g. 4096 for a
    1000-executor cluster), NOT per-query.  ``sortBy("cell")`` keeps each
    bucket file cell-clustered so the sort-merge path skips its sort when
    Spark can use one file per bucket.
    """
    spark = df.sparkSession
    tier = strategy.tier_for_width(2.0 * radius, 2.0 * radius)
    if mode == "overwrite":
        _clear_stale_location(spark, table)
    enc = df.withColumn(
        "cell", point_cell_at_tier_udf(strategy, tier)(F.col(lon), F.col(lat))
    )
    (
        enc.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, "cell")
        .sortBy("cell")
        .saveAsTable(table)
    )
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ("
        f"'{_PROP_TIER}'='{tier}', '{_PROP_RADIUS}'='{radius!r}', "
        f"'{_PROP_BUCKETS}'='{n_buckets}', "
        f"'{_PROP_LON}'='{lon}', '{_PROP_LAT}'='{lat}', "
        f"'{_PROP_STRATEGY}'='{strategy_fingerprint(strategy)}')"
    )
    return tier


def _table_props(spark: SparkSession, table: str) -> dict[str, str]:
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    return {r["key"]: r["value"] for r in rows}


def _bucketed_props(spark: SparkSession, table: str, strategy: TieredStrategy) -> dict[str, str]:
    """Properties of a table written by :func:`write_bucketed_points`,
    verified against the query's ``strategy``."""
    props = _table_props(spark, table)
    if _PROP_TIER not in props:
        raise ValueError(
            f"{table} was not written by write_bucketed_points "
            f"(missing {_PROP_TIER} property)"
        )
    _check_strategy(props, table, strategy)
    return props


def bucketed_distance_join(
    spark: SparkSession,
    left_table: str,
    right: DataFrame,
    radius: float,
    left_id: str,
    right_id: str,
    *,
    right_lon: str = "lon",
    right_lat: str = "lat",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = DEFAULT_MAX_DUPLICATES,
) -> DataFrame:
    """Point×point within-distance join whose probe side is a bucketed
    table written by :func:`write_bucketed_points` — same output row set
    as ``operators.join.distance_join``, but the probe side scans with
    ZERO Exchange (the bucketed layout already satisfies the join's
    required distribution; only the exploded build side shuffles, into
    the table's bucket count).
    """
    props = _bucketed_props(spark, left_table, strategy)
    tier = strategy.tier_for_width(2.0 * radius, 2.0 * radius)
    stored = int(props[_PROP_TIER])
    if stored != tier:
        raise ValueError(
            f"radius {radius} needs tier {tier} cells but {left_table} is "
            f"bucketed at tier {stored} (written for max radius "
            f"{props.get(_PROP_RADIUS)}); rewrite the table or use "
            f"operators.join.distance_join"
        )
    # the writer recorded which columns the cell was derived from —
    # using anything else here would silently pair ids against the
    # wrong coordinates (pre-r4 the names were hard-coded "lon"/"lat")
    probe = _points(
        spark.table(left_table), left_id,
        props.get(_PROP_LON, "lon"), props.get(_PROP_LAT, "lat"), "l", "cell",
    )
    build, within = _planar_build(
        right, right_id, right_lon, right_lat, radius, strategy, max_duplicates, tier
    )
    return _cell_join(probe, build, ["cell"], within, left_id, right_id)


def count_exchanges(df: DataFrame) -> int:
    """Number of Exchange operators in the analyzed physical plan —
    the test/audit hook for 'the bucketed side did not shuffle'."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")


def bucketed_bbox_scan(
    spark: SparkSession,
    table: str,
    bbox: tuple[float, float, float, float],
    *,
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_cells: int = 4096,
):
    """Rows of a bucketed table inside ``bbox``, scanning only the
    buckets that can hold them.

    The bbox covers a bounded set of tier cells; an ``IN`` filter on the
    bucket column lets Spark's bucket pruning skip every file of the
    non-matching buckets at PLANNING time (``SelectedBucketsCount: k out
    of n`` in the scan) — the reference's index range scan re-expressed
    as catalog metadata, zero data touched outside the window.  The
    exact lon/lat predicate stays on top (cells cover a superset).
    Above ``max_cells`` the IN-list stops paying for itself and the scan
    falls back to the plain pushed-down lon/lat filter (still correct:
    same predicate, just no bucket skip).
    """
    import numpy as np

    from ..sfc.hilbert import xy_to_hilbert

    props = _bucketed_props(spark, table, strategy)
    tier = int(props[_PROP_TIER])
    minx, miny, maxx, maxy = bbox
    df = spark.table(table)
    lon_c = props.get(_PROP_LON, "lon")
    lat_c = props.get(_PROP_LAT, "lat")
    exact = (
        (F.col(lon_c) >= minx)
        & (F.col(lon_c) <= maxx)
        & (F.col(lat_c) >= miny)
        & (F.col(lat_c) <= maxy)
    )
    ax = int(strategy.dim_x.to_bins(np.array([minx]), tier)[0])
    bx = int(strategy.dim_x.to_bins(np.array([maxx]), tier)[0])
    ay = int(strategy.dim_y.to_bins(np.array([miny]), tier)[0])
    by = int(strategy.dim_y.to_bins(np.array([maxy]), tier)[0])
    n_cells = (bx - ax + 1) * (by - ay + 1)
    if n_cells > max_cells:
        return df.where(exact)
    gx, gy = np.meshgrid(np.arange(ax, bx + 1), np.arange(ay, by + 1))
    cells = (
        xy_to_hilbert(
            gx.ravel().astype(np.uint64), gy.ravel().astype(np.uint64), tier
        )
        if tier > 0
        else np.zeros(1, dtype=np.uint64)
    )
    in_cells = F.col("cell").isin([int(c) for c in cells.astype(np.int64)])
    return df.where(in_cells & exact)


# ---------------------------------------------------------------------------
# attribute (secondary) index — AttributeIndexImpl semantics
# ---------------------------------------------------------------------------


def write_attribute_index(
    df: DataFrame,
    table: str,
    column: str,
    *,
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` bucketed + sorted by a non-geometry field — the
    analog of the reference's secondary attribute index
    (core/store/.../index/attribute/AttributeIndexImpl.java: a second
    physical ordering of the same rows, keyed by one attribute).

    The Spark-native layout gives both index behaviors for free:

    * equality / IN on ``column`` prunes whole buckets at PLANNING time
      (``SelectedBucketsCount: k out of n`` in the scan) — only 1/n of
      the files are even opened;
    * ``sortBy(column)`` clusters values inside each bucket file, so a
      RANGE predicate prunes at the parquet row-group level via the
      pushed-down min/max stats (the sort makes group stats tight).

    The indexed column is recorded in table properties and verified at
    scan time, mirroring :func:`write_bucketed_points`."""
    spark = df.sparkSession
    if mode == "overwrite":
        _clear_stale_location(spark, table)
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, column)
        .sortBy(column)
        .saveAsTable(table)
    )
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ("
        f"'{_PROP_ATTR}'='{column}', '{_PROP_BUCKETS}'='{n_buckets}')"
    )


def attribute_index_scan(
    spark: SparkSession,
    table: str,
    *,
    equals=None,
    values=None,
    between: tuple | None = None,
) -> DataFrame:
    """Rows of an attribute-indexed table matching an equality, IN, or
    range predicate on the indexed column.

    Exactly one of ``equals`` / ``values`` / ``between`` must be given.
    Equality and IN compile to a planning-time bucket prune; a range
    rides the sorted layout's row-group statistics (still a pushed-down
    scan filter, no bucket skip — bucket hashing doesn't preserve
    order)."""
    props = _table_props(spark, table)
    if _PROP_ATTR not in props:
        raise ValueError(
            f"{table} was not written by write_attribute_index "
            f"(missing {_PROP_ATTR} property)"
        )
    col = props[_PROP_ATTR]
    given = [v for v in (equals, values, between) if v is not None]
    if len(given) != 1:
        raise ValueError("pass exactly one of equals=, values=, between=")
    df = spark.table(table)
    if equals is not None:
        return df.where(F.col(col) == F.lit(equals))
    if values is not None:
        return df.where(F.col(col).isin(list(values)))
    lo, hi = between
    return df.where((F.col(col) >= lo) & (F.col(col) <= hi))
