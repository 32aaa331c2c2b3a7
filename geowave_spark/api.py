"""Public API — the engine's SpatialJoinRunner / DataStore.query surface.

One call per reference entry point (SURVEY.md §3):

- :func:`spatial_join` — SpatialJoinRunner.run (predicate dispatch;
  analytics/spark/.../spatial/SpatialJoinRunner.java:90-107 +
  JoinOptions.java:20-47 for the negative predicate / build side).
- :func:`bbox_query` — DataStore.query with a spatial constraint
  (coarse cell-range prune + exact fine filter, BaseDataStore.query path).
- :func:`register_sql` — GeomFunctionRegistry analog: after this,
  ``spark.sql`` accepts the ST predicate surface (GWQL ⊂ Spark SQL).
- :func:`gwql` — DataStore.query(String) analog: run a GWQL statement
  (translated to Spark SQL against the session's temp views).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .cql import cql_filter, cql_query  # noqa: F401  (re-export)
from .functions import register_all as register_sql  # noqa: F401  (re-export)
from .gwql import run as gwql  # noqa: F401  (re-export)
from .sql_join import run_spatial_sql  # noqa: F401  (re-export)
from .operators.join import distance_join, point_in_polygon_join, polygon_distance_join
from .plans.prune import pruned_bbox_scan
from .sfc import TieredStrategy


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str,
    left_id: str,
    right_id: str,
    radius: float = 0.0,
    negative: bool = False,
    salt: int | str | None = None,
    **kw,
) -> DataFrame:
    """Indexed spatial join returning distinct (left_id, right_id) pairs.

    predicate ∈ {"within_distance", "intersects", "contains", "within"}:
    - "within_distance": point left × (point|polygon) right within `radius`
    - "intersects"/"within": point left inside polygon right (`wkt` column)
    - "contains": alias of "within" with sides as given (point in polygon)
    """
    if predicate == "within_distance":
        if "wkt" in right.columns:
            return polygon_distance_join(
                left, right, radius, left_id, right_id,
                negative=negative, salt=salt, **kw
            )
        return distance_join(
            left, right, radius, left_id, right_id, negative=negative, salt=salt, **kw
        )
    if predicate in ("intersects", "within", "contains"):
        return point_in_polygon_join(
            left, right, left_id, right_id, negative=negative, salt=salt, **kw
        )
    raise ValueError(f"unknown predicate {predicate!r}")


def bbox_query(
    indexed: DataFrame,
    bbox: tuple[float, float, float, float],
    tier: int,
    strategy: TieredStrategy | None = None,
    loose: bool = False,
) -> DataFrame:
    """Spatial range query over a cell-indexed table (coarse prune + fine
    filter; ``loose`` = IndexOnlySpatialQuery semantics)."""
    return pruned_bbox_scan(indexed, strategy or TieredStrategy(), bbox, tier, loose=loose)
