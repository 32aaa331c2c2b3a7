"""SQL spatial-join injection — the SqlQueryRunner analog.

The reference parses a user's SQL with Spark's parser, looks for exactly
one registered geometry-UDF predicate joining two relations, runs
TieredSpatialJoin on those relations, swaps the (now pre-filtered)
relations back into the session and re-runs the original SQL
(analytics/spark/.../sparksql/SqlQueryRunner.java:91-303).  The re-run
re-applies the exact predicate over the much smaller participating
subsets, so results are identical to evaluating the SQL directly — the
index join only prunes.

This module does the same at the PLAN level (r3; the r1–r2 version was a
regex over the SQL text, which subqueries / qualified names / expression
arguments silently defeated):

1. parse the SQL with Spark's own parser
   (``sessionState().sqlParser().parsePlan``) and walk the unresolved
   logical plan: exactly two relation references, exactly one supported
   spatial predicate — ``st_within_distance(a.g, b.g, r)``,
   ``st_intersects`` or ``st_<name>`` for any DE-9IM relation of
   :data:`~geowave_spark.relate.RELATIONS` — sitting in a
   Filter/Join condition reachable from the condition root only through
   ``And`` (the reference's exactly-one-top-level-conjunct rule,
   SqlQueryRunner.java:164-245);
2. run the matching indexed join (:func:`distance_join` for point×point,
   the geometry joins when a side holds lines/polygons — detected from
   the WKT prefix of a sampled row);
3. semi-join each relation down to its participating rows, temporarily
   re-register the PRUNED subsets under the ORIGINAL names (the
   reference swaps the relations in the session the same way), re-run
   the untouched SQL — Catalyst re-applies the exact predicate over the
   small subsets — then restore the catalog.

Rows are identified by ``xxhash64`` over all columns, so inputs are
assumed row-distinct (the reference keys on its own row ids; a table
loaded through the engine's catalog always has a unique id column and
can skip the hash).  Any doubt at any step ⇒ plain ``spark.sql`` —
never wrong, only sometimes un-accelerated.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relate import RELATIONS

# every DE-9IM relation implies the pair intersects, so the
# intersects-superset prune below is a valid participant filter for each,
# and the re-run re-evaluates the exact predicate over the pruned views
_SPATIAL_FNS = {"st_within_distance", "st_intersects"} | {f"st_{n}" for n in RELATIONS}


def _geom_kind(df: DataFrame, col: str) -> str:
    """Geometry kind of a WKT column, verified HOMOGENEOUS (r4 ADVICE:
    sampling one row let a mixed POINT/POLYGON column take the point fast
    path, whose regex yields null for the non-POINT rows — silently
    dropping them from the prune pairs).  One distinct-prefix scan of the
    single column per injected query; the injection itself scans far
    more, and "MIXED" makes the caller fall back to plain spark.sql."""
    kinds = (
        df.where(F.col(col).isNotNull())
        .select(F.upper(F.trim(F.substring_index(F.col(col), "(", 1))).alias("k"))
        .distinct()
        .limit(3)
        .collect()
    )
    if not kinds:
        return "POINT"  # all-null column: any plan produces zero pairs
    if len(kinds) != 1:
        return "MIXED"
    return str(kinds[0][0])


def _with_rowid(df: DataFrame, name: str = "_gwid") -> DataFrame:
    return df.withColumn(name, F.xxhash64(*[F.col(c) for c in df.columns]))


def _point_lonlat(df: DataFrame, geom: str) -> DataFrame:
    """POINT WKT column → lon/lat doubles (split on the inner space)."""
    inner = F.regexp_extract(F.col(geom), r"POINT\s*\(\s*([-0-9.eE]+)\s+([-0-9.eE]+)\s*\)", 1)
    inner2 = F.regexp_extract(F.col(geom), r"POINT\s*\(\s*([-0-9.eE]+)\s+([-0-9.eE]+)\s*\)", 2)
    return df.withColumn("_gwlon", inner.cast("double")).withColumn(
        "_gwlat", inner2.cast("double")
    )


_KINDS = {
    "POINT", "LINESTRING", "POLYGON",
    "MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON",
}


def _indexed_pairs(
    spark: SparkSession, ta: DataFrame, ga: str, tb: DataFrame, gb: str, fn: str, radius: float | None
) -> DataFrame | None:
    """(left _gwid, right _gwid) pairs through the indexed join, or None
    when no indexed plan applies (caller falls back to plain spark.sql —
    the module's 'never wrong, only un-accelerated' contract).

    The pair set only needs to be a SUPERSET of the predicate's true
    pairs restricted per relation: the rewritten SQL re-applies the exact
    predicate over the pruned views, so e.g. ``st_contains`` between two
    polygon relations can prune with the (cheaper, superset) INTERSECTS
    pair join.
    """
    from .operators.join import (
        distance_join,
        geom_pair_join,
        geometry_distance_join,
        geometry_intersects_join,
    )

    ka, kb = _geom_kind(ta, ga), _geom_kind(tb, gb)
    if ka not in _KINDS or kb not in _KINDS:
        return None  # unrecognized geometry text — do not guess (ADVICE r2)
    a = _with_rowid(ta, "_aid")
    b = _with_rowid(tb, "_bid")
    fn = fn.lower()
    if fn == "st_within_distance":
        if radius is None:
            return None  # non-literal radius — fall back
        if ka == "POINT" and kb == "POINT":
            return distance_join(
                _point_lonlat(a, ga), _point_lonlat(b, gb), radius,
                "_aid", "_bid", "_gwlon", "_gwlat", "_gwlon", "_gwlat",
            )
        if ka == "POINT":
            return geometry_distance_join(
                _point_lonlat(a, ga), b, radius, "_aid", "_bid",
                lon="_gwlon", lat="_gwlat", wkt=gb,
            )
        if kb == "POINT":
            return geometry_distance_join(
                _point_lonlat(b, gb), a, radius, "_bid", "_aid",
                lon="_gwlon", lat="_gwlat", wkt=ga,
            ).select("_aid", "_bid")
        # extended × extended (e.g. polygon×polygon) — tiered pair join
        return geom_pair_join(
            a, b, "_aid", "_bid", left_wkt=ga, right_wkt=gb, radius=radius
        )
    # topological family (contains/within/intersects/touches/crosses/
    # overlaps/covers/equals): participants are pruned to the INTERSECTS
    # superset — every DE-9IM relation above implies intersection — and
    # the re-run evaluates the exact predicate over the pruned views
    if ka != "POINT" and kb != "POINT":
        return geom_pair_join(a, b, "_aid", "_bid", left_wkt=ga, right_wkt=gb)
    if kb == "POINT" and ka != "POINT":
        return geometry_intersects_join(
            _point_lonlat(b, gb), a, "_bid", "_aid", lon="_gwlon", lat="_gwlat", wkt=ga
        ).select("_aid", "_bid")
    if ka == "POINT" and kb != "POINT":
        return geometry_intersects_join(
            _point_lonlat(a, ga), b, "_aid", "_bid", lon="_gwlon", lat="_gwlat", wkt=gb
        )
    # point×point containment family: degenerate — let Spark evaluate it
    return None


@dataclass
class _PredInfo:
    fn: str
    a_alias: str
    a_col: str
    b_alias: str
    b_col: str
    radius: float | None
    a_table: str = ""
    b_table: str = ""


def _kids(node):
    """TreeNode children as a Python list (works for plans and exprs)."""
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _seq_to_list(seq) -> list[str]:
    return [str(seq.apply(i)) for i in range(seq.size())]


def _walk(node):
    yield node
    for k in _kids(node):
        yield from _walk(k)


def _fn_name(expr) -> str | None:
    """Lower-cased function name of an UnresolvedFunction node."""
    if _cls(expr) != "UnresolvedFunction":
        return None
    parts = _seq_to_list(expr.nameParts())
    return parts[-1].lower() if parts else None


def _spatial_preds(expr):
    return [e for e in _walk(expr) if (_fn_name(e) or "") in _SPATIAL_FNS]


def _only_and_path(root, target) -> bool:
    """True iff ``target`` is reachable from ``root`` crossing only And
    nodes (the semi-join prune is sound only for a top-level conjunct:
    under OR/NOT, rows satisfying only the other branch would be pruned
    — silently wrong row sets)."""
    if root is target:
        return True
    if _cls(root) != "And":
        return False
    return any(_only_and_path(k, target) for k in _kids(root))


def _pred_args(pred) -> _PredInfo | None:
    """Extract (alias.col, alias.col[, literal radius]); None if the
    arguments are anything else (expressions, unqualified columns)."""
    args = pred.arguments()
    n = args.size()
    fn = _fn_name(pred)
    if fn == "st_within_distance":
        if n != 3:
            return None
    elif n != 2:
        return None
    sides = []
    for i in (0, 1):
        a = args.apply(i)
        if _cls(a) != "UnresolvedAttribute":
            return None
        parts = _seq_to_list(a.nameParts())
        if len(parts) != 2:
            return None  # unqualified / catalog-qualified — don't guess
        sides.append(parts)
    radius = None
    if n == 3:
        lit = args.apply(2)
        if _cls(lit) != "Literal":
            return None  # non-literal radius — fall back
        try:
            radius = float(str(lit.value()))
        except (TypeError, ValueError):
            return None
    return _PredInfo(fn, sides[0][0], sides[0][1], sides[1][0], sides[1][1], radius)


def _analyze(spark: SparkSession, sql: str) -> _PredInfo | None:
    """Parse with Spark's SQL parser and walk the unresolved logical plan.
    Returns the predicate/relation binding when injection is provably
    sound, else None.  Soundness requires: exactly two relation
    references in the WHOLE plan (a third — e.g. in a scalar subquery —
    would see the pruned view and read a wrong row set), exactly one
    spatial predicate, that predicate a top-level conjunct of its
    Filter/Join condition, both arguments alias-qualified columns of the
    two relations."""
    plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)

    # r4 (ADVICE high): CTE definitions live in UnresolvedWith
    # innerChildren, invisible to the children() walk below — a CTE alias
    # would be counted as a plain relation, crashing at spark.table() or,
    # if a temp view shares the CTE name, pruning the WRONG relation
    # (silently wrong rows).  Subquery expressions (scalar/EXISTS/IN)
    # likewise hold plans inside EXPRESSIONS, not plan children, so a
    # third relation reference hiding in one is invisible too — and if it
    # names a swapped table, the re-run reads the pruned view.  Bail on
    # either shape: Spark's own subqueriesAll() surfaces every plan
    # nested in expressions, and any CTE-ish node class anywhere in the
    # walk (UnresolvedWith at root, or nested in a FROM-clause subquery).
    if plan.subqueriesAll().size() != 0:
        return None
    for node in _walk(plan):
        c = _cls(node)
        if c == "UnresolvedWith" or "CTE" in c:
            return None

    rels: list[tuple[str, str]] = []  # (table, alias)
    conds = []

    def _one_part(rel) -> str | None:
        parts = _seq_to_list(rel.multipartIdentifier())
        return parts[0] if len(parts) == 1 else None

    def _collect(node):
        c = _cls(node)
        if c == "SubqueryAlias":
            kid = _kids(node)[0]
            if _cls(kid) == "UnresolvedRelation":
                t = _one_part(kid)
                rels.append((t, str(node.alias())) if t else (None, None))
                return  # the relation is consumed with its alias
        elif c == "UnresolvedRelation":
            t = _one_part(node)
            rels.append((t, t) if t else (None, None))
            return
        elif c == "Filter":
            conds.append(node.condition())
        elif c == "Join":
            opt = node.condition()
            if opt.isDefined():
                conds.append(opt.get())
        for k in _kids(node):
            _collect(k)

    _collect(plan)
    if len(rels) != 2 or any(t is None for t, _ in rels):
        return None  # not exactly two plain one-part relations
    alias_to_table = {a: t for t, a in rels}
    if len(alias_to_table) != 2:
        return None  # duplicate aliases

    found: list[tuple[object, object]] = []  # (condition root, pred node)
    for cond in conds:
        for p in _spatial_preds(cond):
            found.append((cond, p))
    if len(found) != 1:
        return None
    root, pred = found[0]
    if not _only_and_path(root, pred):
        return None
    info = _pred_args(pred)
    if info is None:
        return None
    if {info.a_alias, info.b_alias} != set(alias_to_table):
        return None  # predicate not between the two FROM relations
    info.a_table = alias_to_table[info.a_alias]
    info.b_table = alias_to_table[info.b_alias]
    return info


def run_spatial_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Execute SQL; if the parsed plan contains one supported
    spatial-join predicate between its two relations — as a top-level
    conjunct — inject the indexed join first by temporarily swapping the
    relations for their pruned participating subsets (the reference's
    relation-swap, SqlQueryRunner.java:109-160) and re-running the SQL
    unchanged.  Any doubt ⇒ plain ``spark.sql`` (never wrong, only
    un-accelerated)."""
    from .functions.registry import register_all

    register_all(spark)
    try:
        # r4: table resolution and join construction are inside the same
        # guard as the plan walk — any resolution surprise (a name the
        # walker mistook for a real relation, a column-type mismatch)
        # degrades to plain spark.sql instead of crashing (ADVICE high).
        info = _analyze(spark, sql)
        if info is None:
            return spark.sql(sql)
        ta, tb = spark.table(info.a_table), spark.table(info.b_table)
        pairs = _indexed_pairs(
            spark, ta, info.a_col, tb, info.b_col, info.fn, info.radius
        )
    except Exception:
        pairs = None  # any JVM-walk surprise: execute the SQL untouched
    if pairs is None:
        return spark.sql(sql)
    pairs = pairs.persist()
    if info.a_table == info.b_table:
        # self-join: one physical relation — prune to the UNION of both
        # sides' participants (a superset per side; the re-run applies
        # the exact predicate, so extras fall out)
        ids = pairs.select("_aid").union(
            pairs.select(F.col("_bid").alias("_aid"))
        ).distinct()
        subs = {
            info.a_table: _with_rowid(ta, "_aid")
            .join(ids, "_aid", "left_semi")
            .drop("_aid")
        }
    else:
        subs = {
            info.a_table: _with_rowid(ta, "_aid")
            .join(pairs.select("_aid").distinct(), "_aid", "left_semi")
            .drop("_aid"),
            info.b_table: _with_rowid(tb, "_bid")
            .join(pairs.select("_bid").distinct(), "_bid", "left_semi")
            .drop("_bid"),
        }
    # swap → analyze → restore.  spark.sql analyzes EAGERLY, so the
    # returned DataFrame is bound to the pruned plans; restoring the
    # original views immediately afterwards cannot change it.
    temp_names = {
        t.name for t in spark.catalog.listTables() if t.isTemporary
    }
    saved = {
        name: (spark.table(name) if name in temp_names else None) for name in subs
    }
    try:
        for name, sub in subs.items():
            sub.createOrReplaceTempView(name)
        return spark.sql(sql)
    finally:
        for name, orig in saved.items():
            spark.catalog.dropTempView(name)
            if orig is not None:
                # the name was itself a temp view — re-register the original
                orig.createOrReplaceTempView(name)
