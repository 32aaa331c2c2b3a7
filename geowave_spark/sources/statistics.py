"""Persisted, incrementally-merged statistics store (BloomFilterStatistic
and friends).

The reference maintains per-(type, field) statistics on every write and
answers statistic-backed queries without scanning data
(core/store/.../statistics/field/{CountStatistic, NumericRangeStatistic,
NumericStatsStatistic, HyperLogLogStatistic, BloomFilterStatistic,
FixedBinNumericHistogramStatistic}.java; OptimalCountAggregation short-
circuits COUNT into the stats store).  This module is the Spark-side
analog:

- ``update_statistics(df, path, part_col, fields)`` appends one stats row
  per (partition, field) to ``{path}/stats`` — each row carries MERGEABLE
  partials: count/nulls/min/max/sum/M2 (parallel-variance form), an HLL
  sketch (``hll_sketch_agg``, Datasketches binary — union-mergeable), and
  a Bloom filter bitset (fixed m/k, OR-mergeable).  One JVM aggregate
  and one Bloom aggregate cover all fields of a batch
  (``partials_summary``, the one partials builder, which also serves
  ``update_binned_statistics`` and ``checkpointed_write``'s summary).
- ``merged_statistics`` folds the partials across partitions (Chan
  parallel-variance merge; ``hll_union_agg`` for NDV; OR for Bloom) —
  O(partitions) driver work, no data scan.
- ``optimal_count`` answers COUNT purely from stats
  (OptimalCountAggregation semantics).
- ``bloom_might_contain`` answers membership with no scan — False is
  definitive, True is probabilistic (classic Bloom contract).

Incremental semantics: call ``update_statistics`` per ingest batch with
the partitions that batch wrote (checkpointed_write writes the same rows
when given ``stats_fields``); partials append and merge at read time, so
a resumed ingest never recomputes finished partitions' stats.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BLOOM_M_BITS = 1 << 17  # 16 KiB bitset per (partition, field)
BLOOM_K = 7
_HK1 = "0123456789123456"
_HK2 = "6543210987654321"
# per-field partial columns of the stats table, after part_key, field, n
_PARTIALS = ("nulls", "min", "max", "sum", "mean", "m2", "n_numeric", "hll", "bloom")
# the per-(bin, field) partial columns of the binned stats table
_BINNED_PARTIALS = ("nulls", "min", "max", "sum", "hll")


def _bloom_indices(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Double-hash index streams for k probes (h1 + i·h2 mod m)."""
    arr = np.asarray(values, dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_HK1).astype(np.uint64)
    h2 = pd.util.hash_array(arr, hash_key=_HK2).astype(np.uint64)
    return h1, h2


def _bloom_bits(values: np.ndarray) -> bytes:
    bits = np.zeros(BLOOM_M_BITS // 8, dtype=np.uint8)
    if len(values):
        h1, h2 = _bloom_indices(values)
        for i in range(BLOOM_K):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(BLOOM_M_BITS)
            np.bitwise_or.at(bits, (idx // 8).astype(np.int64), (1 << (idx % 8)).astype(np.uint8))
    return bits.tobytes()


def partials_summary(
    df: DataFrame, key: str, fields: list[str], extra: tuple = (), bloom: bool = True
) -> DataFrame:
    """One row per ``key`` value: ``n`` (its rows), the ``extra``
    aggregates, and every mergeable partial ``name`` of ``fields[i]`` as
    column ``{name}{i}`` (``name`` in :data:`_PARTIALS`; Catalyst drops
    the ones a projection does not read).

    One JVM aggregate covers every field and the ``extra`` columns.  A
    grouped-agg pandas UDF cannot share an agg() with JVM aggregates, so
    the Bloom partials come from one more aggregate, joined on ``key``."""
    cols = [F.col(f) for f in fields]
    nums = [c.try_cast("double") for c in cols]  # non-numeric → NULL partials (ANSI-safe)
    jvm = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        *extra,
        *[
            agg.alias(f"{name}{i}")
            for i, (c, num) in enumerate(zip(cols, nums))
            for name, agg in (
                ("nulls", F.sum(F.when(c.isNull(), 1).otherwise(0))),
                ("min", F.min(num)),
                ("max", F.max(num)),
                ("sum", F.sum(num)),
                ("mean", F.avg(num)),
                ("m2", F.coalesce(F.var_pop(num), F.lit(0.0)) * F.count(num)),
                ("n_numeric", F.count(num)),
                ("hll", F.hll_sketch_agg(c.cast("string"))),
            )
        ],
    )
    if not (bloom and fields):
        return jvm

    @F.pandas_udf("binary")
    def _bloom(vals: pd.Series) -> bytes:
        return _bloom_bits(vals.dropna().astype(str).to_numpy(dtype=object))

    blooms = df.groupBy(key).agg(
        *[_bloom(c.cast("string")).alias(f"bloom{i}") for i, c in enumerate(cols)]
    )
    return jvm.join(blooms, key)


def per_field_rows(fields: list[str], names: tuple[str, ...] = _PARTIALS):
    """Generator column unpivoting a :func:`partials_summary` row to one
    row per field: ``(field, n, *names)``."""
    rows = [
        F.struct(
            F.lit(field).alias("field"), F.col("n"), *[F.col(f"{name}{i}").alias(name) for name in names]
        )
        for i, field in enumerate(fields)
    ]
    return F.inline(F.array(*rows))


def update_statistics(
    df: DataFrame,
    path: str,
    part_col: str,
    fields: list[str],
) -> None:
    """Append per-(partition, field) mergeable stat partials for this batch."""
    if not fields:
        return
    base = df.withColumn("part_key", F.col(part_col).cast("string"))
    (
        partials_summary(base, "part_key", fields)
        .select("part_key", per_field_rows(fields))
        .write.mode("append")
        .parquet(f"{path}/stats")
    )


def read_statistics(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/stats")


def update_binned_statistics(
    df: DataFrame,
    path: str,
    bin_col,
    fields: list[str],
    bin_name: str = "bin",
) -> None:
    """Append per-(bin, field) mergeable stat partials to
    ``{path}/stats_binned`` — the reference's binned statistics
    (core/store/.../statistics/binning/SpatialSimpleFeatureBinningStrategy
    + SpatialBinningType H3/S2/GeoHash): any statistic persisted per
    spatial cell, so per-cell counts / ranges / NDV answer from the store
    with no data scan.

    ``bin_col`` is any Column — typically one of the engine's cell UDFs
    (``encode.geohash_udf``, ``s2_cell_udf``, ``h3_udf``, or a Hilbert
    ``point_cell_udf``) — evaluated once per row in the same distributed
    aggregation pass as the partials.  Incremental: each batch appends its
    partials; readers merge across appends (counts/sums add, min/max
    fold, HLL unions), so a resumed ingest never recomputes finished
    batches.
    """
    if not fields:
        return
    base = df.withColumn("_bin", bin_col.cast("string"))
    (
        partials_summary(base, "_bin", fields, bloom=False)
        .select(F.col("_bin").alias(bin_name), per_field_rows(fields, _BINNED_PARTIALS))
        .write.mode("append")
        .parquet(f"{path}/stats_binned")
    )


def binned_statistics(
    spark: SparkSession, path: str, field: str, bin_name: str = "bin"
) -> DataFrame:
    """Per-bin merged statistics for one field — one distributed groupBy
    over the PARTIALS (O(bins × batches) rows, never the data):
    (bin, count, nulls, min, max, sum, ndv_estimate)."""
    sdf = spark.read.parquet(f"{path}/stats_binned").where(F.col("field") == field)
    return sdf.groupBy(bin_name).agg(
        F.sum("n").alias("count"),
        F.sum("nulls").alias("nulls"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        F.sum("sum").alias("sum"),
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("ndv_estimate"),
    )


def binned_optimal_count(
    spark: SparkSession, path: str, field: str, bin_name: str = "bin"
) -> DataFrame:
    """Per-bin COUNT from the store alone (OptimalCountAggregation over a
    binning strategy) → (bin, count)."""
    return (
        spark.read.parquet(f"{path}/stats_binned")
        .where(F.col("field") == field)
        .groupBy(bin_name)
        .agg(F.sum("n").alias("count"))
    )


def merged_statistics(spark: SparkSession, path: str, field: str) -> dict:
    """Fold partition partials for one field — no data scan.

    Mean/variance merge via the parallel (Chan) formula; NDV via HLL
    union; returns
    {count, nulls, min, max, sum, mean, variance, ndv_estimate}.
    """
    rows = (
        read_statistics(spark, path)
        .where(F.col("field") == field)
        .select("n", "nulls", "min", "max", "sum", "mean", "m2", "n_numeric")
        .collect()
    )
    if not rows:
        raise KeyError(f"no statistics for field {field!r} at {path}")
    n = sum(r["n"] for r in rows)
    nulls = sum(r["nulls"] for r in rows)
    mins = [r["min"] for r in rows if r["min"] is not None]
    maxs = [r["max"] for r in rows if r["max"] is not None]
    total = sum(r["sum"] for r in rows if r["sum"] is not None)
    # Chan merge of (count, mean, M2) partials
    cn, cmean, cm2 = 0.0, 0.0, 0.0
    for r in rows:
        if not r["n_numeric"]:
            continue
        bn, bmean, bm2 = float(r["n_numeric"]), float(r["mean"]), float(r["m2"])
        delta = bmean - cmean
        tot = cn + bn
        cmean += delta * bn / tot
        cm2 += bm2 + delta * delta * cn * bn / tot
        cn = tot
    ndv = (
        read_statistics(spark, path)
        .where(F.col("field") == field)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("ndv"))
        .first()["ndv"]
    )
    return {
        "count": int(n),
        "nulls": int(nulls),
        "min": min(mins) if mins else None,
        "max": max(maxs) if maxs else None,
        "sum": total,
        "mean": cmean if cn else None,
        "variance": (cm2 / cn) if cn else None,
        "ndv_estimate": int(ndv),
    }


def optimal_count(spark: SparkSession, path: str, field: str | None = None) -> int:
    """COUNT answered from the stats store alone
    (OptimalCountAggregation.java semantics: no row scan)."""
    sdf = read_statistics(spark, path)
    if field is None:
        field = sdf.select("field").first()["field"]
    return int(
        sdf.where(F.col("field") == field).agg(F.sum("n").alias("n")).first()["n"]
    )


def merged_bloom(spark: SparkSession, path: str, field: str) -> np.ndarray:
    """OR-fold the per-partition Bloom bitsets for a field (one stats-table
    read; reuse the result for many probes)."""
    rows = (
        read_statistics(spark, path)
        .where(F.col("field") == field)
        .select("bloom")
        .collect()
    )
    bits = np.zeros(BLOOM_M_BITS // 8, dtype=np.uint8)
    for r in rows:
        bits |= np.frombuffer(r["bloom"], dtype=np.uint8)
    return bits


def bloom_contains(bits: np.ndarray, values) -> np.ndarray:
    """Vectorized membership probe against a merged bitset: False is
    definitive, True is probabilistic (classic Bloom contract)."""
    arr = np.array([str(v) for v in np.atleast_1d(np.asarray(values, dtype=object))], dtype=object)
    h1, h2 = _bloom_indices(arr)
    out = np.ones(len(arr), dtype=bool)
    for i in range(BLOOM_K):
        idx = ((h1 + np.uint64(i) * h2) % np.uint64(BLOOM_M_BITS)).astype(np.int64)
        out &= ((bits[idx // 8] >> (idx % 8).astype(np.uint8)) & 1).astype(bool)
    return out


def index_statistics(spark: SparkSession, path: str) -> dict:
    """Index-level statistics from the catalog side tables — the analog of
    the reference's index statistics family
    (core/store/.../statistics/index/{PartitionsStatistic,
    RowRangeHistogramStatistic, IndexMetaDataSetStatistic}.java): the
    partition list, a rows-per-partition histogram, totals, and the index
    envelope union — all answered from the metrics table, no data scan."""
    m = spark.read.parquet(f"{path}/metrics")
    rows = m.collect()
    parts = sorted(r["part_key"] for r in rows)
    counts = {r["part_key"]: r["n_rows"] for r in rows}
    out = {
        "partitions": parts,
        "n_partitions": len(parts),
        "row_histogram": counts,
        "total_rows": int(sum(counts.values())),
        "max_partition_rows": int(max(counts.values())) if counts else 0,
    }
    if rows and "minx" in rows[0].asDict():
        out["envelope"] = (
            min(r["minx"] for r in rows),
            min(r["miny"] for r in rows),
            max(r["maxx"] for r in rows),
            max(r["maxy"] for r in rows),
        )
    return out


def bloom_might_contain(spark: SparkSession, path: str, field: str, value) -> bool:
    """Single-value convenience over :func:`merged_bloom` +
    :func:`bloom_contains` (BloomFilterStatistic membership probe)."""
    return bool(bloom_contains(merged_bloom(spark, path, field), [value])[0])
