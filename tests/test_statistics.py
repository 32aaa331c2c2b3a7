"""Persisted incremental statistics store (sources/statistics.py) —
mirrors the reference's field-statistic tests: incremental updates merge
to the same answer as a from-scratch computation, OptimalCount answers
from stats alone, Bloom membership has no false negatives and a bounded
false-positive rate, HLL NDV estimates land near truth."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowave_spark.sources.statistics import (
    bloom_contains,
    bloom_might_contain,
    merged_bloom,
    merged_statistics,
    optimal_count,
    read_statistics,
    update_binned_statistics,
    update_statistics,
)


@pytest.fixture(scope="module")
def batches():
    rng = np.random.default_rng(13)
    out = []
    for b in range(3):
        n = 800
        out.append(
            pd.DataFrame(
                {
                    "part": (rng.integers(0, 4, n) + 4 * b).astype(np.int64),
                    "val": rng.normal(50.0, 12.0, n).round(4),
                    "word": [f"w{v}" for v in rng.integers(0, 500, n)],
                }
            )
        )
    return out


@pytest.fixture(scope="module")
def store(spark, batches, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("statstore"))
    for pdf in batches:  # three incremental ingests
        update_statistics(spark.createDataFrame(pdf), path, "part", ["val", "word"])
    return path


def test_incremental_merge_matches_direct(spark, batches, store):
    allpdf = pd.concat(batches, ignore_index=True)
    got = merged_statistics(spark, store, "val")
    assert got["count"] == len(allpdf)
    assert got["nulls"] == 0
    assert got["min"] == pytest.approx(allpdf.val.min())
    assert got["max"] == pytest.approx(allpdf.val.max())
    assert got["sum"] == pytest.approx(allpdf.val.sum(), rel=1e-12)
    assert got["mean"] == pytest.approx(allpdf.val.mean(), rel=1e-9)
    assert got["variance"] == pytest.approx(allpdf.val.var(ddof=0), rel=1e-6)


def _per_field_statistics(df, path, part_col, fields):
    """The per-field form of ``update_statistics``: one JVM aggregate, one
    Bloom aggregate and one join per field, appended field by field."""
    from geowave_spark.sources.statistics import _bloom_bits

    @F.pandas_udf("binary")
    def _bloom(vals: pd.Series) -> bytes:
        return _bloom_bits(vals.dropna().astype(str).to_numpy(dtype=object))

    base = df.withColumn("part_key", F.col(part_col).cast("string"))
    for field in fields:
        c = F.col(field)
        num = c.try_cast("double")
        jvm = base.groupBy("part_key").agg(
            F.lit(field).alias("field"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("nulls"),
            F.min(num).alias("min"),
            F.max(num).alias("max"),
            F.sum(num).alias("sum"),
            F.avg(num).alias("mean"),
            (F.coalesce(F.var_pop(num), F.lit(0.0)) * F.count(num)).alias("m2"),
            F.count(num).alias("n_numeric"),
            F.hll_sketch_agg(c.cast("string")).alias("hll"),
        )
        blooms = base.groupBy("part_key").agg(_bloom(c.cast("string")).alias("bloom"))
        jvm.join(blooms, "part_key").write.mode("append").parquet(f"{path}/stats")


def test_fused_update_matches_per_field(spark, batches, tmp_path):
    """One aggregate for all fields writes the same stats table as one
    aggregate per field, for a numeric and a string field with nulls."""
    pdf = pd.concat(batches, ignore_index=True).astype(object)
    pdf.loc[::7, "val"] = None
    pdf.loc[::11, "word"] = None
    pdf.loc[::13, "word"] = "3.25"  # numeric-looking strings get numeric partials
    df = spark.createDataFrame(pdf, "part long, val double, word string")
    fused, per_field = str(tmp_path / "fused"), str(tmp_path / "per_field")
    update_statistics(df, fused, "part", ["val", "word"])
    _per_field_statistics(df, per_field, "part", ["val", "word"])
    got, want = read_statistics(spark, fused), read_statistics(spark, per_field)
    assert got.schema == want.schema
    assert got.columns[:3] == ["part_key", "field", "n"]

    def rows(sdf):
        out = sdf.withColumn("ndv", F.hll_sketch_estimate("hll")).drop("hll").collect()
        return sorted((r.asDict() for r in out), key=lambda r: (r["part_key"], r["field"]))

    g, w = rows(got), rows(want)
    assert [(r["part_key"], r["field"]) for r in g] == [(r["part_key"], r["field"]) for r in w]
    assert len(g) == 2 * pdf.part.nunique()
    for a, b in zip(g, w):
        for k in ("n", "nulls", "min", "max", "n_numeric", "bloom", "ndv"):
            assert a[k] == b[k], (a["part_key"], a["field"], k)
        for k in ("sum", "mean", "m2"):
            assert a[k] == pytest.approx(b[k], rel=1e-12, abs=0.0), (a["part_key"], a["field"], k)
    assert any(r["n_numeric"] for r in g if r["field"] == "word")
    assert all(r["nulls"] for r in g)


def test_optimal_count_no_scan(spark, batches, store):
    assert optimal_count(spark, store, "val") == sum(len(b) for b in batches)


def test_hll_ndv_estimate(spark, batches, store):
    allpdf = pd.concat(batches, ignore_index=True)
    true_ndv = allpdf.word.nunique()
    est = merged_statistics(spark, store, "word")["ndv_estimate"]
    assert abs(est - true_ndv) / true_ndv < 0.1


def test_bloom_no_false_negatives(spark, batches, store):
    allpdf = pd.concat(batches, ignore_index=True)
    bits = merged_bloom(spark, store, "word")
    assert bloom_contains(bits, allpdf.word.unique()).all()
    assert bloom_might_contain(spark, store, "word", allpdf.word.iloc[0])


def test_bloom_false_positive_rate_bounded(spark, store):
    bits = merged_bloom(spark, store, "word")
    absent = [f"zz_absent_{i}" for i in range(2000)]
    fp = bloom_contains(bits, absent).sum()
    assert fp / len(absent) < 0.05


def test_checkpointed_write_maintains_stats_incrementally(spark, tmp_path):
    from geowave_spark.sources.catalog import checkpointed_write

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "tier": np.repeat([1, 2, 3], 100),
            "lon": rng.uniform(-10, 10, 300),
            "lat": rng.uniform(-10, 10, 300),
            "v": rng.uniform(0, 1, 300).round(6),
        }
    )
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(pdf)
    r1 = checkpointed_write(df, path, "tier", stats_fields=["v"])
    assert set(r1["written"]) == {"1", "2", "3"}
    # resume: nothing new to write → no duplicate stats rows
    r2 = checkpointed_write(df, path, "tier", stats_fields=["v"])
    assert r2["written"] == []
    stats = read_statistics(spark, path)
    assert stats.count() == 3  # one partial per partition, not six
    assert optimal_count(spark, path, "v") == 300


def test_index_statistics_from_metrics(spark, tmp_path):
    """PartitionsStatistic / RowRangeHistogramStatistic analogs answered
    from the metrics side table alone."""
    from geowave_spark.sources.catalog import checkpointed_write
    from geowave_spark.sources.statistics import index_statistics

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "tier": np.repeat([4, 5], [120, 80]),
            "lon": rng.uniform(-30, 40, 200),
            "lat": rng.uniform(-10, 20, 200),
        }
    )
    path = str(tmp_path / "tbl")
    checkpointed_write(spark.createDataFrame(pdf), path, "tier")
    got = index_statistics(spark, path)
    assert got["partitions"] == ["4", "5"]
    assert got["row_histogram"] == {"4": 120, "5": 80}
    assert got["total_rows"] == 200 and got["max_partition_rows"] == 120
    minx, miny, maxx, maxy = got["envelope"]
    assert minx == pytest.approx(pdf.lon.min()) and maxy == pytest.approx(pdf.lat.max())


def test_binned_statistics_per_cell(spark, tmp_path):
    """Binned persisted statistics (SpatialSimpleFeatureBinningStrategy
    analog): per-geohash-cell count / min / max answered from the store
    equal a direct scan, across TWO incremental appends (round-3 verdict
    #10)."""
    from geowave_spark.encode import geohash_udf
    from geowave_spark.sources.statistics import (
        binned_optimal_count,
        binned_statistics,
        update_binned_statistics,
    )

    rng = np.random.default_rng(11)
    parts = []
    for batch in range(2):
        pdf = pd.DataFrame(
            {
                "lon": rng.uniform(-30, 40, 400),
                "lat": rng.uniform(-10, 20, 400),
                "v": rng.normal(0, 5, 400),
            }
        )
        parts.append(pdf)
    path = str(tmp_path / "btbl")
    for pdf in parts:
        df = spark.createDataFrame(pdf)
        update_binned_statistics(
            df, path, geohash_udf(2)(F.col("lon"), F.col("lat")), ["v"]
        )
    allp = pd.concat(parts, ignore_index=True)
    full = spark.createDataFrame(allp).withColumn(
        "bin", geohash_udf(2)(F.col("lon"), F.col("lat"))
    )
    want = {
        r["bin"]: (r["n"], r["mn"], r["mx"])
        for r in full.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    got = {
        r["bin"]: (r["count"], r["min"], r["max"])
        for r in binned_statistics(spark, path, "v").collect()
    }
    assert set(got) == set(want)
    for b in want:
        assert got[b][0] == want[b][0]
        assert got[b][1] == pytest.approx(want[b][1], rel=0, abs=0)
        assert got[b][2] == pytest.approx(want[b][2], rel=0, abs=0)
    counts = {
        r["bin"]: r["count"] for r in binned_optimal_count(spark, path, "v").collect()
    }
    assert counts == {b: w[0] for b, w in want.items()}
    assert len(want) > 10  # fixture spans many cells


def _parent_form_write(df, path, part_col, stats_fields):
    """The side tables of ``checkpointed_write`` in their separate-aggregate
    form: lineage, metrics and stats each from its own aggregate over the
    partitions lineage does not list yet (the data itself is not written)."""
    spark = df.sparkSession
    lineage = f"{path}/lineage"
    done = (
        {r["part_key"] for r in spark.read.parquet(lineage).collect()}
        if os.path.exists(lineage)
        else set()
    )
    todo = df.withColumn("part_key", F.col(part_col).cast("string"))
    todo = todo.where(~F.col("part_key").isin(list(done))) if done else todo
    todo.groupBy("part_key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2147483647))).alias("fingerprint"),
    ).write.mode("append").parquet(lineage)
    todo.groupBy("part_key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("lon").alias("minx"),
        F.max("lon").alias("maxx"),
        F.min("lat").alias("miny"),
        F.max("lat").alias("maxy"),
    ).write.mode("append").parquet(f"{path}/metrics")
    _per_field_statistics(todo, path, "part_key", stats_fields)


def _per_field_binned(df, path, bin_col, fields):
    """The per-field form of ``update_binned_statistics``: one aggregate
    and one append per field."""
    base = df.withColumn("_bin", bin_col.cast("string"))
    for field in fields:
        c = F.col(field)
        num = c.try_cast("double")
        base.groupBy(F.col("_bin").alias("bin")).agg(
            F.lit(field).alias("field"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("nulls"),
            F.min(num).alias("min"),
            F.max(num).alias("max"),
            F.sum(num).alias("sum"),
            F.hll_sketch_agg(c.cast("string")).alias("hll"),
        ).write.mode("append").parquet(f"{path}/stats_binned")


def _assert_same_table(spark, got_path, want_path, key):
    """Same schema, column order and rows (HLL sketches compared by their
    estimate, floating sums to 1e-12)."""
    got, want = spark.read.parquet(got_path), spark.read.parquet(want_path)
    assert got.schema == want.schema

    def rows(sdf):
        if "hll" in sdf.columns:
            sdf = sdf.withColumn("hll", F.hll_sketch_estimate("hll"))
        return sorted((r.asDict() for r in sdf.collect()), key=lambda r: [str(r[k]) for k in key])

    g, w = rows(got), rows(want)
    assert [[r[k] for k in key] for r in g] == [[r[k] for k in key] for r in w]
    for a, b in zip(g, w):
        for k in a:
            if isinstance(b[k], float):
                assert a[k] == pytest.approx(b[k], rel=1e-12, abs=0.0), (k, a)
            else:
                assert a[k] == b[k], (k, a)


@pytest.fixture(scope="module")
def side_table_input(spark):
    rng = np.random.default_rng(29)
    n = 1200
    pdf = pd.DataFrame(
        {
            "part": rng.integers(0, 6, n).astype(np.int64),
            "lon": rng.uniform(-30, 40, n),
            "lat": rng.uniform(-10, 20, n),
            "v": rng.normal(0.0, 3.0, n).round(5),
            "word": [f"w{k}" for k in rng.integers(0, 90, n)],
        }
    ).astype(object)
    pdf.loc[::9, "v"] = None
    pdf.loc[::7, "word"] = None
    pdf.loc[::13, "word"] = "2.5"  # numeric-looking strings get numeric partials
    pdf.loc[::17, "lat"] = None
    schema = "part long, lon double, lat double, v double, word string"
    return spark.createDataFrame(pdf, schema).cache()


def test_side_tables_match_separate_aggregates(spark, side_table_input, tmp_path):
    """The one per-partition summary writes lineage, metrics and stats
    identical to one aggregate per side table, across a resumed second
    write; the fused binned update writes the per-field form's rows."""
    from geowave_spark.sources.catalog import checkpointed_write

    df, fields = side_table_input, ["v", "word"]
    got, want = str(tmp_path / "got"), str(tmp_path / "want")
    for batch in (df.where(F.col("part") <= 2), df):
        checkpointed_write(batch, got, "part", stats_fields=fields)
        _parent_form_write(batch, want, "part", fields)
    _assert_same_table(spark, f"{got}/lineage", f"{want}/lineage", ["part_key"])
    _assert_same_table(spark, f"{got}/metrics", f"{want}/metrics", ["part_key"])
    _assert_same_table(spark, f"{got}/stats", f"{want}/stats", ["part_key", "field"])
    assert read_statistics(spark, got).count() == 2 * 6

    bin_col = F.pmod(F.col("part"), F.lit(4))
    for batch in (df.where(F.col("part") <= 2), df.where(F.col("part") > 2)):
        update_binned_statistics(batch, got, bin_col, ["v", "word", "lat"])
        _per_field_binned(batch, want, bin_col, ["v", "word", "lat"])
    _assert_same_table(spark, f"{got}/stats_binned", f"{want}/stats_binned", ["bin", "field", "n"])


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_side_table_job_counts(spark, side_table_input, tmp_path):
    """A two-field checkpointed write runs 11 Spark jobs (12 with one
    aggregate per side table) and a three-field binned update 2 (one
    aggregate and one append per field: 6)."""
    from geowave_spark.sources.catalog import checkpointed_write

    df = side_table_input
    path = str(tmp_path / "tbl")
    assert _jobs(spark, "ckpt_two_fields", lambda: checkpointed_write(df, path, "part", stats_fields=["lon", "lat"])) == 11
    bin_col = F.pmod(F.col("part"), F.lit(4))
    assert _jobs(spark, "binned_three_fields", lambda: update_binned_statistics(df, path, bin_col, ["v", "word", "lat"])) == 2


def test_resumed_write_job_count(spark, side_table_input, tmp_path):
    """A write whose partitions are all in lineage reads the lineage and
    probes the remainder for a row, and builds no summary: at most 4 Spark
    jobs (8 when it checkpointed the empty summary)."""
    from geowave_spark.sources.catalog import checkpointed_write

    df = side_table_input
    path = str(tmp_path / "tbl")
    first = checkpointed_write(df, path, "part", stats_fields=["lon", "lat"])
    resumed = []
    n = _jobs(spark, "ckpt_resumed", lambda: resumed.append(checkpointed_write(df, path, "part", stats_fields=["lon", "lat"])))
    assert resumed == [{"written": [], "skipped": first["written"]}]
    assert n <= 4

