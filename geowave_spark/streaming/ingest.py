"""Streaming ingest: cell-encode a stream and maintain windowed metrics.

GeoWave has no streaming query engine — Kafka is only an ingest source
(core/ingest/.../kafka/IngestFromKafkaDriver.java:48-54: consume Avro →
normal ingest path).  The Spark-native equivalent: ``readStream`` (kafka in
production; rate/memory here) → the same cell-encode UDFs → partitioned
sink, plus a watermarked windowed aggregation maintaining the streaming
metrics table (count per cell per window) that the batch engine keeps in
``metrics``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..encode import with_point_cells
from ..sfc import TieredStrategy


def synthetic_point_stream(spark: SparkSession, rows_per_second: int = 500) -> DataFrame:
    """A rate-source stream of points (deterministic lon/lat from the value
    counter) standing in for a Kafka feature feed."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.col("value").alias("event_id"),
            (-180.0 + (F.col("value") * 48271 % 360000) / 1000.0).alias("lon"),
            (-90.0 + (F.col("value") * 69621 % 180000) / 1000.0).alias("lat"),
        )
    )


POINT_EVENT_SCHEMA = "event_id long, lon double, lat double"


def parse_kafka_records(records: DataFrame) -> DataFrame:
    """Kafka record batch → typed point stream (pure transformation).

    Takes the exact projection Spark's kafka source emits (binary
    ``key``/``value`` + ``timestamp``) and parses the JSON payload into
    the synthetic_point_stream shape; malformed payloads yield null
    fields (from_json PERMISSIVE) and are dropped, mirroring
    IngestFromKafkaDriver.java:48-54's skip-bad-record behavior.  Being
    a plain DataFrame transform it runs identically on a batch sample,
    which is how it is tested without a broker."""
    parsed = records.select(
        F.col("timestamp").alias("ts"),
        F.from_json(F.col("value").cast("string"), POINT_EVENT_SCHEMA).alias("ev"),
    )
    return (
        parsed.select("ts", "ev.event_id", "ev.lon", "ev.lat")
        .where(
            F.col("event_id").isNotNull()
            & F.col("lon").between(-180.0, 180.0)
            & F.col("lat").between(-90.0, 90.0)
        )
    )


def kafka_point_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """The production source: ``readStream.format("kafka")`` → JSON parse.

    Requires the spark-sql-kafka package on the cluster (not present in
    this sandbox — synthetic_point_stream is the drop-in stand-in; every
    downstream operator takes either).  The reference analog is
    IngestFromKafkaDriver consuming Avro into the normal ingest path."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_records(raw)


def encode_stream(stream: DataFrame, strategy: TieredStrategy | None = None) -> DataFrame:
    """Add (tier, cell) to a streaming point DataFrame — same pandas UDFs as
    the batch path (Structured Streaming runs them per micro-batch)."""
    return with_point_cells(stream, strategy=strategy or TieredStrategy())


def windowed_cell_counts(
    stream: DataFrame,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    cell_deg: float = 15.0,
) -> DataFrame:
    """Watermarked per-window per-cell counts (late data beyond the
    watermark is dropped) — the streaming metrics table."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("win"),
            F.floor((F.col("lon") + 180.0) / cell_deg).alias("cx"),
            F.floor((F.col("lat") + 90.0) / cell_deg).alias("cy"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def ingest_to_table(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    strategy: TieredStrategy | None = None,
    trigger_seconds: int = 1,
):
    """Start the streaming ingest: encode cells and append to the indexed
    table path, partitioned by tier (exactly-once via the checkpoint)."""
    encoded = encode_stream(stream, strategy)
    return (
        encoded.writeStream.format("parquet")
        .option("path", f"{path}/data")
        .option("checkpointLocation", checkpoint)
        .partitionBy("tier")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def dedup_stream(stream: DataFrame, id_col: str = "event_id", watermark: str = "30 seconds") -> DataFrame:
    """Streaming DedupeFilter: drop repeat sightings of an identity within
    the watermark horizon (the reference's DedupeFilter semantics lifted
    onto Structured Streaming state)."""
    return stream.withWatermark("ts", watermark).dropDuplicates([id_col])


def stateful_cell_counts(
    stream: DataFrame,
    cell_deg: float = 15.0,
    timeout_minutes: int = 10,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: cumulative
    per-cell point counts maintained in explicit group state (the
    streaming analog of the metrics table a batch write maintains).

    Emits one row per cell per micro-batch with the running total —
    unlike a windowed aggregation, the total never resets, and state
    expires only after ``timeout_minutes`` of silence.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = stream.select(
        F.floor((F.col("lon") + 180.0) / cell_deg).cast("long").alias("cx"),
        F.floor((F.col("lat") + 90.0) / cell_deg).cast("long").alias("cy"),
    )

    def _update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        (total,) = state.get if state.exists else (0,)
        total += n
        state.update((total,))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame({"cx": [key[0]], "cy": [key[1]], "total": [total]})

    return keyed.groupBy("cx", "cy").applyInPandasWithState(
        _update,
        outputStructType="cx long, cy long, total long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_pip_join(
    stream: DataFrame,
    polygons: DataFrame,
    polygon_id: str = "region_id",
    wkt: str = "wkt",
    keep: tuple[str, ...] = ("event_id", "ts"),
    broadcast_limit: int = 2_000_000,
) -> DataFrame:
    """Stream-static point-in-geometry join: streaming points × a static
    geometry table (any WKT kind), zero shuffle.

    The geometry side is collected once at plan time into the same
    broadcast :class:`LocalGeomGrid` the batch PIP join uses, by the same
    loader and per-batch matcher (operators/join.py:_geom_grid,
    _grid_probe): one stateless ``mapInPandas`` per micro-batch — exactly
    the plan Structured Streaming wants (no stream-side state, watermarks
    and windowed aggs compose downstream).  ``keep`` columns pass
    through, so the output feeds windowed per-region rollups directly.

    The static side must fit the driver/broadcast — ``broadcast_limit``
    is a hard guard (one bounded ``limit(n+1)`` collect, never a full
    count), the batch join's probe.  Unlike the batch path there is no
    tiered-shuffle fallback here: a static side above the limit raises
    with instructions (pre-filter the geometry table to the stream's
    region of interest, or run the batch join on sink output) rather than
    silently OOMing the driver at deploy time.
    """
    from ..operators.join import _geom_grid, _grid_probe

    grid_bc = _geom_grid(polygons, polygon_id, wkt, 0.0, broadcast_limit)
    if grid_bc is None:
        raise ValueError(
            f"stream_pip_join static side exceeds broadcast_limit="
            f"{broadcast_limit}; pre-filter the geometry table to the "
            "stream's region of interest or join on the batch path "
            "(operators.join) over the ingested sink output"
        )
    # dict.fromkeys dedupes while preserving order — keep may itself
    # contain lon/lat and a duplicate column name would break the
    # pandas batches below
    src = stream.select(*dict.fromkeys([*keep, "lon", "lat"]))
    return _grid_probe(
        src, grid_bc, "lon", "lat", {c: c for c in keep}, polygons.schema[polygon_id], None
    )


def windowed_region_counts(
    stream: DataFrame,
    polygons: DataFrame,
    polygon_id: str = "region_id",
    wkt: str = "wkt",
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Watermarked per-window per-REGION occupancy counts — the streaming
    rollup of the PIP join (late points beyond the watermark drop, state
    is bounded by windows × matched regions)."""
    hits = stream_pip_join(
        stream, polygons, polygon_id=polygon_id, wkt=wkt, keep=("ts",)
    )
    return (
        hits.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), polygon_id)
        .agg(F.count(F.lit(1)).alias("n"))
    )
