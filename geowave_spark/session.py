"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .deploy import ensure_py_files


def get_spark(
    app: str = "geowave_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a session with AQE, Arrow and sane shuffle sizing enabled.

    These mirror what a production deployment would set cluster-wide:
    adaptive execution (runtime shuffle coalescing + skew-join splitting —
    our analog of the reference's histogram-balanced SplitsProvider),
    Arrow-batched Python exchange for every pandas UDF.  The package is
    shipped to the executors (:func:`~geowave_spark.deploy.ensure_py_files`),
    so UDFs unpickle on Python workers whatever the driver's working
    directory.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", max(cpus, 8)))
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # scan parallelism for small local files (cluster defaults are fine
        # at TB scale); post-shuffle sizing is left to AQE's default 64 MB
        # advisory + parallelismFirst — forcing a small advisory size
        # measurably hurts (many tiny partitions ⇒ per-task overhead)
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # local mode shuffles through RAM (spark.local.dir on /dev/shm) with
        # no network hop, so compression is pure CPU cost; on a cluster,
        # where shuffle blocks cross the network, turn both back on here
        # (settings made here override spark-defaults.conf and --conf)
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        # no-combine shuffles (repartition/exchange) with ≤200 partitions
        # default to the bypass-merge writer: one FILE PER REDUCE PARTITION
        # per map task (128 parts × 128 tasks ⇒ 16k creates+deletes), whose
        # directory-op contention serializes 32 concurrent writers (shuffle
        # write time profiled 8 s → 42 s going 8→32 cores on the KDE halo
        # exchange).  Forcing the single-file sort writer removes the
        # per-partition file fan-out; on a real cluster the same setting
        # avoids inode storms on dense executors.
        .config("spark.shuffle.sort.bypassMergeThreshold", "4")
        # bucketed tables here are deliberate (sources/bucketing.py: the
        # persist-indexed-once layout); auto-de-bucketing would silently
        # drop bucket PRUNING on join-less range scans (measured: the
        # cell IN (...) filter loses its SelectedBucketsCount skip)
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # shuffle/spill scratch: prefer RAM-backed storage in local mode —
        # a single VM disk serializes 32 concurrent shuffle writers (3×
        # slowdown measured); a real cluster instead sets this to per-node
        # NVMe via SPARK_GRAFT_LOCAL_DIR / spark-defaults
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()
    ensure_py_files(spark)
    return spark
