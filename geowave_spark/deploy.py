"""Cluster deployment helper — ship the package to executors.

On a real cluster the engine runs via ``spark-submit --py-files
geowave_spark.zip`` (north rule).  When the session is created by a host
process instead (the driver's verify harness, a notebook), executors still
need the package on their PYTHONPATH to unpickle our pandas UDFs —
``ensure_py_files(spark)`` zips the package once and registers it with
``SparkContext.addPyFile``, the programmatic equivalent of --py-files.
``session.get_spark`` calls it on every session it returns, so operators
need no call of their own; it is a no-op after the first call per
SparkContext.

Per-task worker cost: before every task a PySpark Python worker adds the
shipped files to ``sys.path`` and calls ``importlib.invalidate_caches()``.
Before Python 3.13 every ``zipimporter`` then re-reads its archive's
whole directory — ``pyspark.zip`` once per package imported from it,
plus this zip — which cost about 250 ms per task on a 4-core box, more
than most UDF bodies.  ``import geowave_spark`` installs a guard
(``geowave_spark._skip_unchanged_zip_rereads``) that skips the re-read
while the archive's stat stamp is unchanged.  ``build_zip`` writes
through ``os.replace``, so a rebuilt zip gets a new inode and is still
re-read.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

_SHIPPED: set[int] = set()


def build_zip(path: str | None = None) -> str:
    """Zip the geowave_spark package (deterministic contents), by default
    into the process's temp directory (``TMPDIR``)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = path or os.path.join(tempfile.gettempdir(), "geowave_spark_pyfiles.zip")
    tmp = f"{out}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join("geowave_spark", os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    os.replace(tmp, out)
    return out


def ensure_py_files(spark) -> None:
    """Make the package importable on executors (idempotent per
    SparkContext).  A failure to build the zip propagates: without it every
    pandas UDF that pickles a package function by reference dies on the
    Python workers with ``ModuleNotFoundError``."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    sc.addPyFile(build_zip())
    _SHIPPED.add(key)
