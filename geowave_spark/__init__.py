"""geowave_spark — a PySpark-native spatial-join + tiling analytics engine.

From-scratch reimplementation of the query/data-processing capabilities of
locationtech/geowave (reference at /root/reference, Java) as an idiomatic
PySpark engine: vectorized numpy SFC/cell indexing inside Arrow pandas UDFs,
spatial joins as cell-key hash equi-joins, kNN via cell-ring expansion,
raster↔vector tiling over an image+caption table, plus the large-scale
training-data operators (dedup, similarity search, text analysis).

Importing the package also installs :func:`_skip_unchanged_zip_rereads`.
PySpark's Python worker calls ``importlib.invalidate_caches()`` before
every task, and before Python 3.13 each ``zipimporter`` answers by
re-reading its archive's whole directory (``pyspark.zip`` alone has over
a thousand entries, and each package imported from it has an importer of
its own).  The guard re-reads an archive only when its ``os.stat``
stamp (mtime_ns, size, inode) changed since that importer's last read,
which is what 3.13 does in effect by dropping the cache.  A changed
archive is still re-read: ``deploy.build_zip`` writes through
``os.replace``, which gives the file a new inode.  Every worker imports
this module when it unpickles an engine UDF, so the guard reaches all
workers; a worker's first task still pays, because the guard is
installed only once the engine is imported there.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives
    (Python < 3.13 only; installing twice is a no-op)."""
    orig = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(orig, "skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
            return
        orig(self)
        self._read_stamp = stamp

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()
