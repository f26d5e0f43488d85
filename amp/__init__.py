"""amp — a from-scratch PySpark-native record-linkage / entity-resolution engine.

Re-expresses the semantics of the reference pipeline (TFMV/AddressMatchPro,
a Go + Postgres + Python matcher, see SURVEY.md) as an idiomatic Spark
DataFrame job over a table of source-code files:

    (repo string, path string, commit string, lang string, content string)

Stages (each checkpointable, each a pure DataFrame -> DataFrame transform):

    normalize -> features (broadcast IDF + one-pass side features)
              -> blocking -> pair scoring -> rank/top-k -> edges
              -> connected components -> clusters

Everything is DataFrame/Catalyst-first; Python appears only inside
vectorized pandas/Arrow UDFs (never per-row Spark UDFs).
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _guard_zip_cache_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    central directory only when the archive changed on disk: its
    ``(st_mtime_ns, st_size)`` differs from what this importer last
    read. importlib's FileFinder applies the same rule to directories.

    Why: a PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every Python task (``setup_spark_files``, pyspark
    worker_util.py), and CPython 3.11/3.12 answer it by re-reading every
    zip on ``sys.path`` eagerly (zipimport.py's ``invalidate_caches``).
    A reused worker holds about 16 such importers over pyspark.zip, the
    spark-core jar and py4j: 0.11-0.25 s per task before its first row
    (Spark 4.1.2, CPython 3.11.7, 4 cores). Every process that imports
    amp — the driver and each Python worker that unpickles an amp
    kernel — installs this once; CPython 3.13+ re-reads lazily already,
    so nothing is installed there.

    Each importer keeps its own stamp, so a changed archive is re-read
    by all of its importers. The stamp is taken before the read: an
    archive that changes during the read differs at the next call."""
    if sys.version_info >= (3, 13):
        return
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "amp_guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is not None and stamp == getattr(self, "_amp_stamp", None):
            return
        stock(self)
        self._amp_stamp = stamp

    invalidate_caches.amp_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_cache_invalidation()
