"""s2_geometry_rust_spark — a PySpark-native spatial-join & tiling engine.

A brand-new engine (not a port) with the query/data-processing capabilities of
the reference s2-geometry-rust library (/root/reference): S2 cell-id math
(Hilbert-curve encoding), region coverings, point-in-polygon, cell-union set
algebra, kNN via cell-ring expansion, and raster-tile <-> vector joins — all
expressed Spark-first: DataFrames + vectorized pandas/Arrow UDFs, explicit
partitioning / salting / checkpointing for 10^12-document scale.

Layers
------
- ``kernels``   pure-numpy geometry kernels (bit-exact mirrors of the
                reference semantics, incl. its documented simplifications).
- ``functions`` pandas-UDF / Column wrappers around the kernels.
- ``operators`` distributed operators: tiling, spatial join, kNN, dedup,
                ANN similarity search, text analysis.
- ``sources``   synthetic interleaved-document source + span extraction.
- ``plans``     partitioning, skew salting, checkpoint/lineage helpers.
- ``streaming`` incremental/streaming variants.

Python UDF workers
------------------
Spark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, and on CPython 3.10-3.12 every ``zipimporter`` then re-reads
its archive's whole directory (``pyspark.zip``: ~1,300 entries, once per
imported pyspark subpackage), over 100 ms of CPU per task.  On those
versions importing the package makes that re-read stat-keyed
(``_stat_keyed_zip_invalidation``); a rewritten archive, such as a new
``--py-files`` zip, is still re-read.  CPython >= 3.13 re-reads lazily
by itself and is left untouched.

A ``session.get_spark`` session starts its workers from the daemon
module ``_daemon``, which imports this package before it forks any
worker, so every task has the rule, also one that never imports the
package.  Elsewhere (a cluster's ``spark-submit --py-files``) a worker
installs it when a task first imports the package, as every engine UDF
does when it is unpickled.  This module imports only ``sys`` at the top
level, so the daemon loads nothing else before it forks.
"""

import sys

__version__ = "0.1.0"


def _stat_keyed_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed on disk; idempotent.

    Every directory read through ``zipimport._read_directory`` (by an
    importer's constructor or by an invalidation) is stamped with the
    archive's ``(st_mtime_ns, st_size)`` taken just before the read.
    Directories already cached when this runs are stamped with the
    archive's stamp now, so an archive rewritten between its last read
    and this call is missed until it changes again; in a Spark worker
    the task that first imports the package has just re-read them.  An
    invalidation whose archive still carries the stamp of its cached
    directory points the importer at that directory; any other goes to
    the stock method."""
    import os
    import zipimport

    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "stat_keyed", False):
        return
    stock_invalidate = cls.invalidate_caches
    stock_read = zipimport._read_directory
    cache = zipimport._zip_directory_cache
    stamps: dict = {}  # archive -> stamp of its directory in ``cache``

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def read_directory(archive):
        key = stamp(archive)
        files = stock_read(archive)
        stamps[archive] = key
        return files

    def invalidate_caches(self):
        files = cache.get(self.archive)
        key = stamp(self.archive)
        if files is None or key is None or stamps.get(self.archive) != key:
            stock_invalidate(self)
        else:
            self._files = files

    invalidate_caches.stat_keyed = True
    for archive in list(cache):
        stamps[archive] = stamp(archive)
    zipimport._read_directory = read_directory
    cls.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _stat_keyed_zip_invalidation()
