"""geostructures_spark: a PySpark-native geo-temporal spatial-join + tiling
engine with the query capabilities of ccbest/geostructures, built Spark-first
(DataFrame/Catalyst + vectorized Arrow UDFs) for web-scale page corpora.
"""
import sys

__version__ = '0.1.0'


def _guard_zip_rereads() -> None:
    """In a PySpark worker on CPython < 3.13, make a zipimporter's
    ``invalidate_caches`` re-read its archive only when the archive changed.

    Every Python task starts with ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``). On CPython < 3.13 that
    re-reads the whole zip directory once per zipimporter in
    ``sys.path_importer_cache`` (one per package directory of
    ``pyspark.zip``), a fixed CPU cost per task before any row is read;
    CPython 3.13 only drops the cached entry. A re-read of an unchanged
    archive returns the same directory, so the guard keeps the importer's
    directory while the archive's (mtime_ns, size) stays the stamp taken
    when it was last read, and re-reads when it changed or the importer
    holds no files.

    Installed at import in a worker only: the worker imports this package
    while it unpickles a task's function, after ``setup_spark_files`` has
    re-read every cached importer, so those importers are stamped as
    current. A process that is not a worker is left unpatched."""
    files = sys.modules.get('pyspark.core.files')
    if (sys.version_info >= (3, 13) or files is None
            or not getattr(files.SparkFiles, '_is_running_on_worker', False)):
        return
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, '_stamped', False):
        return

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self):
        now = stamp(self.archive)
        if now is not None and self._files and getattr(self, '_stamp', None) == now:
            return
        reread(self)
        self._stamp = now

    invalidate_caches._stamped = True
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._stamp = stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_rereads()
