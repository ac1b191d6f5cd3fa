"""datapipeline_scripts_spark — a PySpark-native analytics / data-pipeline engine.

A from-scratch re-expression of the capability surface of
``articulate/datapipeline-scripts`` (a bash RDS backup/restore-verify
pipeline; see SURVEY.md) as an idiomatic Apache Spark engine:

- ``session``    — SparkSession factory (UTC, AQE, local tuning).
- ``cds``        — the driver JVM's class-data archive (faster start).
- ``catalog``    — fixture-table loader.
- ``registry``   — declared-query registry: every operator ships a
  DataFrame builder AND a DuckDB oracle SQL string, so the engine is
  differentially tested query-by-query (SURVEY.md §5.2).
- ``operators``  — core relational catalog (SURVEY.md §2.D).
- ``extensions`` — dedup / similarity / text analysis / multimodal
  (SURVEY.md §2.E, BASELINE.json north star).
- ``streaming``  — event-time windows, watermarks, as-of joins.
- ``pipeline``   — the reference's own control-plane surface: snapshot,
  restore-verify, retry/backoff, cleanup, check-in (SURVEY.md §2.A).
- ``sources``    — readers/writers (parquet, csv, json, jdbc config).

Design for 100 TB: DataFrame/SQL only (Catalyst + whole-stage codegen),
broadcast for dims, partitioned writes, no collect() on the data path.
"""

import sys

__version__ = "0.1.0"

# archive path -> (st_mtime_ns, st_size, st_ino) at its last directory read
_zip_stamps: dict[str, tuple[int, int, int]] = {}


def _memoize_zip_directories() -> None:
    """Re-read a zip archive's directory only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and before CPython 3.13 that makes every
    ``zipimporter`` on ``sys.path`` re-read its whole archive directory:
    a worker holds 2 importers on spark-core's jar (5,359 entries) and 12
    on ``pyspark.zip``, about 140 ms of CPU per task against ~20 ms of the
    task's own Python work. The first unpickled UDF imports this package
    in each worker, so from then on an archive whose (mtime, size, inode)
    is unchanged since its last read keeps its cached directory. A
    changed or new archive (``addPyFile``) is still re-read. CPython 3.13
    makes the invalidation lazy, so nothing is installed there.
    """
    if sys.version_info >= (3, 13):
        return
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            _zip_stamps.pop(self.archive, None)
            reread(self)
            return
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _zip_stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stat before the read: a write racing the read leaves a stale
        # stamp, which forces one more read, never a stale directory
        reread(self)
        _zip_stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_memoize_zip_directories()
