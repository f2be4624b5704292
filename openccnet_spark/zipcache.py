"""Stat-checked zip-archive invalidation for the engine's Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``). Before
CPython gh-103200 (3.11 and older), each ``zipimport.zipimporter`` answers
by re-reading its archive's whole central directory at once, and every
imported pyspark subpackage has its own importer over
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries): about 0.14-0.24 s
per task before the task sees a row.

Design rules:

* **Same meaning, less work.** An archive's directory is re-read only when
  its ``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken just
  before its last read; an archive that vanished is dropped exactly as the
  stdlib drops it. A zip that ``addPyFile`` adds mid-session, or an archive
  rewritten on disk, still imports.
* **Workers only, once per process.** The package calls
  ``install_on_worker`` at import; it acts only when pyspark's worker has
  already marked ``SparkFiles`` as running on a worker, which it does
  before it unpickles a task's function. The driver patches nothing and
  this module imports no pyspark. The first task of each worker still pays
  the stdlib re-read: it runs before the task's function is unpickled.
* **Every stage imports the package.** cloudpickle ships a nested closure
  by value and imports only the modules its names resolve to, so each
  Python stage's function references a package-level name (a module-level
  helper); one over numpy and pandas alone would not install the hook.
* **Only where the stdlib is eager.** Whether ``invalidate_caches`` reads
  the archive is asked of the running stdlib (``_reads_eagerly``), not
  guessed from a version number; a lazy stdlib is left alone.
* No option, environment variable or Spark config switches it.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> its stat key taken just before its last directory read
_read_at: dict = {}


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads a changed archive
    only; every importer over an unchanged one takes the cached directory."""
    archive = self.archive
    key = _stat_key(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if key is not None and files is not None and _read_at.get(archive) == key:
        self._files = files
        return
    _read_at.pop(archive, None)
    _stdlib_invalidate(self)
    if key is not None and archive in zipimport._zip_directory_cache:
        _read_at[archive] = key


def _reads_eagerly() -> bool:
    """Does this stdlib's ``invalidate_caches`` read the archive directory
    at once? Asked of the method itself: a bare importer over a path that
    is no archive, with ``_read_directory`` watched for that one path."""
    read = getattr(zipimport, "_read_directory", None)
    if read is None or not hasattr(zipimport, "_zip_directory_cache"):
        return False
    probe = zipimport.zipimporter.__new__(zipimport.zipimporter)
    probe.archive, probe.prefix, probe._files = "<zipcache probe>", "", {}
    seen = []

    def watch(path):
        if path != probe.archive:
            return read(path)
        seen.append(path)
        raise zipimport.ZipImportError(path)

    zipimport._read_directory = watch
    try:
        _stdlib_invalidate(probe)
    finally:
        zipimport._read_directory = read
    return bool(seen)


def install() -> bool:
    """Replace ``zipimporter.invalidate_caches`` in this process (once) and
    record a baseline read of every archive already imported from, so an
    unchanged archive is never re-read after this. Returns whether the
    stat-checked version is in place."""
    zi = zipimport.zipimporter
    if zi.invalidate_caches is _invalidate_caches:
        return True
    if not _reads_eagerly():
        return False
    zi.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zi):
            finder.invalidate_caches()
    return True


def install_on_worker() -> bool:
    """``install`` inside a pyspark worker; a no-op anywhere else."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not getattr(files.SparkFiles, "_is_running_on_worker", False):
        return False
    return install()
