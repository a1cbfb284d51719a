"""Once-per-process set-up of a PySpark Python worker.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark.worker_util.setup_spark_files``) so that archives shipped with
``addPyFile`` / ``--py-files`` become importable. Before CPython 3.13,
``zipimporter.invalidate_caches`` eagerly re-reads its archive's whole
central directory. A worker that has run library code holds about 16
zipimporters over ``pyspark.zip`` (1,328 entries), the py4j zip and the
Spark core jar, so every task paid ~0.24 s re-reading archives that had
not changed, however few rows it carried. CPython 3.13 made the call
lazy.

``install`` gives older interpreters the same cost: an archive's directory
is re-read only when the archive's stat (inode, size, mtime, ctime)
differs from the one taken just before the directory was last read. A
rewritten or new archive is still visible after ``invalidate_caches()``,
which is what PySpark needs the call for. Imports, outputs and options are
unchanged.
"""

from __future__ import annotations

import os
import sys
import zipimport
from types import ModuleType

_INSTALLED = "_phphll_stat_checked"


def _stat_key(path: str) -> tuple[int, int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def install(module: ModuleType = zipimport) -> bool:
    """Make ``module.zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk.

    Idempotent. Returns whether the check is in place; on CPython ≥ 3.13
    (already lazy) and on other interpreters it does nothing and returns
    False. ``module`` is the ``zipimport`` module to patch; tests pass a
    private copy.
    """
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return False
    importer = module.zipimporter
    if getattr(importer, _INSTALLED, False):
        return True
    cache = module._zip_directory_cache
    read_directory = module._read_directory
    eager_invalidate = importer.invalidate_caches
    read_at: dict[str, tuple[int, int, int, int] | None] = {}

    def stat_then_read_directory(archive):
        # stat BEFORE reading: a change that races the read leaves an
        # older key behind, so the next check re-reads rather than misses
        key = _stat_key(archive)
        files = read_directory(archive)
        read_at[archive] = key
        return files

    def invalidate_caches(self):
        files = cache.get(self.archive)
        key = _stat_key(self.archive)
        if files is not None and key is not None and read_at.get(self.archive) == key:
            # unchanged since the last read; another zipimporter over the
            # same archive may have done that read, so adopt its directory
            self._files = files
        else:
            eager_invalidate(self)

    # zipimporter.__init__ and the eager invalidate look _read_directory
    # up in the module globals at call time, so every read records a key
    module._read_directory = stat_then_read_directory
    importer.invalidate_caches = invalidate_caches
    setattr(importer, _INSTALLED, True)
    return True


def bootstrap() -> None:
    """Install the check if this process is a PySpark worker running a
    task. Called once from the package ``__init__``: every library UDF
    pickles references to ``phphll_spark`` modules, so the first task in
    each worker imports the package (and pays one last re-read per
    archive); later tasks skip the re-read. Drivers and plain local use
    are left untouched, and pyspark is not imported here."""
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        install()
