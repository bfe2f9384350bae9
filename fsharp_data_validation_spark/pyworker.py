"""PySpark worker daemon that keeps zip directories across tasks.

Every Python task runs ``importlib.invalidate_caches()`` (PySpark's
``setup_spark_files``), and on CPython 3.11 each cached ``zipimporter``
answers by re-reading its archive's whole central directory: pyspark.zip
(~1.3k entries) and the spark-core jar (~5.4k entries), 16 reads and
~0.2 CPU-s per task on a 4-vCPU x86-64 VM. Importing this module replaces
``zipimporter.invalidate_caches`` with one that re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` changed since its last read,
so an added or rewritten archive is still picked up on the next task.

Run as a script (``spark.python.daemon.module``, set by ``get_spark``) it
starts ``pyspark.daemon.manager()``, so every forked worker inherits the
patch.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken before its last read; process-wide, like
# the zipimport directory cache it guards
_stamps: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """Reuse the cached directory while the archive file is unchanged."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def _install() -> None:
    # the patch reads two CPython internals; leave a build without them alone
    if hasattr(zipimport, "_zip_directory_cache") and "_files" in (
        zipimport.zipimporter.__init__.__code__.co_names
    ):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # ``python -m`` runs this file as __main__: install through the package
    # module so workers report the patch under its importable name
    import fsharp_data_validation_spark.pyworker  # noqa: F401
    from pyspark.daemon import manager

    manager()
else:
    _install()
