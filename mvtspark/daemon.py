"""Python worker daemon for mvtspark sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.10 and 3.11 that makes every ``zipimporter``
re-read its archive's whole central directory, and a worker holds one
importer per package directory it imported from ``pyspark.zip``: about
0.2 s of worker time per task on a 4-vCPU VM before the first row (80
trivial tasks at ``local[2]``: 10.5 s before, 3.3 s after). This daemon
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
changed since that importer's last read, so a rewritten zip or a new
``addPyFile`` path is still seen.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self):
    """Re-read the archive's directory only if the file changed."""
    key = _archive_key(self.archive)
    if key is None or key != getattr(self, "_mvtspark_key", None):
        _reread(self)
        self._mvtspark_key = key


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager  # imports the worker: most importers exist now

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # each importer's one read, before the fork
    manager()
