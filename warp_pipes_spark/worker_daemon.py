"""PySpark's Python worker daemon, with zip archives re-read only on change.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``). Since Python 3.10 that makes
each ``zipimport.zipimporter`` re-read its archive's whole directory: a
worker holds 14 of them, most over ``pyspark.zip`` (1,328 entries), and
the re-reads cost 96-162 ms of CPU per task (4 vCPU). Here an importer
re-reads only when its archive's ``(st_mtime_ns, st_size)`` changed or
``zipimport._zip_directory_cache`` dropped it; the rest of
``invalidate_caches()`` (``FileFinder`` resets, the namespace-path epoch)
is untouched. ``get_spark`` runs this module as the daemon
(``spark.python.daemon.module``), so every worker it forks inherits it.
"""

import importlib
import os
import zipimport

_read = getattr(zipimport.zipimporter, "invalidate_caches", None)  # 3.10+
_stamps: dict = {}  # archive -> (st_mtime_ns, st_size) at its last read


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _read(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


if __name__ == "__main__":
    if _read is not None:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # stamp the archives once, before the forks

    from pyspark.daemon import manager

    manager()
