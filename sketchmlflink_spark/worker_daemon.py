"""PySpark worker daemon whose tasks re-read a zip archive only when it changed.

Every Python task runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.10-3.12
``zipimporter.invalidate_caches`` re-parses the archive's whole
directory, and a worker holds about a dozen zip importers: pyspark.zip
and 9 of its sub-packages (1,328 entries, ~14 ms each) plus the
spark-core jar and its ``org/`` prefix (5,359 entries, ~57 ms each).
That is 0.26-0.29 s per task on 4 local cores. The replacement below
stats the archive and re-reads only when ``(st_mtime_ns, st_size,
st_ino)`` moved since its last read; Python 3.13 made the stock method
lazy, so it is left alone there. Selected by ``session.get_spark``
through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size, st_ino) at its last directory read
_STAMPS: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    """Re-read the archive's directory only when the file changed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _STAMPS.get(self.archive) == stamp:
        self._files = cached
        return
    _STOCK(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _STAMPS[self.archive] = stamp
    else:
        _STAMPS.pop(self.archive, None)


def install() -> bool:
    """Replace the eager stock method; True when the replacement is active."""
    if (3, 10) <= sys.version_info[:2] < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon

    importlib.invalidate_caches()  # prime: forked workers inherit the stamps
    daemon.manager()
