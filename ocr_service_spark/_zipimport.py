"""Re-read a zip archive's directory only when the archive changed.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark.worker_util.setup_spark_files`). Before CPython
3.13 that makes every `zipimporter` re-parse its archive's whole
central directory in pure Python: pyspark.zip, the py4j zip, the Spark
jars and any `--py-files` zip, ~0.2 CPU-s per task. CPython 3.13 made
the re-read lazy (python/cpython gh-103200). `install()` gives older
interpreters the same effect: an archive is re-read only when its
`(st_mtime_ns, st_size)` differs from the stamp of its last read, and
one read serves every importer of that archive. A changed or deleted
archive takes the eager path exactly as before.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install"]

_eager = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}  # archive -> stat at its last read


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)  # before the read: a later write re-stamps
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _eager(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


def install() -> None:
    """Gate `zipimporter.invalidate_caches` on archive change. Idempotent;
    a no-op on CPython >= 3.13. The first call after install reads each
    archive once, for all its importers."""
    if sys.version_info >= (3, 13) or zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
