"""Re-read a zip archive's directory only when the archive changed.

Before Python 3.12, ``zipimport.zipimporter.invalidate_caches()`` re-reads
its whole archive's central directory on every call (CPython gh-103200
made it lazy in 3.12). A pyspark worker calls ``importlib.invalidate_caches()``
once per task (``worker_util.setup_spark_files``), which reaches every
zipimporter in ``sys.path_importer_cache`` — about a dozen on
``pyspark.zip`` alone, each one a full directory read. On a reused
worker that is a fixed ~0.2 CPU-s per task, more than the stage-1
kernel spends on a few thousand turns.

``install()`` wraps the method so that an archive is re-read only when
its ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken just
before its last read; otherwise the importer takes the directory already
in ``zipimport._zip_directory_cache``. A re-shipped ``--py-files`` zip
changes its stamp, so it is still re-read. Stdlib only, idempotent, and
a no-op on Python >= 3.12.

Every function the package decorates with ``F.arrow_udf`` (every
package UDF now; ``F.pandas_udf`` is covered too, should one return) or
hands to ``mapInArrow`` (or any other ``mapIn*``/``applyIn*`` boundary)
calls ``install()`` as its first statement
(pinned by ``tests/test_zipguard.py``). The UDFs are closures that cloudpickle
ships by value, so that reference is what makes a worker import this
module at all; after the worker's first task the later ones take every
unchanged archive's directory from the cache.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` in this process (once)."""
    if sys.version_info >= (3, 12) or installed():
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict = {}  # archive path -> stamp taken before its last read

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and stamps.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
