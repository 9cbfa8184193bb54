"""Keep Python workers from re-reading unchanged zip archives every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``).  On
CPython 3.11, ``zipimport.zipimporter.invalidate_caches`` re-reads its
archive's central directory eagerly, and there is one importer per
package directory inside an archive.  A reused worker therefore re-reads
``pyspark.zip`` (about 1,300 entries) once per importer before it
evaluates a single row: 16 archive reads per task for a one-row
``pandas_udf`` on PySpark 4.1.2 and CPython 3.11.7 (12 of ``pyspark.zip``,
2 each of the py4j and spark-core archives), counted by wrapping
``zipimport._read_directory`` in the worker.

:func:`install` wraps that method: an importer whose archive still has
the ``(st_mtime_ns, st_size)`` recorded at its last read takes the
cached directory instead of reading it again.  A changed, replaced or
vanished archive is re-read exactly as before.  The engine package
installs the guard when it is imported, and every engine UDF and
``mapInPandas`` closure imports the package on the worker, so it needs
no conf and no extra import on the worker.

Delete this module when PySpark stops invalidating caches on every task,
or when the Python the engine runs on has lazy ``zipimport``
invalidation (CPython 3.12 made it lazy; :func:`install` is a no-op
there).
"""

from __future__ import annotations

import os
import zipimport

#: archive path -> (st_mtime_ns, st_size) when the guard last read it
_read_at: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (the package calls this
    once, on import)."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return  # invalidation is lazy already (CPython >= 3.12)
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        # stat BEFORE reading: a write racing the read leaves an older
        # stamp on newer content, which only costs one more re-read
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and _read_at.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = stamp
        else:
            _read_at.pop(self.archive, None)

    cls.invalidate_caches = invalidate_caches
