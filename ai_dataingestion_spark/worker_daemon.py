"""PySpark daemon for the engine's local Python workers.

``session.session_builder`` names this module as ``spark.python.daemon.module``
for ``local[N]`` sessions. It does two things, then hands over to
``pyspark.daemon.manager``, which forks every Python worker:

- PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
  every task. Before CPython 3.13 that makes every cached ``zipimporter``
  re-read its archive's central directory (pyspark.zip, py4j, the Spark jar),
  which costs more than a small UDF task. The patched ``invalidate_caches``
  re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
  the last read, so a rewritten or deleted archive is still re-read and
  import semantics are unchanged.
- The modules every worker needs are imported once, and the heap is frozen
  (``gc.freeze``), so the per-task ``gc.collect()`` in a reused worker no
  longer walks them.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when its cached directory was read
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)  # taken before the read: a racing rewrite re-reads next time
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _read_at.get(self.archive) != stamp:
        _stock_invalidate(self)
        _read_at[self.archive] = stamp
    else:
        self._files = files


if __name__ == "__main__":
    if not hasattr(zipimport.zipimporter, "_get_files"):  # CPython 3.13+ re-reads lazily
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    import numpy, pandas, pyarrow, pyspark.worker  # noqa: E401, F401

    importlib.invalidate_caches()  # read each archive once here, not in every forked worker
    gc.collect()
    gc.freeze()
    from pyspark.daemon import manager

    manager()
