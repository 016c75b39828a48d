"""PySpark's worker daemon, minus the per-task re-read of zip archives.

Every Python task calls ``importlib.invalidate_caches()`` after putting
its ``addPyFile`` paths on ``sys.path``. That makes each
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's directory, and PySpark imports from ``pyspark.zip`` through one
importer per package: every task re-read the archive several times
before touching a row.

An archive on ``sys.path`` does not change while a worker lives: Spark
never overwrites an added file, and a newly added zip is a new path with
no importer cached yet. So this daemon wraps ``invalidate_caches`` to
keep the absolute-path zip importers and invalidate everything else as
before, then runs the stock daemon. ``build_session`` selects it for
local masters via ``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_invalidate_caches = importlib.invalidate_caches


def invalidate_caches() -> None:
    cache = sys.path_importer_cache
    kept = {path: finder for path, finder in cache.items()
            if isinstance(finder, zipimport.zipimporter)
            and os.path.isabs(path)}
    for path in kept:
        del cache[path]
    try:
        _invalidate_caches()
    finally:
        cache.update(kept)


if __name__ == "__main__":
    importlib.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
