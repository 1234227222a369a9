"""PySpark daemon that forks warm workers (``spark.python.daemon.module``).

Before ``pyspark.daemon.manager()`` forks any worker, this module:

1. guards zip re-reads: every task's ``setup_spark_files`` calls
   ``importlib.invalidate_caches()``, and before Python 3.13 that makes
   each ``zipimporter`` re-parse its whole archive (pyspark.zip: ~16
   importers, 1,328 entries). The guard re-reads an archive only when its
   ``(st_mtime_ns, st_size)`` changed since that importer last read it;
2. preloads numpy, pandas, pyarrow, ``pyspark.worker`` and the engine
   modules whose mappers run in workers;
3. freezes the heap (``gc.collect(); gc.freeze()``), so the
   ``gc.collect()`` the daemon runs after every task skips it.

Each forked worker then starts with everything imported and shares those
pages copy-on-write with the daemon. Forking with native threads running
is what the stock daemon already does (its ``pyspark.worker`` import
starts numpy's OpenBLAS pool); OpenBLAS and pyarrow's jemalloc restart
theirs through fork handlers.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

# The engine modules cost a new worker ~0.05 CPU-s to import; preloading
# them moved neither workload's cpu_s beyond run-to-run noise
# (BENCH/ANALYSIS.md), so one missing here only imports in the worker.
PRELOAD = (
    "numpy", "pandas", "pyarrow", "pyspark.worker",
    "osm_spark.geo.kernels", "osm_spark.operators.spatial_join",
    "osm_spark.operators.knn", "osm_spark.operators.tiles",
    "osm_spark.operators.routing", "osm_spark.operators.textops",
    "osm_spark.sources.warc",
)

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.
    An importer is stamped on its first call, which re-reads once like the
    stock method. ``main()`` makes that call for every importer the preload
    created; one created later inside a worker re-reads once, on that
    worker's next task."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def install_zip_guard() -> None:
    """Idempotent; a no-op on Python >= 3.13, where the re-read is lazy."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def main() -> None:
    install_zip_guard()
    for name in PRELOAD:
        importlib.import_module(name)
    importlib.invalidate_caches()  # stamp every importer the preload made
    gc.collect()
    gc.freeze()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
