"""The one preamble every Python stage of the package runs first.

Every Python task pays a fixed start-up cost before it sees a row:
``pyspark/worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
at the start of each task, and on CPython 3.11 and 3.12
``zipimporter.invalidate_caches`` re-reads the whole archive directory of
every zip importer cached in ``sys.path_importer_cache``. A reused worker
holds 16 of them: 12 over ``pyspark.zip`` (its sub-package paths, 1,328
entries each), 2 over the spark-core jar (5,359 entries) and 2 over the
py4j zip. That is 0.25 s per task on a 4-core host.

:func:`make_worker_preamble` builds the function that removes those
importers from the cache. Run first in a stage's worker function, it leaves
the next task on the same worker (almost) nothing to re-read. The first
task of a fresh worker still pays once.
"""

from __future__ import annotations


def make_worker_preamble():
    """Build ``worker_preamble()``: drop every ``zipimport.zipimporter``
    from ``sys.path_importer_cache``; leave every other finder as it is.

    Call it on the driver and call the result as the first statement of a
    ``mapInPandas`` function or a ``pandas_udf`` body. The function is
    defined inside this body, so cloudpickle ships it by value with the
    closure and workers never import this package (the same device as
    ``plans/movecopy._fs_kit``).

    *Why it is safe.* The current task has already paid for its
    invalidation when the preamble runs. An import after the prune still
    works and stays cheap: the path hook builds a new importer from
    zipimport's module-level ``_zip_directory_cache`` without reading the
    archive again.

    *Cost it removes.* ``importlib.invalidate_caches()`` took 0.21-0.26 s
    inside a reused worker holding 16 zip importers, and 0.0001 s once the
    preamble had run (CPython 3.11.7, 4-core host). 100 jobs of 4 no-op
    Python tasks took 48.0 s on ``local[4]`` without it and 25.3 s with it.

    *CPython >= 3.13.* There ``zipimporter.invalidate_caches`` only drops the
    archive's ``_zip_directory_cache`` entry and reads nothing, so the
    per-task cost is gone already; the prune saves nothing and is harmless.
    """

    def worker_preamble() -> None:
        import sys as _sys
        import zipimport as _zipimport

        cache = _sys.path_importer_cache
        for entry, finder in list(cache.items()):
            if isinstance(finder, _zipimport.zipimporter):
                cache.pop(entry, None)

    return worker_preamble
