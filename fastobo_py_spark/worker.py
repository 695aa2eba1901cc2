"""Python-worker hygiene shared by every package kernel.

Every kernel this package hands to Spark (``mapInPandas``,
``applyInPandasWithState``, ``pandas_udf``) calls
:func:`prune_zip_importers` first.
"""

from __future__ import annotations

import sys
import zipimport


def prune_zip_importers() -> None:
    """Drop the sub-directory zipimporters from ``sys.path_importer_cache``.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``), and on CPython 3.11
    every cached zipimporter then re-reads its archive's whole directory.
    A worker importing pyspark from ``pyspark.zip`` (1,328 entries) caches
    one importer per archive root plus one per package sub-directory it
    imported from: 16 in a KG worker, so every task read the directory 16
    times. After this call it reads it once per archive root.

    Only importers with a non-empty ``prefix`` (a directory inside an
    archive) go; the archive roots stay. An import that needs a dropped
    entry rebuilds it through ``sys.path_hooks`` from the already-read
    directory, so pruning never breaks an import.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            cache.pop(path, None)
