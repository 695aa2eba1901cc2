"""Python-worker hygiene: package kernels leave no sub-directory
zipimporter behind, and pruning them never breaks a later import."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from fastobo_py_spark.worker import prune_zip_importers


def _subdir_importers() -> list[str]:
    return [
        p
        for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter) and f.prefix
    ]


@pytest.fixture()
def zipped_pkg(tmp_path):
    """A package ``zpkg`` with a sub-package, importable from a zip."""
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/a.py", "A = 1\n")
        z.writestr("zpkg/sub/b.py", "B = 2\n")
    sys.path.insert(0, str(archive))
    try:
        yield str(archive)
    finally:
        sys.path.remove(str(archive))
        for m in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[m]
        for p in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
            del sys.path_importer_cache[p]


def test_prune_keeps_archive_roots_and_later_imports(zipped_pkg):
    importlib.import_module("zpkg.sub.a")
    sub = [p for p in _subdir_importers() if p.startswith(zipped_pkg)]
    assert sub, "importing from a zip sub-directory caches a prefixed zipimporter"
    prune_zip_importers()
    assert not _subdir_importers()
    assert isinstance(sys.path_importer_cache[zipped_pkg], zipimport.zipimporter)
    # a later import from the pruned sub-directory rebuilds its importer
    importlib.invalidate_caches()
    assert importlib.import_module("zpkg.sub.b").B == 2
    assert [p for p in _subdir_importers() if p.startswith(zipped_pkg)]


def _module_kernels():
    from fastobo_py_spark.operators import graphjson
    from fastobo_py_spark.operators.parse import _parse_batches
    from fastobo_py_spark.streaming import dedup

    return {
        "parse": _parse_batches,
        "yaml_to_json": graphjson._yaml_to_json_batches,
        "json_to_yaml": graphjson._json_to_yaml_batches,
        "stream_minhash_signatures": dedup._signature_rows,
        "stream_embedding_signatures": dedup._emb_signature_rows(2, 4, 7),
    }


@pytest.mark.parametrize("name", sorted(_module_kernels()))
def test_kernel_prunes_first(zipped_pkg, name):
    """The kernel prunes before it reads its first batch."""
    importlib.import_module("zpkg.sub.a")
    assert _subdir_importers()
    kernel = _module_kernels()[name]
    assert list(kernel(iter([]))) == []
    assert not _subdir_importers()


def test_parse_kernel_prunes_in_spark_worker(spark):
    """In a real Python worker (pyspark imported from ``pyspark.zip``):
    a sub-directory importer is present, and the parse kernel leaves
    none behind for the next task's ``importlib.invalidate_caches()``."""

    def probe(batches):
        import importlib.machinery
        import sys
        import zipimport

        import pandas as pd
        import pyspark.sql

        from fastobo_py_spark.operators.parse import _parse_batches

        def n_sub():
            return sum(
                isinstance(f, zipimport.zipimporter) and bool(f.prefix)
                for f in sys.path_importer_cache.values()
            )

        # a path lookup inside pyspark.sql caches its directory's importer
        importlib.machinery.PathFinder.find_spec("pyspark.sql._no_such_module", pyspark.sql.__path__)
        before = n_sub() if ".zip" in pyspark.__file__ else -1
        for pdf in batches:
            list(_parse_batches(iter([pdf])))
        yield pd.DataFrame({"before": [before], "after": [n_sub()]})

    doc = "format-version: 1.2\n\n[Term]\nid: T:1\nname: one\n"
    df = spark.createDataFrame(pd.DataFrame({"repo": ["r"], "path": ["a.obo"], "content": [doc]})).coalesce(1)
    row = df.mapInPandas(probe, "before int, after int").collect()[0]
    if row.before < 0:
        pytest.skip("workers import pyspark from a directory, not pyspark.zip")
    assert row.before >= 1
    assert row.after == 0
