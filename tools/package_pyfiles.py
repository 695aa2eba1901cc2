#!/usr/bin/env python
"""Package fastobo_py_spark for ``spark-submit --py-files`` (north rule).

Produces a deterministic zip of the package sources (no __pycache__, no
timestamps beyond zip's minimum) so cluster submissions are reproducible,
and next to it ``sparkobo-localfs.jar``: the compiled
``sparkobo.NioLocalFileSystem`` (``fastobo_py_spark/jvm/``), which sets
``file://`` permissions through java.nio instead of forking a ``chmod``
per created file, ``.crc`` file and directory. A JVM that ``spark-submit``
starts has to load it from its own class path, so submit with both:

    python tools/package_pyfiles.py dist/fastobo_py_spark.zip
    spark-submit --py-files dist/fastobo_py_spark.zip \
        --driver-class-path dist/sparkobo-localfs.jar \
        --conf spark.hadoop.fs.file.impl=sparkobo.NioLocalFileSystem \
        jobs/build_kg.py ...

The jar is skipped (with a message) when no ``javac`` is available; the
job then runs on Hadoop's default ``file://`` class.
"""

from __future__ import annotations

import os
import sys
import zipfile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_zip(out_path: str, root: str = _ROOT) -> str:
    pkg = os.path.join(root, "fastobo_py_spark")
    os.makedirs(os.path.dirname(os.path.abspath(out_path)) or ".", exist_ok=True)
    entries = []
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                entries.append((full, os.path.relpath(full, root)))
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for full, arc in entries:
            info = zipfile.ZipInfo(arc)  # fixed epoch timestamp → reproducible
            # a bare ZipInfo defaults to ZIP_STORED and writestr honors it
            # over the archive-level ZIP_DEFLATED — set it explicitly or
            # the artifact ships uncompressed
            info.compress_type = zipfile.ZIP_DEFLATED
            with open(full, "rb") as fh:
                z.writestr(info, fh.read())
    return out_path


LOCAL_FS_JAR = "sparkobo-localfs.jar"


def build_local_fs_jar(out_path: str) -> str | None:
    """Jar of the compiled ``sparkobo.NioLocalFileSystem`` classes, for
    ``spark-submit --driver-class-path`` (a jar is a zip of the class
    tree); None when the classes cannot be compiled here (no ``javac``)."""
    if _ROOT not in sys.path:
        sys.path.insert(0, _ROOT)
    from fastobo_py_spark.session import _nio_local_fs_classes

    classes = _nio_local_fs_classes()
    if classes is None:
        return None
    os.makedirs(os.path.dirname(os.path.abspath(out_path)) or ".", exist_ok=True)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, dirnames, filenames in os.walk(classes):
            dirnames.sort()
            for f in sorted(filenames):
                full = os.path.join(dirpath, f)
                info = zipfile.ZipInfo(os.path.relpath(full, classes))
                info.compress_type = zipfile.ZIP_DEFLATED
                with open(full, "rb") as fh:
                    z.writestr(info, fh.read())
    return out_path


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "dist/fastobo_py_spark.zip"
    print(build_zip(out))
    jar = build_local_fs_jar(os.path.join(os.path.dirname(out), LOCAL_FS_JAR))
    print(jar or "no javac: sparkobo-localfs.jar not built (file:// keeps Hadoop's forking default)")
