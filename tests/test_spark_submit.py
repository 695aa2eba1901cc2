"""North-rule deployment check: the KG job really runs via
``spark-submit --py-files <package.zip>`` with the package imported FROM
the zip (the submit script is copied to a bare temp dir so nothing
resolves from the repo checkout)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyspark

from fastobo_py_spark.session import NIO_LOCAL_FS

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    """The documented submit command: package zip via ``--py-files`` plus,
    where ``javac`` can build it, the packaged ``sparkobo-localfs.jar`` on
    the driver class path and ``fs.file.impl`` naming it, so the batch
    writes through the fork-free filesystem (its metrics' ``local_fs``).
    Without the jar the job is submitted with the zip alone."""
    sys.path.insert(0, _REPO)
    from tools.package_pyfiles import LOCAL_FS_JAR, build_local_fs_jar, build_zip

    zip_path = build_zip(str(tmp_path / "fastobo_py_spark.zip"))
    jar = build_local_fs_jar(str(tmp_path / LOCAL_FS_JAR))
    jar_flags = [] if jar is None else [
        "--driver-class-path", jar, "--conf", f"spark.hadoop.fs.file.impl={NIO_LOCAL_FS}",
    ]
    script = tmp_path / "build_kg.py"
    shutil.copy(os.path.join(_REPO, "jobs", "build_kg.py"), script)
    out = tmp_path / "kg_out"
    spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r = subprocess.run(
        [
            spark_submit, "--master", "local[4]", "--py-files", zip_path, *jar_flags,
            str(script), "--synthetic", "30", "--out", str(out), "--salts", "2",
        ],
        cwd=str(tmp_path),  # bare dir: package must come from the zip
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert r.returncode == 0, f"spark-submit failed:\n{r.stdout[-2000:]}\n{r.stderr[-4000:]}"
    assert (out / "_manifest").is_dir()
    assert (out / "edges").is_dir()
    metrics = [json.loads(p.read_text()) for p in (out / "_metrics").glob("*.json")]
    assert metrics
    if jar is not None:
        assert all(m["local_fs"] == NIO_LOCAL_FS for m in metrics), metrics


_PLAIN_SUBMIT = r"""
import sys
from fastobo_py_spark.session import get_spark, local_fs_class

spark = get_spark(app_name="plain-submit", master="local[2]", shuffle_partitions=2)
spark.range(20).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(sys.argv[1])
print("LOCAL_FS " + local_fs_class(spark))
print("ROWS %d" % spark.read.parquet(sys.argv[1]).count())
spark.stop()
"""


def test_spark_submit_without_pyfiles_writes_parquet(tmp_path):
    """A driver whose JVM ``spark-submit`` started (no ``--py-files``, so
    nothing touched ``file://`` before ``get_spark``) can still write:
    the session must not name a filesystem class that JVM cannot load."""
    script = tmp_path / "plain_submit.py"
    script.write_text(_PLAIN_SUBMIT)
    out = tmp_path / "out"
    spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = dict(os.environ, PYTHONPATH=_REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))
    r = subprocess.run(
        [spark_submit, "--master", "local[2]", str(script), str(out)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, f"spark-submit failed:\n{r.stdout[-2000:]}\n{r.stderr[-4000:]}"
    assert "ROWS 20" in r.stdout
    # the pre-launched JVM keeps its own file:// filesystem
    assert "LOCAL_FS " in r.stdout and f"LOCAL_FS {NIO_LOCAL_FS}" not in r.stdout
    assert (out / "_SUCCESS").is_file()
