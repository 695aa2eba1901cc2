"""Fork-free ``file://`` writes: a KG batch on a session this package
launched sets every permission through java.nio (no ``chmod`` process)
and leaves exactly the modes Hadoop's own local filesystem would."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys

import pytest

from fastobo_py_spark.session import NIO_LOCAL_FS, _nio_local_fs_classes

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One run_pipeline batch in a fresh session, launched under a process
# umask (077) stricter than Hadoop's (022): modes that match Hadoop's
# defaults were set by the filesystem, not inherited from the process.
_BATCH = r"""
import json, os, sys
os.umask(0o077)
from fastobo_py_spark.schema import CORPUS_SCHEMA
from fastobo_py_spark.session import get_spark
from fastobo_py_spark.sources.corpus import generate_corpus
from fastobo_py_spark.plans.pipeline import run_pipeline

spark = get_spark(app_name="local-fs-test", master="local[2]", shuffle_partitions=2)
corpus = spark.createDataFrame(generate_corpus(n_obo=8, n_noise=4, n_broken=1), schema=CORPUS_SCHEMA)
m = run_pipeline(spark, corpus, sys.argv[1], resume=False)
jvm = spark.sparkContext._jvm
perm = jvm.org.apache.hadoop.fs.permission.FsPermission
umask = perm.getUMask(spark.sparkContext._jsc.hadoopConfiguration())
m["expected_file_mode"] = perm.getFileDefault().applyUMask(umask).toShort()
m["expected_dir_mode"] = perm.getDirDefault().applyUMask(umask).toShort()
spark.stop()
print("RESULT " + json.dumps(m))
"""


@pytest.fixture(scope="module")
def nio_batch(tmp_path_factory):
    if _nio_local_fs_classes() is None:
        pytest.skip("no javac: sessions keep Hadoop's forking local filesystem")
    d = tmp_path_factory.mktemp("nio_batch")
    bin_dir, log, out = d / "bin", d / "chmod.log", d / "kg"
    bin_dir.mkdir()
    wrapper = bin_dir / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$@" >> "{log}"\nexec /bin/chmod "$@"\n')
    wrapper.chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        PYTHONPATH=_REPO + os.pathsep + os.environ.get("PYTHONPATH", ""),
    )
    probe = d / "probe"
    probe.write_text("")
    subprocess.run(["chmod", "600", str(probe)], env=env, check=True)
    direct_calls = log.read_text().splitlines()
    log.write_text("")
    r = subprocess.run(
        [sys.executable, "-c", _BATCH, str(out)],
        env=env, cwd=str(d), capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, f"batch failed:\n{r.stdout[-2000:]}\n{r.stderr[-4000:]}"
    line = next(ln for ln in r.stdout.splitlines() if ln.startswith("RESULT "))
    return {
        "direct_calls": direct_calls,
        "batch_calls": log.read_text().splitlines(),
        "metrics": json.loads(line[len("RESULT "):]),
        "out": out,
    }


def test_run_pipeline_batch_forks_no_chmod(nio_batch):
    # the wrapper sees a chmod resolved through PATH ...
    assert len(nio_batch["direct_calls"]) == 1
    # ... and the whole batch resolved none
    assert nio_batch["batch_calls"] == []
    m = nio_batch["metrics"]
    assert m["local_fs"] == NIO_LOCAL_FS
    assert sum(m["files_added"].values()) > 0 and m["edges"] > 0


def test_written_modes_match_hadoop_defaults(nio_batch):
    """Every file and directory Spark wrote (the tables; the snapshot log
    and metrics are written by Python under the process umask) has
    Hadoop's default mode with Hadoop's umask applied: 0644 / 0755."""
    m = nio_batch["metrics"]
    want_file, want_dir = m["expected_file_mode"], m["expected_dir_mode"]
    assert (want_file, want_dir) == (0o644, 0o755)
    seen = {"files": 0, "dirs": 0}
    for table in ("nodes", "edges", "quarantine", "_manifest"):
        for dirpath, _dirs, files in os.walk(nio_batch["out"] / table):
            assert stat.S_IMODE(os.stat(dirpath).st_mode) == want_dir, dirpath
            seen["dirs"] += 1
            for f in files:
                path = os.path.join(dirpath, f)
                assert stat.S_IMODE(os.stat(path).st_mode) == want_file, path
                seen["files"] += 1
    # data files, their .crc files and _SUCCESS markers, in idspace leaves
    assert seen["files"] > 10 and seen["dirs"] > 4
