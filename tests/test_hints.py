"""Size-gated broadcast: the parquet-footer row count and its fallback to
the bounded count probe (operators/hints.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _hinted(df) -> bool:
    return "broadcast" in df._jdf.queryExecution().analyzed().toString()


@pytest.fixture(scope="module")
def scan_dirs(spark, tmp_path_factory):
    """A 3-file scan of 30 rows, and a 257-file scan (one past the
    footer path's file cap)."""
    base = tmp_path_factory.mktemp("hints")
    spark.range(0, 30, 1, 3).write.parquet(str(base / "three"))
    spark.range(0, 257, 1, 257).write.parquet(str(base / "many"))
    return str(base / "three"), str(base / "many")


def test_footer_rows_exact_on_bare_multi_file_scan(spark, scan_dirs):
    from fastobo_py_spark.operators.hints import _footer_rows

    df = spark.read.parquet(scan_dirs[0])
    assert len(df.inputFiles()) == 3
    assert _footer_rows(df) == 30


def test_footer_rows_none_on_filtered_or_projected_scan(spark, scan_dirs):
    from fastobo_py_spark.operators.hints import _footer_rows

    scan = spark.read.parquet(scan_dirs[0])
    assert _footer_rows(scan.where("id < 5")) is None
    assert _footer_rows(scan.select((F.col("id") * 2).alias("y"))) is None


def test_footer_rows_none_past_file_cap(spark, scan_dirs):
    from fastobo_py_spark.operators.hints import _footer_rows

    df = spark.read.parquet(scan_dirs[1])
    assert len(df.inputFiles()) == 257
    assert _footer_rows(df) is None


def test_gated_broadcast_probes_when_footer_unknown(spark, scan_dirs, monkeypatch):
    """No stamp and no footer count (a filtered scan): the gate decides on
    one limit(threshold + 1).count() probe. A bare scan decides on its
    footers and never probes."""
    from fastobo_py_spark.operators.hints import gated_broadcast

    probes = []
    df_type = type(spark.read.parquet(scan_dirs[0]))
    limit = df_type.limit

    def spy(self, n):
        probes.append(n)
        return limit(self, n)

    monkeypatch.setattr(df_type, "limit", spy)
    filtered = spark.read.parquet(scan_dirs[0]).where("id < 10")  # 10 rows
    assert _hinted(gated_broadcast(filtered, threshold=10))
    assert not _hinted(gated_broadcast(filtered, threshold=9))
    assert probes == [11, 10]

    probes.clear()
    bare = spark.read.parquet(scan_dirs[0])  # 30 rows, from footers
    assert _hinted(gated_broadcast(bare, threshold=30))
    assert not _hinted(gated_broadcast(bare, threshold=29))
    assert probes == []
