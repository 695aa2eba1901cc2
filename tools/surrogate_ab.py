#!/usr/bin/env python
"""In-session A/B of the canonical-edge spine key: string ``doc_sha`` vs
the BIGINT ``doc_key`` surrogate (operators/surrogate.py), on the SAME
canonical chain, same session, same parsed cache.

Why this tool exists: round-over-round scaling artifacts cannot isolate
the surrogate's effect — the box's own expressed ceiling moved 0.87→0.79
between the r4 and r5 runs, swamping any per-stage delta. Here the two
spines run interleaved ABBA inside one session per parallelism level, so
linear box-state drift cancels and the only difference between arms is
the key type. Reports per-arm wall/CPU samples, best-of-2, the
surrogate speedup at each level, and each spine's N→4N graph-stage
efficiency.

Usage: `python tools/surrogate_ab.py` (env: SPARK_GRAFT_AB_OBO,
SPARK_GRAFT_AB_DOCSCALE, SPARK_GRAFT_AB_LEVELS="2,8").
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

import bench  # noqa: E402  (load_gate, _tree_cpu_seconds, _EDGE_TAGS, warm helper)


def _arm(spark, base, key: str) -> dict:
    """One timed graph-chain run on the given spine. The key-partitioned
    cache build is OUTSIDE the timed region (it belongs to the parse
    stage in the official harness); the timed region is exactly the
    canonical-edge chain the scaling artifact calls 'graph'."""
    from pyspark.sql import functions as F  # noqa: F401

    from fastobo_py_spark.operators.surrogate import with_doc_key
    from fastobo_py_spark.plans.pipeline import canonical_edges

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cache = with_doc_key(base) if key == "doc_key" else base
    cache = cache.repartition(n_shuffle, key).persist()
    cache.count()
    cpu0 = bench._tree_cpu_seconds()
    t0 = time.time()
    n = canonical_edges(cache, key_col=key).count()
    dt = time.time() - t0
    dcpu = bench._tree_cpu_seconds() - cpu0
    cache.unpersist()
    return {"t": round(dt, 3), "cpu": round(dcpu, 1), "n_edges": n}


def main() -> dict:
    from pyspark.sql import functions as F

    from fastobo_py_spark.operators.parse import parse_corpus, split_parsed
    from fastobo_py_spark.session import get_spark
    from fastobo_py_spark.sources.corpus import corpus_to_parquet

    n_obo = int(os.environ.get("SPARK_GRAFT_AB_OBO", "12800"))
    doc_scale = int(os.environ.get("SPARK_GRAFT_AB_DOCSCALE", "16"))
    levels = [int(x) for x in os.environ.get("SPARK_GRAFT_AB_LEVELS", "2,8").split(",")]
    corpus_dir = tempfile.mkdtemp(prefix="obo_ab_corpus_")
    out: dict = {
        "load_1m_start": bench.load_gate(),
        "n_obo": n_obo,
        "doc_scale": doc_scale,
        "order": "ABBA per level (sha, key, key, sha)",
        "levels": {},
    }
    try:
        corpus_to_parquet(corpus_dir, n_obo=n_obo, n_noise=200, doc_scale=doc_scale, n_files=256)
        for n in levels:
            spark = get_spark(
                app_name=f"surrogate-ab-{n}",
                master=f"local[{n}]",
                shuffle_partitions=4 * n,
                extra_conf={
                    "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
                    "spark.sql.files.openCostInBytes": "0",
                    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
                },
            )
            bench._obo_pipeline_files_per_sec(spark, 40, 20, cpus=n)  # warm workers+codegen
            clauses, _ = split_parsed(parse_corpus(spark.read.parquet(corpus_dir)))
            base = (
                clauses.where(
                    (F.col("frame_type") == "Header") | F.col("tag").isin(bench._EDGE_TAGS)
                )
                .select(
                    "doc_sha", "frame_type", "frame_id", "frame_ix", "clause_ix",
                    "tag", "v1", "v2", "value_text",
                )
                .persist()
            )
            base.count()  # parse once per level, shared by all four arms
            runs = []
            for key in ("doc_sha", "doc_key", "doc_key", "doc_sha"):
                runs.append((key, _arm(spark, base, key)))
            base.unpersist()
            spark.stop()
            agg: dict = {}
            for key in ("doc_sha", "doc_key"):
                ts = [r["t"] for k, r in runs if k == key]
                cs = [r["cpu"] for k, r in runs if k == key]
                agg[key] = {"t_samples": ts, "t_best": min(ts), "cpu_samples": cs, "cpu_min": min(cs)}
            agg["surrogate_speedup"] = round(
                agg["doc_sha"]["t_best"] / agg["doc_key"]["t_best"], 3
            )
            agg["edges_equal"] = len({r["n_edges"] for _, r in runs}) == 1
            agg["n_edges"] = runs[0][1]["n_edges"]
            out["levels"][f"local[{n}]"] = agg
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)
    if len(levels) == 2:
        a, b = levels
        ratio = b / a
        for key in ("doc_sha", "doc_key"):
            out[f"graph_eff_{key}"] = round(
                out["levels"][f"local[{a}]"][key]["t_best"]
                / out["levels"][f"local[{b}]"][key]["t_best"]
                / ratio,
                3,
            )
    out["load_1m_end"] = bench.load_1m()
    return out


if __name__ == "__main__":
    print(json.dumps(main()))
