#!/usr/bin/env python
"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Extra keys:
  obo_files_per_sec — throughput of the OBO→KG pipeline (parse + triples +
  canonicalization) over a synthesized corpus, the BASELINE.json metric.

--scaling: run the OBO pipeline at two parallelism levels (default
local[4] vs local[16]; $SPARK_GRAFT_SCALE_N overrides N) on the same
input and report throughput + scaling efficiency — the sandbox proxy for
the N vs 4N executor requirement (north_rule). N=4 because local[k]
schedules k JVM task threads PLUS k Python workers: 8v32 would put 64
hot threads on the 32-core host and measure oversubscription, not scaling.

Warm-up convention (BENCH.md): every timed leg measures steady-state
dataflow, not one-time JVM/py-worker/codegen startup — the SQL leg warms
each query once at sf0.001, the OBO leg on a 30-file corpus, before timing.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# corpus sizing. The timed headline query (obo_kg_pipeline) keeps the
# historical ~800-file corpus so headline_total stays comparable across
# rounds. The THROUGHPUT leg (obo_files_per_sec — the BASELINE metric)
# runs a separate 6,800-file corpus from round 4 on: at 800 files the
# two job submissions + py-worker spin-up dominate (343 files/s there
# vs 7,077 at 130k files, BENCH_r04_sf1.json), so the small corpus
# measured fixed cost, not throughput. Pre-r04 obo_files_per_sec values
# used the 800-file corpus and are not directly comparable.
BENCH_OBO = int(os.environ.get("SPARK_GRAFT_BENCH_OBO", "600"))
BENCH_NOISE = int(os.environ.get("SPARK_GRAFT_BENCH_NOISE", "200"))
TPUT_OBO = int(os.environ.get("SPARK_GRAFT_TPUT_OBO", "6400"))
TPUT_NOISE = int(os.environ.get("SPARK_GRAFT_TPUT_NOISE", "400"))

HEADLINE = [
    "pricing_summary",
    "region_revenue",
    "orders_topk_window",
    "events_sessionize",
    "text_stats",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_bruteforce_topk",
]


def load_1m() -> float:
    return round(os.getloadavg()[0], 2)


def load_gate(max_load: float = 2.0, recheck_sec: int = 30, timeout_sec: int = 900) -> float:
    """Block until the host is quiet: 1-min load below ``max_load`` on two
    checks ``recheck_sec`` apart (the shared box spikes to 10+ with zero
    local processes; a single check can catch the gap between spikes).
    Returns the final load. Gives up after ``timeout_sec`` — a run under
    residual load is annotated, not blocked forever. Set
    SPARK_GRAFT_NO_LOADGATE=1 to skip (e.g. under a driver timeout)."""
    if os.environ.get("SPARK_GRAFT_NO_LOADGATE"):
        return load_1m()
    t0 = time.time()
    while time.time() - t0 < timeout_sec:
        first = load_1m()
        if first < max_load:
            time.sleep(recheck_sec)
            second = load_1m()
            if second < max_load:
                return second
        else:
            time.sleep(recheck_sec)
    return load_1m()


_EDGE_TAGS = [
    "is_a", "relationship", "intersection_of", "union_of", "equivalent_to",
    "disjoint_from", "xref", "alt_id", "replaced_by",
]


def _tree_cpu_seconds() -> float:
    """Total CPU seconds (utime+stime) of this process and every live
    descendant (the JVM and its Python workers) — /proc walk, no deps.

    Sampled before/after a timed region, the delta attributes WORK done,
    independent of wall-clock interference: on one shared box, scaling
    loss shows up as CPU-seconds RISING with thread count (memory
    bandwidth / cache contention), not as idle cores.
    """
    import os

    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    parents: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
            parents[int(d)] = int(parts[1])  # ppid
            cpu[int(d)] = (int(parts[11]) + int(parts[12])) / tick  # utime+stime
        except OSError:
            continue
    total = 0.0
    for pid in cpu:
        p = pid
        while p > 1:
            if p == me:
                total += cpu[pid]
                break
            p = parents.get(p, 1)
    return total


def _timed_kg_flow(spark, corpus, n_files: int) -> dict:
    """The benchmark KG dataflow with per-stage timing.

    Stage 'parse': mapInPandas parse → narrow edge-tag projection →
    one doc_sha hash-partition shuffle → cache fill (the corpus-scan-
    bound fraction that dominates at real scale).
    Stage 'graph': the fully-distributed canonical edge chain
    (plans/pipeline.canonical_edges — one partition-wide resolution/CC
    kernel, co-partitioned shuffle-hash dimension joins, shuffle-free
    final dedup). Exactly TWO driver job submissions
    in the timed region; nothing else is serial.
    """
    from pyspark.sql import functions as F

    from fastobo_py_spark.operators.parse import parse_corpus, split_parsed
    from fastobo_py_spark.operators.surrogate import with_doc_key
    from fastobo_py_spark.plans.pipeline import canonical_edges

    cpu0 = _tree_cpu_seconds()
    t0 = time.time()
    clauses, _ = split_parsed(parse_corpus(corpus))
    # cache exactly what the edge job consumes: narrow columns, and only
    # the edge/alias/macro tag rows (name/def rows feed the node path,
    # not this chain); hash-partition by the BIGINT doc_key surrogate so
    # every doc-keyed join and the final dedup need no further exchange
    # of the edge table (operators/surrogate.py)
    clauses = (
        with_doc_key(
            clauses.where((F.col("frame_type") == "Header") | F.col("tag").isin(_EDGE_TAGS))
            .select("doc_sha", "frame_type", "frame_id", "frame_ix", "clause_ix", "tag", "v1", "v2", "value_text")
        )
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_key")
        .persist()
    )
    clauses.count()
    t_parse = time.time() - t0
    cpu_parse = _tree_cpu_seconds() - cpu0

    t1 = time.time()
    e = canonical_edges(clauses)
    n_edges = e.count()
    t_graph = time.time() - t1
    cpu_graph = _tree_cpu_seconds() - cpu0 - cpu_parse

    dt = time.time() - t0
    clauses.unpersist()
    return {
        "files_per_sec": n_files / dt,
        "n_edges": n_edges,
        "t_parse": round(t_parse, 3),
        "t_graph": round(t_graph, 3),
        "t_total": round(dt, 3),
        "cpu_sec": round(_tree_cpu_seconds() - cpu0, 1),
        "cpu_parse": round(cpu_parse, 1),
        "cpu_graph": round(cpu_graph, 1),
    }


def _obo_pipeline_files_per_sec(spark, n_obo: int, n_noise: int, cpus: int | None = None, doc_scale: int = 1) -> dict:
    """Time the full KG dataflow (parse → triples → macros → canonicalize →
    CC → dedup) to completion; returns the _timed_kg_flow dict. The timed
    region starts AFTER the synthetic corpus is generated/persisted —
    callers must take t_total from the dict, not wall-clock around this
    call (driver-side corpus synthesis is sandbox scaffolding, not
    pipeline work, and its cost varies with host state)."""
    from fastobo_py_spark.sources.corpus import corpus_df

    n_files = n_obo + n_noise
    cpus = cpus or int(CPUS)
    corpus = corpus_df(spark, n_obo=n_obo, n_noise=n_noise, n_broken=2, partitions=cpus * 2, doc_scale=doc_scale)
    corpus = corpus.persist()
    corpus.count()  # materialize input outside the timed region
    out = _timed_kg_flow(spark, corpus, n_files)
    corpus.unpersist()
    return out


def run_bench() -> dict:
    from fastobo_py_spark import queries as Q
    from fastobo_py_spark.session import get_spark

    _load_start = load_1m()
    spark = get_spark(app_name="fastobo-py-spark-bench", master=f"local[{CPUS}]")
    # symmetric warm-up (see module docstring): run each headline query
    # once at the smallest SF so the timed run below measures the
    # dataflow, not first-touch codegen/py-worker startup
    warm_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir) and warm_dir != SF_DIR.rstrip("/"):
        for name in HEADLINE:
            Q.QUERIES[name](spark, warm_dir).count()
    timings = {}
    for name in HEADLINE:
        fn = Q.QUERIES[name]
        t0 = time.time()
        fn(spark, SF_DIR).count()
        timings[name] = round(time.time() - t0, 3)

    # warm the python workers + codegen on a tiny corpus first, matching
    # the scaling harness's methodology — the timed run then measures the
    # dataflow, not one-time JVM/py-worker startup. Best-of-2 like the
    # scaling harness: the shared host's load spikes would otherwise be
    # indistinguishable from regressions in the round-over-round record.
    _obo_pipeline_files_per_sec(spark, 20, 10)
    # timed quantity = the dataflow itself (t_total from _timed_kg_flow);
    # wall-clock around the call would also time the driver-side corpus
    # synthesis, which is sandbox scaffolding
    t_best = min(
        _obo_pipeline_files_per_sec(spark, BENCH_OBO, BENCH_NOISE)["t_total"] for _ in range(2)
    )
    timings["obo_kg_pipeline"] = round(t_best, 3)
    # throughput leg: bigger corpus, fixed costs amortized (see sizing note)
    fps, n_edges = 0.0, 0
    for _ in range(2):
        r = _obo_pipeline_files_per_sec(spark, TPUT_OBO, TPUT_NOISE)
        if r["files_per_sec"] > fps:
            fps, n_edges = r["files_per_sec"], r["n_edges"]

    total = round(sum(timings.values()), 3)
    sf = 0.1 if "sf0.1" in SF_DIR else (0.01 if "sf0.01" in SF_DIR else SF_DIR)
    result = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "obo_files_per_sec": round(fps, 2),
        "obo_canonical_edges": n_edges,
        "cpus": int(CPUS),
        # self-annotating artifact (VERDICT r4): a headline measured on a
        # loaded box must carry the evidence in the JSON, not in prose
        "load_1m_start": _load_start,
        "load_1m_end": load_1m(),
    }
    spark.stop()
    return result


def _jvm_control_rows_per_sec(spark, n_rows: int = 1_500_000_000) -> float:
    """Trivially-parallel, shuffle-free, Python-free, allocation-free
    control job: chained long hashing inside one WholeStageCodegen span.

    Its N→4N efficiency is the CEILING this shared box can express for
    pure JVM compute (SMT, frequency, scheduler) with zero algorithmic
    excuses — the pipeline's stages are judged against it, not against an
    ideal 4.0x that one machine cannot produce.
    """
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    t0 = time.time()
    (
        spark.range(0, n_rows, 1, numPartitions=n_part)
        .selectExpr("xxhash64(xxhash64(xxhash64(id))) AS h")
        .selectExpr("bit_xor(h) AS x")
        .collect()
    )
    return n_rows / (time.time() - t0)


def _pipeline_from_parquet(spark, corpus_dir: str, n_files: int) -> dict:
    """Timed pipeline over an on-disk corpus (the realistic shape: a table
    scan, not a driver-materialized DataFrame)."""
    corpus = spark.read.parquet(corpus_dir)
    return _timed_kg_flow(spark, corpus, n_files)


def run_scaling() -> dict:
    """Same OBO job, same on-disk input, at local[N] and local[4N]
    (default N=4 → local[4] vs local[16]; see module docstring).

    The corpus is sized so the parallelizable work (parse UDF + edge
    shuffles) dominates fixed per-job latency — the honest proxy for the
    N-vs-4N-executor criterion where fixed costs amortize over hours.
    """
    import shutil
    import tempfile

    from fastobo_py_spark.session import get_spark
    from fastobo_py_spark.sources.corpus import corpus_to_parquet

    n_obo = int(os.environ.get("SPARK_GRAFT_SCALE_OBO", "12800"))
    n_noise = 200
    doc_scale = int(os.environ.get("SPARK_GRAFT_SCALE_DOCSCALE", "16"))
    # N vs 4N cores. Peak level (4N workers + 4N JVM task threads) must not
    # oversubscribe the 32-core sandbox, so N=4: local[4] vs local[16].
    n_small = int(os.environ.get("SPARK_GRAFT_SCALE_N", "4"))
    n_files = n_obo + n_noise
    corpus_dir = tempfile.mkdtemp(prefix="obo_scale_corpus_")
    out = {"load_1m_start": load_1m()}
    try:
        corpus_to_parquet(corpus_dir, n_obo=n_obo, n_noise=n_noise, doc_scale=doc_scale, n_files=256)
        reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))
        # alternate levels and keep the best rep per level: single-machine
        # runs see ±30% interference noise; best-of-k isolates capacity
        stage_best: dict = {}
        for rep in range(reps):
            for n in (n_small, 4 * n_small):
                spark = get_spark(
                    app_name=f"fastobo-scale-{n}",
                    master=f"local[{n}]",
                    shuffle_partitions=4 * n,
                    extra_conf={
                        "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
                        "spark.sql.files.openCostInBytes": "0",
                        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
                    },
                )
                # warm EVERY rep: each (rep, level) runs in a fresh
                # session, so an unwarmed rep>=1 pays py-worker spawn +
                # codegen first-touch inside the timed region and best-of-k
                # silently degrades to best-of-1
                _obo_pipeline_files_per_sec(spark, 40, 20, cpus=n)
                r = _pipeline_from_parquet(spark, corpus_dir, n_files)
                key = f"files_per_sec_local{n}"
                if r["files_per_sec"] > out.get(key, 0.0):
                    out[key] = round(r["files_per_sec"], 2)
                    stage_best[n] = r
                ctl = _jvm_control_rows_per_sec(spark)
                ckey = f"control_rows_per_sec_local{n}"
                out[ckey] = max(out.get(ckey, 0.0), round(ctl, 0))
                spark.stop()
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)
    hi, lo = stage_best[4 * n_small], stage_best[n_small]
    speedup = out[f"files_per_sec_local{4 * n_small}"] / out[f"files_per_sec_local{n_small}"]
    out["n_vs_4n"] = f"local[{n_small}] vs local[{4 * n_small}]"
    out["speedup_n_to_4n"] = round(speedup, 3)
    out["scaling_efficiency"] = round(speedup / 4.0, 3)
    out["stages"] = {
        "parse_sec": {"n": lo["t_parse"], "4n": hi["t_parse"],
                      "efficiency": round(lo["t_parse"] / hi["t_parse"] / 4.0, 3),
                      "cpu_n": lo.get("cpu_parse"), "cpu_4n": hi.get("cpu_parse")},
        "graph_sec": {"n": lo["t_graph"], "4n": hi["t_graph"],
                      "efficiency": round(lo["t_graph"] / hi["t_graph"] / 4.0, 3),
                      "cpu_n": lo.get("cpu_graph"), "cpu_4n": hi.get("cpu_graph")},
    }
    # hardware attribution: whole-job CPU-seconds per level (work done, not
    # wall) — a rising total at 4N means cycles/op inflation (memory
    # bandwidth, cache contention), not idle cores or serial code
    out["cpu_sec"] = {"n": lo.get("cpu_sec"), "4n": hi.get("cpu_sec")}
    ctl_n = out.get(f"control_rows_per_sec_local{n_small}")
    ctl_4n = out.get(f"control_rows_per_sec_local{4 * n_small}")
    if ctl_n and ctl_4n:
        out["control_efficiency"] = round(ctl_4n / ctl_n / 4.0, 3)
    out["corpus"] = {"n_obo": n_obo, "n_noise": n_noise, "doc_scale": doc_scale}
    out["load_1m_end"] = load_1m()
    return out


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        print(json.dumps(run_scaling()))
    else:
        print(json.dumps(run_bench()))
