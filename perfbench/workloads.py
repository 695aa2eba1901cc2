"""The benchmark's workloads. Each has one op type, driven closed-loop by
one client: the next op starts when the previous one returned.

A workload exposes ``generate()`` (seeded inputs plus the oracle's
expectations; pure Python, repeatable), ``prepare(spark)`` (session-side
set-up and the once-per-run oracle check), ``op(spark, i, tracer)``,
``check(out)`` (a non-empty list of mismatches fails the op) and
``after(out)`` (clean-up and output counts, outside the timed region).
"""

from __future__ import annotations

import os
import random
import shutil
from contextlib import nullcontext

from perfbench import corpus, tables

# mirrors bench.py's HEADLINE list; pinned here so the benchmark's op does
# not change when that harness does
HEADLINE = (
    "pricing_summary",
    "region_revenue",
    "orders_topk_window",
    "events_sessionize",
    "text_stats",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_bruteforce_topk",
)


def _dir_stats(root: str, subdirs=None) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``root``/``subdirs``."""
    files = size = 0
    for sub in subdirs or ("",):
        for dirpath, _, names in os.walk(os.path.join(root, sub)):
            for n in names:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += n.endswith(".parquet")
    return files, size


class KgBuild:
    """Op: one full ``run_pipeline(resume=False)`` batch into a fresh
    output directory over a seeded corpus of OBO documents."""

    # the first op is cold (JVM, codegen, worker start); the next two still
    # pay for JIT compilation in the driver JVM
    warm_ops = 3

    def __init__(self, work: str, seed: int, nproc: int, n_docs: int, doc_scale: int):
        self.work, self.seed, self.nproc = work, seed, nproc
        self.n_docs, self.doc_scale = n_docs, doc_scale
        self.input_dir = os.path.join(work, "corpus")
        self.df = None

    def generate(self) -> None:
        rows = corpus.make_corpus(self.seed, self.n_docs, self.doc_scale, n_noise=self.n_docs // 4)
        self.expected = corpus.expected_outputs(rows)
        shutil.rmtree(self.input_dir, ignore_errors=True)
        self.input_bytes = corpus.write_corpus(rows, self.input_dir, n_files=self.nproc)
        self.n_rows = len(rows)

    def describe(self) -> dict:
        return {"rows": self.n_rows, "obo_docs": self.n_docs, "doc_scale": self.doc_scale,
                "input_bytes": self.input_bytes, "edges": self.expected["edges"],
                "clause_rows": self.expected["clause_rows"]}

    def prepare(self, spark) -> list[str]:
        self.df = spark.read.parquet(self.input_dir)
        return []

    def op(self, spark, i: int, tracer=None) -> dict:
        from fastobo_py_spark.plans.pipeline import run_pipeline

        out_dir = os.path.join(self.work, f"out-{i}")
        return {"out_dir": out_dir, "metrics": run_pipeline(spark, self.df, out_dir, resume=False)}

    def check(self, out: dict) -> list[str]:
        return corpus.check_metrics(out["metrics"], self.expected)

    def check_full(self, spark, out: dict) -> list[str]:
        """Once per run: the written edge set against the oracle's."""
        rows = spark.read.parquet(os.path.join(out["out_dir"], "edges")).select(
            "subj", "pred", "obj", "doc_sha").collect()
        return corpus.check_edge_set({tuple(r) for r in rows}, self.expected)

    def after(self, out: dict) -> dict:
        files, written = _dir_stats(out["out_dir"], ("nodes", "edges"))
        _, stored = _dir_stats(out["out_dir"])
        shutil.rmtree(out["out_dir"], ignore_errors=True)
        m = out["metrics"]
        return {
            "parse.clause_rows": m["clause_rows"],
            "parse.quarantined_docs": m["quarantined_docs"],
            "surrogate.collisions": m["doc_key_collisions"],
            "canonical.edges": m["edges"],
            "materialize.files_written": files,
            "materialize.bytes_written": written,
            "materialize.stored_bytes_per_input_byte": stored / self.input_bytes,
            "manifest.rows": m["docs_in_batch"],
        }


class QueryMix:
    """Op: one pass over the eight headline queries into the ``noop``
    sink, in a seed-drawn order, over seeded star-schema tables."""

    # prepare()'s oracle pass already ran every query once, cold; the next
    # two passes still pay for JIT compilation
    warm_ops = 2

    def __init__(self, work: str, seed: int, scale: float):
        self.work, self.seed, self.scale = work, seed, scale
        self.input_dir = os.path.join(work, "tables")
        self.order = list(HEADLINE)
        random.Random(seed).shuffle(self.order)

    def generate(self) -> None:
        shutil.rmtree(self.input_dir, ignore_errors=True)
        self.input_bytes = tables.write_tables(tables.make_tables(self.seed, self.scale), self.input_dir)

    def describe(self) -> dict:
        return {"scale": self.scale, "input_bytes": self.input_bytes, "order": self.order,
                "rows": getattr(self, "expected", {})}

    def prepare(self, spark) -> list[str]:
        """Compare every query with its DuckDB oracle once; remember the
        oracle's row counts for the per-pass check."""
        from fastobo_py_spark import contract
        from fastobo_py_spark.queries import QUERIES, oracle_sqls

        con = contract.duckdb_connection(self.input_dir)
        sqls = oracle_sqls()
        bad, self.expected = [], {}
        try:
            for q in self.order:
                # the oracle runs once; its result is compared and counted
                con.sql(f"CREATE OR REPLACE TEMP TABLE oracle_result AS {sqls[q].strip().rstrip(';')}")
                ok, msg = contract.compare(QUERIES[q](spark, self.input_dir), con, "SELECT * FROM oracle_result")
                if not ok:
                    bad.append(f"{q}: {msg}")
                self.expected[q] = con.sql("SELECT count(*) FROM oracle_result").fetchone()[0]
        finally:
            con.close()
        return bad

    def op(self, spark, i: int, tracer=None) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from fastobo_py_spark.queries import QUERIES

        counts = {}
        for q in self.order:
            if tracer is not None:
                tracer.label = f"query.{q}"
            with tracer.span(f"query.{q}.plan", f"query.{q}.plan") if tracer else nullcontext():
                df = QUERIES[q](spark, self.input_dir)
            obs = Observation(f"rows_{q}_{i}")
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
            counts[q] = obs.get["n"]
        if tracer is not None:
            tracer.label = None
        return counts

    def check(self, out: dict) -> list[str]:
        return [f"{q}: {out.get(q)} rows, want {n}" for q, n in self.expected.items() if out.get(q) != n]

    def check_full(self, spark, out: dict) -> list[str]:
        return []

    def after(self, out: dict) -> dict:
        return {}


def make(name: str, work: str, seed: int, nproc: int):
    if name == "kg_build":
        return KgBuild(work, seed, nproc, n_docs=12, doc_scale=2)
    if name == "query_mix":
        return QueryMix(work, seed, scale=1.0)
    raise ValueError(f"unknown workload {name!r}")
