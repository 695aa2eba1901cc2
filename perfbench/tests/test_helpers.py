"""Tests of the benchmark's own helpers; no Spark session needed.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import corpus, procstat, run, tables, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6:\n    pass\n"


def test_tree_cpu_counts_an_exited_child():
    before = procstat.tree_cpu_seconds()
    subprocess.run([sys.executable, "-c", _BURN], check=True, timeout=60)
    # the child is gone; its CPU survives only in this process's cutime/cstime
    assert procstat.tree_cpu_seconds() - before >= 0.5


def test_python_workers_are_the_python_processes_below_the_jvm():
    tree = {
        1: ("python3", 0, 1.0),  # the driver
        2: ("java", 1, 5.0),  # the JVM
        3: ("python3", 2, 2.0),  # worker daemon
        4: ("python3", 3, 0.5),  # forked worker
        5: ("bash", 2, 0.1),
        6: ("python3", 1, 9.0),  # a sibling of the JVM, not a worker
    }
    assert procstat.python_workers(tree, jvm_pid=2) == {3: 2.0, 4: 0.5}
    assert procstat.python_workers(tree, jvm_pid=None) == {}


def test_seed_changes_the_obo_documents():
    a = corpus.make_corpus(1, n_docs=12, doc_scale=1, n_noise=3)
    b = corpus.make_corpus(2, n_docs=12, doc_scale=1, n_noise=3)
    obo = lambda rows: {r["content"] for r in rows if r["path"].startswith("ontologies/") and "broken" not in r["path"]}
    assert obo(a) == obo(corpus.make_corpus(1, n_docs=12, doc_scale=1, n_noise=3))
    assert len(obo(a)) == 12
    assert not obo(a) & obo(b)


def test_seed_keeps_the_corpus_size():
    # equal family shares: the seed changes the content, not the amount of work
    sizes = {corpus.expected_outputs(corpus.make_corpus(s, n_docs=8, doc_scale=1, n_noise=2))["edges"]
             for s in (1, 2, 3)}
    assert len(sizes) == 1


def test_seed_changes_the_tables():
    a, b = tables.make_tables(1, 0.05), tables.make_tables(2, 0.05)
    assert a["orders"].equals(tables.make_tables(1, 0.05)["orders"])
    assert not a["orders"].equals(b["orders"])
    assert not a["documents"].equals(b["documents"])


@pytest.fixture(scope="module")
def kg_expected():
    return corpus.expected_outputs(corpus.make_corpus(3, n_docs=8, doc_scale=1, n_noise=2))


def _metrics(expected, **over):
    m = {k: expected[k] for k in ("clause_rows", "quarantined_docs", "nodes", "edges")}
    m["doc_key_collisions"] = 0
    m.update(over)
    return m


def test_kg_check_accepts_the_oracle_counts(kg_expected):
    assert corpus.check_metrics(_metrics(kg_expected), kg_expected) == []
    assert corpus.check_edge_set(set(kg_expected["edge_set"]), kg_expected) == []
    assert kg_expected["quarantined_docs"] == 2


@pytest.mark.parametrize(
    "tamper", [{"edges": -1}, {"nodes": 1}, {"clause_rows": 1}, {"quarantined_docs": -1}]
)
def test_kg_check_rejects_tampered_counts(kg_expected, tamper):
    (k, d), = tamper.items()
    assert corpus.check_metrics(_metrics(kg_expected, **{k: kg_expected[k] + d}), kg_expected)


def test_kg_check_rejects_collisions_and_tampered_edges(kg_expected):
    assert corpus.check_metrics(_metrics(kg_expected, doc_key_collisions=1), kg_expected)
    edges = set(kg_expected["edge_set"])
    s, p, o, sha = edges.pop()
    assert corpus.check_edge_set(edges, kg_expected)
    assert corpus.check_edge_set(edges | {(s, p, o + "x", sha)}, kg_expected)


def test_query_check_rejects_a_changed_row_count():
    qm = workloads.QueryMix("unused", seed=5, scale=0.05)
    qm.expected = {q: 10 for q in workloads.HEADLINE}
    assert qm.check(dict(qm.expected)) == []
    assert qm.check({**qm.expected, "text_stats": 9}) == ["text_stats: 9 rows, want 10"]
    assert sorted(qm.order) == sorted(workloads.HEADLINE)


@pytest.mark.parametrize(
    "module, func, action, path, layer",
    [
        ("pipeline", "run_pipeline", "parquet", "/o/quarantine", "parse"),
        ("pipeline", "run_pipeline", "count", None, "surrogate"),
        ("pipeline", "run_pipeline", "parquet", "/o/nodes", "materialize.nodes"),
        ("pipeline", "run_pipeline", "parquet", "/o/edges", "edges_write"),
        ("pipeline", "run_pipeline", "parquet", "/o/_manifest", "manifest"),
        ("pipeline", "canonical_edges", "count", None, "canonical"),
        ("pipeline", "compact_manifest", "parquet", "/o/_manifest.compact-1", "manifest"),
        ("hints", "gated_broadcast", "count", None, "other"),
    ],
)
def test_trace_layer_of_program_actions(module, func, action, path, layer):
    assert trace.classify(module, func, action, path, None) == layer


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"kg_build", "query_mix"}
