"""O10: connected components — min-representative union-find, plus an
iterative min-label propagation as a DataFrame fixpoint.

Reference semantics: ``treat-xrefs-as-equivalent: <IDspace>`` turns
matching xrefs into equivalence statements
(``/root/reference/src/py/header/clause.rs:1203-1272``); the transitive
closure of those statements partitions ids into synonym groups. Equivalence
is per document, so the canonical chain labels those groups inside its
fused per-partition kernel (``canonicalize.combined_map_distributed``)
with :class:`MinUnionFind`. Cross-document graphs (the dedup operators'
duplicate clusters) go through :func:`connected_components`: Spark has no
built-in CC, so this is the one explicitly-engineered iterative algorithm
(SURVEY.md §4): alternating large-star/small-star style min-id propagation
with ``localCheckpoint()`` per round to cut lineage — without the
checkpoint the plan doubles every iteration and the 10th round recompiles
a 2^10-deep DAG.

Convergence: label space shrinks monotonically; iterations are bounded by
the graph diameter of the equivalence clusters (tiny in ontology practice:
xref cliques), capped by ``max_iter`` with a logged warning.

The dedup operators (MinHash/SimHash bucket → duplicate clusters) are
its caller: duplicate clusters are exactly a CC problem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastobo_py_spark.operators.hints import known_rows
from fastobo_py_spark.session import release


class MinUnionFind:
    """Local union-find with path compression and MIN-element
    representatives — THE component-labeling invariant every path in this
    package shares (the driver shortcut of :func:`connected_components`
    and the fused canonicalization kernel both label a component by its
    smallest member, matching oracle.py). One implementation so the call
    sites cannot drift."""

    def __init__(self) -> None:
        self._parent: dict = {}

    def find(self, x):
        parent = self._parent
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self._parent[hi] = lo


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """(src, dst) undirected pairs → (id, component) with component =
    min id (string order) in the component.

    Scale-adaptive: equivalence graphs are usually a vanishing fraction of
    the corpus (declared aliases only), so when the pair count fits the
    driver (≤ ``driver_threshold``) a local union-find answers in one job
    instead of an O(diameter) job sequence. Above the threshold the
    distributed min-label loop runs: one shuffle per iteration with
    localCheckpoint truncating lineage so iteration N doesn't recompute
    iterations 1..N-1. Both paths produce identical labels (min id).
    """
    # checkpoint BEFORE the size probe: the probe and the distributed
    # loop otherwise each execute the full upstream plan (dedup/join
    # chains feeding dedup_clusters are exactly the expensive case)
    e_raw = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    # ONE driver job: fetch up to threshold+1 pairs; overflow → distributed
    rows = e_raw.limit(driver_threshold + 1).collect()
    if len(rows) <= driver_threshold:
        release([e_raw])
        uf = MinUnionFind()
        for row in rows:
            uf.union(row[0], row[1])
        ids = {v for row in rows for v in row}
        out = [(i, uf.find(i)) for i in sorted(ids)]
        return known_rows(
            e_raw.sparkSession.createDataFrame(out, "id string, component string"), len(out)
        )
    return _distributed_cc(e_raw, max_iter)


def _distributed_cc(e: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation loop (the >driver_threshold path)."""
    # symmetric closure ONCE, checkpointed: without this every iteration
    # would recompute the entire upstream plan (parse → extract → rewrite)
    # — measured 3x the whole pipeline cost before the fix.
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    release([e])

    # labels: every vertex starts as its own component
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    # one-job convergence check: min-labels only ever decrease, so the
    # xor-fingerprint of the label set changes iff some label changed
    # (bit_xor cannot overflow under ANSI mode, unlike sum)
    prev_fp = labels.agg(F.expr("bit_xor(xxhash64(id, component))")).collect()[0][0]

    for _ in range(max_iter):
        # candidate labels: my own + min label among my neighbors
        neighbor_labels = (
            sym.join(labels.withColumnRenamed("id", "b_id"), F.col("b") == F.col("b_id"))
            .select(F.col("a").alias("id"), F.col("component"))
        )
        prev, labels = labels, (
            labels.unionByName(neighbor_labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        release([prev])
        fp = labels.agg(F.expr("bit_xor(xxhash64(id, component))")).collect()[0][0]
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        # the docstring's promised diagnostic: a diameter > max_iter graph
        # would otherwise return one real component under SEVERAL labels
        # with no signal, and every consumer would silently split it
        import warnings

        warnings.warn(
            f"_distributed_cc hit max_iter={max_iter} before the label "
            "fixpoint — component labels may be split; raise max_iter for "
            "graphs with diameter beyond it",
            RuntimeWarning,
            stacklevel=2,
        )
    release([sym])
    return labels
