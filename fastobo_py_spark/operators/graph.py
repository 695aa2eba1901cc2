"""Graph queries over the materialized KG: full transitive ancestor
closure, seeded ancestor BFS with min-depth, and subtree extraction.

The reference hands users an AST and they walk ``is_a`` chains in Python
(obonet/networkx style, one doc in memory); at corpus scale the closure
is an iterative DataFrame fixpoint — the same checkpointed-loop pattern
as the CC operator (components.py), doubling path length per round
(path-doubling: closure ∘ closure), so a depth-D hierarchy converges in
⌈log2 D⌉ joins instead of D.

Scale notes: ontology ``is_a`` DAGs are shallow (GO ≈ depth 15) and the
closure is bounded by depth × |edges|; every iteration is one self-join
on (doc_sha, vertex) + dedup, both shuffling on the same keys. For
seed-set queries ("ancestors of THESE terms") filter the base relation
first — the loop then carries only reachable frontier pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastobo_py_spark.session import release

# compact the BFS seen-set union into one checkpointed frame once this
# many per-depth frames accumulate (see ancestors_of): bounds anti-join
# plan width on deep graphs, amortizes the re-copy to depth/K collapses
_SEEN_COMPACT_EVERY = 8


def transitive_ancestors(edges: DataFrame, pred: str = "is_a", max_iter: int = 25) -> DataFrame:
    """(doc_sha, id, ancestor): transitive closure of ``pred`` edges,
    per document (ancestors never cross documents).

    Path-doubling fixpoint with ``localCheckpoint`` per round (lineage
    otherwise doubles every iteration) and a one-scalar xor fingerprint
    as the convergence probe (bit_xor cannot overflow under ANSI mode).
    Each round releases the checkpoint it supersedes. The returned
    closure is a checkpoint too: the caller releases it with
    :func:`session.release` once it has read the closure.
    """
    base = (
        edges.where(F.col("pred") == pred)
        .select("doc_sha", F.col("subj").alias("id"), F.col("obj").alias("ancestor"))
        .where(F.col("id") != F.col("ancestor"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    closure = base
    prev_fp = closure.agg(F.expr("bit_xor(xxhash64(doc_sha, id, ancestor))")).collect()[0][0]
    for _ in range(max_iter):
        hop = closure.select(
            F.col("doc_sha").alias("__d"), F.col("id").alias("__mid"), F.col("ancestor").alias("__anc")
        )
        longer = (
            closure.join(
                hop, (closure["doc_sha"] == F.col("__d")) & (closure["ancestor"] == F.col("__mid"))
            )
            .select("doc_sha", "id", F.col("__anc").alias("ancestor"))
        )
        prev, closure = closure, (
            closure.unionByName(longer)
            .where(F.col("id") != F.col("ancestor"))  # cycles collapse to self-pairs; drop
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        release([prev])
        fp = closure.agg(F.expr("bit_xor(xxhash64(doc_sha, id, ancestor))")).collect()[0][0]
        if fp == prev_fp:
            break
        prev_fp = fp
    return closure


def ancestors_of(
    edges: DataFrame,
    seeds: DataFrame,
    pred: str = "is_a",
    max_depth: int = 25,
    persisted_out: list | None = None,
) -> DataFrame:
    """(doc_sha, id, ancestor, min_depth) for the SEED ids only — the
    interactive "ancestors of THESE terms" query (reference users walk the
    AST per term, ``docs/examples/graph.ipynb``; here it is a frontier BFS).

    ``seeds`` carries an ``id`` column, optionally scoped by ``doc_sha``.
    Unlike :func:`transitive_ancestors` (path-doubling over the whole
    graph), this carries ONLY seed-reachable frontier pairs — at corpus
    scale the working set is |seeds| × depth × avg-fanout, not |edges| ×
    depth, and each round is one co-keyed join on (doc_sha, vertex).
    ``min_depth`` is the shortest is_a path length (BFS discovery order +
    seen-set anti-join make first discovery minimal). Cycle-safe: the
    anti-join stops re-expansion; self-pairs are dropped.

    The result is a union of per-depth checkpoints; they go to
    ``persisted_out`` for the caller to :func:`session.release` once it
    has read the result, and every other checkpoint is released here.
    """
    base = (
        edges.where(F.col("pred") == pred)
        .select("doc_sha", F.col("subj").alias("child"), F.col("obj").alias("parent"))
        .where(F.col("child") != F.col("parent"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    keys = ["doc_sha", "id"] if "doc_sha" in seeds.columns else ["id"]
    sd = seeds.select(*keys).dropDuplicates()
    result = (
        base.select("doc_sha", F.col("child").alias("id"), F.col("parent").alias("ancestor"))
        .join(sd, keys, "left_semi")
        .withColumn("min_depth", F.lit(1).cast("long"))
        .localCheckpoint(eager=True)
    )
    # renamed copy: hop joins would otherwise be ambiguous self-joins
    # (result's lineage already contains base)
    bhop = base.select(
        F.col("doc_sha").alias("__bd"), F.col("child").alias("__bc"), F.col("parent").alias("__bp")
    )
    # one checkpointed frame per depth; the seen-set for the anti-join is
    # their LAZY union — checkpointing the accumulated union each round
    # would re-materialize every earlier depth's rows per iteration
    # (O(depth × |closure|) copy work for nothing: the frames are already
    # materialized). To keep the anti-join plan from growing one union
    # branch per depth on deep corpora, the list is COMPACTED into a
    # single checkpointed frame every _SEEN_COMPACT_EVERY rounds: plan
    # width stays bounded while the re-copy cost is amortized to
    # O(|closure| × depth / K) instead of per-round.
    frames = [result]
    frontier = result

    def _seen() -> DataFrame:
        out = frames[0].select("doc_sha", "id", "ancestor")
        for f in frames[1:]:
            out = out.unionByName(f.select("doc_sha", "id", "ancestor"))
        return out

    retired: list[DataFrame] = []  # compacted away, still read as the frontier
    for depth in range(2, max_depth + 1):
        hop = (
            frontier.select(
                F.col("doc_sha").alias("__d"), "id", F.col("ancestor").alias("__mid")
            )
            .join(bhop, (F.col("__d") == F.col("__bd")) & (F.col("__mid") == F.col("__bc")))
            .select(F.col("__d").alias("doc_sha"), "id", F.col("__bp").alias("ancestor"))
            .where(F.col("id") != F.col("ancestor"))
            .dropDuplicates()
        )
        new = (
            hop.join(_seen(), ["doc_sha", "id", "ancestor"], "left_anti")
            .withColumn("min_depth", F.lit(depth).cast("long"))
            .localCheckpoint(eager=True)
        )
        release(retired)
        retired = []
        if new.limit(1).count() == 0:
            release([new])
            break
        frames.append(new)
        if len(frames) >= _SEEN_COMPACT_EVERY:
            merged = frames[0]
            for f in frames[1:]:
                merged = merged.unionByName(f)
            retired, frames = frames, [merged.localCheckpoint(eager=True)]
        frontier = new
    release(retired + [base])
    if persisted_out is not None:
        persisted_out.extend(frames)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def descendants_of(
    edges: DataFrame,
    seeds: DataFrame,
    pred: str = "is_a",
    max_depth: int = 25,
    persisted_out: list | None = None,
) -> DataFrame:
    """(doc_sha, id, descendant, min_depth) for the SEED ids — subtree
    extraction ("everything under GO:0008150"), the downward twin of
    :func:`ancestors_of`. Implemented as the ancestor BFS over the
    reversed edge relation, so the frontier/seen-set/cycle guarantees and
    the shortest-path min_depth semantics are literally the same code.
    """
    rev = edges.select(
        "doc_sha", F.col("pred"), F.col("obj").alias("subj"), F.col("subj").alias("obj")
    )
    return ancestors_of(rev, seeds, pred, max_depth, persisted_out).withColumnRenamed(
        "ancestor", "descendant"
    )
