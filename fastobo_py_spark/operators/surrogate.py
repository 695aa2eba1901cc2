"""Integer surrogate key for the canonical edge spine.

``doc_sha`` — the per-document sha256 hex digest (64 chars ≈ 88 bytes of
UTF8String per row) — is the partition, join, and dedup key of the whole
canonicalization chain. Carrying it through every exchange, hash-join
probe, and aggregation hash was measured as the graph stage's scaling
bottleneck (SCALING_r05_2v8.json: graph-stage CPU inflates 177→315 s
going 2→8 threads while parse-stage CPU stays flat — memory-bus
pressure, not algorithm). The surrogate spine replaces it with

    ``doc_key = xxhash64(doc_sha)``   (one fixed-width BIGINT)

for the join-heavy region only: the clause cache hash-partitions on
``doc_key``, every dimension join and the final edge dedup key on it, and
``doc_sha`` is pruned OFF the spine entirely — restored at
materialization by one co-partitioned shuffle-hash join against the tiny
``(doc_key, doc_sha)`` dictionary (one row per document, built as an
exchange-free aggregate over the already-partitioned cache).

Collision math (why this is safe, and where it stops being safe):
``xxhash64`` over distinct sha256 strings behaves as a uniform 64-bit
hash, so P(any collision among n docs) ≈ n²/2⁶⁵. At 10⁶ docs that is
~3·10⁻⁸, at 10⁹ ~2.7%, and at the north star's 10¹² files collisions are
certain (~27k expected pairs). A collision is NOT silent corruption — it
merges two documents' scopes (their edges dedup together and both appear
under both doc_shas after the decode join) — but it is wrong, so:

  * ``audit_doc_keys`` reports colliding documents as a DataFrame (one
    exchange-free aggregate over the cache; run it once per corpus or
    wire it into a validation batch).
  * ``canonical_edges(..., key_col="doc_sha")`` runs the same chain on
    the exact string spine end to end — the fallback ``run_pipeline`` and
    the stream take for a batch where the audit fires; the tests pin the
    two spines to identical output so they cannot drift.
  * At true 10¹²-doc scale the right fix is widening the key (two
    independently-seeded xxhash64 columns = 128 bits, P ≈ 10⁻¹⁵); the
    spine is written against the ``doc_key`` column name, so that swap
    is local to :func:`with_doc_key`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DOC_KEY = "doc_key"


def with_doc_key(df: DataFrame) -> DataFrame:
    """Attach the BIGINT surrogate ``doc_key = xxhash64(doc_sha)``.

    Idempotent: a frame that already carries ``doc_key`` passes through
    unchanged, so cache builders and :func:`canonical_edges`'s self-heal
    can both call it. Derivation is deterministic (seed 42, Spark's
    default) — the same doc_sha maps to the same doc_key in every batch,
    session, and micro-batch, which is what lets streaming micro-batches
    and resume reruns dedup against earlier output.
    """
    if DOC_KEY in df.columns:
        return df
    return df.withColumn(DOC_KEY, F.xxhash64("doc_sha"))


def audit_doc_keys(clauses: DataFrame) -> DataFrame:
    """Colliding surrogates: one row per ``doc_key`` claimed by more than
    one distinct ``doc_sha`` (empty = the surrogate spine is exact for
    this corpus).

    Shape: exchange-free when ``clauses`` is hash-partitioned on
    ``doc_key`` (the cache contract) — the distinct and the count both
    reuse that partitioning; output is at most one row per document.
    """
    return (
        with_doc_key(clauses)
        .select(DOC_KEY, "doc_sha")
        .distinct()
        .groupBy(DOC_KEY)
        .agg(F.count("*").alias("n_docs"), F.sort_array(F.collect_set("doc_sha")).alias("doc_shas"))
        .where(F.col("n_docs") > 1)
    )
