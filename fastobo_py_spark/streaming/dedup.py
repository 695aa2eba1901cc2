"""Streaming cross-batch deduplication — exactly-once-per-CONTENT over an
unbounded document stream.

The batch dedup operators (operators/dedup.py) decide duplicates over a
closed corpus; a streaming ingest pipeline must make the same decision
against everything that EVER arrived. That is per-key custom state, the
``applyInPandasWithState`` pattern (SURVEY §2.4 O20 / the reference's
``fastobo.iter`` pull loop generalized to infinite input):

* key = content fingerprint (md5 of normalized text — the same
  fingerprint as ``operators/text.fingerprint``, so batch and stream
  agree on what "duplicate" means);
* state = one boolean per fingerprint ("already emitted"), sharded by
  key hash across executors and persisted in the streaming checkpoint —
  a restart resumes the dedup where it left off, replayed micro-batches
  re-emit nothing;
* output = exactly one (fp, keep_id, n_in_batch) row per NEW
  fingerprint, in the micro-batch where it first appears.

State size is 1 bit of logical state (plus the 32-hex key) per distinct
document ever seen — the same order as the batch manifest (O19), and the
state store spills to disk per executor, so nothing is driver-bounded.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fastobo_py_spark.operators.text import fingerprint
from fastobo_py_spark.worker import prune_zip_importers

DEDUP_OUTPUT = T.StructType(
    [
        T.StructField("fp", T.StringType()),
        T.StructField("keep_id", T.LongType()),
        T.StructField("n_in_batch", T.LongType()),
    ]
)

DEDUP_STATE = T.StructType([T.StructField("seen", T.BooleanType())])


def _first_seen_fn(
    key: Tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful kernel: emit one row for a fingerprint's FIRST appearance
    (keep_id = min doc_id inside that micro-batch — deterministic within
    the batch), drop every later appearance via the persisted flag."""
    prune_zip_importers()
    if state.exists:
        return  # duplicate content in a later batch: emit nothing
    keep = None
    n = 0
    for pdf in batches:
        n += len(pdf)
        if len(pdf):
            m = int(pdf["doc_id"].min())
            keep = m if keep is None else min(keep, m)
    state.update((True,))
    yield pd.DataFrame([{"fp": key[0], "keep_id": keep, "n_in_batch": n}])


def _with_ttl(fn, ttl_ms: int | None):
    """Wrap a stateful kernel with a SLIDING processing-time TTL.

    ``None`` → the kernel runs exactly as written under ``NoTimeout``
    (state lives forever — exactly-once-per-content over the full
    history). With a TTL, every group refreshes its expiry whenever it
    is touched and is dropped after ``ttl_ms`` of silence; content that
    re-arrives later is treated as new (re-emitted / re-paired). That is
    the standard bounded-state trade for infinite streams — align the
    TTL with the upstream retention window (e.g. the batch manifest's
    horizon) so "forgotten" keys are ones the pipeline no longer needs
    exact-once behavior for. State size then follows the ACTIVE key set,
    not everything ever seen.

    Pair a TTL with a RUNNING trigger (processingTime/continuous): an
    ``availableNow`` drain never terminates under processing-time
    timeouts (Spark keeps scheduling no-data cleanup batches), and a
    backfill drain is exactly the case where forgetting is wrong anyway.
    """
    if ttl_ms is None:
        return fn

    def wrapped(key, batches, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        yield from fn(key, batches, state)
        if state.exists:
            state.setTimeoutDuration(ttl_ms)

    return wrapped


def _timeout_conf(ttl_ms: int | None):
    return (
        GroupStateTimeout.NoTimeout if ttl_ms is None else GroupStateTimeout.ProcessingTimeTimeout
    )


def stream_exact_dedup(docs: DataFrame, state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming (doc_id, text) rows → one (fp, keep_id, n_in_batch) row
    per distinct content, emitted in the micro-batch where the content
    first arrives. Append output mode; state lives in the checkpoint.
    ``state_ttl_ms`` bounds state to the active key set (see _with_ttl)."""
    keyed = docs.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
    return keyed.groupBy("fp").applyInPandasWithState(
        _with_ttl(_first_seen_fn, state_ttl_ms),
        outputStructType=DEDUP_OUTPUT,
        stateStructType=DEDUP_STATE,
        outputMode="append",
        timeoutConf=_timeout_conf(state_ttl_ms),
    )


# ---------------------------------------------------------------------------
# Event-time TTL dedup — the DETERMINISTIC TTL (oracle-checkable)
# ---------------------------------------------------------------------------

TTL_OUTPUT = T.StructType(
    [
        T.StructField("fp", T.StringType()),
        T.StructField("keep_id", T.LongType()),
        T.StructField("emit_ts_us", T.LongType()),
    ]
)

TTL_STATE = T.StructType([T.StructField("last_ts_us", T.LongType())])


def _event_ttl_fn(ttl_us: int):
    """Stateful kernel for the event-time sliding TTL: emit an event iff
    its gap to the PREVIOUS same-fp event (in event time) exceeds
    ``ttl_us`` — every event, emitted or suppressed, refreshes the clock.
    For event-time-ordered arrival this equals the window expression
    ``lag(ts) OVER (PARTITION BY fp ORDER BY ts)`` + gap filter, which is
    exactly what the DuckDB oracle computes — processing-time TTL
    (:func:`_with_ttl`) can never be oracle-checked because its clock is
    the scheduler's."""

    def fn(key: Tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState):
        prune_zip_importers()
        if state.hasTimedOut:
            # watermark passed last_ts + TTL: every future event's gap
            # exceeds the TTL and re-emits regardless of this state —
            # dropping it cannot change any emission decision, which is
            # what makes event-time eviction semantically invisible
            state.remove()
            return
        rows = []
        for pdf in batches:
            for doc_id, ts in zip(pdf["doc_id"], pdf["event_ts_us"]):
                rows.append((int(ts), int(doc_id)))
        rows.sort()
        last = int(state.get[0]) if state.exists else None
        out = []
        for ts, doc_id in rows:
            if last is None or ts - last > ttl_us:
                out.append((key[0], doc_id, ts))
            last = ts if last is None else max(last, ts)
        state.update((last,))
        # evict once the watermark passes last_ts + TTL (ms clock; +1 to
        # stay strictly ahead of the current watermark as Spark requires)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last // 1000 + ttl_us // 1000 + 1, wm + 1))
        if out:
            yield pd.DataFrame(out, columns=["fp", "keep_id", "emit_ts_us"])

    return fn


def stream_exact_dedup_event_ttl(
    docs: DataFrame, ttl_us: int, watermark_delay: str = "0 seconds"
) -> DataFrame:
    """Streaming exact dedup with a DETERMINISTIC sliding TTL on EVENT
    time: one output row per (fp, event) whose gap to the previous
    same-content event exceeds ``ttl_us``; closer repeats are suppressed
    and still refresh the clock.

    Unlike ``state_ttl_ms`` (processing-time TTL — the scheduler's clock,
    inherently nondeterministic), the TTL here is part of the DATA
    semantics: for in-order streams the drained output is a pure function
    of (rows, ttl_us), independent of micro-batch boundaries, so a SQL
    oracle (lag window + gap filter) can hash-check it row for row.

    State is ONE BIGINT per active fingerprint, evicted by the WATERMARK
    HORIZON via ``EventTimeTimeout``: once the watermark passes
    ``last_ts + ttl`` the key's state is removed — any later event would
    re-emit anyway, so eviction never changes output, it only bounds
    state to fingerprints active within the TTL window. Late events
    (arriving after same-fp events with later timestamps) are decided
    against the newest timestamp seen, the standard streaming trade;
    bound lateness with ``watermark_delay``.

    Input: (doc_id, text, event_ts_us) plus an ``event_time`` TIMESTAMP
    column is derived for the watermark.
    """
    keyed = (
        docs.select(fingerprint(F.col("text")).alias("fp"), "doc_id", "event_ts_us")
        .withColumn("event_time", F.timestamp_micros(F.col("event_ts_us")))
        .withWatermark("event_time", watermark_delay)
    )
    return keyed.groupBy("fp").applyInPandasWithState(
        _event_ttl_fn(ttl_us),
        outputStructType=TTL_OUTPUT,
        stateStructType=TTL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Cross-batch NEAR-duplicate detection (MinHash LSH over the stream)
# ---------------------------------------------------------------------------

PAIRS_OUTPUT = T.StructType(
    [
        T.StructField("band_ix", T.IntegerType()),
        T.StructField("doc_a", T.LongType()),
        T.StructField("doc_b", T.LongType()),
        T.StructField("est_jaccard", T.DoubleType()),
    ]
)

BUCKET_STATE = T.StructType(
    [
        T.StructField("doc_ids", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.ArrayType(T.LongType()))),
    ]
)


def _py_normalize(text: str) -> str:
    r"""Python mirror of operators/text.normalize_text, EXACT: Spark trim
    strips ASCII spaces only, Java \s is ASCII ([ \t\n\x0B\f\r]) —
    Python's default Unicode-wide strip()/\s would normalize (and
    therefore shingle) differently and break stream/batch parity.
    Module-level so the parity is directly testable."""
    import re

    return re.sub(r"\s+", " ", text.strip(" "), flags=re.ASCII).lower()


def _signature_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stateless kernel: (doc_id, text) → one row per LSH band with the
    full MinHash signature. Bit-identical to the batch path
    (operators/dedup.py): one md5 per word 3-shingle of the normalized
    text, Carter–Wegman h_i = a + i*b over its 32-bit halves, band hash =
    md5 of the '|'-joined band slice — so stream pairs are comparable
    row-for-row with `minhash_candidate_pairs` output."""
    prune_zip_importers()
    import hashlib
    import re

    from fastobo_py_spark.operators.dedup import N_BANDS, N_MINHASH, ROWS_PER_BAND, SHINGLE_K

    def signature(text: str) -> list[int]:
        norm = _py_normalize(text)
        toks = norm.split(" ")
        if len(toks) >= SHINGLE_K:
            shingles = [" ".join(toks[i : i + SHINGLE_K]) for i in range(len(toks) - SHINGLE_K + 1)]
        else:
            shingles = [" ".join(toks)]
        sig = [None] * N_MINHASH
        for sh in shingles:
            h = hashlib.md5(sh.encode()).hexdigest()
            a, b = int(h[:8], 16), int(h[8:16], 16)
            for i in range(N_MINHASH):
                v = a + i * b
                if sig[i] is None or v < sig[i]:
                    sig[i] = v
        return sig

    for pdf in batches:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                continue  # batch path: normalize_text(NULL) explodes to nothing
            sig = signature(text)
            for band in range(N_BANDS):
                sl = sig[band * ROWS_PER_BAND : (band + 1) * ROWS_PER_BAND]
                bh = hashlib.md5("|".join(str(v) for v in sl).encode()).hexdigest()
                out.append((band, bh, int(doc_id), sig))
        yield pd.DataFrame(out, columns=["band_ix", "band_hash", "doc_id", "sig"])


def _bucket_pairs_fn(
    key: Tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful kernel per (band_ix, band_hash) bucket: every newly
    arrived member pairs against ALL members ever seen in the bucket
    (stored signatures), then joins the stored set. State is the bucket's
    member list — the streaming dual of the batch band self-join, sharded
    by bucket key so no bucket ever sees another's members."""
    prune_zip_importers()
    if state.exists:
        ids, sigs = list(state.get[0]), [list(s) for s in state.get[1]]
    else:
        ids, sigs = [], []
    out = []
    new = []
    for pdf in batches:
        for doc_id, sig in zip(pdf["doc_id"], pdf["sig"]):
            new.append((int(doc_id), [int(v) for v in sig]))
    new.sort()
    band_ix = int(key[0])
    for doc_id, sig in new:
        if doc_id in ids:
            continue  # replayed micro-batch: already a member
        for mid, msig in zip(ids, sigs):
            if mid == doc_id:
                continue
            est = sum(1 for x, y in zip(sig, msig) if x == y) / float(len(sig))
            a, b = (doc_id, mid) if doc_id < mid else (mid, doc_id)
            out.append((band_ix, a, b, round(est, 6)))
        ids.append(doc_id)
        sigs.append(sig)
    state.update((ids, sigs))
    if out:
        yield pd.DataFrame(out, columns=["band_ix", "doc_a", "doc_b", "est_jaccard"])


def stream_minhash_pairs(docs: DataFrame, state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming near-duplicate candidate pairs: MinHash+LSH over an
    unbounded (doc_id, text) stream.

    Two stages: a stateless Arrow kernel computes signatures + band
    hashes per document (the corpus never accumulates anywhere), then one
    stateful operator keyed by (band_ix, band_hash) holds each bucket's
    member signatures and emits a pair the moment the second member of a
    bucket ever arrives — across micro-batches, restarts included (state
    lives in the checkpoint). A pair sharing several bands surfaces once
    per band (the batch path's dropDuplicates is the reader's
    ``dropDuplicates(["doc_a","doc_b"])`` here — global cross-band dedup
    would be a second stateful operator, kept out of the core op).

    State is bounded by bucket membership — the same growth law as the
    batch LSH join's build side, sharded across executors by bucket key.
    """
    sigs = docs.select("doc_id", "text").mapInPandas(
        _signature_rows,
        "band_ix int, band_hash string, doc_id long, sig array<long>",
    )
    return sigs.groupBy("band_ix", "band_hash").applyInPandasWithState(
        _with_ttl(_bucket_pairs_fn, state_ttl_ms),
        outputStructType=PAIRS_OUTPUT,
        stateStructType=BUCKET_STATE,
        outputMode="append",
        timeoutConf=_timeout_conf(state_ttl_ms),
    )


# ---------------------------------------------------------------------------
# Cross-batch embedding near-dup (hyperplane LSH over the stream)
# ---------------------------------------------------------------------------

EMB_PAIRS_OUTPUT = T.StructType(
    [
        T.StructField("t", T.IntegerType()),
        T.StructField("vec_a", T.LongType()),
        T.StructField("vec_b", T.LongType()),
    ]
)

EMB_BUCKET_STATE = T.StructType(
    [
        T.StructField("vec_ids", T.ArrayType(T.LongType())),
        T.StructField("vecs", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)


def _emb_signature_rows(n_tables: int, n_planes: int, seed: int):
    """Stateless kernel: (vec_id, embedding) → one row per LSH table with
    the table's sign-bit bucket — the same seeded hyperplanes as the
    batch path (similarity.hyperplane_weights), rebuilt from the seed."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        import numpy as np

        from fastobo_py_spark.operators.similarity import hyperplane_weights

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
            bits = mat @ hyperplane_weights(mat.shape[1], n_tables * n_planes, seed) >= 0
            out = []
            for vec_id, row, v in zip(pdf["vec_id"], bits, pdf["embedding"]):
                sig = "".join("1" if b else "0" for b in row)
                for t in range(n_tables):
                    out.append((int(vec_id), t, sig[t * n_planes : (t + 1) * n_planes], list(v)))
            yield pd.DataFrame(out, columns=["vec_id", "t", "bucket", "v"])

    return fn


def _emb_bucket_pairs_fn(threshold: float):
    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        """Stateful kernel per (table, bucket): exact cosine between each
        new arrival and every stored member; pairs ≥ threshold emit.
        Dot/norm are computed with SEQUENTIAL left-to-right sums (plain
        Python loop) to match Spark's F.aggregate and DuckDB's
        list_dot_product bit-for-bit at the threshold boundary — numpy's
        pairwise/BLAS summation rounds differently."""
        prune_zip_importers()
        if state.exists:
            ids, vecs = list(state.get[0]), [list(v) for v in state.get[1]]
        else:
            ids, vecs = [], []

        def dot(a, b):
            s = 0.0
            for x, y in zip(a, b):
                s += x * y
            return s

        def nrm(a):
            s = 0.0
            for x in a:
                s += x * x
            return s ** 0.5

        t_ix = int(key[0])
        out = []
        new = []
        for pdf in batches:
            for vec_id, v in zip(pdf["vec_id"], pdf["v"]):
                new.append((int(vec_id), [float(x) for x in v]))
        new.sort()
        for vec_id, v in new:
            if vec_id in ids:
                continue  # replayed batch
            nv = nrm(v)
            for mid, mv in zip(ids, vecs):
                denom = nv * nrm(mv)
                # zero-norm vector: Spark's Divide yields NULL and the
                # batch filter drops the pair — mirror that, don't crash
                if denom == 0.0:
                    continue
                if dot(v, mv) / denom >= threshold:
                    a, b = (vec_id, mid) if vec_id < mid else (mid, vec_id)
                    out.append((t_ix, a, b))
            ids.append(vec_id)
            vecs.append(v)
        state.update((ids, vecs))
        if out:
            yield pd.DataFrame(out, columns=["t", "vec_a", "vec_b"])

    return fn


def stream_embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_tables: int = 4,
    n_planes: int = 4,
    seed: int = 7,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming embedding near-duplicate pairs: AND-OR hyperplane LSH
    over an unbounded (vec_id, embedding) stream — the streaming dual of
    ``operators.dedup.embedding_near_dup_lsh`` with identical seeded
    hyperplanes, bucket structure, and exact-cosine verification, so the
    drained pair set equals the batch path's output.

    One stateful operator per (table, bucket) stores member vectors;
    every new arrival verifies against its bucket's history only — never
    all-pairs, across micro-batches and restarts. A pair sharing buckets
    in several tables surfaces once per table; global dedup is the
    reader's ``dropDuplicates(["vec_a","vec_b"])``."""
    sigs = embeddings.select("vec_id", "embedding").mapInPandas(
        _emb_signature_rows(n_tables, n_planes, seed),
        "vec_id long, t int, bucket string, v array<double>",
    )
    return sigs.groupBy("t", "bucket").applyInPandasWithState(
        _with_ttl(_emb_bucket_pairs_fn(threshold), state_ttl_ms),
        outputStructType=EMB_PAIRS_OUTPUT,
        stateStructType=EMB_BUCKET_STATE,
        outputMode="append",
        timeoutConf=_timeout_conf(state_ttl_ms),
    )
