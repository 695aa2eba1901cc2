"""Structured Streaming ingest test: availableNow over an on-disk corpus
produces the same clause rows as the batch path, and the checkpoint makes
a second run a no-op (streaming resumability)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F


def test_stream_parse_matches_batch(spark):
    from fastobo_py_spark.sources.corpus import corpus_to_parquet
    from fastobo_py_spark.streaming.ingest import run_stream_to_parquet

    base = tempfile.mkdtemp(prefix="stream_test_")
    corpus_dir = f"{base}/corpus"
    out_dir = f"{base}/out"
    ckpt = f"{base}/ckpt"
    try:
        corpus_to_parquet(corpus_dir, n_obo=8, n_noise=20, n_broken=1, n_files=4)
        run_stream_to_parquet(spark, corpus_dir, out_dir, ckpt)
        got = spark.read.parquet(f"{out_dir}/parsed")
        n_stream = got.count()

        from fastobo_py_spark.operators.parse import parse_corpus

        batch = parse_corpus(spark.read.parquet(corpus_dir))
        assert n_stream == batch.count()
        assert got.where(F.col("is_error")).count() == 2  # 1 broken + 1 mislabeled

        # resumability: re-running against the same checkpoint adds nothing
        run_stream_to_parquet(spark, corpus_dir, out_dir, ckpt)
        assert spark.read.parquet(f"{out_dir}/parsed").count() == n_stream
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_windowed_agg_with_watermark(spark):
    """Watermarked tumbling-window aggregate over a 4-file backlog
    (maxFilesPerTrigger=1 → 4 micro-batches): the final update per
    window key must equal the batch aggregation."""
    from fastobo_py_spark.streaming.windows import stream_events_hourly

    base = tempfile.mkdtemp(prefix="stream_win_")
    try:
        src = f"{base}/events"
        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        events.repartition(4).write.parquet(src)
        stream = spark.readStream.schema(events.schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = (
            stream_events_hourly(stream)
            .writeStream.format("memory")
            .queryName("hourly_sink")
            .outputMode("update")
            .option("checkpointLocation", f"{base}/ckpt1")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql(
                # totals only grow per key: the max-count row is the final update
                "select hour, event_type, max_by(n_events, n_events) n_events,"
                " max_by(sum_value, n_events) sum_value from hourly_sink group by 1,2"
            ).collect()
        }
        want = {
            (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in events.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
            .collect()
        }
        assert set(got) == set(want)
        assert all(got[k][0] == want[k][0] for k in want)
        assert all(abs(got[k][1] - want[k][1]) < 1e-6 for k in want)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_stateful_user_totals(spark):
    """applyInPandasWithState running totals accumulate across
    micro-batches (state store), matching the batch aggregate exactly."""
    from fastobo_py_spark.streaming.windows import stream_user_totals

    base = tempfile.mkdtemp(prefix="stream_state_")
    try:
        src = f"{base}/events"
        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        events.repartition(4).write.parquet(src)
        stream = spark.readStream.schema(events.schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = (
            stream_user_totals(stream)
            .writeStream.format("memory")
            .queryName("totals_sink")
            .outputMode("update")
            .option("checkpointLocation", f"{base}/ckpt2")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = spark.sql("select count(*) from totals_sink").collect()[0][0]
        got = {
            r["user_id"]: (r["n_events"], r["sum_value_e4"])
            for r in spark.sql(
                "select user_id, max(n_events) n_events,"
                " max_by(sum_value_e4, n_events) sum_value_e4 from totals_sink group by 1"
            ).collect()
        }
        want = {
            r["user_id"]: (r["n_events"], r["sum_value_e4"])
            for r in events.groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 10000).cast("long")).alias("sum_value_e4"),
            )
            .collect()
        }
        assert got == want
        # state genuinely crossed micro-batches: more update rows than users
        assert n_batches > len(want)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_build_kg_matches_batch_and_oracle(spark):
    """foreachBatch KG stream over a multi-file backlog produces exactly
    the batch pipeline's canonical edge set (and therefore the oracle's:
    per-document canonicalization is batch-boundary invariant)."""
    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus
    from fastobo_py_spark.streaming.kg import stream_build_kg

    base = tempfile.mkdtemp(prefix="stream_kg_")
    try:
        corpus_dir = f"{base}/corpus"
        # Write the backlog ROUND-ROBIN across 4 files with pinned,
        # strictly increasing mtimes. corpus_to_parquet writes generation
        # order (all 12 edge-bearing OBO docs in the first 2 of 4 files)
        # and identical mtimes — FileStreamSource's tie order then decides
        # whether micro-batch 0 gets EVERY edge (making the strict-prefix
        # snapshot assertion below flaky). Interleaving guarantees each
        # 2-file micro-batch carries edge-bearing docs, deterministically.
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = generate_corpus(n_obo=12, n_noise=8, n_broken=1)
        cols = ("repo", "path", "commit", "lang", "content")
        os.makedirs(corpus_dir)
        for i in range(4):
            chunk = rows[i::4]
            f = f"{corpus_dir}/part-{i:05d}.parquet"
            pq.write_table(pa.table({c: [r[c] for r in chunk] for c in cols}), f)
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
        stream_build_kg(spark, corpus_dir, f"{base}/out", f"{base}/ckpt", max_files_per_trigger=2)
        got = {
            (r["subj"], r["pred"], r["obj"], r["doc_sha"])
            for r in spark.read.parquet(f"{base}/out/edges").select("subj", "pred", "obj", "doc_sha").collect()
        }
        want = oracle.edge_key_set(oracle.build_edges(rows, canonicalize=True))
        p, r = oracle.precision_recall(got, want)
        assert (p, r) == (1.0, 1.0), f"precision={p} recall={r}"
        # every micro-batch committed a snapshot; HEAD reads == plain reads,
        # and an earlier snapshot sees a strict prefix of the edge set
        from fastobo_py_spark.plans import snapshots as S

        snaps = S.list_snapshots(f"{base}/out")
        assert len(snaps) >= 2 and all(s["op"] == "stream-append" for s in snaps)
        assert S.read_table_at(spark, f"{base}/out", "edges").count() == len(got)
        first_n = S.read_table_at(
            spark, f"{base}/out", "edges", snapshot_id=snaps[0]["snapshot_id"]
        ).count()
        assert 0 < first_n < len(got)
        # CDC composes with streaming: the incremental scan from the first
        # micro-batch's snapshot returns exactly the later batches' rows
        inc = S.read_incremental(spark, f"{base}/out", "edges", snaps[0]["snapshot_id"])
        assert inc.count() == len(got) - first_n
        # restart against the same checkpoint: no duplicate appends
        stream_build_kg(spark, corpus_dir, f"{base}/out", f"{base}/ckpt", max_files_per_trigger=2)
        n_after = spark.read.parquet(f"{base}/out/edges").count()
        assert n_after == len(got)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_kg_replayed_batch_commits_once(spark):
    """A checkpoint-replayed micro-batch (same batch_id) must NOT commit
    a second stream-append snapshot (ADVICE r5): snapshot readers keep
    seeing exactly one copy of the batch's rows; the replay's re-written
    part files stay invisible orphans (the module's crash semantics)."""
    from fastobo_py_spark.sources.corpus import generate_corpus
    from fastobo_py_spark.streaming.kg import _process_batch
    from fastobo_py_spark.plans import snapshots as S
    from fastobo_py_spark.schema import CORPUS_SCHEMA

    base = tempfile.mkdtemp(prefix="stream_kg_replay_")
    try:
        out = f"{base}/out"
        os.makedirs(out)
        rows = generate_corpus(n_obo=6, n_noise=2, n_broken=0)
        cols = [c.name for c in CORPUS_SCHEMA if c.name in rows[0]]
        batch_df = spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows],
            ", ".join(f"{c} string" for c in cols),
        )
        fn = _process_batch(out, n_salts=4)
        fn(batch_df, 0)
        snaps1 = S.list_snapshots(out)
        n1 = S.read_table_at(spark, out, "edges").count()
        assert len(snaps1) == 1 and snaps1[0]["batch_id"] == "0" and n1 > 0
        # replay: same batch_id arrives again after a crash-before-checkpoint
        fn(batch_df, 0)
        snaps2 = S.list_snapshots(out)
        assert len(snaps2) == 1, "replayed batch committed a second snapshot"
        assert S.read_table_at(spark, out, "edges").count() == n1
        # a NEW batch id still commits normally
        fn(batch_df.limit(0), 1)
        assert len(S.list_snapshots(out)) == 2
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_kg_collision_fallback_matches_clean_batch(spark, monkeypatch):
    """A micro-batch whose doc_key audit reports a collision runs on the
    exact doc_sha spine and writes the same edge rows as a clean batch."""
    from fastobo_py_spark.operators import surrogate
    from fastobo_py_spark.plans import pipeline
    from fastobo_py_spark.schema import CORPUS_SCHEMA
    from fastobo_py_spark.sources.corpus import generate_corpus
    from fastobo_py_spark.streaming import kg

    base = tempfile.mkdtemp(prefix="stream_kg_collision_")
    try:
        rows = generate_corpus(n_obo=6, n_noise=2, n_broken=0)
        cols = [c.name for c in CORPUS_SCHEMA if c.name in rows[0]]
        batch_df = spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows],
            ", ".join(f"{c} string" for c in cols),
        )
        edge_cols = ["subj", "pred", "obj", "src_tag", "doc_sha", "idspace"]

        def edges_written(out):
            os.makedirs(out)
            kg._process_batch(out, n_salts=4)(batch_df, 0)
            return {tuple(r) for r in spark.read.parquet(f"{out}/edges").select(*edge_cols).collect()}

        spines = []

        def spy(clauses, persisted_out=None, key_col="doc_key"):
            spines.append(key_col)
            return real_chain(clauses, persisted_out=persisted_out, key_col=key_col)

        real_chain = pipeline.canonical_edges
        monkeypatch.setattr(pipeline, "canonical_edges", spy)
        clean = edges_written(f"{base}/clean")

        def fake_audit(clauses):
            return clauses.sparkSession.createDataFrame(
                [(7, 2, ["sha_a", "sha_b"])],
                "doc_key long, n_docs long, doc_shas array<string>",
            )

        monkeypatch.setattr(surrogate, "audit_doc_keys", fake_audit)
        fallback = edges_written(f"{base}/collision")
        assert spines == ["doc_key", "doc_sha"]
        assert fallback == clean and clean
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_kg_batch_records_metrics_and_manifest(spark):
    """A micro-batch runs the batch job: it writes ``_metrics/<id>.json``
    whose edge and node counts are the rows it wrote, and it records its
    documents in the ingest manifest, so a later resumed batch over the
    same rows adds no edges."""
    import json

    from fastobo_py_spark.plans.pipeline import run_pipeline
    from fastobo_py_spark.schema import CORPUS_SCHEMA
    from fastobo_py_spark.sources.corpus import generate_corpus
    from fastobo_py_spark.streaming.kg import _process_batch

    base = tempfile.mkdtemp(prefix="stream_kg_metrics_")
    try:
        out = f"{base}/out"
        rows = generate_corpus(n_obo=6, n_noise=2, n_broken=0)
        cols = [c.name for c in CORPUS_SCHEMA if c.name in rows[0]]
        batch_df = spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows],
            ", ".join(f"{c} string" for c in cols),
        )
        _process_batch(out, n_salts=4)(batch_df, 0)
        (name,) = os.listdir(f"{out}/_metrics")
        with open(f"{out}/_metrics/{name}") as fh:
            m = json.load(fh)
        n_edges = spark.read.parquet(f"{out}/edges").count()
        assert m["edges"] == n_edges > 0
        assert m["nodes"] == spark.read.parquet(f"{out}/nodes").count() > 0
        assert run_pipeline(spark, batch_df, out, resume=True, n_salts=4)["edges"] == 0
        assert spark.read.parquet(f"{out}/edges").count() == n_edges
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_exact_dedup_cross_batch(spark):
    """Cross-batch streaming dedup: exactly ONE output row per distinct
    content across the whole stream, no matter how the input is
    micro-batched; a restart over the same checkpoint re-emits nothing;
    late-arriving duplicates of already-seen content are dropped."""
    from fastobo_py_spark.operators.dedup import exact_duplicates
    from fastobo_py_spark.streaming.dedup import stream_exact_dedup

    base = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        src = f"{base}/docs"
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
        docs.repartition(4).write.parquet(src)
        stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)

        def run():
            q = (
                stream_exact_dedup(stream)
                .writeStream.format("parquet")
                .option("path", f"{base}/out")
                .option("checkpointLocation", f"{base}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run()
        got = spark.read.parquet(f"{base}/out")
        # one row per distinct fingerprint, total in-batch docs == corpus
        assert got.groupBy("fp").count().where(F.col("count") > 1).count() == 0
        want_fps = {r["fp"] for r in exact_duplicates(docs).collect()}
        assert {r["fp"] for r in got.collect()} == want_fps
        n_first = got.count()

        # restart over the same checkpoint: nothing new
        run()
        assert spark.read.parquet(f"{base}/out").count() == n_first

        # append a file duplicating existing content plus one new doc:
        # only the new content emits
        dup_and_new = spark.createDataFrame(
            [(900001, docs.orderBy("doc_id").first()["text"]), (900002, "BRAND NEW r3 text")],
            "doc_id long, text string",
        )
        dup_and_new.coalesce(1).write.mode("append").parquet(src)
        run()
        after = spark.read.parquet(f"{base}/out")
        assert after.count() == n_first + 1
        assert after.where(F.col("keep_id") == 900002).count() == 1
        assert after.groupBy("fp").count().where(F.col("count") > 1).count() == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_minhash_pairs_match_batch(spark):
    """Cross-batch streaming near-dup candidates: after draining a
    multi-file backlog, the (doc_a, doc_b) pair set (deduped across
    bands) and per-pair signature-agreement estimates must equal the
    batch MinHash+LSH path exactly — no pair lost at batch boundaries."""
    from fastobo_py_spark.operators.dedup import minhash_candidate_pairs
    from fastobo_py_spark.streaming.dedup import stream_minhash_pairs

    base = tempfile.mkdtemp(prefix="stream_mh_")
    try:
        src = f"{base}/docs"
        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select("doc_id", "text")
        docs.repartition(5).write.parquet(src)
        stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = (
            stream_minhash_pairs(stream)
            .writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got_rows = spark.read.parquet(f"{base}/out").collect()
        got = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in got_rows}
        want = {
            (r["doc_a"], r["doc_b"]): r["est_jaccard"]
            for r in minhash_candidate_pairs(docs).collect()
        }
        assert set(got) == set(want)
        assert got and all(abs(got[k] - want[k]) < 1e-9 for k in want)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_embedding_near_dup_matches_batch(spark):
    """Streaming hyperplane-LSH embedding near-dup: drained pair set
    (deduped across tables) equals the batch embedding_near_dup_lsh
    output — same seeded hyperplanes, buckets, and threshold."""
    from fastobo_py_spark.operators.dedup import embedding_near_dup_lsh
    from fastobo_py_spark.streaming.dedup import stream_embedding_near_dup

    base = tempfile.mkdtemp(prefix="stream_emb_")
    try:
        src = f"{base}/emb"
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        emb.repartition(4).write.parquet(src)
        stream = spark.readStream.schema("vec_id long, embedding array<double>").option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            stream_embedding_near_dup(stream, threshold=0.4, n_tables=4, n_planes=4)
            .writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["vec_a"], r["vec_b"])
            for r in spark.read.parquet(f"{base}/out").collect()
        }
        want = {
            (r["vec_a"], r["vec_b"])
            for r in embedding_near_dup_lsh(emb, threshold=0.4, n_tables=4, n_planes=4).collect()
        }
        assert got == want and got
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_exact_dedup_state_ttl(spark):
    """TTL-bounded state on a CONTINUOUSLY-triggered stream: content that
    re-arrives after the TTL re-emits (its state was dropped by the
    processing-time timeout), while the no-TTL path keeps suppressing
    forever (test_stream_exact_dedup_cross_batch). availableNow drains
    deliberately aren't used here — processing-time timeouts keep a
    drain's no-data cleanup batches alive, so TTL pairs with a running
    trigger (the production shape for an infinite stream)."""
    import time as _time

    from fastobo_py_spark.streaming.dedup import stream_exact_dedup

    base = tempfile.mkdtemp(prefix="stream_ttl_")
    q = None
    try:
        src = f"{base}/docs"
        os.makedirs(src)
        schema = "doc_id long, text string"

        def feed(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

        def out_rows():
            try:
                return spark.read.parquet(f"{base}/out").collect()
            except Exception:
                return []

        def wait_rows(n, timeout=60):
            t0 = _time.time()
            while _time.time() - t0 < timeout:
                rows = out_rows()
                if len(rows) >= n:
                    return rows
                _time.sleep(0.5)
            raise AssertionError(f"timed out waiting for {n} rows; have {out_rows()}")

        feed([(1, "alpha doc"), (2, "alpha doc")])
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_exact_dedup(stream, state_ttl_ms=1500)
            .writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append")
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        rows = wait_rows(1)
        assert [(r["keep_id"], r["n_in_batch"]) for r in rows] == [(1, 2)]

        _time.sleep(4)  # > TTL: alpha's state expires and a cleanup batch drops it
        feed([(4, "alpha doc")])  # forgotten content -> re-emitted
        rows = wait_rows(2)
        assert sorted(r["keep_id"] for r in rows) == [1, 4]
        fps = {r["fp"] for r in rows}
        assert len(fps) == 1  # same content both times: state was truly dropped
    finally:
        if q is not None:
            try:
                q.stop()
            except Exception:
                pass
        shutil.rmtree(base, ignore_errors=True)


def test_stream_event_ttl_dedup_deterministic(spark):
    """The EVENT-time sliding TTL (stream_exact_dedup_event_ttl) is a pure
    function of (rows, ttl): same input drained as ONE micro-batch and as
    FOUR event-time-ordered micro-batches yields the identical row set —
    the property that makes the dedup_stream_ttl oracle row checkable —
    and the emissions are exactly the lag-gap rule: first arrival plus
    every repeat whose gap to the previous same-content event > TTL
    (suppressed repeats still refresh the clock: three 60-unit steps with
    ttl=100 emit only the first)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fastobo_py_spark.streaming.dedup import stream_exact_dedup_event_ttl

    base_us = 1_000_000_000
    # fp A: gaps 60ms,60ms (both <= ttl → only first emits, but clock
    # refreshes so the LAST event is 120ms from the first — a naive
    # "gap to last EMITTED" rule would wrongly re-emit it)
    # fp B: gaps 150ms,90ms (first repeat re-emits, second suppressed)
    # fp C: single event
    rows = [
        (1, "aaa", base_us + 0),
        (2, "bbb", base_us + 10_000),
        (3, "aaa", base_us + 60_000),
        (4, "ccc", base_us + 100_000),
        (5, "aaa", base_us + 120_000),
        (6, "bbb", base_us + 160_000),
        (7, "bbb", base_us + 250_000),
    ]
    ttl_us = 100_000
    want = {("aaa", 1), ("bbb", 2), ("ccc", 4), ("bbb", 6)}

    def drain(n_slices):
        base = tempfile.mkdtemp(prefix="stream_ettl_")
        try:
            src = os.path.join(base, "events")
            os.makedirs(src)
            per = (len(rows) + n_slices - 1) // n_slices
            for i in range(n_slices):
                chunk = rows[i * per : (i + 1) * per]
                if not chunk:
                    continue
                f = os.path.join(src, f"slice-{i:03d}.parquet")
                pq.write_table(
                    pa.table(
                        {
                            "doc_id": pa.array([r[0] for r in chunk], pa.int64()),
                            "text": [r[1] for r in chunk],
                            "event_ts_us": pa.array([r[2] for r in chunk], pa.int64()),
                        }
                    ),
                    f,
                )
                os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
            stream = spark.readStream.schema(
                "doc_id long, text string, event_ts_us long"
            ).option("maxFilesPerTrigger", 1).parquet(src)
            q = (
                stream_exact_dedup_event_ttl(stream, ttl_us=ttl_us)
                .writeStream.format("parquet")
                .option("path", os.path.join(base, "out"))
                .option("checkpointLocation", os.path.join(base, "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            got = spark.read.parquet(os.path.join(base, "out")).collect()
            # map fp back to text via keep_id for readable asserts
            by_id = {r[0]: r[1] for r in rows}
            return {(by_id[r["keep_id"]], r["keep_id"]) for r in got}, {
                r["keep_id"]: r["emit_ts_us"] for r in got
            }
        finally:
            shutil.rmtree(base, ignore_errors=True)

    got_one, ts_one = drain(1)
    got_four, ts_four = drain(4)
    assert got_one == want, got_one
    assert got_four == want, got_four
    assert ts_one == ts_four
    # emit_ts is the emitting event's own timestamp
    assert ts_one[6] == base_us + 160_000


def test_stream_minhash_normalization_parity(spark):
    """The streaming kernel's Python normalization must equal Spark's
    normalize_text byte-for-byte — including the Unicode traps (tab /
    NBSP / form feed), where Python's default strip()/\\s are wider
    than Spark trim / Java \\s and would shingle differently."""
    from fastobo_py_spark.operators.text import normalize_text
    from fastobo_py_spark.streaming.dedup import _py_normalize

    texts = [
        "\thello there world of text",
        "a\u00a0b c d e f",  # NBSP is NOT whitespace to Spark trim/\\s
        "  x  y\tz w v u  ",
        "mixedvertical\ftabs\r\nnewlines",
        "plain words only",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {r["i"]: r["n"] for r in df.select("i", normalize_text(F.col("text")).alias("n")).collect()}
    for i, t in enumerate(texts):
        assert _py_normalize(t) == got[i], repr(t)


def test_stream_dedup_degenerate_inputs(spark):
    """Degenerate-but-legal rows must not kill the stream: null text is
    dropped like the batch path's normalize_text(NULL), and a zero-norm
    embedding never emits a pair (batch: NULL cosine filtered) instead of
    raising ZeroDivisionError."""
    from fastobo_py_spark.streaming.dedup import stream_embedding_near_dup, stream_minhash_pairs

    base = tempfile.mkdtemp(prefix="stream_degen_")
    try:
        src = f"{base}/docs"
        spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, None), (3, "alpha beta gamma delta")],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(src)
        q = (
            stream_minhash_pairs(spark.readStream.schema("doc_id long, text string").parquet(src))
            .writeStream.format("parquet")
            .option("path", f"{base}/out1")
            .option("checkpointLocation", f"{base}/ckpt1")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        pairs = {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(f"{base}/out1").collect()}
        assert pairs == {(1, 3)}

        esrc = f"{base}/emb"
        spark.createDataFrame(
            [(1, [1.0, 2.0, 1.0, 0.5]), (2, [0.0, 0.0, 0.0, 0.0]), (3, [1.0, 2.0, 1.0, 0.5])],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.parquet(esrc)
        q2 = (
            stream_embedding_near_dup(
                spark.readStream.schema("vec_id long, embedding array<double>").parquet(esrc),
                threshold=0.4,
            )
            .writeStream.format("parquet")
            .option("path", f"{base}/out2")
            .option("checkpointLocation", f"{base}/ckpt2")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        epairs = {(r["vec_a"], r["vec_b"]) for r in spark.read.parquet(f"{base}/out2").collect()}
        assert epairs == {(1, 3)}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_user_totals_ignores_null_values(spark):
    """A null `value` event must not poison the fixed-point state (NaN
    floor-cast would add INT64_MIN); the total matches F.sum semantics
    (nulls ignored) while the event still counts."""
    import datetime

    from fastobo_py_spark.streaming.windows import stream_user_totals

    base = tempfile.mkdtemp(prefix="stream_nullval_")
    try:
        ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
        spark.createDataFrame(
            [(7, ts, 1.5), (7, ts, None), (7, ts, 2.25)],
            "user_id long, ts timestamp, value double",
        ).coalesce(1).write.parquet(f"{base}/events")
        q = (
            stream_user_totals(
                spark.readStream.schema("user_id long, ts timestamp, value double").parquet(f"{base}/events")
            )
            .writeStream.format("memory")
            .queryName("nullval_sink")
            .outputMode("update")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.sql("select * from nullval_sink order by n_events desc").collect()
        assert rows[0]["n_events"] == 3
        assert rows[0]["sum_value_e4"] == 37500  # 1.5 + 2.25, null ignored
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_kg_imports_legacy_dir(spark):
    """stream_build_kg over an out_dir holding pre-snapshot-era files
    must baseline-import them before the first micro-batch commit
    (code-review r5: the stream path skipped run_pipeline's entry
    hygiene, stranding legacy files outside every snapshot chain)."""
    from fastobo_py_spark.plans import snapshots as S
    from fastobo_py_spark.sources.corpus import corpus_to_parquet
    from fastobo_py_spark.streaming.kg import stream_build_kg

    base = tempfile.mkdtemp(prefix="stream_kg_legacy_")
    try:
        corpus_dir = f"{base}/corpus"
        corpus_to_parquet(corpus_dir, n_obo=4, n_noise=2, n_broken=0, n_files=2)
        out = f"{base}/out"
        # legacy files written before any snapshot log existed
        spark.createDataFrame(
            [("LEGACY:1", "is_a", "LEGACY:2", "f" * 64, "LEGACY", 0)],
            "subj string, pred string, obj string, doc_sha string, idspace string, salt int",
        ).write.partitionBy("idspace", "salt").parquet(f"{out}/edges")
        spark.createDataFrame(
            [("LEGACY:1", "f" * 64, "LEGACY")], "id string, doc_sha string, idspace string"
        ).write.partitionBy("idspace").parquet(f"{out}/nodes")

        stream_build_kg(spark, corpus_dir, out, f"{base}/ckpt", max_files_per_trigger=1)
        snaps = S.list_snapshots(out)
        assert snaps[0]["op"] == "import"
        for t in ("edges", "nodes"):
            assert (
                S.read_table_at(spark, out, t).count()
                == spark.read.option("mergeSchema", "true").parquet(f"{out}/{t}").count()
            )
        assert S.read_table_at(spark, out, "edges").where("idspace = 'LEGACY'").count() == 1
    finally:
        shutil.rmtree(base, ignore_errors=True)
