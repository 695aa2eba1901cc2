"""Physical-plan regression guards for the canonical chain.

Round 2's hardest-won property: with the clause cache hash-partitioned on
the document key (round 5: the BIGINT ``doc_key`` surrogate,
operators/surrogate.py) and ``spark.sql.requireAllClusterKeysForCoPartition
=false``, the
ENTIRE canonical chain (macro-fused extraction → resolution rewrite → CC
rewrite → final dedup) runs with ZERO exchanges of the edge table — only
the tiny dimension sides shuffle. Nothing in the test suite failed when a
refactor re-introduced an edge-table Exchange (it only showed up as a
silent 2x in bench numbers), so this test walks the physical plan and
fails loudly instead.

Checked invariants (PLANS.md documents the same in prose):
  1. The edge spine — the streamed-side path from the plan root down to
     the clause-cache scan — contains no Exchange and no SortMergeJoin;
     every join on it is a ShuffledHashJoin.
  2. The spine terminates at the InMemoryTableScan of the clause cache
     (i.e. the streamed side really is the cache, not a re-computed scan).
  3. The visible chain has ZERO Python nodes, and exactly TWO
     partition-wide kernels exist across the persisted relations: the
     corpus parse and the fused canonicalization-map kernel (resolution
     composition + equivalence union-find in one call, over the
     doc_key-repartitioned DIMS).

AQE is disabled for the plan build: the co-partitioning property is
static (EnsureRequirements), and a stage-less tree is walkable without
QueryStage special cases.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _children(node):
    s = node.children()
    return [s.apply(i) for i in range(s.size())]


def _walk(node):
    yield node
    for c in _children(node):
        yield from _walk(c)


@pytest.fixture(scope="module")
def chain_plan(spark, clauses):
    from pyspark.sql import functions as F

    from fastobo_py_spark.operators.surrogate import with_doc_key
    from fastobo_py_spark.plans.pipeline import canonical_edges

    # The round-5 cache contract: carry the BIGINT doc_key surrogate and
    # hash-partition on it (run_pipeline does the same) — the whole
    # canonical chain then joins/aggregates on doc_key, and doc_sha is
    # restored by the decode dictionary join at the end.
    cl = with_doc_key(clauses).repartition(4, "doc_key").persist()
    cl.count()
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        e = canonical_edges(cl)
        plan = e._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
        cl.unpersist()
    return plan


def _edge_spine(plan):
    """Streamed-side path root → leaf: joins descend left (BuildRight)."""
    spine = []
    node = plan
    while True:
        spine.append(node)
        kids = _children(node)
        if not kids:
            return spine
        node = kids[0]


def test_edge_spine_has_no_exchange_and_only_shuffled_hash_joins(chain_plan):
    spine = _edge_spine(chain_plan)
    names = [n.nodeName() for n in spine]
    offenders = [n for n in names if "Exchange" in n]
    assert not offenders, f"edge-table Exchange re-introduced: {names}"
    joins = [n for n in names if "Join" in n]
    assert joins, f"no joins on the edge spine? {names}"
    bad = [n for n in joins if not n.startswith("ShuffledHashJoin")]
    assert not bad, f"edge-spine join regressed from ShuffledHashJoin: {joins}"


def test_edge_spine_streams_the_clause_cache(chain_plan):
    leaf = _edge_spine(chain_plan)[-1]
    assert "InMemoryTableScan" in leaf.nodeName(), (
        f"edge spine no longer ends at the clause cache: {leaf.nodeName()}"
    )


def _walk_with_caches(node, seen_cache_ids):
    """Walk the tree AND the cached plan of each distinct InMemoryRelation,
    descending through AQE wrappers (AdaptiveSparkPlan / QueryStage are
    leaf nodes hiding their actual subplan)."""
    yield node
    name = node.nodeName()
    if "InMemoryTableScan" in name:
        cached = node.relation().cachedPlan()
        cid = cached.id()
        if cid not in seen_cache_ids:
            seen_cache_ids.add(cid)
            yield from _walk_with_caches(cached, seen_cache_ids)
    elif name == "AdaptiveSparkPlan":
        yield from _walk_with_caches(node.executedPlan(), seen_cache_ids)
    elif "QueryStage" in name:
        yield from _walk_with_caches(node.plan(), seen_cache_ids)
    for c in _children(node):
        yield from _walk_with_caches(c, seen_cache_ids)


def test_python_kernels_live_only_inside_dim_caches(chain_plan):
    """The visible chain never crosses into Python (all kernels are inside
    persisted relations, computed once), and across the caches exactly
    TWO kernels exist: the corpus parse and the fused canonicalization-
    map kernel — each a partition-wide crossing, never per-row/per-group
    Python."""
    visible = [n.nodeName() for n in _walk(chain_plan)]
    py_nodes = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython")
    assert not [n for n in visible if n in py_nodes], (
        f"Python kernel leaked into the un-cached chain plan: {visible}"
    )
    everything = [n.nodeName() for n in _walk_with_caches(chain_plan, set())]
    n_py = sum(1 for n in everything if n in py_nodes)
    assert n_py == 2, (
        "expected exactly 2 Python kernels incl. caches (parse, fused "
        f"canonicalization map), found {n_py}: "
        f"{[n for n in everything if 'Pandas' in n or 'Python' in n]}"
    )


def test_final_dedup_reuses_cache_partitioning(chain_plan):
    """The dropDuplicates aggregate pair sits on the spine with no
    Exchange between it and the joins (ClusteredDistribution on the edge
    key is satisfied by the cache's doc_key subset partitioning). Above
    it sits exactly ONE join — the doc_key→doc_sha decode-dictionary
    join — and nothing between root, decode join, and aggregate
    exchanges the edge table."""
    spine = [n.nodeName() for n in _edge_spine(chain_plan)]
    first_agg = next(i for i, n in enumerate(spine) if "Aggregate" in n)
    head = spine[:first_agg]
    decode_joins = [n for n in head if "Join" in n]
    assert len(decode_joins) == 1, f"expected only the decode join above the dedup aggregate: {head}"
    assert not any("Exchange" in n for n in head)


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Bucketed-at-write co-located join (O18 scale path): both sides
    bucketed on the join key at the same count → the sort-merge join
    plans with NO Exchange on either side (the disk layout is the
    shuffle)."""
    from fastobo_py_spark.sources.bucketed import bucketed_join, write_bucketed

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the SMJ path
        "spark.sql.adaptive.enabled": "false",  # stage-less, walkable plan
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        write_bucketed(orders, "r3_orders_b", "o_custkey", n_buckets=4, sort_by="o_custkey")
        write_bucketed(cust, "r3_cust_b", "c_custkey", n_buckets=4, sort_by="c_custkey")
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = bucketed_join(spark, "r3_orders_b", "r3_cust_b", "o_custkey", "c_custkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"bucketed join re-shuffled:\n{plan}"
        # and it actually computes the right thing
        assert j.count() == orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).count()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS r3_orders_b")
        spark.sql("DROP TABLE IF EXISTS r3_cust_b")


def test_parquet_scan_pushdown_and_pruning(spark):
    """'Push down and prune' as a CI guard, not a claim: the Q1-shaped
    scan must push its date filter into the parquet reader and read only
    the consumed columns."""
    from fastobo_py_spark.queries import q_pricing_summary

    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = q_pricing_summary(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema, read_schema


def test_hive_partition_pruning(spark, tmp_path):
    """A lang-partitioned corpus layout must prune non-matching
    partitions at the scan (PartitionFilters), the Iceberg-partition
    analogue for the OBO filter."""
    src = str(tmp_path / "part_corpus")
    rows = [("r", f"f{i}", "c", lang, "format-version: 1.2\n") for i in range(20) for lang in ("OBO", "Python", "Rust")]
    df = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    df.write.partitionBy("lang").parquet(src)
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        scan = spark.read.parquet(src).where(F.col("lang") == "OBO").select("repo", "content")
        plan = scan._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert "PartitionFilters: [isnotnull(lang" in plan, plan
    assert scan.count() == 20


def test_hub_salting_distributes_skew(spark):
    """O18 contract: a hub IDSPACE (GO/CHEBI — thousands of subjects
    under one partition key) spreads ~evenly across salt buckets, while
    each subject's edges stay colocated in ONE bucket (reader locality),
    and salts are deterministic."""
    from fastobo_py_spark.operators.materialize import with_salt

    rows = [
        (f"GO:{s}", "is_a", f"X:{i}", "is_a", "d", "GO")
        for s in range(2000) for i in range(3)
    ]
    e = spark.createDataFrame(
        rows, "subj string, pred string, obj string, src_tag string, doc_sha string, idspace string"
    )
    salted = with_salt(e, "subj", 16)
    per_salt = {r["salt"]: r["count"] for r in salted.groupBy("salt").count().collect()}
    assert len(per_salt) == 16  # every bucket hit
    assert max(per_salt.values()) < len(rows) * 0.15  # giant idspace split up
    # subject locality: one subj never spans buckets
    assert salted.groupBy("subj").agg(F.countDistinct("salt").alias("n")).where(F.col("n") > 1).count() == 0
    # deterministic: same input → same salts
    again = {tuple(r) for r in with_salt(e, "subj", 16).collect()}
    assert again == {tuple(r) for r in salted.collect()}


def test_corpus_shaping_plans(spark):
    """Corpus-shaping scale contracts: chunk is a narrow no-shuffle map
    over the scan, stratified_sample is a broadcast-probe filter with no
    corpus Exchange, and pack_sequences shuffles EXACTLY once (by shard)
    — the properties that let each pipeline with the scan at 100 TB."""
    from fastobo_py_spark.operators.text import chunk, pack_sequences, stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p_chunk = chunk(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p_chunk, p_chunk
        # column pruning: the chunker reads only what it consumes
        read_schema = p_chunk.split("ReadSchema: ")[1].split("\n")[0]
        assert "lang" not in read_schema and "source" not in read_schema, read_schema

        rates = spark.createDataFrame([("src0", 128)], "stratum string, rate_per_256 int")
        p_sample = (
            stratified_sample(docs, rates)._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in p_sample, p_sample
        # the CORPUS path (everything above its FileScan, i.e. the
        # streamed join side) must be exchange-free; the duplicate-rate
        # max-aggregation on the few-row rates DIM may shuffle itself
        # inside the BroadcastExchange subtree — that's dim-sized work
        corpus_side = p_sample.partition("FileScan parquet [doc_id")[0]
        assert "Exchange" not in corpus_side, p_sample

        p_pack = pack_sequences(docs)._jdf.queryExecution().executedPlan().toString()
        assert p_pack.count("Exchange hashpartitioning") == 1, p_pack
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_merge_probe_in_filter_is_pushed(spark, tmp_path):
    """merge_into's small-key probe claims footer-stat file skipping;
    that only holds if the In filter actually reaches the parquet
    reader. Pin PushedFilters for the probe's exact filter shape."""
    from pyspark.sql import functions as F

    import os

    from fastobo_py_spark.plans import snapshots as S

    p = str(tmp_path / "probe")
    spark.createDataFrame(
        [(f"sha{i}", i) for i in range(100)], "doc_sha string, v int"
    ).write.parquet(p)
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # the EXACT production scan shape (_scan_files: explicit file
        # list + basePath + mergeSchema) — a plain directory read could
        # keep pushing down while the real probe regressed
        rels = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        probe = S._scan_files(spark, p, "", rels).where(
            F.col("doc_sha").isin(["sha3", "sha7"])
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert "PushedFilters: [In(doc_sha" in plan, plan


def test_mor_masked_read_plan(spark, tmp_path):
    """The MoR masked read's null-safe anti-join must compile to a
    BroadcastHashJoin (Spark normalizes <=> to coalesce+isnull hash
    keys) — a BroadcastNestedLoopJoin here would be quadratic in the
    masked table and defeat the read-cheap claim."""
    import os

    from fastobo_py_spark.plans import snapshots as S

    out = str(tmp_path / "mor")
    spark.createDataFrame(
        [("A", i) for i in range(100)], "idspace string, x int"
    ).write.partitionBy("idspace").parquet(os.path.join(out, "nodes"))
    S.commit_snapshot(out, added={t: sorted(S.list_data_files(out)[t]) for t in S.TABLES})
    S.equality_delete(spark, out, "x >= 90", keys=("x",), tables=("nodes",))
    df = S.read_table_at(spark, out, "nodes")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert df.count() == 90
