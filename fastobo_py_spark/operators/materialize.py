"""O12/O17/O18: node-table build, top-k views, idspace partitioning with
hub salting.

``build_nodes`` is the relational dual of the reference's dict-of-lists
frame aggregation (``/root/reference/src/py/abc.rs:102-109`` doctest) —
one hash aggregation per frame.  Write layout follows the north star:
edges partitioned by subject idspace; skewed hubs (GO/CHEBI-sized
prefixes) get a salt column so no single write task or downstream join
partition owns an entire hub prefix (AQE skew-join handles reads, but a
`partitionBy(idspace)` WRITE of a hot prefix needs explicit salt).

``graph_writers`` is the one node/edge layout writer (its one caller is
``plans/pipeline.run_pipeline``, which the stream runs per micro-batch).
The canonical chain arrives partitioned by document key with zero
exchanges; the writer then adds ONE hash exchange — edges on
``(idspace, salt)``, nodes on ``idspace`` — so every output leaf has
exactly one writer task and a batch adds one parquet file per leaf, not
one per (task, leaf). File count is a fixed per-batch cost on local
filesystems: every file, ``.crc`` file and directory is created and then
has its permissions set. ``session.get_spark`` sets them through java.nio
(``sparkobo.NioLocalFileSystem``); Hadoop's own ``RawLocalFileSystem``
forks a ``chmod`` process for each when libhadoop is missing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameWriter, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fastobo_py_spark.functions.dates import parse_creation_date_sql
from fastobo_py_spark.operators.idents import edge_idspace_sql
from fastobo_py_spark.session import sql_over


_NODE_AGGS = ", ".join(
    f"{agg} AS {name}"
    for name, agg in (
        ("name", "max(CASE WHEN tag = 'name' THEN value_text END)"),
        ("namespace", "max(CASE WHEN tag = 'namespace' THEN v1 END)"),
        ("definition", "max(CASE WHEN tag = 'def' THEN value_text END)"),
        ("obsolete", "coalesce(max(CASE WHEN tag = 'is_obsolete' THEN v1 = 'true' END), false)"),
        ("replaced_by", "sort_array(collect_set(CASE WHEN tag = 'replaced_by' THEN v1 END))"),
        ("consider", "sort_array(collect_set(CASE WHEN tag = 'consider' THEN v1 END))"),
        ("alt_ids", "sort_array(collect_set(CASE WHEN tag = 'alt_id' THEN v1 END))"),
        ("synonyms", "sort_array(collect_list("
                     "CASE WHEN tag = 'synonym' THEN named_struct('text', value_text, 'scope', scope) END))"),
        ("xrefs", "sort_array(collect_set(CASE WHEN tag = 'xref' THEN v1 END))"),
        ("creation_date", "max(CASE WHEN tag = 'creation_date' THEN value_text END)"),
        ("created_by", "max(CASE WHEN tag = 'created_by' THEN v1 END)"),
        ("frame_type", "max(frame_type)"),
    )
)
_NODE_COLS = (
    "doc_sha, id, name, namespace, definition, obsolete, replaced_by, consider, alt_ids, synonyms,"
    f" xrefs, creation_date, created_by, frame_type, {edge_idspace_sql('id')} AS idspace,"
    f" unix_micros({parse_creation_date_sql('creation_date')}) AS creation_date_us"
)


def build_nodes(clauses: DataFrame) -> DataFrame:
    """Entity clause rows → NODE_SCHEMA (one row per frame), as one
    ``spark.sql`` statement.

    Single hash agg keyed by (doc_sha, frame_id); every attribute is a
    conditional partial aggregate, so the whole thing is one shuffle.
    Dates come out typed: ``creation_date`` stays raw for round-trips,
    ``creation_date_us`` is the parsed epoch-microsecond column
    (reference shapes at ``src/date.rs:14-123``).
    """
    # When the cache carries the doc_key surrogate (and is hash-partitioned
    # on it), grouping by it too keeps this aggregate exchange-free.
    # Exact: doc_key is a function of doc_sha, so the extra key can never
    # split a (doc_sha, frame_id) group.
    key = "doc_key, " if "doc_key" in clauses.columns else ""
    return sql_over(
        clauses.sparkSession,
        f"SELECT {_NODE_COLS} FROM (SELECT {key}doc_sha, frame_id AS id, {_NODE_AGGS} FROM {{clauses}}"
        f" WHERE NOT frame_type = 'Header' AND NOT frame_id = '' GROUP BY {key}doc_sha, frame_id)",
        clauses=clauses,
    )


def frame_dicts(clauses: DataFrame) -> DataFrame:
    """O12: per-frame map<tag, array<values>> — the dict-of-lists doctest
    (abc.rs:102-109) as one aggregation."""
    # same entity filter as build_nodes/mention_dictionary/xref_index:
    # never key a dict on an empty frame id
    ent = clauses.where((F.col("frame_type") != "Header") & (F.col("frame_id") != ""))
    per_tag = ent.groupBy("doc_sha", "frame_id", "tag").agg(
        F.sort_array(
            # first non-null slot; '' fallback keeps slotless clauses (e.g.
            # intersection_of genus rows carry only v2) in the value list
            F.collect_list(
                F.struct("clause_ix", F.coalesce("v1", "value_text", "v2", F.lit("")).alias("val"))
            )
        ).alias("vals_ix")
    )
    per_tag = per_tag.withColumn("vals", F.transform("vals_ix", lambda s: s["val"])).drop("vals_ix")
    return per_tag.groupBy("doc_sha", "frame_id").agg(
        F.map_from_entries(F.sort_array(F.collect_list(F.struct("tag", "vals")))).alias("clauses")
    )


def top_k_per_idspace(nodes: DataFrame, k: int = 5) -> DataFrame:
    """O17: smallest k ids per idspace (reference pattern:
    ``min(terms, key=str(id))`` doctest, ``src/py/mod.rs:330-331``;
    ident total order ``id.rs:308-323``)."""
    w = Window.partitionBy("idspace").orderBy("id")
    return (
        nodes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def canonical_node_view(clauses: DataFrame) -> DataFrame:
    """Corpus-level canonical node view: ONE row per canonical id ACROSS
    all documents/ontology versions.

    Per-document node/equivalence scope faithfully mirrors the
    reference's per-document rewrites (``/root/reference/src/py/doc.rs``),
    but the corpus-level KG user question — "show me this term across
    every ontology version in the lake" — needs one more hop: rewrite
    each document's node ids through its own canonicalization map, then
    aggregate across documents.

    Scale shape: the map is a dim table (alias/obsolete/equivalence
    members only — KB–MB even for GO); nodes is the big side. The join
    keys on (doc_sha, id) and the final aggregate is one hash exchange on
    ``canonical_id``; name/obsolete/alt summaries are all order-independent
    (min / any / distinct-size), so the result is deterministic under any
    partitioning."""
    from fastobo_py_spark.operators.canonicalize import combined_map_distributed
    from fastobo_py_spark.operators.hints import gated_broadcast

    nodes = build_nodes(clauses)
    cmap = gated_broadcast(
        combined_map_distributed(clauses).select(
            F.col("doc_sha").alias("__md"), F.col("old").alias("__mo"), F.col("new").alias("__mn")
        )
    )
    n = nodes.join(
        cmap, (nodes["doc_sha"] == F.col("__md")) & (nodes["id"] == F.col("__mo")), "left"
    ).withColumn("canonical_id", F.coalesce(F.col("__mn"), F.col("id")))
    return n.groupBy("canonical_id").agg(
        F.countDistinct("doc_sha").alias("n_docs"),
        F.countDistinct("id").alias("n_source_ids"),
        F.min("name").alias("name"),
        F.max(F.col("obsolete")).alias("ever_obsolete"),
        F.size(F.array_distinct(F.flatten(F.collect_list("alt_ids")))).alias("n_alt_ids"),
    )


def with_salt(df: DataFrame, key: str = "obj", n_salts: int = 16) -> DataFrame:
    """O18: deterministic salt for skewed hub keys.

    ``salt = pmod(xxhash64(key), n_salts)`` — joins/aggs over
    (idspace, salt) split a GO/CHEBI hub across ``n_salts`` tasks. AQE
    skew-join handles runtime skew in joins, but deliberate key salting is
    still required for `partitionBy` writes and groupBys on the hub key.
    """
    return df.withColumn("salt", F.pmod(F.xxhash64(F.col(key)), F.lit(n_salts)).cast("int"))


# the KG output layout: partition columns per table
GRAPH_PARTITIONS = {"nodes": ("idspace",), "edges": ("idspace", "salt")}


def graph_writers(
    nodes: DataFrame,
    edges: DataFrame,
    n_salts: int = 16,
    row_counts: dict[str, Observation] | None = None,
) -> dict[str, DataFrameWriter]:
    """One append-mode writer per table in the :data:`GRAPH_PARTITIONS`
    layout (edges salted on ``subj``).

    Rows are hash-distributed on the partition columns first, so one task
    owns each leaf and writes one file into it. The explicit partition
    count (``spark.sql.shuffle.partitions``) keeps AQE from coalescing the
    exchange into one serial write task. This is where the salt pays off:
    a hub idspace spreads over ``n_salts`` leaves and so over up to
    ``n_salts`` write tasks.

    ``row_counts`` observes each table's written rows as ``n``. The
    observation sits above the exchange: below it, AQE drops the
    observed operator from the plan when the exchange turns out empty,
    and the observation never completes."""
    n = int(nodes.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    graph = {
        "nodes": nodes.repartition(n, "idspace"),
        "edges": with_salt(edges, "subj", n_salts).repartition(n, "idspace", "salt"),
    }
    writers = {}
    for table, df in graph.items():
        if row_counts is not None:
            df = df.observe(row_counts[table], F.count(F.lit(1)).alias("n"))
        writers[table] = df.write.mode("append").partitionBy(*GRAPH_PARTITIONS[table])
    return writers


def hub_degrees(edges: DataFrame, n_salts: int = 16) -> DataFrame:
    """O18: in-degree per object with explicit salt two-phase aggregation.

    A plain ``groupBy(obj)`` sends every edge of a GO/CHEBI hub to ONE
    reducer; salting first aggregates (obj, salt) partials — at most
    ``n_salts`` rows per hub survive to the final exchange, bounding any
    single task's input regardless of hub size (the north-star skew case).
    """
    partial = (
        with_salt(edges, "obj", n_salts)
        .groupBy("obj", "salt")
        .agg(F.count("*").alias("partial_degree"))
    )
    return partial.groupBy("obj").agg(F.sum("partial_degree").cast("long").alias("in_degree"))
