"""OBO-graph JSON I/O — parity with ``fastobo.dump_graph`` / ``load_graph``
(``/root/reference/src/py/mod.rs:333-422``).

The OBO-graphs model (github.com/geneontology/obographs, public spec):
``{"graphs": [{"id", "nodes": [{"id": <iri>, "lbl", "type", "meta"}],
"edges": [{"sub", "pred", "obj"}]}]}`` with OBO PURL IRIs and
``is_a`` rendered as ``"is_a"``.

Spark-first: dump = one ``to_json(struct(...))`` projection + per-doc
aggregation; load = ``spark.read.json`` + explode back into node/edge
DataFrames. No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastobo_py_spark.operators.idents import compact_url, decompact_prefixed
from fastobo_py_spark.worker import prune_zip_importers


_SCOPE_TO_PRED = [
    ("EXACT", "hasExactSynonym"),
    ("BROAD", "hasBroadSynonym"),
    ("NARROW", "hasNarrowSynonym"),
]


def _syn_pred(scope):
    expr = F.lit("hasRelatedSynonym")
    for s, p in reversed(_SCOPE_TO_PRED):
        expr = F.when(scope == s, F.lit(p)).otherwise(expr)
    return expr


def dump_graph(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(doc_sha, graph_json): one OBO-graph JSON document per source doc.

    Node ids and edge endpoints are decompacted to OBO PURL IRIs, the
    obographs convention (reference serializes via fastobo-graphs the
    same way). Node ``meta`` carries definition / scoped synonyms / xrefs
    / deprecated per the obographs spec — the reference's ``dump_graph``
    emits the same blocks (``src/py/mod.rs:389-422`` via fastobo-graphs);
    ``to_json`` drops null fields so skeleton nodes stay skeletal.
    """
    meta = F.struct(
        F.when(F.col("definition").isNotNull(), F.struct(F.col("definition").alias("val"))).alias("definition"),
        F.when(
            F.size("synonyms") > 0,
            F.transform(
                "synonyms",
                lambda s: F.struct(_syn_pred(s["scope"]).alias("pred"), s["text"].alias("val")),
            ),
        ).alias("synonyms"),
        F.when(
            F.size("xrefs") > 0, F.transform("xrefs", lambda x: F.struct(x.alias("val")))
        ).alias("xrefs"),
        F.when(F.col("obsolete"), F.lit(True)).alias("deprecated"),
    )
    n = nodes.select(
        "doc_sha",
        F.struct(
            decompact_prefixed("id").alias("id"),
            F.col("name").alias("lbl"),
            # obographs node types: CLASS | PROPERTY | INDIVIDUAL —
            # Instance frames must not collapse to CLASS or a dump/load
            # round-trip silently destroys Instance-ness
            F.when(F.col("frame_type") == "Typedef", F.lit("PROPERTY"))
            .when(F.col("frame_type") == "Instance", F.lit("INDIVIDUAL"))
            .otherwise(F.lit("CLASS"))
            .alias("type"),
            meta.alias("meta"),
        ).alias("node"),
    ).groupBy("doc_sha").agg(F.sort_array(F.collect_list("node")).alias("nodes"))

    e = edges.select(
        "doc_sha",
        F.struct(
            decompact_prefixed("subj").alias("sub"),
            F.when(F.col("pred") == "is_a", F.lit("is_a")).otherwise(decompact_prefixed("pred")).alias(
                "pred"
            ),
            decompact_prefixed("obj").alias("obj"),
        ).alias("edge"),
    ).groupBy("doc_sha").agg(F.sort_array(F.collect_list("edge")).alias("edges"))

    doc = n.join(e, "doc_sha", "full_outer").select(
        "doc_sha",
        F.to_json(
            F.struct(
                F.array(
                    F.struct(
                        F.col("doc_sha").alias("id"),
                        F.coalesce("nodes", F.array()).alias("nodes"),
                        F.coalesce("edges", F.array()).alias("edges"),
                    )
                ).alias("graphs")
            )
        ).alias("graph_json"),
    )
    return doc


def _yaml_to_json_batches(batches):
    """mapInPandas kernel: (doc_sha, graph_yaml) → (doc_sha, graph_json).

    YAML has no JVM-side parser, so the conversion is the one Python hop
    — Arrow-batched, document-granularity, the same shape as the OBO
    parse kernel. The reference accepts YAML graphs through serde_yaml
    exactly like this (``src/py/mod.rs:333-365``: format dispatch, one
    deserialize per document).
    """
    prune_zip_importers()
    import json

    import yaml

    for pdf in batches:
        out = pdf.copy()
        out["graph_json"] = [
            None if s is None else json.dumps(yaml.safe_load(s)) for s in pdf["graph_yaml"]
        ]
        yield out[["doc_sha", "graph_json"]]


def _json_to_yaml_batches(batches):
    """Inverse kernel for :func:`dump_graph_yaml`."""
    prune_zip_importers()
    import json

    import yaml

    for pdf in batches:
        out = pdf.copy()
        out["graph_yaml"] = [
            None if s is None else yaml.safe_dump(json.loads(s), sort_keys=False)
            for s in pdf["graph_json"]
        ]
        yield out[["doc_sha", "graph_yaml"]]


def dump_graph_yaml(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(doc_sha, graph_yaml): the YAML rendering of :func:`dump_graph`
    (reference ``dump_graph`` dispatches on extension, ``.yaml``/``.yml``
    → serde_yaml, ``src/py/mod.rs:389-422``)."""
    return dump_graph(nodes, edges).mapInPandas(
        _json_to_yaml_batches, "doc_sha string, graph_yaml string"
    )


def load_graph_yaml(spark: SparkSession, yaml_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """YAML variant of :func:`load_graph`: (doc_sha, graph_yaml) →
    (nodes, edges). YAML→JSON in one Arrow kernel, then the same
    JVM-side from_json/explode plan as the JSON path."""
    json_df = yaml_df.mapInPandas(_yaml_to_json_batches, "doc_sha string, graph_json string")
    return load_graph(spark, json_df)


def load_graph(spark: SparkSession, json_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Inverse of :func:`dump_graph`: (doc_sha, graph_json) → (nodes, edges).

    Ids are compacted back through the default OBO PURL rule
    (``doc.rs:210-248`` semantics).
    """
    schema = (
        "graphs array<struct<id:string,"
        "nodes:array<struct<id:string,lbl:string,type:string,"
        "meta:struct<definition:struct<val:string>,"
        "synonyms:array<struct<pred:string,val:string>>,"
        "xrefs:array<struct<val:string>>,deprecated:boolean>>>,"
        "edges:array<struct<sub:string,pred:string,obj:string>>>>"
    )
    parsed = json_df.select("doc_sha", F.from_json("graph_json", schema).alias("g"))
    g = parsed.select("doc_sha", F.explode("g.graphs").alias("graph"))
    nodes = g.select(
        "doc_sha",
        F.explode("graph.nodes").alias("n"),
    ).select(
        "doc_sha",
        compact_url(F.col("n.id")).alias("id"),
        F.col("n.lbl").alias("name"),
        F.when(F.col("n.type") == "PROPERTY", F.lit("Typedef"))
        .when(F.col("n.type") == "INDIVIDUAL", F.lit("Instance"))
        .otherwise(F.lit("Term"))
        .alias("frame_type"),
        F.col("n.meta.definition.val").alias("definition"),
        F.transform(
            F.coalesce("n.meta.synonyms", F.array()),
            lambda s: F.struct(
                s["val"].alias("text"),
                F.when(s["pred"] == "hasExactSynonym", F.lit("EXACT"))
                .when(s["pred"] == "hasBroadSynonym", F.lit("BROAD"))
                .when(s["pred"] == "hasNarrowSynonym", F.lit("NARROW"))
                .otherwise(F.lit("RELATED"))
                .alias("scope"),
            ),
        ).alias("synonyms"),
        F.transform(F.coalesce("n.meta.xrefs", F.array()), lambda x: compact_url(x["val"])).alias("xrefs"),
        F.coalesce(F.col("n.meta.deprecated"), F.lit(False)).alias("obsolete"),
    )
    edges = g.select("doc_sha", F.explode("graph.edges").alias("e")).select(
        "doc_sha",
        compact_url(F.col("e.sub")).alias("subj"),
        F.when(F.col("e.pred") == "is_a", F.lit("is_a")).otherwise(compact_url(F.col("e.pred"))).alias("pred"),
        compact_url(F.col("e.obj")).alias("obj"),
    )
    return nodes, edges
