"""OWL 2 functional-syntax export — best-effort parity with
``fastobo.dump_owl`` (``/root/reference/src/py/mod.rs:425-470``, which the
reference itself labels experimental/best-effort via fastobo-owl).

Scope: the structural core of the OBO→OWL2-DL mapping
(https://w3.org/TR/owl2-syntax/ + the OBO 1.4 spec's OWL mapping table):

  Term frame            → Declaration(Class(IRI))
  Typedef frame         → Declaration(ObjectProperty(IRI))
  name:                 → AnnotationAssertion(rdfs:label IRI "...")
  def:                  → AnnotationAssertion(obo:IAO_0000115 IRI "...")
  is_obsolete: true     → AnnotationAssertion(owl:deprecated IRI "true"^^xsd:boolean)
  is_a: (Term)          → SubClassOf(sub super)
  relationship: R T     → SubClassOf(sub ObjectSomeValuesFrom(R T))

Everything is one projection + one per-document sort/concat aggregation —
the same Spark shape as the OBO serializer. Axiom lines are emitted
sorted, so output is deterministic and diffable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fastobo_py_spark.operators.idents import decompact_prefixed

_RDFS_LABEL = "rdfs:label"
_IAO_DEF = "<http://purl.obolibrary.org/obo/IAO_0000115>"


def _iri(name):
    """Ident column ``name`` → OWL IRI reference (decompact via the OBO
    PURL rule, wrap URLs in <>; unprefixed idents stay as local
    abbreviations)."""
    url = decompact_prefixed(name)
    return F.when(url.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), F.concat(F.lit("<"), url, F.lit(">"))).otherwise(
        F.col(name)
    )


def _quote(col):
    return F.concat(F.lit('"'), F.regexp_replace(F.regexp_replace(col, r"\\", r"\\\\"), '"', '\\\\"'), F.lit('"'))


def owl_axioms(clauses: DataFrame) -> DataFrame:
    """Clause rows → (doc_sha, axiom) — one OWL functional-syntax axiom
    per row, from one single-scan case projection."""
    ent = clauses.where((F.col("frame_type") != "Header") & (F.col("frame_id") != ""))
    t, v1, v2, vt = F.col("tag"), F.col("v1"), F.col("v2"), F.col("value_text")
    me = _iri("frame_id")
    is_typedef = F.col("frame_type") == "Typedef"
    is_instance = F.col("frame_type") == "Instance"
    axiom = (
        F.when(
            t == "id",
            F.when(is_typedef, F.concat(F.lit("Declaration(ObjectProperty("), me, F.lit("))")))
            .when(is_instance, F.concat(F.lit("Declaration(NamedIndividual("), me, F.lit("))")))
            .otherwise(F.concat(F.lit("Declaration(Class("), me, F.lit("))"))),
        )
        .when(
            (t == "instance_of") & v1.isNotNull(),
            F.concat(F.lit("ClassAssertion("), _iri("v1"), F.lit(" "), me, F.lit(")")),
        )
        .when(
            (t == "name") & vt.isNotNull(),
            F.concat(F.lit(f"AnnotationAssertion({_RDFS_LABEL} "), me, F.lit(" "), _quote(vt), F.lit(")")),
        )
        .when(
            (t == "def") & vt.isNotNull(),
            F.concat(F.lit(f"AnnotationAssertion({_IAO_DEF} "), me, F.lit(" "), _quote(vt), F.lit(")")),
        )
        .when(
            (t == "is_obsolete") & (v1 == "true"),
            F.concat(F.lit("AnnotationAssertion(owl:deprecated "), me, F.lit(' "true"^^xsd:boolean)')),
        )
        .when(
            (t == "is_a") & v1.isNotNull() & ~is_typedef,
            F.concat(F.lit("SubClassOf("), me, F.lit(" "), _iri("v1"), F.lit(")")),
        )
        .when(
            (t == "is_a") & v1.isNotNull() & is_typedef,
            F.concat(F.lit("SubObjectPropertyOf("), me, F.lit(" "), _iri("v1"), F.lit(")")),
        )
        .when(
            (t == "relationship") & v1.isNotNull() & v2.isNotNull(),
            F.concat(
                F.lit("SubClassOf("),
                me,
                F.lit(" ObjectSomeValuesFrom("),
                _iri("v1"),
                F.lit(" "),
                _iri("v2"),
                F.lit("))"),
            ),
        )
    )
    return ent.select("doc_sha", axiom.alias("axiom")).where(F.col("axiom").isNotNull())


def _xesc(col):
    """XML-escape a column (attribute- and text-safe)."""
    c = F.regexp_replace(col, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    c = F.regexp_replace(c, ">", "&gt;")
    return F.regexp_replace(c, '"', "&quot;")


def _xiri(name):
    """Ident column ``name`` → escaped IRI string for an owx IRI=
    attribute (decompacted via the OBO PURL rule; unprefixed idents stay
    as-is)."""
    return _xesc(decompact_prefixed(name))


def _xel(name, iri_name):
    return F.concat(F.lit(f'<{name} IRI="'), _xiri(iri_name), F.lit('"/>'))


def owl_axioms_owx(clauses: DataFrame) -> DataFrame:
    """Clause rows → (doc_sha, kind, axiom_xml): the OWL/XML (owx)
    rendering of the same OBO→OWL2-DL mapping as :func:`owl_axioms`
    (reference ``dump_owl`` accepts format 'owx' alongside 'ofn',
    ``src/py/mod.rs:464-511``; element shapes per
    https://w3.org/TR/owl2-xml-serialization/). ``kind`` equals the
    functional renderer's leading constructor so both formats are
    count-comparable axiom for axiom."""
    ent = clauses.where((F.col("frame_type") != "Header") & (F.col("frame_id") != ""))
    t, v1, v2, vt = F.col("tag"), F.col("v1"), F.col("v2"), F.col("value_text")
    me = "frame_id"
    is_typedef = F.col("frame_type") == "Typedef"
    is_instance = F.col("frame_type") == "Instance"
    lit = lambda c: F.concat(F.lit("<Literal>"), _xesc(c), F.lit("</Literal>"))
    ann = lambda prop, val: F.concat(
        F.lit(f"<AnnotationAssertion>{prop}<IRI>"), _xiri(me), F.lit("</IRI>"), val, F.lit("</AnnotationAssertion>")
    )
    out = (
        F.when(
            t == "id",
            F.struct(
                F.lit("Declaration").alias("kind"),
                F.concat(
                    F.lit("<Declaration>"),
                    F.when(is_typedef, _xel("ObjectProperty", me))
                    .when(is_instance, _xel("NamedIndividual", me))
                    .otherwise(_xel("Class", me)),
                    F.lit("</Declaration>"),
                ).alias("xml"),
            ),
        )
        .when(
            (t == "instance_of") & v1.isNotNull(),
            F.struct(
                F.lit("ClassAssertion").alias("kind"),
                F.concat(
                    F.lit("<ClassAssertion>"), _xel("Class", "v1"), _xel("NamedIndividual", me), F.lit("</ClassAssertion>")
                ).alias("xml"),
            ),
        )
        .when(
            (t == "name") & vt.isNotNull(),
            F.struct(
                F.lit("AnnotationAssertion").alias("kind"),
                ann('<AnnotationProperty abbreviatedIRI="rdfs:label"/>', lit(vt)).alias("xml"),
            ),
        )
        .when(
            (t == "def") & vt.isNotNull(),
            F.struct(
                F.lit("AnnotationAssertion").alias("kind"),
                ann(
                    '<AnnotationProperty IRI="http://purl.obolibrary.org/obo/IAO_0000115"/>', lit(vt)
                ).alias("xml"),
            ),
        )
        .when(
            (t == "is_obsolete") & (v1 == "true"),
            F.struct(
                F.lit("AnnotationAssertion").alias("kind"),
                ann(
                    '<AnnotationProperty abbreviatedIRI="owl:deprecated"/>',
                    F.lit(
                        '<Literal datatypeIRI="http://www.w3.org/2001/XMLSchema#boolean">true</Literal>'
                    ),
                ).alias("xml"),
            ),
        )
        .when(
            (t == "is_a") & v1.isNotNull() & ~is_typedef,
            F.struct(
                F.lit("SubClassOf").alias("kind"),
                F.concat(F.lit("<SubClassOf>"), _xel("Class", me), _xel("Class", "v1"), F.lit("</SubClassOf>")).alias(
                    "xml"
                ),
            ),
        )
        .when(
            (t == "is_a") & v1.isNotNull() & is_typedef,
            F.struct(
                F.lit("SubObjectPropertyOf").alias("kind"),
                F.concat(
                    F.lit("<SubObjectPropertyOf>"),
                    _xel("ObjectProperty", me),
                    _xel("ObjectProperty", "v1"),
                    F.lit("</SubObjectPropertyOf>"),
                ).alias("xml"),
            ),
        )
        .when(
            (t == "relationship") & v1.isNotNull() & v2.isNotNull(),
            F.struct(
                F.lit("SubClassOf").alias("kind"),
                F.concat(
                    F.lit("<SubClassOf>"),
                    _xel("Class", me),
                    F.lit("<ObjectSomeValuesFrom>"),
                    _xel("ObjectProperty", "v1"),
                    _xel("Class", "v2"),
                    F.lit("</ObjectSomeValuesFrom>"),
                    F.lit("</SubClassOf>"),
                ).alias("xml"),
            ),
        )
    )
    return (
        ent.select("doc_sha", out.alias("a"))
        .where(F.col("a").isNotNull())
        .select("doc_sha", F.col("a.kind").alias("kind"), F.col("a.xml").alias("axiom_xml"))
    )


_OWX_PREAMBLE = (
    '<?xml version="1.0"?>\n'
    '<Ontology xmlns="http://www.w3.org/2002/07/owl#"\n'
    '     xml:base="http://purl.obolibrary.org/obo/"\n'
    '     ontologyIRI="{iri}">\n'
    '<Prefix name="rdfs" IRI="http://www.w3.org/2000/01/rdf-schema#"/>\n'
    '<Prefix name="owl" IRI="http://www.w3.org/2002/07/owl#"/>\n'
)


def _ontology_body(clauses: DataFrame, axioms: DataFrame, axiom_col: str) -> DataFrame:
    """Shared header/body assembly for the three dump_owl renderers:
    (doc_sha, axioms, ont) with axioms newline-joined in sorted order and
    ont = the min `ontology:` header value (deterministic under dups).
    One implementation so the formats cannot drift."""
    hdr_ont = (
        clauses.where((F.col("frame_type") == "Header") & (F.col("tag") == "ontology"))
        .groupBy("doc_sha")
        .agg(F.min("value_text").alias("ont"))
    )
    body = axioms.groupBy("doc_sha").agg(
        F.concat_ws("\n", F.sort_array(F.collect_list(axiom_col))).alias("axioms")
    )
    return body.join(hdr_ont, "doc_sha", "left")


def _ontology_iri() -> Column:
    """Ontology IRI from the joined `ont` value (doc_sha fallback). A
    URL-shaped value passes through untouched — plana.obo (and the
    corpus's plana family) declares `ontology: http://purl.obolibrary.org/obo`,
    and prefixing it again produced a double-prefixed invalid IRI in all
    three export formats."""
    base = F.coalesce(F.col("ont"), F.col("doc_sha"))
    return F.when(base.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), base).otherwise(
        F.concat(F.lit("http://purl.obolibrary.org/obo/"), base, F.lit(".owl"))
    )


def dump_owl_owx(clauses: DataFrame) -> DataFrame:
    """(doc_sha, owl_xml): one OWL/XML document per source doc — the owx
    sibling of :func:`dump_owl_functional` (same per-doc sort/concat
    aggregation shape)."""
    joined = _ontology_body(clauses, owl_axioms_owx(clauses), "axiom_xml")
    ont_iri = _ontology_iri()
    pre, post = _OWX_PREAMBLE.split("{iri}")
    return joined.select(
        "doc_sha",
        F.concat(
            F.lit(pre), _xesc(ont_iri), F.lit(post), F.col("axioms"), F.lit("\n</Ontology>")
        ).alias("owl_xml"),
    )


def dump_owl_functional(clauses: DataFrame) -> DataFrame:
    """(doc_sha, owl_text): one OWL functional-syntax document per source
    doc — Prefix/Ontology wrapper around the sorted axiom list."""
    joined = _ontology_body(clauses, owl_axioms(clauses), "axiom")
    preamble = (
        "Prefix(owl:=<http://www.w3.org/2002/07/owl#>)\n"
        "Prefix(rdfs:=<http://www.w3.org/2000/01/rdf-schema#>)\n"
        "Prefix(xsd:=<http://www.w3.org/2001/XMLSchema#>)\n"
    )
    ont_iri = F.concat(F.lit("<"), _ontology_iri(), F.lit(">"))
    return joined.select(
        "doc_sha",
        F.concat(
            F.lit(preamble), F.lit("Ontology("), ont_iri, F.lit("\n"), F.col("axioms"), F.lit("\n)")
        ).alias("owl_text"),
    )


def owl_axioms_rdf(clauses: DataFrame) -> DataFrame:
    """(doc_sha, kind, axiom_rdf): RDF/XML rendering of the same
    OBO→OWL2-DL core (reference ``dump_owl`` format 'rdf',
    ``src/py/mod.rs:464-511``). Each axiom becomes one self-contained
    fragment (``owl:Class`` / ``rdf:Description`` block) so documents
    assemble by sorted concatenation exactly like the other renderers;
    ``kind`` matches the functional constructor for census parity."""
    ent = clauses.where((F.col("frame_type") != "Header") & (F.col("frame_id") != ""))
    t, v1, v2, vt = F.col("tag"), F.col("v1"), F.col("v2"), F.col("value_text")
    me = "frame_id"
    is_typedef = F.col("frame_type") == "Typedef"
    is_instance = F.col("frame_type") == "Instance"
    about = lambda c: F.concat(F.lit('rdf:about="'), _xiri(c), F.lit('"'))
    res = lambda c: F.concat(F.lit('rdf:resource="'), _xiri(c), F.lit('"'))
    desc = lambda body: F.concat(F.lit("<rdf:Description "), about(me), F.lit(">"), body, F.lit("</rdf:Description>"))
    out = (
        F.when(
            t == "id",
            F.struct(
                F.lit("Declaration").alias("kind"),
                F.when(is_typedef, F.concat(F.lit("<owl:ObjectProperty "), about(me), F.lit("/>")))
                .when(is_instance, F.concat(F.lit("<owl:NamedIndividual "), about(me), F.lit("/>")))
                .otherwise(F.concat(F.lit("<owl:Class "), about(me), F.lit("/>"))).alias("xml"),
            ),
        )
        .when(
            (t == "instance_of") & v1.isNotNull(),
            F.struct(
                F.lit("ClassAssertion").alias("kind"),
                desc(F.concat(F.lit("<rdf:type "), res("v1"), F.lit("/>"))).alias("xml"),
            ),
        )
        .when(
            (t == "name") & vt.isNotNull(),
            F.struct(
                F.lit("AnnotationAssertion").alias("kind"),
                desc(F.concat(F.lit("<rdfs:label>"), _xesc(vt), F.lit("</rdfs:label>"))).alias("xml"),
            ),
        )
        .when(
            (t == "def") & vt.isNotNull(),
            F.struct(
                F.lit("AnnotationAssertion").alias("kind"),
                desc(
                    F.concat(F.lit("<obo:IAO_0000115>"), _xesc(vt), F.lit("</obo:IAO_0000115>"))
                ).alias("xml"),
            ),
        )
        .when(
            (t == "is_obsolete") & (v1 == "true"),
            F.struct(
                F.lit("AnnotationAssertion").alias("kind"),
                desc(
                    F.lit(
                        '<owl:deprecated rdf:datatype="http://www.w3.org/2001/XMLSchema#boolean">true</owl:deprecated>'
                    )
                ).alias("xml"),
            ),
        )
        .when(
            (t == "is_a") & v1.isNotNull() & ~is_typedef,
            F.struct(
                F.lit("SubClassOf").alias("kind"),
                desc(F.concat(F.lit("<rdfs:subClassOf "), res("v1"), F.lit("/>"))).alias("xml"),
            ),
        )
        .when(
            (t == "is_a") & v1.isNotNull() & is_typedef,
            F.struct(
                F.lit("SubObjectPropertyOf").alias("kind"),
                desc(F.concat(F.lit("<rdfs:subPropertyOf "), res("v1"), F.lit("/>"))).alias("xml"),
            ),
        )
        .when(
            (t == "relationship") & v1.isNotNull() & v2.isNotNull(),
            F.struct(
                F.lit("SubClassOf").alias("kind"),
                desc(
                    F.concat(
                        F.lit("<rdfs:subClassOf><owl:Restriction><owl:onProperty "),
                        res("v1"),
                        F.lit("/><owl:someValuesFrom "),
                        res("v2"),
                        F.lit("/></owl:Restriction></rdfs:subClassOf>"),
                    )
                ).alias("xml"),
            ),
        )
    )
    return (
        ent.select("doc_sha", out.alias("a"))
        .where(F.col("a").isNotNull())
        .select("doc_sha", F.col("a.kind").alias("kind"), F.col("a.xml").alias("axiom_rdf"))
    )


_RDF_PRE = (
    '<?xml version="1.0"?>\n'
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
    '     xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"\n'
    '     xmlns:owl="http://www.w3.org/2002/07/owl#"\n'
    '     xmlns:obo="http://purl.obolibrary.org/obo/">\n'
)


def dump_owl_rdf(clauses: DataFrame) -> DataFrame:
    """(doc_sha, owl_rdf): one OWL RDF/XML document per source doc — the
    'rdf' sibling of the functional and owx dumps (same per-doc
    sort/concat aggregation shape)."""
    joined = _ontology_body(clauses, owl_axioms_rdf(clauses), "axiom_rdf")
    ont_iri = _ontology_iri()
    ont_el = F.concat(F.lit('<owl:Ontology rdf:about="'), _xesc(ont_iri), F.lit('"/>'))
    return joined.select(
        "doc_sha",
        F.concat(
            F.lit(_RDF_PRE), ont_el, F.lit("\n"), F.col("axioms"), F.lit("\n</rdf:RDF>")
        ).alias("owl_rdf"),
    )
