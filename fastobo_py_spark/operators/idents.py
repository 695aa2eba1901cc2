"""O4/O6: identifier parsing, normalization, and idspace resolution.

The reference's ``Ident`` sum type (Unprefixed | Prefixed | Url,
``/root/reference/src/py/id.rs:130-136``) and its ``fastobo.id.parse``
3-way dispatch (``id.rs:53-63``) become pure column expressions — no UDF:
kind is derivable from shape, prefix/local from the first colon.

URL⇄prefix compaction reproduces ``OboDoc.compact_ids`` /
``decompact_ids`` (``src/py/doc.rs:210-285``): per-document ``idspace:``
header declarations (``header/clause.rs:1076-1100``) plus the default
``http://purl.obolibrary.org/obo/<PREFIX>_<LOCAL>`` OBO PURL rule.  The
per-doc idspace map is a tiny dimension — broadcast joined, never shuffled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OBO_PURL = "http://purl.obolibrary.org/obo/"


# Every identifier expression below is SQL text over a column name or
# expression ``c``: the KG chain embeds it in its per-stage ``spark.sql``
# statements, and the Column helpers wrap the same text in ``F.expr``, so
# each rule has one definition. The helpers take a column NAME. The text
# holds no braces: the stages' statements go through ``str.format``
# (``session.sql_over``).
_URL_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://"


def ident_kind_sql(c: str) -> str:
    """SQL text of :func:`ident_kind`."""
    return f"CASE WHEN {c} RLIKE r'{_URL_RE}' THEN 'url' WHEN contains({c}, ':') THEN 'prefixed' ELSE 'unprefixed' END"


def ident_prefix_sql(c: str) -> str:
    """SQL text of :func:`ident_prefix`."""
    return f"CASE WHEN {ident_kind_sql(c)} = 'prefixed' THEN substring_index({c}, ':', 1) END"


def edge_idspace_sql(c: str) -> str:
    """SQL text of :func:`edge_idspace`."""
    k = ident_kind_sql(c)
    return f"CASE WHEN {k} = 'prefixed' THEN substring_index({c}, ':', 1) WHEN {k} = 'url' THEN 'URL' ELSE 'UNPREFIXED' END"


def ident_kind(name: str) -> Column:
    """'url' | 'prefixed' | 'unprefixed' (dispatch per id.rs:53-63)."""
    return F.expr(ident_kind_sql(name))


def ident_is_valid(name: str) -> Column:
    """Validity predicate mirroring ``fastobo.id.is_valid``
    (``/root/reference/src/py/id.rs:65-93``: the pest ``Rule::Id`` must
    consume the WHOLE string). Doctest contract: ``MS:1000031`` and
    ``related_to`` and OBO PURLs are valid; ``definitely not an
    identifier`` is not.

    Shape rules (OBO 1.4 ident grammar): a URL needs a scheme and no
    whitespace; a prefixed id needs a non-empty, colon-free, space-free
    prefix and a non-empty space-free local part; an unprefixed id is any
    non-empty run without whitespace (colons would make it prefixed).
    """
    col, k = F.col(name), ident_kind(name)
    return (
        F.when(col.isNull() | (col == ""), F.lit(False))
        .when(k == "url", col.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://\S+$"))
        .when(k == "prefixed", col.rlike(r"^[^\s:]+:\S+$"))
        .otherwise(col.rlike(r"^\S+$"))
    )


def ident_prefix(name: str) -> Column:
    """Idspace prefix of a prefixed ident, else NULL (PrefixedIdent.prefix,
    id.rs:226-228)."""
    return F.expr(ident_prefix_sql(name))


def compact_url(col: Column) -> Column:
    """URL → prefixed via the default OBO PURL rule
    (``http://purl.obolibrary.org/obo/CHEBI_27958`` → ``CHEBI:27958``,
    round-trip doctest at doc.rs:219-234). Non-matching values pass through.
    """
    m = F.regexp_extract(col, r"^http://purl\.obolibrary\.org/obo/([A-Za-z0-9]+)_([A-Za-z0-9]+)$", 0)
    pfx = F.regexp_extract(col, r"^http://purl\.obolibrary\.org/obo/([A-Za-z0-9]+)_([A-Za-z0-9]+)$", 1)
    loc = F.regexp_extract(col, r"^http://purl\.obolibrary\.org/obo/([A-Za-z0-9]+)_([A-Za-z0-9]+)$", 2)
    return F.when(m != "", F.concat(pfx, F.lit(":"), loc)).otherwise(col)


def decompact_prefixed(name: str) -> Column:
    """Prefixed → URL via the default OBO PURL rule (doc.rs:250-285).

    Only the FIRST colon is the prefix separator — locals may themselves
    contain colons (ms.obo's escaped ``value-type:xsd\\:string``), and a
    replace-all would conflate prefix and local into an unrecoverable
    IRI."""
    col = F.col(name)
    return F.when(
        ident_kind(name) == "prefixed",
        F.concat(F.lit(OBO_PURL), F.regexp_replace(col, "^([^:]*):", "$1_")),
    ).otherwise(col)


def idspace_map(clauses: DataFrame) -> DataFrame:
    """Per-document idspace declarations: (doc_sha, prefix, url_base).

    Tiny dimension (a handful of rows per doc) — always broadcast.
    """
    return (
        clauses.where((F.col("frame_type") == "Header") & (F.col("tag") == "idspace"))
        .select("doc_sha", F.col("v1").alias("prefix"), F.col("v2").alias("url_base"))
        .dropDuplicates(["doc_sha", "prefix"])
    )


def compact_with_idspaces(df: DataFrame, ident_col: str, clauses: DataFrame) -> DataFrame:
    """Compact URL idents using per-doc ``idspace:`` declarations first,
    then the default PURL rule.

    The idspace dim is a handful of rows per DOCUMENT — i.e. it grows
    with the corpus, so the broadcast is size-gated (hints.py): small
    corpora get the map-side join, catalog-scale ones fall back to a
    shuffle join on doc_sha.
    """
    from fastobo_py_spark.operators.hints import gated_broadcast

    # ONE dim row per document (its idspaces as an array): a plain
    # prefix-match join duplicated input rows whenever two declared bases
    # overlapped (e.g. .../GO_ and .../obo/) — instead each row picks its
    # LONGEST matching base (most-specific-prefix-wins) from the array,
    # keeping the join 1:1 by construction
    ids = gated_broadcast(
        idspace_map(clauses)
        .groupBy("doc_sha")
        .agg(
            F.collect_list(F.struct(F.col("url_base"), F.col("prefix"))).alias("__spaces")
        )
        .withColumnRenamed("doc_sha", "__d")
    )
    c = F.col(ident_col)
    joined = df.join(ids, df["doc_sha"] == F.col("__d"), "left").drop("__d")
    matches = F.filter(F.col("__spaces"), lambda s: c.startswith(s["url_base"]))
    # array_max over (length, base, prefix) structs = longest base wins
    best = F.array_max(
        F.transform(
            matches,
            lambda s: F.struct(
                F.length(s["url_base"]).alias("l"),
                s["url_base"].alias("url_base"),
                s["prefix"].alias("prefix"),
            ),
        )
    )
    compacted = F.when(
        best.isNotNull(),
        F.concat(
            best["prefix"],
            F.lit(":"),
            F.expr(f"substring({ident_col}, length(%s) + 1)" % "__best_base"),
        ),
    ).otherwise(compact_url(c))
    return (
        joined.withColumn("__best_base", best["url_base"])
        .withColumn(ident_col, compacted)
        .drop("__spaces", "__best_base")
    )


def edge_idspace(name: str) -> Column:
    """Partitioning idspace of an ident: prefix for prefixed ids, 'URL'
    bucket for urls, 'UNPREFIXED' otherwise. Drives partitionBy + salting
    (O18)."""
    return F.expr(edge_idspace_sql(name))
