r"""OBO 1.4 serializer: clause rows → canonical OBO text.

The sink-side dual of the parser, reproducing the reference's ``Display``
round-trip (``str(OboDoc)`` / ``str(clause)``, ``/root/reference/src/py/
doc.rs:124-129``; golden equality examples in ``tests/common.py:157-159,
176-193``).  The invariant tested here is the same one the reference
tests: ``parse(serialize(parse(doc))) == parse(doc)`` clause-for-clause,
and byte-exact canonical text for canonical inputs.

Formatting is per-clause pure Python (string building is not expressible
as built-in column functions once escaping enters); the document assembly
is DataFrame-side: sort keys (frame_ix, clause_ix) restore declaration
order (the reference's ``ordered=True``), then one groupBy concatenates.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fastobo_py_spark.obo.grammar import escape_ident, escape_quoted, escape_unquoted
from fastobo_py_spark.obo.parser import (
    _BOOLEAN,
    _IDENT_PAIR,
    _MACRO_GD,
    _MACRO_IDSPACE,
    _QUOTED_PLUS_XREFS,
    _RAW_TEXT,
    _SINGLE_IDENT,
)
from fastobo_py_spark.worker import prune_zip_importers


def _fmt_xrefs(xrefs) -> str:
    items = []
    for x in xrefs:
        ident, desc = x["id"] if isinstance(x, dict) else x[0], x["desc"] if isinstance(x, dict) else x[1]
        s = escape_ident(ident)
        if desc is not None:
            s += f' "{escape_quoted(desc)}"'
        items.append(s)
    return "[" + ", ".join(items) + "]"


def format_clause(
    tag: str,
    v1,
    v2,
    value_text,
    xrefs,
    qualifiers,
    comment,
    scope,
    datatype,
) -> str:
    """One clause row → its canonical OBO line (without trailing newline)."""
    parts: list[str] = []
    if tag == "id":
        parts.append(escape_ident(v1))
    elif tag in _SINGLE_IDENT:
        parts.append(escape_ident(v1) if v1 is not None else "")
    elif tag in _IDENT_PAIR:
        parts.append(escape_ident(v1) if v1 is not None else "")
        if v2 is not None:
            parts.append(escape_ident(v2))
    elif tag in _BOOLEAN:
        parts.append(v1 or "false")
    elif tag in _RAW_TEXT:
        parts.append(escape_unquoted(value_text) if value_text is not None else "")
    elif tag == "xref":
        parts.append(escape_ident(v1) if v1 is not None else "")
        if value_text is not None:
            parts.append(f'"{escape_quoted(value_text)}"')
    elif tag in _QUOTED_PLUS_XREFS:
        parts.append(f'"{escape_quoted(value_text or "")}"')
        if xrefs is not None:
            parts.append(_fmt_xrefs(xrefs))
    elif tag == "synonym":
        parts.append(f'"{escape_quoted(value_text or "")}"')
        if scope is not None:
            parts.append(scope)
        if v1 is not None:
            parts.append(escape_ident(v1))
        # len-safe: Arrow delivers array<struct> cells as np.ndarray,
        # whose truthiness raises for 2+ elements (`xrefs or []` died
        # on any multi-xref synonym)
        parts.append(_fmt_xrefs(xrefs if xrefs is not None else []))
    elif tag == "intersection_of":
        if v1 is not None:
            parts.append(escape_ident(v1))
        parts.append(escape_ident(v2) if v2 is not None else "")
    elif tag == "property_value":
        parts.append(escape_ident(v1) if v1 is not None else "")
        if v2 is not None:
            parts.append(escape_ident(v2))
        else:
            parts.append(f'"{escape_quoted(value_text or "")}"')
            if datatype is not None:
                parts.append(escape_ident(datatype))
    elif tag == "subsetdef":
        parts.append(escape_ident(v1) if v1 is not None else "")
        parts.append(f'"{escape_quoted(value_text or "")}"')
    elif tag == "synonymtypedef":
        parts.append(escape_ident(v1) if v1 is not None else "")
        parts.append(f'"{escape_quoted(value_text or "")}"')
        if scope is not None:
            parts.append(scope)
    elif tag == "idspace":
        parts.append(escape_ident(v1) if v1 is not None else "")
        parts.append(v2 or "")
        if value_text is not None:
            parts.append(f'"{escape_quoted(value_text)}"')
    elif tag in _MACRO_IDSPACE:
        parts.append(v1 or "")
    elif tag == "treat-xrefs-as-relationship":
        parts.append(v1 or "")
        if v2 is not None:
            parts.append(v2)
    elif tag in _MACRO_GD:
        parts.append(" ".join(x for x in (v1, v2, value_text) if x is not None))
    else:  # unreserved
        parts.append(escape_unquoted(value_text) if value_text is not None else "")

    line = f"{tag}: " + " ".join(p for p in parts if p != "")
    if qualifiers is not None and len(qualifiers):
        quals = ", ".join(
            f'{escape_ident(q["key"] if isinstance(q, dict) else q[0])}="{escape_quoted(q["value"] if isinstance(q, dict) else q[1])}"'
            for q in qualifiers
        )
        line += " {" + quals + "}"
    if comment is not None:
        line += f" ! {comment}"
    return line


_LINE_SCHEMA = T.StructType(
    [
        T.StructField("doc_sha", T.StringType()),
        T.StructField("frame_type", T.StringType()),
        T.StructField("frame_ix", T.IntegerType()),
        T.StructField("clause_ix", T.IntegerType()),
        T.StructField("line", T.StringType()),
    ]
)


def clause_lines(clauses: DataFrame) -> DataFrame:
    """Format every clause row to its OBO line (Arrow-batched)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        for pdf in batches:
            lines = [
                format_clause(
                    r.tag, r.v1, r.v2, r.value_text, r.xrefs, r.qualifiers, r.comment, r.scope, r.datatype
                )
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(
                {
                    "doc_sha": pdf["doc_sha"],
                    "frame_type": pdf["frame_type"],
                    "frame_ix": pdf["frame_ix"],
                    "clause_ix": pdf["clause_ix"],
                    "line": lines,
                }
            )

    cols = ["doc_sha", "frame_type", "frame_ix", "clause_ix", "tag", "v1", "v2", "value_text", "xrefs", "qualifiers", "comment", "scope", "datatype"]
    return clauses.select(*cols).mapInPandas(kernel, schema=_LINE_SCHEMA)


def serialize_documents(clauses: DataFrame) -> DataFrame:
    """Clause rows → (doc_sha, obo_text): canonical OBO per document.

    Frame order and clause order are restored via the (frame_ix,
    clause_ix) sort keys — the columnar equivalent of the reference's
    ``ordered=True`` reassembly (``src/iter.rs:151-161``).
    """
    lines = clause_lines(clauses)
    frames = (
        lines.groupBy("doc_sha", "frame_ix", "frame_type")
        .agg(
            F.concat_ws(
                "\n", F.transform(F.sort_array(F.collect_list(F.struct("clause_ix", "line"))), lambda s: s["line"])
            ).alias("body")
        )
        .withColumn(
            "frame_text",
            F.when(F.col("frame_type") == "Header", F.col("body")).otherwise(
                F.concat(F.lit("["), F.col("frame_type"), F.lit("]\n"), F.col("body"))
            ),
        )
    )
    return frames.groupBy("doc_sha").agg(
        F.concat_ws(
            "\n\n",
            F.transform(F.sort_array(F.collect_list(F.struct("frame_ix", "frame_text"))), lambda s: s["frame_text"]),
        ).alias("obo_text")
    )
