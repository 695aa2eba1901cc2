"""O1–O3: corpus scan → OBO filter → vectorized parse → clause rows.

Replaces the reference's parsing entry points (``fastobo.load/loads/iter``,
``/root/reference/src/py/mod.rs:110-296``) with one Arrow-batched
``mapInPandas`` stage: a batch of ``content`` strings in, pre-exploded
clause rows out.  Parse parallelism — the reference's ``threads`` knob
(``src/py/mod.rs:86-88``, ``src/iter.rs:80-94``) — becomes Spark task
parallelism across corpus partitions; ``ordered=True`` reassembly
(``src/iter.rs:151-161``) becomes the ``frame_ix``/``clause_ix`` sort keys.

Malformed documents become quarantine rows, not job failures: at
10^12-file scale a single bad file must not kill a stage, and a second
scan just to find errors would double the I/O — so clause and error rows
come out of the same pass, discriminated by ``is_error``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastobo_py_spark.obo.parser import CLAUSE_FIELDS, ParseError, parse_document
from fastobo_py_spark.schema import PARSE_OUTPUT_SCHEMA
from fastobo_py_spark.worker import prune_zip_importers

_N_CLAUSE_COLS = len(CLAUSE_FIELDS)
_EMPTY_CLAUSE = (None,) * _N_CLAUSE_COLS
_OUT_COLS = [f.name for f in PARSE_OUTPUT_SCHEMA.fields]


def is_obo_document(content_col, lang_col=None):
    """O1 predicate: cheap column-level OBO sniff, pushed into the scan.

    A file is OBO if tagged ``lang='OBO'`` or any LINE in its first 64 KB
    is a ``format-version:`` header or a frame header. The sniff is
    deliberately recall-biased: a false positive just reaches the parser
    (which quarantines it with a reason), while a false negative is
    SILENT data loss — the earlier bracket-free-prefix formulation
    dropped headerless docs, docs with ``[`` anywhere in the header
    (``remark: see [ref]``), and >4 KB preambles without a trace. Runs
    entirely JVM-side so Catalyst can pipeline it with the parquet scan.
    """
    sniff = F.substring(content_col, 1, 65536).rlike(
        r"(?m)^\s*(format-version:|\[(Term|Typedef|Instance)\])"
    )
    if lang_col is not None:
        return (lang_col == "OBO") | sniff
    return sniff


def _assert_is_obo(clause_rows) -> None:
    """Quarantine files that lex as tag:value lines but are not OBO (a
    mislabeled lang='OBO' JSON/YAML file, the FIXTURES.md error case):
    a real document has at least one entity frame or a format-version
    header."""
    for r in clause_rows:
        if r[0] != "Header" or r[4] == "format-version":
            return
    raise ParseError("no frames and no format-version header: not an OBO document", 1)


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (repo, path, content[, content_gz]) batches →
    clause/error rows.

    ``content_gz`` (binary, gzip) is the table-native analogue of the
    reference's gzip file adapter (``fastobo.load`` sniffing magic bytes,
    ``src/py/mod.rs:110-146``): decompressed inside the kernel, so
    compressed corpora never materialize plaintext in the JVM. A row
    whose gzip payload is corrupt quarantines like any parse error.
    """
    prune_zip_importers()
    import gzip

    for pdf in batches:
        out: list[tuple] = []
        repos = pdf["repo"].to_numpy()
        paths = pdf["path"].to_numpy()
        contents = pdf["content"].to_numpy()
        gzs = pdf["content_gz"].to_numpy() if "content_gz" in pdf.columns else None
        for i in range(len(pdf)):
            content = contents[i]
            if content is None and gzs is not None and gzs[i] is not None:
                try:
                    content = gzip.decompress(bytes(gzs[i])).decode("utf-8")
                except Exception as e:
                    sha = hashlib.sha256(bytes(gzs[i])).hexdigest()
                    out.append(
                        (sha, repos[i], paths[i]) + _EMPTY_CLAUSE + (True, type(e).__name__, str(e), None)
                    )
                    continue
            if content is None:
                continue
            sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
            meta = (sha, repos[i], paths[i])
            try:
                clause_rows = parse_document(content)
                _assert_is_obo(clause_rows)
            except ParseError as e:
                out.append(meta + _EMPTY_CLAUSE + (True, "SyntaxError", str(e), e.line_no))
                continue
            except Exception as e:  # lenient: any bug quarantines the doc
                out.append(meta + _EMPTY_CLAUSE + (True, type(e).__name__, str(e), None))
                continue
            tail = (False, None, None, None)
            out.extend(meta + r + tail for r in clause_rows)
        yield pd.DataFrame(out, columns=_OUT_COLS)


def parse_corpus(corpus: DataFrame, pre_filter: bool = True) -> DataFrame:
    """Corpus table → combined clause+quarantine DataFrame (lazy).

    Only (repo, path, content) are shipped through Arrow — Catalyst prunes
    every other column out of the scan (check ReadSchema in .explain()).
    """
    df = corpus
    has_gz = "content_gz" in corpus.columns
    if pre_filter:
        lang = F.col("lang") if "lang" in corpus.columns else None
        sniff = is_obo_document(F.col("content"), lang)
        if has_gz:
            # compressed rows can't be content-sniffed JVM-side; let the
            # kernel decide (lang tag still prunes when present)
            sniff = sniff | F.col("content_gz").isNotNull()
        df = df.where(sniff)
    cols = ["repo", "path", "content"] + (["content_gz"] if has_gz else [])
    df = df.select(*cols)
    return df.mapInPandas(_parse_batches, schema=PARSE_OUTPUT_SCHEMA)


def split_parsed(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the combined parse output into (clauses, quarantine)."""
    clauses = parsed.where(~F.col("is_error")).drop("is_error", "error_kind", "error_msg", "line_no")
    quarantine = parsed.where(F.col("is_error")).select(
        "doc_sha", "repo", "path", "error_kind", "error_msg", "line_no"
    )
    return clauses, quarantine


def frame_counts(clauses: DataFrame) -> DataFrame:
    """O13: per-document frame counts (reference: ``len(doc)``,
    ``src/py/doc.rs:188-190``; MS fixture = 2941, ``tests/test_fastobo.py:11``)."""
    return (
        clauses.where(F.col("frame_type") != "Header")
        .groupBy("doc_sha")
        .agg(F.countDistinct("frame_ix").alias("n_frames"))
    )


# single-cardinality tags per frame (reference cardinality validation:
# MissingClauseError / DuplicateClausesError / SingleClauseError,
# src/error.rs:106-119, src/py/exceptions.rs:40-141)
SINGLE_CARDINALITY_TAGS = (
    "id",
    "name",
    "def",
    "comment",
    "namespace",
    "is_obsolete",
    "is_anonymous",
    "created_by",
    "creation_date",
    "is_transitive",
    "is_reflexive",
    "is_symmetric",
    "is_cyclic",
    "is_functional",
    "domain",
    "range",
)


def cardinality_violations(clauses: DataFrame) -> DataFrame:
    """O13/§4: cardinality audit — rows where a single-cardinality tag
    appears more than once in a frame.

    Emitted as metrics, never failures (the reference raises; at corpus
    scale violations are data-quality signals): one partial-aggregating
    groupBy, columns (doc_sha, frame_id, tag, n).
    """
    return (
        clauses.where((F.col("frame_type") != "Header") & (F.col("frame_id") != ""))
        .where(F.col("tag").isin(list(SINGLE_CARDINALITY_TAGS)))
        .groupBy("doc_sha", "frame_id", "tag")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
    )


# tags the reference's cardinality validation treats as REQUIRED per frame
# (MissingClauseError, src/error.rs:106-110: "missing 'name' clause" is its
# own doctest); at corpus scale absence is a data-quality metric, not a
# failure.
REQUIRED_TAGS = ("name",)


def missing_clause_violations(clauses: DataFrame, required: tuple[str, ...] = REQUIRED_TAGS) -> DataFrame:
    """O13/§4: frames lacking a required single-cardinality clause —
    (doc_sha, frame_id, frame_type, missing_tag).

    One aggregation per frame: collect the frame's tag set, then explode
    the (tiny, constant) required list against it — no join, no second
    scan of the clause table.
    """
    per_frame = (
        clauses.where((F.col("frame_type") != "Header") & (F.col("frame_id") != ""))
        .groupBy("doc_sha", "frame_id")
        .agg(F.collect_set("tag").alias("tags"), F.max("frame_type").alias("frame_type"))
    )
    req = F.array(*[F.lit(t) for t in required])
    return (
        per_frame.select(
            "doc_sha",
            "frame_id",
            "frame_type",
            F.explode(F.array_except(req, F.col("tags"))).alias("missing_tag"),
        )
    )
