"""Text-analysis queries: language ID, token counting, quality scoring
over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastobo_py_spark.queries._registry import QUERIES, STATIC_SQLS
from fastobo_py_spark.operators import text as X
from fastobo_py_spark.sources.tables import load_table


_EN = "'the','a','of','and','to','in','is','it','for','on'"
_DE = "'der','die','das','und','ist','nicht','ein','mit'"
_FR = "'le','la','les','et','est','un','une','dans'"
_ES = "'el','la','los','y','es','un','una','que'"


def q_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return X.text_stats(docs).orderBy("doc_id")


SQL_TEXT_STATS = f"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltoks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       length(text) AS n_chars_actual,
       length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
       CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
             / greatest(length(text), 1) * 1000000) AS BIGINT) AS alpha_ppm,
       CAST(floor((0.4 * least(len(toks) / 64.0, 1.0)
           + 0.3 * least(len(list_filter(ltoks, x -> x IN ({_EN}))) / 4.0, 1.0)
           + 0.3 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                         / greatest(length(text), 1))) * 1000000) AS BIGINT) AS quality_ppm,
       CASE
         WHEN length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) > length(text) * 0.3 THEN 'zh'
         WHEN greatest(len(list_filter(ltoks, x -> x IN ({_EN}))),
                       len(list_filter(ltoks, x -> x IN ({_DE}))),
                       len(list_filter(ltoks, x -> x IN ({_FR}))),
                       len(list_filter(ltoks, x -> x IN ({_ES})))) = 0 THEN 'und'
         WHEN len(list_filter(ltoks, x -> x IN ({_EN}))) =
              greatest(len(list_filter(ltoks, x -> x IN ({_EN}))), len(list_filter(ltoks, x -> x IN ({_DE}))),
                       len(list_filter(ltoks, x -> x IN ({_FR}))), len(list_filter(ltoks, x -> x IN ({_ES})))) THEN 'en'
         WHEN len(list_filter(ltoks, x -> x IN ({_DE}))) =
              greatest(len(list_filter(ltoks, x -> x IN ({_EN}))), len(list_filter(ltoks, x -> x IN ({_DE}))),
                       len(list_filter(ltoks, x -> x IN ({_FR}))), len(list_filter(ltoks, x -> x IN ({_ES})))) THEN 'de'
         WHEN len(list_filter(ltoks, x -> x IN ({_FR}))) =
              greatest(len(list_filter(ltoks, x -> x IN ({_EN}))), len(list_filter(ltoks, x -> x IN ({_DE}))),
                       len(list_filter(ltoks, x -> x IN ({_FR}))), len(list_filter(ltoks, x -> x IN ({_ES})))) THEN 'fr'
         ELSE 'es'
       END AS lang_guess,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
FROM base
ORDER BY doc_id
"""


def q_text_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Token budgeting + internal-repetition profile: whitespace tokens,
    BPE-ish pre-tokenizer tokens, and Gopher-style 3-gram repetition."""
    from fastobo_py_spark.operators.spread import spread_by

    docs = load_table(spark, sf, "documents")
    t = F.col("text")
    # bind the normalized token array once (the k-gram transform is an
    # interpreted HOF that otherwise re-tokenizes per element, guide §4.1)
    # and spread the 1-row-group scan to full width
    base = spread_by(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id", "text", X.tokens(X.normalize_text(t)).alias("_ntoks")
    )
    return base.select(
        "doc_id",
        X.token_count(t).alias("n_ws_tokens"),
        X.bpe_token_count(t).alias("n_bpe_tokens"),
        X.ngram_repetition_ppm_arr(F.col("_ntoks"), 3).alias("rep3_ppm"),
    ).orderBy("doc_id")


SQL_TEXT_TOKENS = r"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\s+') END AS toks,
         CASE WHEN trim(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') END AS ntoks
  FROM documents
), grams AS (
  SELECT doc_id, text, toks,
         CASE WHEN len(ntoks) >= 3
              THEN list_transform(range(1, len(ntoks) - 1),
                        i -> ntoks[i] || ' ' || ntoks[i+1] || ' ' || ntoks[i+2])
              ELSE []::VARCHAR[] END AS g3
  FROM base
)
SELECT doc_id,
       len(toks) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS n_bpe_tokens,
       CASE WHEN len(g3) > 0
            THEN CAST(floor((1.0 - len(list_distinct(g3))::DOUBLE / len(g3)) * 1000000) AS BIGINT)
            ELSE 0 END AS rep3_ppm
FROM grams
ORDER BY doc_id
"""


def q_quality_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Aggregated quality profile per source — the corpus-curation view."""
    docs = load_table(spark, sf, "documents")
    stats = X.text_stats(docs)
    joined = stats.join(docs.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.floor(F.avg("quality_ppm")).cast("long").alias("avg_quality_ppm"),
            F.floor(F.avg("n_tokens") * 10000).cast("long").alias("avg_tokens_e4"),
        )
        .orderBy("source")
    )


SQL_QUALITY_BY_LANG = f"""
WITH base AS (
  SELECT doc_id, source, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltoks
  FROM documents
), scored AS (
  SELECT doc_id, source, len(toks) AS n_tokens,
         CAST(floor((0.4 * least(len(toks) / 64.0, 1.0)
             + 0.3 * least(len(list_filter(ltoks, x -> x IN ({_EN}))) / 4.0, 1.0)
             + 0.3 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                           / greatest(length(text), 1))) * 1000000) AS BIGINT) AS quality_ppm
  FROM base
)
SELECT source, count(*) AS n_docs,
       CAST(floor(avg(quality_ppm)) AS BIGINT) AS avg_quality_ppm,
       CAST(floor(avg(n_tokens) * 10000) AS BIGINT) AS avg_tokens_e4
FROM scored
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def q_text_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII census + redaction (operators/text.py::pii_scrub/pii_report).
    The synthetic documents table contains no PII (verified corpus-wide),
    so the query deterministically plants it first: 2/3 of docs get an
    email + IPv4 + long account number derived from doc_id (both engines
    synthesize the identical string), 1/3 stay clean as negative cases.
    The oracle then checks per-doc counts AND the md5 of the scrubbed
    text — the replacement semantics, not just the match counts."""
    from fastobo_py_spark.operators.text import pii_report

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    planted = F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 acct 4111111111"),
        )
    )
    return pii_report(docs.select("doc_id", planted.alias("text"))).orderBy("doc_id")


from fastobo_py_spark.operators.text import EMAIL_RE as _EMAIL, IPV4_RE as _IPV4, LONGNUM_RE as _LONGNUM

SQL_TEXT_PII_SCRUB = f"""
WITH s AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text
              ELSE text || ' contact u' || CAST(doc_id AS VARCHAR)
                   || '@mail.example from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.7 acct 4111111111' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_IPV4}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{_LONGNUM}')) AS BIGINT) AS n_idnums,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{_EMAIL}', '<EMAIL>', 'g'),
           '{_IPV4}', '<IP>', 'g'),
           '{_LONGNUM}', '<NUM>', 'g')) AS scrub_md5
FROM s
ORDER BY doc_id
"""


def q_text_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping fixed-window chunking (operators/text.py::chunk) —
    context-window prep: chunk i covers chars [i*160, i*160+200), every
    char covered, 40-char overlap, short and NULL-text docs yield exactly
    one chunk. Pure sequence/explode/substring — a narrow map over the scan."""
    docs = load_table(spark, sf, "documents")
    return X.chunk(docs, size=200, stride=160).orderBy("doc_id", "chunk_id")


SQL_TEXT_CHUNKS = """
WITH t AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
), n AS (
  SELECT doc_id, text,
         CAST(1 + ceil(greatest(length(text) - 200, 0) / 160.0) AS BIGINT) AS n_chunks
  FROM t
), c AS (
  SELECT doc_id, text, unnest(range(0, n_chunks)) AS chunk_id FROM n
)
SELECT doc_id, chunk_id,
       CAST(length(substring(text, CAST(chunk_id * 160 + 1 AS INT), 200)) AS BIGINT) AS chunk_len,
       md5(substring(text, CAST(chunk_id * 160 + 1 AS INT), 200)) AS chunk_md5
FROM c
ORDER BY doc_id, chunk_id
"""


def q_corpus_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-based stratified sampling
    (operators/text.py::stratified_sample) — source mixing: stratum
    srcK keeps min(255, 12*(K+1))/256 of its documents, decided by the
    md5(doc_id) prefix so reruns and both engines agree row-for-row.
    The rates dim is derived from the distinct strata then broadcast;
    the probe is a scan-side filter, no corpus shuffle."""
    docs = load_table(spark, sf, "documents")
    rates = (
        docs.select(F.col("source").alias("stratum"))
        .distinct()
        .select(
            "stratum",
            F.least(
                F.lit(255),
                12 * (F.substring("stratum", 4, 10).cast("int") + 1),
            ).alias("rate_per_256"),
        )
    )
    return (
        X.stratified_sample(docs, rates)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


SQL_CORPUS_SAMPLE = """
SELECT doc_id, source
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
      < printf('%02x', least(255, 12 * (CAST(substring(source, 4) AS INT) + 1)))
ORDER BY doc_id
"""


def q_text_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing (operators/text.py::pack_sequences) —
    pretraining document packing: docs concatenate in id order WITHIN a
    shard (pmod(doc_id, 8)) and split into 256-token windows; each doc
    reports its shard, running start offset and starting window. Per-
    shard packing is the 100 TB shape — shards pack independently after
    one shuffle, no global order."""
    docs = load_table(spark, sf, "documents")
    return X.pack_sequences(docs, window_tokens=256, n_shards=8).orderBy("doc_id")


SQL_TEXT_PACK = r"""
WITH base AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents
), off AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
  FROM base
)
SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(floor(start_offset / 256.0) AS BIGINT) AS window_id
FROM off
ORDER BY doc_id
"""


def q_corpus_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Test-set decontamination (operators/text.py::decontaminate):
    docs with doc_id % 7 == 0 stand in for the benchmark/eval set;
    every other doc sharing a normalized 8-token shingle with any of
    them is flagged with its distinct-hit count — the pre-ship overlap
    pass. Eval shingles broadcast; the corpus side never shuffles except
    the per-doc count."""
    docs = load_table(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 7 != 0)
    ev = docs.where(F.col("doc_id") % 7 == 0)
    return X.decontaminate(train, ev, n=8).orderBy("doc_id")


SQL_CORPUS_DECONTAMINATE = r"""
WITH norm AS (
  SELECT doc_id,
         CASE WHEN trim(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') END AS ntoks
  FROM documents
), idx AS (
  SELECT doc_id, ntoks, unnest(range(1, len(ntoks) - 6)) AS i FROM norm WHERE len(ntoks) >= 8
), sh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(ntoks[i:i+7], ' ')) AS h FROM idx
), ev AS (
  SELECT DISTINCT h FROM sh WHERE doc_id % 7 = 0
), tr AS (
  SELECT doc_id, h FROM sh WHERE doc_id % 7 <> 0
)
SELECT doc_id, CAST(count(DISTINCT h) AS BIGINT) AS n_hits
FROM tr JOIN ev USING (h)
GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES.update(
    {
        "text_stats": q_text_stats,
        "text_tokens": q_text_tokens,
        "quality_by_source": q_quality_by_lang,
        "text_pii_scrub": q_text_pii_scrub,
        "text_chunks": q_text_chunks,
        "corpus_sample": q_corpus_sample,
        "text_pack": q_text_pack,
        "corpus_decontaminate": q_corpus_decontaminate,
    }
)
STATIC_SQLS.update(
    {
        "text_stats": SQL_TEXT_STATS,
        "text_tokens": SQL_TEXT_TOKENS,
        "quality_by_source": SQL_QUALITY_BY_LANG,
        "text_pii_scrub": SQL_TEXT_PII_SCRUB,
        "text_chunks": SQL_TEXT_CHUNKS,
        "corpus_sample": SQL_CORPUS_SAMPLE,
        "text_pack": SQL_TEXT_PACK,
        "corpus_decontaminate": SQL_CORPUS_DECONTAMINATE,
    }
)
