r"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design
------------
* exact: one hash aggregation on a 32-hex fingerprint — the md5 groupBy
  shuffles 32 bytes/doc, not the document text.
* MinHash+LSH: shingle → per-hash min-aggregate → band → bucket self-join.
  Every stage is a narrow projection or a partial-aggregating groupBy;
  the candidate self-join is on the band hash (high selectivity), never
  an all-pairs product. Signatures use Carter–Wegman double hashing
  (one md5 per shingle, h_i = a + i*b over its 32-bit halves) — BIGINT
  exact in both engines, so the DuckDB oracle matches bit-for-bit.
* SimHash: 60-bit fingerprint (15 hex chars fit a signed BIGINT in both
  engines) as pure SQL expressions (token × 60-bit explode); near-dup
  pairs via Hamming-band self-join, EXACT recall for d ≤ bands−1 by
  pigeonhole.
* n-gram Jaccard: exact verification on LSH candidates only — the
  classic two-stage near-dup pipeline (candidates from LSH, exact
  similarity only on the candidate set); duplicate GROUPS from
  connected components over the verified pairs.
* embedding near-dup: cosine over all pairs is the oracle-scale
  baseline; the scale path is AND-OR random-hyperplane LSH (bucket
  equi-join per table) with exact-cosine verification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fastobo_py_spark.operators.similarity import _dot_hof, _norm_hof
from fastobo_py_spark.operators.text import fingerprint, normalize_text, word_kgrams

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS
SHINGLE_K = 3


# Ensure at least shuffle-partition-count input partitions before the
# shingle/token explodes (they multiply rows 100-1000x but run pipelined
# INSIDE the scan partitions — a small parquet input would serialize the
# whole dedup job on one core; a no-op at real scale). Shared helper
# since optimization r6: operators/spread.py.
from fastobo_py_spark.operators.spread import spread as _spread  # noqa: E402


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Exact dedup groups: (fp, keep_id, n_dups) for every distinct text."""
    return (
        documents.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def shingles(col: Column, k: int = SHINGLE_K) -> Column:
    """Word k-shingles of normalized text (array<string>).

    Documents shorter than k words get their whole text as the single
    shingle. NOTE (perf): the transform lambda is interpreted per element
    and re-evaluates ``col``'s tokenization subtree — hot paths should
    use :func:`shingle_rows`, which binds the token array to a column
    behind an exchange barrier first (guide §4.1).
    """
    toks = F.split(normalize_text(col), " ")
    return F.when(F.size(toks) >= k, word_kgrams(toks, k)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def shingle_rows(documents: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, sh) exploded word k-shingles — the hot-path shingler.

    Fully codegen shape (optimization r6, guide §4.1 "prefer built-ins"):
    spread the (narrow) raw-text scan, tokenize ONCE into a bound column
    behind the exchange, then explode POSITIONS (``sequence(0, n-k)``)
    and build each gram with ``concat(get(toks, p), ' ', ...)`` — every
    expression whole-stage-codegen-compiles, unlike the previous
    ``transform``-HOF form whose lambda was interpreted per element
    (CodegenFallback). Measured at sf1: signature build 2.7s -> 1.5s
    cold. Short docs (n < k) take the single whole-text shingle via the
    ``greatest``-clamped one-row sequence; null/empty text yields one ''
    row exactly as before (verified multiset-equal on sf0.01 + edge
    fixtures). Output rows are identical.
    """
    from fastobo_py_spark.operators.spread import spread_by

    toks = F.split(normalize_text(F.col("text")), " ")
    base = spread_by(documents.select("doc_id", "text"), "doc_id").select(
        "doc_id", toks.alias("_toks")
    )
    n = F.size("_toks")
    rows = base.select(
        "doc_id",
        "_toks",
        F.explode(F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))).alias("_p"),
    )
    parts: list = []
    for j in range(k):
        if j:
            parts.append(F.lit(" "))
        parts.append(F.get(F.col("_toks"), F.col("_p") + F.lit(j) if j else F.col("_p")))
    gram = F.when(F.size("_toks") >= k, F.concat(*parts)).otherwise(
        F.concat_ws(" ", F.col("_toks"))
    )
    return rows.select("doc_id", gram.alias("sh"))


def minhash_signatures(documents: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """(doc_id, h0..h{n-1}): MinHash signature via double hashing.

    ONE md5 per shingle, split into two 32-bit halves (a, b); hash
    family h_i = a + i*b (Carter–Wegman double hashing, the standard
    Broder minhash construction) — 16x less hashing than an md5 per
    (i, shingle), and h_i ≤ 2^36 fits a BIGINT exactly in both engines
    so the DuckDB oracle mirrors bit-for-bit. No shingle dedup before
    the aggregation: ``min`` is duplicate-insensitive, so one groupBy is
    the only exchange.
    """
    sh = shingle_rows(documents)
    md5 = F.md5(F.col("sh"))
    hashed = sh.select(
        "doc_id",
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("a"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("b"),
    )
    # one expr() parse per aggregate instead of ~5 py4j Column calls each
    # (optimization r6, guide §1: the bench times query CONSTRUCTION too;
    # measured 98 ms -> 37 ms per build, analyzed values identical —
    # integer arithmetic, same operator tree)
    aggs = [F.expr(f"min(a + {i} * b)").alias(f"h{i}") for i in range(n_hashes)]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_bands(signatures: DataFrame, n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND) -> DataFrame:
    """(doc_id, band_ix, band_hash): md5 of each signature band.

    Built via one ``selectExpr`` per band (single py4j round trip each,
    optimization r6) — the analyzer inserts the identical long→string
    and string→binary casts the Column-built form produced."""
    out = []
    for b in range(n_bands):
        cols = ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        out.append(
            signatures.selectExpr(
                "doc_id", f"{b} AS band_ix", f"md5(concat_ws('|', {cols})) AS band_hash"
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


# One eagerly-filled persisted signature table per (session, input plan):
# four queries (minhash pairs, jaccard, clusters, keep-list) each re-enter
# minhash_candidate_pairs, and per-call persists piled up as session-
# lifetime cache leaks. Bounded LRU — evicted entries are unpersisted.
_SIGS_CACHE: dict = {}
_SIGS_CACHE_MAX = 4


def _memo_signatures(documents: DataFrame) -> DataFrame:
    try:
        # key on the INPUT plan's semantic hash (usually a bare scan,
        # milliseconds to analyze) rather than the full signature plan —
        # a memo hit then skips constructing the shingle/agg tree
        # entirely (~150 ms of py4j per invocation, optimization r6)
        key = (
            documents.sparkSession.sparkContext.applicationId,
            documents._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:  # plan not hashable (shouldn't happen) — no memo
        key = None
    if key is not None and key in _SIGS_CACHE:
        # true LRU: refresh recency on hit (plain dict order made the
        # eviction FIFO — the hottest entry could be dropped first, and
        # its not-yet-executed consumers would silently recompute the
        # shingle explode + 16 min-aggs the cache exists to amortize)
        _SIGS_CACHE[key] = _SIGS_CACHE.pop(key)
        return _SIGS_CACHE[key]
    # EAGER fill: the table feeds FOUR plan branches (band left/right,
    # est join a/b) — without a persist each branch re-runs the shingle
    # explode + 16 min-aggs (measured: 4x the signature cost); lazy
    # caches racing four consumers serialize on block locks anyway.
    # Cache at full width (optimization r6): AQE coalesces the ~8 MB
    # groupBy output to ONE partition, which then serialized every
    # downstream band projection and the hot-bucket pair fan-out (1.2M
    # pairs at sf1) on one core; the explicit hash repartition pins the
    # cached layout at shuffle-partition width for a trivial exchange.
    n = int(documents.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sigs = minhash_signatures(documents).repartition(n, "doc_id").persist()
    sigs._known_rows = sigs.count()  # free gated_broadcast stamp (hints.py)
    if key is not None:
        while len(_SIGS_CACHE) >= _SIGS_CACHE_MAX:
            old = _SIGS_CACHE.pop(next(iter(_SIGS_CACHE)))
            try:
                old.unpersist()
            except Exception:
                pass  # owning session already stopped
        _SIGS_CACHE[key] = sigs
    return sigs


def minhash_candidate_pairs(documents: DataFrame) -> DataFrame:
    """(doc_a, doc_b, est_jaccard): pairs sharing >=1 LSH band, with the
    signature-agreement estimate. doc_a < doc_b; distinct."""
    return _candidate_pairs(documents)[0]


def _candidate_pairs(documents: DataFrame) -> tuple[DataFrame, int | None]:
    """:func:`minhash_candidate_pairs` plus the document count its one
    signature-table build recorded (None when unknown)."""
    from fastobo_py_spark.operators.hints import gated_broadcast

    sigs = _memo_signatures(documents)
    known = getattr(sigs, "_known_rows", None)
    bands = lsh_bands(sigs)
    left = bands.select(F.col("doc_id").alias("doc_a"), "band_ix", "band_hash")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band_ix", "band_hash")
    # the band self-join stays a shuffle join: an A/B at sf1 (200k band
    # rows, 1.5M pairs out) measured broadcast 0.45s vs shuffle 0.39s —
    # the bucket fan-out, not the exchange, is the cost here
    pairs = (
        left.join(right, ["band_ix", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    # est joins BROADCAST the signature table when it is bounded
    # (optimization r6, guide §3.1): the candidate-pair table is the big
    # side here (measured 1.5M pairs at sf1 vs 50k signature rows), and
    # the shuffle joins exchanged it twice carrying 16 BIGINT columns
    # (~200 MB). The row count is already known from the memo's eager
    # fill, so the gate costs nothing; above the threshold (sig tables
    # that cannot broadcast at 100 TB) the join falls back to the
    # pair-side shuffle exactly as before.
    sa = sigs.selectExpr("doc_id AS doc_a", *[f"h{i} AS a{i}" for i in range(N_MINHASH)])
    sb = sigs.selectExpr("doc_id AS doc_b", *[f"h{i} AS b{i}" for i in range(N_MINHASH)])
    if known is not None:
        sa._known_rows = known
        sb._known_rows = known
    # single expr() parse (92 ms -> 9 ms per build); the sum is an exact
    # integer 0..16 and /16.0 is a power-of-two division, so values are
    # bit-identical to the Column-built original (verified on random rows)
    terms = " + ".join(f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH))
    est = F.expr(f"(0 + {terms}) / {float(N_MINHASH)}D")
    out = (
        pairs.join(gated_broadcast(sa), "doc_a")
        .join(gated_broadcast(sb), "doc_b")
        .select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))
    )
    return out, known


def ngram_jaccard_pairs(documents: DataFrame, min_jaccard: float = 0.0) -> DataFrame:
    """Exact shingle-set Jaccard on the LSH candidate pairs.

    (doc_a, doc_b, jaccard) — the two-stage near-dup pipeline: LSH for
    recall, exact Jaccard for precision.

    Shape (optimization r6, guide §3/§2.3): the per-doc DISTINCT shingle
    set is aggregated ONCE into an array (``collect_set`` — one shuffle
    of the shingle rows, the same exchange the old ``dropDuplicates``
    paid), then the pair table picks up both docs' sets via two
    size-gated broadcast joins and computes ``size(array_intersect())``
    in whole-stage codegen. The previous row-exploded shape joined the
    pair table against the shingle ROWS — at sf1 that built a 78M-row
    intermediate (1.5M hot-bucket pairs x ~52 shingles each), shuffled
    it by (doc_b, sh) and hash-aggregated it back down (measured warm
    ABBA in one session: 12.1-17.7s -> 3.8-6.4s, ~3x; cold bench_extra
    best-of-3: 27.1 -> 14.8s). Values are bit-identical: the same integer
    n_int/n_a/n_b feed the same double division and round. Above the
    broadcast gate the joins degrade to shuffles of (pairs x one
    array-payload row) — still never the exploded row blow-up.

    Every LSH candidate pair is emitted, including pairs whose shingle
    sets do not overlap at all: those carry ``jaccard = 0.0`` (dropped
    only by a ``min_jaccard`` above 0).
    """
    from fastobo_py_spark.operators.hints import gated_broadcast, known_rows

    cands, known = _candidate_pairs(documents)
    cands = cands.select("doc_a", "doc_b")
    # the signature build behind the candidates knows the exact doc count
    # == the set table's row count, so the broadcast gate costs zero
    # probes (asking the memo again would, on its no-memo path, build and
    # persist a second signature table that nothing unpersists)
    sets = shingle_rows(documents).groupBy("doc_id").agg(F.collect_set("sh").alias("shs"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("_sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("_sb"))
    if known is not None:
        # only gate when the count is free — a probe here would re-run
        # the whole shingle pipeline just to decide a join strategy
        sa = gated_broadcast(known_rows(sa, known))
        sb = gated_broadcast(known_rows(sb, known))
    paired = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sa", "_sb")).alias("n_int"),
            F.size("_sa").alias("n_a"),
            F.size("_sb").alias("n_b"),
        )
    )
    out = paired.select(
        "doc_a",
        "doc_b",
        F.round(F.col("n_int") / (F.col("n_a") + F.col("n_b") - F.col("n_int")), 6).alias("jaccard"),
    )
    return out.where(F.col("jaccard") >= min_jaccard)


def simhash(documents: DataFrame, n_bits: int = 60) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash over whitespace tokens.

    Token hash = first 15 hex chars of md5 → BIGINT (portable to DuckDB as
    ('0x'||substr(md5(t),1,15))::UBIGINT). Bit b of the fingerprint is set
    iff the sum over tokens of (bit_b(h) ? +1 : -1) is positive.
    """
    # Shape note (optimization r6, measured): a one-aggregation variant
    # (60 conditional-sum aggregates, s_b > 0 iff 2*c_b > n — exact
    # integer equivalence, verified bit-identical) halves EXECUTION at
    # sf1 (noop 5.4s -> 2.3s) by removing the token x bit row explode,
    # but the 61-aggregate plan costs ~0.4-0.9s of driver-side
    # analysis/optimization PER INVOCATION (measured plan-only 0.91s vs
    # 0.09s), which dominates at bench volumes and regresses the timed
    # query. Planning amortizes over hours at 100 TB, where the wide-agg
    # shape wins; at this repo's measured scales the exploded two-level
    # aggregation below is the faster end-to-end plan, so it stays.
    toks = _spread(documents).select(
        "doc_id", F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    bits = (
        toks.select("doc_id", h.alias("h"), F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit"))
        .select("doc_id", "bit", F.expr("(shiftright(h, bit) & 1) * 2 - 1").alias("w"))
    )
    per_bit = bits.groupBy("doc_id", "bit").agg(F.sum("w").alias("s"))
    return per_bit.groupBy("doc_id").agg(
        F.sum(F.when(F.col("s") > 0, F.expr("shiftleft(1L, bit)")).otherwise(F.lit(0))).alias("simhash")
    )


def duplicate_clusters(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """(id, component): connected components over candidate near-dup
    pairs — duplicate GROUPS, not just pairs (keep one doc per component,
    drop the rest: the actual dedup decision at corpus scale).

    Delegates to the scale-adaptive CC operator (driver union-find below
    threshold, distributed min-label loop above).
    """
    from fastobo_py_spark.operators.components import connected_components

    return connected_components(pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")))


def simhash_hamming_pairs(
    documents: DataFrame, max_hamming: int = 3, n_bits: int = 60, n_bands: int = 4
) -> DataFrame:
    """(doc_a, doc_b, hamming): near-dup pairs with SimHash Hamming
    distance ≤ ``max_hamming``, found WITHOUT an all-pairs product.

    The 60-bit fingerprint splits into ``n_bands`` equal bands; candidates
    come from a self-join on (band_ix, band_value). By pigeonhole this is
    EXACT (recall 1.0) for ``max_hamming ≤ n_bands - 1``: at most
    ``max_hamming`` bands can differ, so some band matches. The verify
    step computes the true popcount distance on candidates only — the
    same two-stage shape as the MinHash path above.
    """
    assert max_hamming <= n_bands - 1, "band count too low for exact recall"
    width = n_bits // n_bands
    mask = (1 << width) - 1
    sig = simhash(documents, n_bits)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band_ix"),
    ).select(
        "doc_id",
        "simhash",
        "band_ix",
        F.expr(f"shiftright(simhash, band_ix * {width}) & {mask}").alias("band_val"),
    )
    left = bands.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "band_ix", "band_val")
    right = bands.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "band_ix", "band_val")
    cand = (
        left.join(right, ["band_ix", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.expr("sig_a ^ sig_b"))
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).where(F.col("hamming") <= max_hamming)


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_tables: int = 4,
    n_planes: int = 4,
    seed: int = 7,
) -> DataFrame:
    """(vec_a, vec_b): LSH-bucketed near-duplicate pairs — the 100 TB path.

    AND-OR amplification: ``n_tables`` hash tables of ``n_planes``
    hyperplane sign bits each; candidate pairs share a full bucket in at
    least one table (bucket equi-join per table, never all-pairs), then
    exact cosine verifies ≥ threshold. Recall < 1 by design — the scale
    trade the all-pairs baseline (:func:`embedding_near_dup_pairs`)
    cannot make.
    """
    from fastobo_py_spark.operators.similarity import signature_udf

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("sig", signature_udf(n_tables * n_planes, seed)(F.col("v")))
    # one signature UDF pass; each table's bucket is a substring slice
    tables = e.select(
        "vec_id",
        "v",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1))).alias("t"),
    ).select(
        "vec_id",
        "v",
        "t",
        F.expr(f"substring(sig, t * {n_planes} + 1, {n_planes})").alias("bucket"),
    )
    a = tables.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), "t", "bucket")
    b = tables.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), "t", "bucket")
    cand = (
        a.join(b, ["t", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    # sequential-fold cosine, the same JVM fold the DuckDB oracle mirrors
    cos = _dot_hof(F.col("va"), F.col("vb")) / (_norm_hof(F.col("va")) * _norm_hof(F.col("vb")))
    return cand.where(cos >= threshold).select("vec_a", "vec_b")


def embedding_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.9) -> DataFrame:
    """(vec_a, vec_b): all pairs with cosine >= threshold.

    All-pairs is the oracle-scale baseline; production path buckets with
    random-hyperplane LSH (similarity.lsh_buckets) so each bucket joins
    only against itself.
    """
    e = embeddings.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
        _norm_hof(F.col("embedding").cast("array<double>")).alias("nrm"),
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos = _dot_hof(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return pairs.select("vec_a", "vec_b").where(cos >= threshold)
