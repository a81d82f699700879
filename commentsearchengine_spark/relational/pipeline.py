"""Training-data pipeline operators over `documents` / `embeddings`.

Large-scale dataset curation ops a 100 TB crawl corpus needs downstream
of the engine: exact + near deduplication (MinHash/LSH, SimHash, n-gram
Jaccard), document fingerprinting, language-ID, quality scoring, token
counting, and embedding similarity search (brute-force + hyperplane-LSH
bucketed ANN).

Everything is pure Column/HOF expressions (JVM-side, whole-stage
codegen; zero Python in the hot path) and every hash is md5-hex-based so
the DuckDB oracle can reproduce signatures bit-for-bit — the driver's
value-hash compare then checks the FULL pipeline (shingle -> minhash ->
band -> bucket-join -> verify), not just row counts.

At cluster scale: the LSH band self-join shuffles on band_hash (small:
32 bytes x docs x 4), never on raw text; the ANN bucket join shuffles on
an 8-bit bucket id, not the 64-float vectors; exact verification runs
only on candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .util import load

_HEX = "0123456789abcdef"

# words = distinct tokens of lower(text) split on /[^a-z0-9]+/
_WORDS = (
    "array_distinct(filter(split(lower(text), '[^a-z0-9]+'), x -> x != ''))"
)
_SQL_WORDS = (
    "list_distinct(list_filter(regexp_split_to_array(lower(text),"
    " '[^a-z0-9]+'), x -> x <> ''))"
)
# all token occurrences (for frequency-weighted ops)
_TOKS = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
_SQL_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
    " x -> x <> '')"
)

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
JACCARD_THRESHOLD = 0.5

# near-dup shingles = word BIGRAMS: unigrams are degenerate on a small
# shared vocabulary (the majority of random pairs would qualify as
# "near-dup"), while bigram overlap isolates genuinely duplicated
# passages — and keeps LSH candidates sparse at scale.
# Spark's sequence(a, b) steps DOWNWARD when a > b (sequence(0, -1) =
# [0, -1]), so the naive bound over a 0/1-token doc indexes w[size]
# and, under this Spark's default ANSI mode, throws INVALID_ARRAY_INDEX
# — the whole query dies on one short document.  DuckDB's
# range() is empty for non-positive bounds, so only the Spark side
# needs the CASE guard; array() resolves to array<string>, matching the
# transform branch.
_SHINGLES = (  # over a column `w` holding the word array
    "CASE WHEN size(w) >= 2 THEN"
    " array_distinct(transform(sequence(0, size(w) - 2),"
    " i -> concat(w[i], ' ', w[i + 1])))"
    " ELSE array() END"
)
_SQL_SHINGLES = (  # over a column `arr` holding the word array
    "list_distinct(list_transform(range(len(arr) - 1),"
    " i -> arr[i + 1] || ' ' || arr[i + 2]))"
)


def _shingled(docs: DataFrame) -> DataFrame:
    """doc_id -> distinct word-bigram shingle set."""
    return docs.select(
        "doc_id", F.expr(_TOKS).alias("w")
    ).select("doc_id", F.expr(_SHINGLES).alias("sh"))


_SQL_SHINGLED = f"""
  SELECT doc_id, {_SQL_SHINGLES} AS sh
  FROM (SELECT doc_id, {_SQL_TOKS} AS arr FROM documents)
"""
SIMHASH_BITS = 32
HAMMING_MAX = 6
# multi-table hyperplane LSH: ANN_TABLES independent tables of
# ANN_PLANES planes each.  12 planes -> 4096 buckets per table (the
# shuffle-key space; 8 planes = 256 capped parallelism and ~n/256
# quadratic buckets at corpus scale), 2 tables recover the recall a
# single finer table loses.
ANN_PLANES = 12
ANN_TABLES = 2
COSINE_THRESHOLD = 0.3


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content hash, keep min doc_id.

    At 100 TB this is the canonical first pass: shuffle 16-byte hashes,
    not documents."""
    (docs,) = load(spark, sf, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup (first-class, not just the LSH verify step)
# --------------------------------------------------------------------------

NGRAM_JACCARD_THRESHOLD = 0.2
NGRAM_SAMPLE_MOD = 25
# Past this many SAMPLED query docs the broadcast side (fat shingle
# arrays, not slim keys) would OOM with a generic Spark error; fail
# loud instead, like cosine_near_dup_pairs.
# Module-level so tests can monkeypatch it down.
NGRAM_QUERY_MAX_DOCS = 1_000_000


def q_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs for a deterministic
    query stratum (doc_id % NGRAM_SAMPLE_MOD == 0): J(q, n) =
    |shingles(q) ∩ shingles(n)| / |shingles(q) ∪ shingles(n)| ≥ 0.2.

    The brief lists n-gram Jaccard as its own dedup primitive; inside
    `lsh_near_dup_pairs` it only verifies MinHash candidates.  Here it
    is first-class with the scale shape of the sampled monitors:
    broadcast the |S| = n/25 query shingle sets and stream the corpus
    once — O(n·s) exact comparisons, no all-pairs join.  For full-corpus
    near-dup at 100 TB the MinHash-LSH path remains the production plan
    (same shingles, banded candidates, this measure as the verify)."""
    (docs,) = load(spark, sf, "documents")
    # validation-scale guard (same pattern as cosine_near_dup_pairs):
    # the broadcast stratum is |S| = n / NGRAM_SAMPLE_MOD *shingle
    # arrays*; count() is parquet-metadata cheap, and a clear error
    # beats a broadcast OOM deep inside the join
    n_queries = docs.count() // NGRAM_SAMPLE_MOD
    if n_queries > NGRAM_QUERY_MAX_DOCS:
        raise ValueError(
            f"ngram_jaccard_pairs is a validation-scale monitor: the "
            f"sampled query stratum has ~{n_queries} docs; > "
            f"{NGRAM_QUERY_MAX_DOCS} would broadcast-OOM the fat shingle "
            "arrays. Raise NGRAM_SAMPLE_MOD, or use lsh_near_dup_pairs "
            "for full-corpus near-dup."
        )
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    # CASE-guarded for < 3 tokens: greatest(size-2, 0) still yields the
    # DESCENDING sequence [1, 0] when the bound is 0 (Spark sequence
    # steps -1 when start > stop), and _toks[i+1] then throws
    # INVALID_ARRAY_INDEX under ANSI mode.  The DuckDB twin's
    # range(greatest(len-2, 0)) is empty for short docs, so only this
    # side needs the guard.
    sh = F.array_distinct(
        F.expr(
            "CASE WHEN size(_toks) >= 3 THEN"
            " transform(sequence(1, size(_toks) - 2),"
            " i -> concat_ws(' ', _toks[i-1], _toks[i], _toks[i+1]))"
            " ELSE array() END"
        )
    )
    shingled = docs.withColumn("_toks", toks).select(
        "doc_id", sh.alias("sh"))
    queries = shingled.filter(
        F.col("doc_id") % NGRAM_SAMPLE_MOD == 0
    ).select(F.col("doc_id").alias("query_doc"), F.col("sh").alias("qsh"))
    corpus = shingled.select(
        F.col("doc_id").alias("neighbor_doc"), F.col("sh").alias("nsh"))
    union_size = F.size(F.array_union("qsh", "nsh"))
    j = F.size(F.array_intersect("qsh", "nsh")) / union_size
    return (
        F.broadcast(queries)
        .join(corpus, F.col("query_doc") != F.col("neighbor_doc"))
        .filter(union_size > 0)
        .withColumn("jaccard", F.round(j, 6))
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
        .select("query_doc", "neighbor_doc", "jaccard")
    )


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(greatest(len(arr) - 2, 0)),
           i -> arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3])) AS s
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS arr
        FROM documents)),
q AS (SELECT doc_id AS query_doc, s AS qs FROM sh
      WHERE doc_id % {NGRAM_SAMPLE_MOD} = 0)
SELECT query_doc, neighbor_doc, jaccard FROM (
  SELECT q.query_doc, sh.doc_id AS neighbor_doc,
         round(len(list_intersect(q.qs, sh.s))::DOUBLE
               / len(list_distinct(list_concat(q.qs, sh.s))), 6) AS jaccard
  FROM q JOIN sh ON q.query_doc <> sh.doc_id
  WHERE len(list_distinct(list_concat(q.qs, sh.s))) > 0)
WHERE jaccard >= {NGRAM_JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# MinHash + LSH near-dup
# --------------------------------------------------------------------------

# sig[i] = min over shingles of md5(i || '|' || shingle); md5-hex min is
# a valid minwise hash and is engine-portable.  Operates over column `sh`.
_SIGS = f"""
transform(sequence(0, {N_MINHASH - 1}),
          i -> array_min(transform(sh,
                                   s -> md5(concat(cast(i as string), '|', s)))))
"""
_SQL_SIGS = f"""
list_transform(range({N_MINHASH}),
               i -> list_aggregate(
                      list_transform(sh,
                                     s -> md5(i::VARCHAR || '|' || s)),
                      'min'))
"""


def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    (docs,) = load(spark, sf, "documents")
    return _shingled(docs).select(
        "doc_id",
        F.expr(f"array_join({_SIGS}, ',')").alias("minhash_sig"),
    )


SQL_MINHASH_SIGNATURES = f"""
SELECT doc_id, array_to_string({_SQL_SIGS}, ',') AS minhash_sig
FROM ({_SQL_SHINGLED})
"""


def q_lsh_near_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dup: shingle -> minhash -> band -> bucket-join ->
    exact-Jaccard verify.

    Scale shape: ONLY (doc_id, band_hash) flows through the self-join
    and the pair-dedup — never the word arrays (at 100 TB the arrays are
    the corpus; shipping them through a shuffle-heavy self-join would be
    the bottleneck).  Word sets are re-attached to the deduped candidate
    pairs by two narrow joins for exact verification.  The banded and
    words relations are materialized once so the md5 HOF chains are
    not re-evaluated per join side — via lazy localCheckpoint, whose
    cached RDD the ContextCleaner releases once the result DataFrame is
    dropped (persist() leaked across queries unless every caller ran
    spark.catalog.clearCache())."""
    (docs,) = load(spark, sf, "documents")
    rows_per_band = N_MINHASH // N_BANDS
    shingled = _shingled(docs).localCheckpoint(eager=False)
    words = shingled.select("doc_id", F.col("sh").alias("words"))
    banded = (
        shingled.select("doc_id", F.expr(_SIGS).alias("sigs"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {N_BANDS - 1}), b -> md5(concat("
                    f"cast(b as string), '|', array_join("
                    f"slice(sigs, b * {rows_per_band} + 1, {rows_per_band}),"
                    f" '|'))))"
                )
            ).alias("band", "band_hash"),
        )
        .localCheckpoint(eager=False)
    )
    left = banded.select(
        F.col("doc_id").alias("doc_a"), "band", "band_hash"
    )
    right = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band").alias("band_r"),
        F.col("band_hash").alias("band_hash_r"),
    )
    cand = (
        left.join(
            right,
            (left.band_hash == right.band_hash_r)
            & (left.band == right.band_r)
            & (left.doc_a < right.doc_b),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    pairs = cand.join(
        words.select(F.col("doc_id").alias("doc_a"),
                     F.col("words").alias("words_a")),
        "doc_a",
    ).join(
        words.select(F.col("doc_id").alias("doc_b"),
                     F.col("words").alias("words_b")),
        "doc_b",
    )
    jac = F.size(F.array_intersect("words_a", "words_b")) / F.size(
        F.array_union("words_a", "words_b")
    )
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


SQL_LSH_NEAR_DUP_PAIRS = f"""
WITH base AS (
  SELECT doc_id, sh AS words, {_SQL_SIGS} AS sigs FROM ({_SQL_SHINGLED})),
banded AS (
  SELECT doc_id, words, u.band AS band, u.band_hash AS band_hash
  FROM (SELECT doc_id, words,
               unnest(list_transform(range({N_BANDS}),
                 b -> {{'band': b,
                        'band_hash': md5(b::VARCHAR || '|' ||
                          array_to_string(sigs[b * {N_MINHASH // N_BANDS} + 1
                                  : (b + 1) * {N_MINHASH // N_BANDS}], '|'))}}))
                 AS u
        FROM base)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.words AS words_a, b.words AS words_b
  FROM banded a JOIN banded b
    ON a.band_hash = b.band_hash AND a.band = b.band
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
         round(CAST(len(list_intersect(words_a, words_b)) AS DOUBLE)
               / len(list_distinct(list_concat(words_a, words_b))), 6)
           AS jaccard
  FROM cand)
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

# bit b of token t = parity of first hex digit of md5(t || ':' || b);
# simhash bit b set iff sum over token OCCURRENCES of (2*bit - 1) > 0.


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash per document in ONE narrow HOF pass — no shuffle at all.

    The previous plan exploded tokens x SIMHASH_BITS (a 32x row blowup
    of the token relation through TWO groupBy shuffles); at 100 TB the
    token relation IS the corpus, so that shuffle dominates everything.
    The md5-per-(term, bit) CPU is inherent to
    the (portable) hash definition, but the shuffle is not: the 32 bit
    votes fold per document inside nested aggregate() HOFs, so the
    whole query is a projection — embarrassingly parallel, zero
    Exchange.  Value-identical to the old plan and to SQL_SIMHASH
    (votes sum over token OCCURRENCES; bit b set iff its vote > 0).

    Docs with zero tokens are filtered out — the exploding plan and the
    DuckDB unnest both drop them, so keeping them would diverge."""
    (docs,) = load(spark, sf, "documents")
    votes = (
        f"aggregate(sequence(0, {SIMHASH_BITS - 1}), cast(0 as bigint),"
        " (acc, b) -> acc + IF("
        "aggregate(_toks, 0, (s, t) -> s +"
        f" ((instr('{_HEX}', substr(md5(concat(t, ':', cast(b as string))),"
        " 1, 1)) - 1) % 2) * 2 - 1"
        ") > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint)))"
    )
    return (
        docs.withColumn("_toks", F.expr(_TOKS))
        .filter(F.size("_toks") > 0)
        .select("doc_id", F.expr(votes).cast("long").alias("simhash"))
    )


SQL_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
bits AS (
  SELECT doc_id, b.b AS b,
         ((strpos('{_HEX}', substr(md5(term || ':' || b.b::VARCHAR), 1, 1))
           - 1) % 2) * 2 - 1 AS contrib
  FROM toks CROSS JOIN (SELECT unnest(range({SIMHASH_BITS})) AS b) b),
votes AS (
  SELECT doc_id, b, sum(contrib) AS v FROM bits GROUP BY doc_id, b)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
         AS simhash
FROM votes GROUP BY doc_id
"""


def _simhash_chunks_expr() -> str:
    """Array of HAMMING_MAX+1 disjoint bit-chunks of `simhash`.

    Pigeonhole banding: if hamming(a, b) <= HAMMING_MAX, at most
    HAMMING_MAX of the HAMMING_MAX+1 chunks can differ, so every
    qualifying pair shares at least one (chunk_idx, chunk_value) —
    the same band->bucket-join shape as lsh_near_dup_pairs."""
    n_chunks = HAMMING_MAX + 1
    parts, off = [], 0
    for i in range(n_chunks):
        ln = SIMHASH_BITS // n_chunks + (1 if i < SIMHASH_BITS % n_chunks else 0)
        parts.append(
            f"cast(shiftright(simhash, {off}) & {(1 << ln) - 1} as bigint)"
        )
        off += ln
    return "array(" + ", ".join(parts) + ")"


def q_simhash_near_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup: pairs within Hamming distance <= HAMMING_MAX.

    Scale shape: NOT an all-pairs join.  The 32-bit simhash splits into
    HAMMING_MAX+1 = 7 chunks; candidates equi-join on
    (chunk_idx, chunk_value) (SortMerge/BHJ-able, shuffle key is 2
    small ints), then exact bit_count verifies only the candidates.
    The simhash relation is materialized once (lazy localCheckpoint,
    self-releasing — see q_lsh_near_dup_pairs) so the expensive
    per-token bit aggregation runs once, not once per join side."""
    sh = q_simhash(spark, sf).localCheckpoint(eager=False)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(F.expr(_simhash_chunks_expr())).alias("ci", "cv"),
    )
    a = chunks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"),
        "ci", "cv",
    )
    b = chunks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"),
        F.col("ci").alias("ci_r"), F.col("cv").alias("cv_r"),
    )
    cand = (
        a.join(
            b,
            (a.ci == b.ci_r) & (a.cv == b.cv_r) & (a.doc_a < b.doc_b),
        )
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


SQL_SIMHASH_NEAR_PAIRS = f"""
WITH sh AS ({SQL_SIMHASH})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


# --------------------------------------------------------------------------
# fingerprinting / lang-id / quality / token counts
# --------------------------------------------------------------------------


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint: bottom-4 sketch of rolling char-8-gram
    hashes (a winnowing-style content fingerprint)."""
    (docs,) = load(spark, sf, "documents")
    grams = (
        "array_distinct(transform(sequence(1, length(text) - 7),"
        " i -> md5(substr(lower(text), i, 8))))"
    )
    return docs.filter(F.length("text") >= 8).select(
        "doc_id",
        F.expr(
            f"array_join(slice(array_sort({grams}), 1, 4), ',')"
        ).alias("fingerprint"),
    )


SQL_FINGERPRINT = """
SELECT doc_id,
       array_to_string(
         list_sort(list_distinct(
           list_transform(range(1, len(text) - 6),
                          i -> md5(substr(lower(text), i, 8)))))[1:4], ',')
         AS fingerprint
FROM documents WHERE len(text) >= 8
"""


_LANG_MARKERS = {
    "en": ("the", "a", "fast"),
    "es": ("data", "table", "row"),
    "de": ("merge", "join", "group"),
}


def q_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Marker-word language-ID heuristic: argmax of marker-set overlap,
    ties broken by language code ascending."""
    (docs,) = load(spark, sf, "documents")
    d = docs.withColumn("words", F.expr(_WORDS))
    scored = d.select(
        "doc_id",
        "lang",
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        (-F.size(
                            F.array_intersect(
                                "words",
                                F.array(*[F.lit(m) for m in marks]),
                            )
                        )).alias("neg_score"),
                        F.lit(code).alias("code"),
                    )
                    for code, marks in sorted(_LANG_MARKERS.items())
                ]
            )
        )[0].alias("best"),
    )
    return scored.select(
        "doc_id",
        F.col("best.code").alias("pred_lang"),
        (-F.col("best.neg_score")).cast("long").alias("marker_hits"),
        (F.col("best.code") == F.col("lang")).cast("long").alias("is_match"),
    )


def _sql_lang_score(marks: tuple) -> str:
    lits = ", ".join(f"'{m}'" for m in marks)
    return f"len(list_intersect({_SQL_WORDS}, [{lits}]))"


SQL_LANGID = f"""
WITH scored AS (
  SELECT doc_id, lang,
         list_sort([
           {", ".join(
               "{'neg_score': -" + _sql_lang_score(marks)
               + ", 'code': '" + code + "'}"
               for code, marks in sorted(_LANG_MARKERS.items())
           )}
         ])[1] AS best
  FROM documents)
SELECT doc_id, best.code AS pred_lang,
       CAST(-best.neg_score AS BIGINT) AS marker_hits,
       CAST(best.code = lang AS BIGINT) AS is_match
FROM scored
"""


def q_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic quality scoring: length / stopword-ratio / mean token
    length -> logistic score (the standard cheap pre-filter before
    training-data inclusion)."""
    (docs,) = load(spark, sf, "documents")
    d = docs.withColumn("toks", F.expr(_TOKS))
    n_toks = F.size("toks").cast("double")
    stop_hits = F.size(
        F.filter("toks", lambda x: (x == "the") | (x == "a"))
    ).cast("double")
    mean_len = F.aggregate(
        "toks", F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
    ) / n_toks
    score = 1.0 / (
        1.0
        + F.exp(
            -(
                0.5 * F.log(n_toks)
                - 2.0 * (stop_hits / n_toks)
                - 0.1 * mean_len
            )
        )
    )
    return d.select(
        "doc_id",
        n_toks.cast("long").alias("n_tokens"),
        F.round(stop_hits / n_toks, 6).alias("stopword_ratio"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(score, 6).alias("quality"),
    )


SQL_QUALITY_SCORE = f"""
WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_toks,
         CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE)
           AS stop_hits,
         list_aggregate(list_transform(toks, x -> CAST(len(x) AS DOUBLE)),
                        'sum') / CAST(len(toks) AS DOUBLE) AS mean_len
  FROM d)
SELECT doc_id,
       CAST(n_toks AS BIGINT) AS n_tokens,
       round(stop_hits / n_toks, 6) AS stopword_ratio,
       round(mean_len, 6) AS mean_token_len,
       round(1.0 / (1.0 + exp(-(0.5 * ln(n_toks) - 2.0 * (stop_hits / n_toks)
                                - 0.1 * mean_len))), 6) AS quality
FROM m
"""


def q_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex."""
    (docs,) = load(spark, sf, "documents")
    bpe = "([a-z]+|[0-9]+|[^a-z0-9\\s])"
    return docs.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", "\\s+"), lambda x: x != F.lit(""))
        ).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(bpe))).cast(
            "long"
        ).alias("bpe_tokens"),
        F.length("text").cast("long").alias("chars"),
    )


SQL_TOKEN_COUNTS = r"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                            x -> x <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\s])'))
            AS BIGINT) AS bpe_tokens,
       CAST(len(text) AS BIGINT) AS chars
FROM documents
"""


# --------------------------------------------------------------------------
# embedding similarity search
# --------------------------------------------------------------------------

_DOT = (
    "aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 as double),"
    " (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate({v}, cast(0.0 as double), (acc, x) -> acc + x * x))"
)


def _with_double_vec(df: DataFrame, out: str = "vec") -> DataFrame:
    return df.withColumn(out, F.col("embedding").cast("array<double>"))


def q_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 neighbours for the query subset
    (vec_id % 50 == 0).  The scale baseline: broadcast the small query
    side; each executor scans its shard of the corpus once."""
    (emb,) = load(spark, sf, "embeddings")
    emb = _with_double_vec(emb)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("va")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("vb")
    )
    sim = F.expr(_DOT) / (
        F.expr(_NORM.format(v="va")) * F.expr(_NORM.format(v="vb"))
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(sim, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


SQL_COSINE_TOPK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.vec, c.vec)
               / (sqrt(list_dot_product(q.vec, q.vec))
                  * sqrt(list_dot_product(c.vec, c.vec))), 6) AS cosine
  FROM (SELECT * FROM e WHERE vec_id % 50 = 0) q
  JOIN e c ON q.vec_id <> c.vec_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT)
           AS rank
  FROM pairs) WHERE rank <= 5
"""


# hyperplane-LSH: table t, plane p has ±1 components c(t,p,d) from md5
# parity; the per-table bucket id is the ANN_PLANES-bit sign pattern of
# the projections.  Seed string "t:p,d" is shared with the oracle SQL so
# signatures reproduce bit-for-bit.


def _plane_dot(t: int) -> str:
    return (
        "aggregate(zip_with(vec, transform(sequence(0, 63),"
        f" d -> cast(((instr('{_HEX}', substr(md5(concat('{t}:',"
        " cast(p as string), ',', cast(d as string))), 1, 1)) - 1) % 2)"
        " * 2 - 1 as double)), (x, c) -> x * c), cast(0.0 as double),"
        " (acc, v) -> acc + v)"
    )


def _bucket(t: int) -> str:
    return (
        f"aggregate(transform(sequence(0, {ANN_PLANES - 1}),"
        f" p -> IF({_plane_dot(t)} > 0, shiftleft(cast(1 as bigint), p),"
        f" cast(0 as bigint))), cast(0 as bigint), (acc, v) -> acc + v)"
    )


# all table buckets in ONE projection pass over the vector
_BUCKETS_ARR = (
    "array(" + ", ".join(_bucket(t) for t in range(ANN_TABLES)) + ")"
)

# SQL twin over columns `vec` and `t` (t from a range() cross join)
_SQL_PLANE_DOT = (
    "list_aggregate(list_transform(range(64),"
    " d -> vec[d + 1] * (((strpos('" + _HEX + "', substr(md5(t::VARCHAR ||"
    " ':' || p::VARCHAR || ',' || d::VARCHAR), 1, 1)) - 1) % 2) * 2 - 1)),"
    " 'sum')"
)
_SQL_BUCKET = (
    f"list_aggregate(list_transform(range({ANN_PLANES}),"
    f" p -> CASE WHEN {_SQL_PLANE_DOT} > 0 THEN (1::BIGINT << p)"
    f" ELSE 0::BIGINT END), 'sum')"
)


def q_ann_lsh_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperplane-LSH bucket assignment (the ANN scale path): 64-float
    vectors reduce to ANN_TABLES 12-bit bucket ids before any join."""
    (emb,) = load(spark, sf, "embeddings")
    emb = _with_double_vec(emb)
    return emb.select(
        "vec_id",
        F.posexplode(F.expr(_BUCKETS_ARR)).alias("tbl", "bucket"),
    ).select(
        "vec_id",
        F.col("tbl").cast("long").alias("tbl"),
        F.col("bucket").cast("long").alias("bucket"),
    )


SQL_ANN_LSH_BUCKETS = f"""
SELECT vec_id, CAST(t AS BIGINT) AS tbl, CAST({_SQL_BUCKET} AS BIGINT)
         AS bucket
FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
CROSS JOIN (SELECT unnest(range({ANN_TABLES})) AS t)
"""


def q_ann_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed ANN: candidate pairs share an LSH bucket in ANY table;
    exact cosine verification only on the deduped candidates.

    Scale shape: only (vec_id, tbl, bucket) crosses the self-join (the
    64-float vectors are re-attached to deduped candidates by two
    narrow joins, mirroring lsh_near_dup_pairs); the bucketed relation
    is materialized once (lazy localCheckpoint, self-releasing — see
    q_lsh_near_dup_pairs) so the hyperplane HOF runs once, not per
    join side."""
    (emb,) = load(spark, sf, "embeddings")
    emb = _with_double_vec(emb)
    vecs = emb.select("vec_id", "vec")
    b = emb.select(
        "vec_id",
        F.posexplode(F.expr(_BUCKETS_ARR)).alias("tbl", "bucket"),
    ).localCheckpoint(eager=False)
    left = b.select(F.col("vec_id").alias("id_a"), "tbl", "bucket")
    right = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("tbl").alias("tbl_r"),
        F.col("bucket").alias("bucket_r"),
    )
    cand = (
        left.join(
            right,
            (left.tbl == right.tbl_r)
            & (left.bucket == right.bucket_r)
            & (left.id_a < right.id_b),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = cand.join(
        vecs.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va")),
        "id_a",
    ).join(
        vecs.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb")),
        "id_b",
    )
    sim = F.expr(_DOT) / (
        F.expr(_NORM.format(v="va")) * F.expr(_NORM.format(v="vb"))
    )
    return (
        pairs.withColumn("cosine", F.round(sim, 6))
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select("id_a", "id_b", "cosine")
    )


SQL_ANN_LSH_PAIRS = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
b AS (
  SELECT vec_id, t, {_SQL_BUCKET} AS bucket
  FROM e CROSS JOIN (SELECT unnest(range({ANN_TABLES})) AS t)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM b a JOIN b b2
    ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
SELECT id_a, id_b, cosine FROM (
  SELECT c.id_a, c.id_b,
         round(list_dot_product(ea.vec, eb.vec)
               / (sqrt(list_dot_product(ea.vec, ea.vec))
                  * sqrt(list_dot_product(eb.vec, eb.vec))), 6) AS cosine
  FROM cand c
  JOIN e ea ON ea.vec_id = c.id_a
  JOIN e eb ON eb.vec_id = c.id_b)
WHERE cosine >= {COSINE_THRESHOLD}
"""


def q_cosine_near_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, EXACT brute force: every pair
    (id_a < id_b) with cosine >= COSINE_THRESHOLD.

    This is the labeled 100%-recall reference for the approximate
    paths (`ann_lsh_pairs`, `ivf_ann_topk`) — diffing its output
    against theirs measures their recall at the same threshold.  Scale
    shape: broadcast one side and stream the corpus once per executor;
    O(n^2) comparisons make it a SMALL-CORPUS/VALIDATION tool only —
    at 100 TB the LSH/IVF plans are the production paths, and the
    recall monitor that stays runnable there is
    `ann_lsh_recall_sampled` (query-stratum truth, O(n*s)).  The
    explicit guard below turns the otherwise-inevitable broadcast OOM
    past validation scale into a clear error."""
    (emb,) = load(spark, sf, "embeddings")
    n_vecs = emb.count()  # parquet metadata count: cheap, no scan
    if n_vecs > 1_000_000:
        raise ValueError(
            f"cosine_near_dup_pairs is a validation-scale tool: corpus has "
            f"{n_vecs} vectors; > 1e6 would broadcast-OOM the O(n^2) plan. "
            "Use ann_lsh_pairs / ivf_ann_topk for production and "
            "ann_lsh_recall_sampled to monitor their recall."
        )
    emb = _with_double_vec(emb)
    left = emb.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"))
    right = emb.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"))
    sim = F.expr(_DOT) / (
        F.expr(_NORM.format(v="va")) * F.expr(_NORM.format(v="vb"))
    )
    return (
        F.broadcast(left)
        .join(right, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(sim, 6))
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select("id_a", "id_b", "cosine")
    )


SQL_COSINE_NEAR_DUP_PAIRS = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.vec, b.vec)
               / (sqrt(list_dot_product(a.vec, a.vec))
                  * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
WHERE cosine >= {COSINE_THRESHOLD}
"""


def q_ann_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall of the hyperplane-LSH near-dup pairs against the exact
    brute-force ground truth at the shared threshold — the quality
    metric an ANN deployment must monitor.  One row: |truth|, |lsh|,
    |hit| and recall = hit / truth.

    Reading the number honestly: random-hyperplane LSH collides pairs
    with probability (1 - θ/π)^planes per table, so it is built for the
    HIGH-similarity regime (θ→0).  The synthetic embeddings are random
    vectors — every "near" pair at the demo threshold 0.3 sits at
    θ≈72°, where 12-plane collisions are ~0.2% — so measured recall
    here is deliberately tiny (3/990 at sf0.01).  On a corpus with real
    duplicate structure (the production case) the same bands catch
    near-identical vectors with probability ≈1; this query is what
    verifies that on YOUR data before trusting the approximate plan.

    Scale note: the ground truth here is the UNSAMPLED O(n^2)
    brute-force pair set — exact, but unrunnable past validation
    corpora.  At production scale run `ann_lsh_recall_sampled`
    instead: same metric over a deterministic query stratum, truth
    cost O(n*s)."""
    # both inputs feed two consumers (their count agg + the hit join);
    # materialize each once — lazy localCheckpoint, self-releasing, the
    # file's convention (see q_lsh_near_dup_pairs) — or the O(n^2)
    # brute-force join and the whole LSH chain would each run twice
    truth = q_cosine_near_dup_pairs(spark, sf).select(
        "id_a", "id_b").localCheckpoint(eager=False)
    approx = q_ann_lsh_pairs(spark, sf).select(
        "id_a", "id_b").localCheckpoint(eager=False)
    hit = truth.join(approx, ["id_a", "id_b"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(approx.agg(F.count(F.lit(1)).alias("n_lsh")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_true", "n_lsh", "n_hit",
            F.round(F.col("n_hit") / F.col("n_true"), 6).alias("recall"),
        )
    )


SQL_ANN_LSH_RECALL = f"""
WITH truth AS ({SQL_COSINE_NEAR_DUP_PAIRS}),
approx AS ({SQL_ANN_LSH_PAIRS})
SELECT n_true, n_lsh, n_hit,
       round(n_hit / n_true, 6) AS recall
FROM (SELECT
        (SELECT count(*) FROM truth)::BIGINT AS n_true,
        (SELECT count(*) FROM approx)::BIGINT AS n_lsh,
        (SELECT count(*) FROM truth t
          WHERE EXISTS (SELECT 1 FROM approx a
                        WHERE a.id_a = t.id_a AND a.id_b = t.id_b)
        )::BIGINT AS n_hit)
"""


# Deterministic query stratum for the scale-safe recall monitor: every
# RECALL_SAMPLE_MOD-th vector id.  Stratified-by-id (not rand()) so the
# Spark plan, the DuckDB oracle, and any re-run pick the same queries.
RECALL_SAMPLE_MOD = 10


def q_ann_lsh_recall_sampled(spark: SparkSession, sf: str) -> DataFrame:
    """Scale-safe LSH recall monitor: recall of the
    hyperplane-LSH near-dup pairs against an exact ground truth built
    ONLY for a deterministic query stratum (vec_id % RECALL_SAMPLE_MOD
    == 0).

    Truth is directional: for each sampled query q, the exact
    neighbours with cosine >= threshold — a broadcast(|S|) x corpus
    join, O(n*s) where s = n / RECALL_SAMPLE_MOD queries, NOT the
    O(n^2) all-pairs join of `ann_lsh_recall` (which stays the exact
    small-corpus reference).  The LSH pair set is folded to the same
    directional stratum ((a,b) contributes a->b when a is sampled and
    b->a when b is), so recall compares like with like.  At 10^8+
    vectors this is the monitor you can actually run: pick
    RECALL_SAMPLE_MOD so |S| stays broadcastable and the truth join is
    one corpus scan."""
    (emb,) = load(spark, sf, "embeddings")
    emb = _with_double_vec(emb)
    queries = emb.filter(
        F.col("vec_id") % RECALL_SAMPLE_MOD == 0
    ).select(F.col("vec_id").alias("query_id"), F.col("vec").alias("va"))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("vb")
    )
    sim = F.expr(_DOT) / (
        F.expr(_NORM.format(v="va")) * F.expr(_NORM.format(v="vb"))
    )
    truth = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(sim, 6))
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select("query_id", "neighbor_id")
    ).localCheckpoint(eager=False)
    pairs = q_ann_lsh_pairs(spark, sf).select("id_a", "id_b")
    approx = (
        pairs.filter(F.col("id_a") % RECALL_SAMPLE_MOD == 0)
        .select(
            F.col("id_a").alias("query_id"),
            F.col("id_b").alias("neighbor_id"),
        )
        .unionByName(
            pairs.filter(F.col("id_b") % RECALL_SAMPLE_MOD == 0).select(
                F.col("id_b").alias("query_id"),
                F.col("id_a").alias("neighbor_id"),
            )
        )
    ).localCheckpoint(eager=False)
    hit = truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(approx.agg(F.count(F.lit(1)).alias("n_lsh")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_true", "n_lsh", "n_hit",
            F.round(F.col("n_hit") / F.col("n_true"), 6).alias("recall"),
        )
    )


SQL_ANN_LSH_RECALL_SAMPLED = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
truth AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM (SELECT * FROM e WHERE vec_id % {RECALL_SAMPLE_MOD} = 0) q
  JOIN e c ON q.vec_id <> c.vec_id
  WHERE round(list_dot_product(q.vec, c.vec)
              / (sqrt(list_dot_product(q.vec, q.vec))
                 * sqrt(list_dot_product(c.vec, c.vec))), 6)
        >= {COSINE_THRESHOLD}),
lsh AS ({SQL_ANN_LSH_PAIRS}),
approx AS (
  SELECT id_a AS query_id, id_b AS neighbor_id FROM lsh
  WHERE id_a % {RECALL_SAMPLE_MOD} = 0
  UNION ALL
  SELECT id_b AS query_id, id_a AS neighbor_id FROM lsh
  WHERE id_b % {RECALL_SAMPLE_MOD} = 0)
SELECT n_true, n_lsh, n_hit, round(n_hit / n_true, 6) AS recall
FROM (SELECT
        (SELECT count(*) FROM truth)::BIGINT AS n_true,
        (SELECT count(*) FROM approx)::BIGINT AS n_lsh,
        (SELECT count(*) FROM truth t
          WHERE EXISTS (SELECT 1 FROM approx a
                        WHERE a.query_id = t.query_id
                          AND a.neighbor_id = t.neighbor_id)
        )::BIGINT AS n_hit)
"""


# ---- IVF ANN: coarse quantizer + inverted lists ---------------------------
#
# The second scale path for similarity search (brief: "IVF or LSH"):
# IVF_K deterministic ±1 centroids (md5-parity components, shared with
# the oracle), each vector assigned to its argmax-dot centroid (its
# inverted list), queries probe the IVF_NPROBE nearest lists and verify
# exact cosine only there.  At corpus scale the shuffle key is the small
# centroid id and each query touches nprobe/K of the data.

IVF_K = 16
IVF_NPROBE = 2
IVF_TOPK = 5


def _centroid_dots(vec: str = "vec") -> str:
    """Array of round(dot(vec, centroid_c), 6) for c in 0..IVF_K-1."""
    comp = (
        f"cast(((instr('{_HEX}', substr(md5(concat('ivf', cast(c as string),"
        f" ':', cast(d as string))), 1, 1)) - 1) % 2) * 2 - 1 as double)"
    )
    dot = (
        f"aggregate(zip_with({vec}, transform(sequence(0, 63), d -> {comp}),"
        " (x, w) -> x * w), cast(0.0 as double), (acc, v) -> acc + v)"
    )
    return f"transform(sequence(0, {IVF_K - 1}), c -> round({dot}, 6))"


_SQL_CENTROID_DOTS = (
    f"list_transform(range({IVF_K}), c -> round(list_aggregate("
    "list_transform(range(64), d -> vec[d + 1] *"
    " (((strpos('" + _HEX + "', substr(md5('ivf' || c::VARCHAR || ':' ||"
    " d::VARCHAR), 1, 1)) - 1) % 2) * 2 - 1)), 'sum'), 6))"
)

# argmax over the rounded dots; first index wins ties (both engines)
_SQL_ASSIGN = (
    f"list_position({_SQL_CENTROID_DOTS},"
    f" list_aggregate({_SQL_CENTROID_DOTS}, 'max')) - 1"
)


def q_ivf_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN: per-query top-k over the IVF_NPROBE nearest inverted
    lists only.  Every query id (vec_id % 50 == 0) returns its probed
    candidates ranked by exact cosine (rounded before ranking, doc-id
    tiebreak)."""
    (emb,) = load(spark, sf, "embeddings")
    emb = _with_double_vec(emb)
    # the 16x64 centroid-dot HOF chain is materialized ONCE as a `dots`
    # column; cid and the probe lists are cheap array ops over it
    # (Catalyst does not CSE aggregate-HOF chains across expression
    # copies, so inlining the chain in assign + probe put it in the
    # plan 3x)
    dotted = emb.withColumn("dots", F.expr(_centroid_dots()))
    # the coalesce(-1) is inert (dots is never null) but makes cid
    # NON-NULLABLE, so the join's inferred isnotnull(cid) constraint
    # folds away instead of being pushed below this projection — where
    # it would re-inline the whole chain twice per row
    assigned = dotted.select(
        "vec_id", "vec",
        F.expr("coalesce(array_position(dots, array_max(dots)) - 1, -1)")
        .cast("long").alias("cid"),
    )
    # query side: the NPROBE centroid ids by descending rounded dot
    probe_lists = (
        f"slice(array_sort(zip_with(dots,"
        f" sequence(0, {IVF_K - 1}), (d, c) -> struct(-d as nd, c as c))),"
        f" 1, {IVF_NPROBE})"
    )
    queries = (
        dotted.filter(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.explode(F.expr(probe_lists)).alias("p"),
        )
        .select(
            "query_id", "qvec", F.col("p.c").cast("long").alias("cid")
        )
    )
    cand = queries.join(assigned, "cid").filter(
        F.col("query_id") != F.col("vec_id")
    )
    sim = F.expr(_DOT.replace("va", "qvec").replace("vb", "vec"))
    norm_q = F.expr(_NORM.format(v="qvec"))
    norm_v = F.expr(_NORM.format(v="vec"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("cosine", F.round(sim / (norm_q * norm_v), 6))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "cosine"
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= IVF_TOPK)
    )


SQL_IVF_ANN_TOPK = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
assigned AS (
  SELECT vec_id, vec, CAST({_SQL_ASSIGN} AS BIGINT) AS cid FROM e),
q AS (
  SELECT vec_id AS query_id, vec AS qvec, dots FROM (
    SELECT vec_id, vec, {_SQL_CENTROID_DOTS} AS dots FROM e
    WHERE vec_id % 50 = 0)),
probes AS (
  SELECT query_id, qvec, c.c AS cid FROM (
    SELECT query_id, qvec,
           unnest(list_transform(range({IVF_NPROBE}),
             i -> {{'c': list_sort(list_transform(range({IVF_K}),
                      c -> {{'nd': -dots[c + 1], 'c': c}}))[i + 1].c}})) AS c
    FROM q)),
cand AS (
  SELECT p.query_id, p.qvec, a.vec_id AS neighbor_id, a.vec
  FROM probes p JOIN assigned a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT)
           AS rank
  FROM (SELECT query_id, neighbor_id,
               round(list_dot_product(qvec, vec)
                     / (sqrt(list_dot_product(qvec, qvec))
                        * sqrt(list_dot_product(vec, vec))), 6) AS cosine
        FROM cand))
WHERE rank <= {IVF_TOPK}
"""


def q_array_hof(spark: SparkSession, sf: str) -> DataFrame:
    """Array higher-order functions over embeddings: filter positives,
    square, sum; plus array_max/size."""
    (emb,) = load(spark, sf, "embeddings")
    emb = _with_double_vec(emb)
    pos_energy = F.aggregate(
        F.transform(
            F.filter("vec", lambda x: x > 0), lambda x: x * x
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.round(pos_energy, 6).alias("pos_energy"),
        F.round(F.array_max("vec"), 6).alias("max_component"),
        F.size("vec").cast("long").alias("dim"),
    )


SQL_ARRAY_HOF = """
SELECT vec_id,
       round(list_aggregate(
               list_transform(list_filter(vec, x -> x > 0), x -> x * x),
               'sum'), 6) AS pos_energy,
       round(list_aggregate(vec, 'max'), 6) AS max_component,
       CAST(len(vec) AS BIGINT) AS dim
FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
"""


def q_ivf_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@k of the IVF top-k against the exact brute-force top-k
    (same query set, same k, same rounding/tiebreak) — the quality
    monitor for the second approximate path.  One row: |truth|, |ivf|,
    |hit| and recall = hit / truth.  Unlike the LSH monitor this one
    reads well on random vectors too: nprobe/K bounds how much of the
    corpus each query sees, so recall ≈ the probability the true
    neighbours' centroids land in the probed lists."""
    truth = q_cosine_topk(spark, sf).select(
        "query_id", "neighbor_id").localCheckpoint(eager=False)
    approx = q_ivf_ann_topk(spark, sf).select(
        "query_id", "neighbor_id").localCheckpoint(eager=False)
    hit = truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(approx.agg(F.count(F.lit(1)).alias("n_ivf")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_true", "n_ivf", "n_hit",
            F.round(F.col("n_hit") / F.col("n_true"), 6).alias("recall"),
        )
    )


SQL_IVF_ANN_RECALL = f"""
WITH truth AS ({SQL_COSINE_TOPK}),
approx AS ({SQL_IVF_ANN_TOPK})
SELECT n_true, n_ivf, n_hit,
       round(n_hit / n_true, 6) AS recall
FROM (SELECT
        (SELECT count(*) FROM truth)::BIGINT AS n_true,
        (SELECT count(*) FROM approx)::BIGINT AS n_ivf,
        (SELECT count(*) FROM truth t
          WHERE EXISTS (SELECT 1 FROM approx a
                        WHERE a.query_id = t.query_id
                          AND a.neighbor_id = t.neighbor_id)
        )::BIGINT AS n_hit)
"""


QUERIES: dict[str, tuple] = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "lsh_near_dup_pairs": (q_lsh_near_dup_pairs, SQL_LSH_NEAR_DUP_PAIRS),
    "simhash": (q_simhash, SQL_SIMHASH),
    "simhash_near_pairs": (q_simhash_near_pairs, SQL_SIMHASH_NEAR_PAIRS),
    "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "langid": (q_langid, SQL_LANGID),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "token_counts": (q_token_counts, SQL_TOKEN_COUNTS),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "ann_lsh_buckets": (q_ann_lsh_buckets, SQL_ANN_LSH_BUCKETS),
    "ann_lsh_pairs": (q_ann_lsh_pairs, SQL_ANN_LSH_PAIRS),
    "ivf_ann_topk": (q_ivf_ann_topk, SQL_IVF_ANN_TOPK),
    "array_hof": (q_array_hof, SQL_ARRAY_HOF),
    "cosine_near_dup_pairs": (
        q_cosine_near_dup_pairs, SQL_COSINE_NEAR_DUP_PAIRS),
    "ann_lsh_recall": (q_ann_lsh_recall, SQL_ANN_LSH_RECALL),
    "ann_lsh_recall_sampled": (
        q_ann_lsh_recall_sampled, SQL_ANN_LSH_RECALL_SAMPLED),
    "ivf_ann_recall": (q_ivf_ann_recall, SQL_IVF_ANN_RECALL),
}
