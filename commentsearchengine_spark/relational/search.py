"""Search-engine query surface (SURVEY.md §2.C) over `documents`.

The reference project is a comment *search engine* (tokenize -> stopword
removal -> inverted index with positional postings -> boolean / phrase /
prefix / tf-idf ranked queries, SURVEY.md §0.2 [R-MED], ref:∅ — empty
snapshot).  Here the same capabilities are Spark-native DataFrames: the
"inverted index" is `term -> sorted postings` built with explode +
groupBy, and every query family is a join/agg over the token relation —
which shards by term across executors instead of a single on-disk
dictionary file.

Shared token definition (both engines + DuckDB oracle):
tokens = non-empty pieces of lower(text) split on /[^a-z0-9]+/, with
0-based positions over the cleaned sequence; stopwords = {'the', 'a'}.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .util import load

STOPWORDS = ("the", "a")
_STOP_IN = "('the', 'a')"

# token relation: (doc_id, pos, term), stopwords kept (positions are over
# the cleaned sequence; queries filter stopwords where relevant)
_SQL_TOKENS = """
  SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.term AS term
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(arr)),
                                 i -> {'pos': i, 'term': arr[i + 1]})) AS u
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                                                   '[^a-z0-9]+'),
                             x -> x <> '') AS arr
          FROM documents))
"""


def tokens_df(spark: SparkSession, sf: str) -> DataFrame:
    (docs,) = load(spark, sf, "documents")
    arr = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    return docs.select(
        "doc_id", F.posexplode(arr).alias("pos", "term")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "term")


def q_tokenize_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Term statistics after stopword removal (tokenize + casefold)."""
    t = tokens_df(spark, sf).filter(~F.col("term").isin(*STOPWORDS))
    return t.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("n_occurrences"),
    )


SQL_TOKENIZE_COUNTS = f"""
WITH tokens AS ({_SQL_TOKENS})
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS n_occurrences
FROM tokens WHERE term NOT IN {_STOP_IN} GROUP BY term
"""


def q_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """term -> sorted positional postings, stringified for stable hashes.

    The reference's dictionary-file + postings-file pair becomes a single
    distributed relation; `sort_array(collect_list(struct(...)))` gives
    the reference's (doc_id, position)-sorted posting order."""
    t = tokens_df(spark, sf).filter(~F.col("term").isin(*STOPWORDS))
    postings = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("doc_id", "pos"))),
            lambda s: F.concat_ws(
                ":",
                s.getField("doc_id").cast("string"),
                s.getField("pos").cast("string"),
            ),
        ),
        ";",
    )
    return t.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        postings.alias("postings"),
    )


SQL_INVERTED_INDEX = f"""
WITH tokens AS ({_SQL_TOKENS})
SELECT term, count(DISTINCT doc_id) AS df,
       string_agg(doc_id || ':' || pos, ';' ORDER BY doc_id, pos)
         AS postings
FROM tokens WHERE term NOT IN {_STOP_IN} GROUP BY term
"""


def q_boolean_query(spark: SparkSession, sf: str) -> DataFrame:
    """Boolean retrieval: spark AND join AND NOT vector.

    The reference's posting-set algebra (intersect/except over posting
    lists) collapses to ONE scan + ONE per-doc aggregate: conditional
    counts per query term, then a filter on the counts.  The earlier
    semi/anti-join form scanned + exploded `documents` four times;
    this plan shows exactly one
    Generate posexplode."""
    t = tokens_df(spark, sf)
    has = t.groupBy("doc_id").agg(
        *[
            F.count(F.when(F.col("term") == q, 1)).alias(f"n_{q}")
            for q in ("spark", "join", "vector")
        ]
    )
    return has.filter(
        (F.col("n_spark") > 0) & (F.col("n_join") > 0)
        & (F.col("n_vector") == 0)
    ).select("doc_id")


SQL_BOOLEAN_QUERY = f"""
WITH tokens AS ({_SQL_TOKENS})
SELECT DISTINCT doc_id FROM tokens t
WHERE EXISTS (SELECT 1 FROM tokens x
              WHERE x.doc_id = t.doc_id AND x.term = 'spark')
  AND EXISTS (SELECT 1 FROM tokens x
              WHERE x.doc_id = t.doc_id AND x.term = 'join')
  AND NOT EXISTS (SELECT 1 FROM tokens x
                  WHERE x.doc_id = t.doc_id AND x.term = 'vector')
"""


def q_phrase_query(spark: SparkSession, sf: str) -> DataFrame:
    """Phrase query "batch batch" via positional-postings adjacency join
    (pos2 = pos1 + 1), the reference's phrase algorithm distributed."""
    t = tokens_df(spark, sf)
    t1 = t.filter(F.col("term") == "batch").select(
        "doc_id", F.col("pos").alias("p1"))
    t2 = t.filter(F.col("term") == "batch").select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2"))
    return (
        t1.join(t2, (t1.doc_id == t2.d2) & (t2.p2 == t1.p1 + 1))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
    )


SQL_PHRASE_QUERY = f"""
WITH tokens AS ({_SQL_TOKENS})
SELECT t1.doc_id, count(*) AS n_matches
FROM tokens t1 JOIN tokens t2
  ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
WHERE t1.term = 'batch' AND t2.term = 'batch'
GROUP BY t1.doc_id
"""


def q_prefix_query(spark: SparkSession, sf: str) -> DataFrame:
    """Wildcard `s*` query: term-dictionary prefix scan -> df per term."""
    t = tokens_df(spark, sf).filter(F.col("term").startswith("s"))
    return t.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))


SQL_PREFIX_QUERY = f"""
WITH tokens AS ({_SQL_TOKENS})
SELECT term, count(DISTINCT doc_id) AS df
FROM tokens WHERE term LIKE 's%' GROUP BY term
"""


def q_tfidf_search(spark: SparkSession, sf: str) -> DataFrame:
    """tf-idf ranked search for {spark, join, window}: top-10 docs.

    Scores are rounded to 6 dp BEFORE ranking so float reduction order
    can never flip the top-k boundary (SURVEY.md §3.2); ties break on
    doc_id."""
    terms = ("spark", "join", "window")
    t = tokens_df(spark, sf)
    # ONE scan + ONE per-doc aggregate derives everything: per-doc term
    # frequencies (tf), and from that tiny relation both the corpus size
    # (n_docs = docs with >=1 token) and the document frequencies
    # (df = docs with tf > 0).  The previous form re-scanned + exploded
    # `documents` three times — once each for tf, df and n_docs;
    # at 100 TB the token explosion is
    # the dominant cost and must run exactly once.  per_doc is
    # materialized once (lazy localCheckpoint, self-releasing — the
    # repo convention, see relational/pipeline.py) because the stats
    # aggregate and the scoring pass both read it.
    per_doc = t.groupBy("doc_id").agg(
        *[
            F.count(F.when(F.col("term") == q, 1)).alias(f"tf_{q}")
            for q in terms
        ]
    ).localCheckpoint(eager=False)
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        *[
            F.count(F.when(F.col(f"tf_{q}") > 0, 1))
            .cast("double").alias(f"df_{q}")
            for q in terms
        ],
    )
    # tf=0 terms must contribute exactly 0.0 (not 0 * ln(n/0) = NaN when
    # a term is absent from the whole corpus)
    contrib = [
        F.when(
            F.col(f"tf_{q}") > 0,
            F.col(f"tf_{q}") * F.log(F.col("n_docs") / F.col(f"df_{q}")),
        ).otherwise(F.lit(0.0))
        for q in terms
    ]
    scored = (
        per_doc.filter(
            sum(F.col(f"tf_{q}") for q in terms) > 0)
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(sum(contrib[1:], contrib[0]), 6).alias("score"),
        )
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("doc_id", "score", "rank")
    )


SQL_TFIDF_SEARCH = f"""
WITH tokens AS ({_SQL_TOKENS}),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tokens),
qt AS (SELECT * FROM tokens WHERE term IN ('spark', 'join', 'window')),
tf AS (SELECT doc_id, term, count(*) AS tf FROM qt GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY term),
scored AS (
  SELECT doc_id, round(sum(tf * ln(CAST(n_docs AS DOUBLE) / df)), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n GROUP BY doc_id)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS rank
  FROM scored) WHERE rank <= 10
"""


def q_stemmed_index(spark: SparkSession, sf: str) -> DataFrame:
    """Stemmed term dictionary (Porter stemmer as a vectorized pandas
    UDF — the reference's stemming stage, SURVEY.md §2.C gap closed).
    Rows-only: Porter is not expressible in DuckDB SQL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def stem(terms: pd.Series) -> pd.Series:
        from ..functions.stemmer import porter_stem

        return terms.map(porter_stem)

    t = tokens_df(spark, sf).filter(~F.col("term").isin(*STOPWORDS))
    return (
        t.withColumn("stem", stem("term"))
        .groupBy("stem")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.countDistinct("term").alias("n_surface_forms"),
            F.count("*").alias("n_occurrences"),
        )
    )


QUERIES: dict[str, tuple] = {
    "search_tokenize_counts": (q_tokenize_counts, SQL_TOKENIZE_COUNTS),
    "search_stemmed_index": (q_stemmed_index, None),
    "search_inverted_index": (q_inverted_index, SQL_INVERTED_INDEX),
    "search_boolean": (q_boolean_query, SQL_BOOLEAN_QUERY),
    "search_phrase": (q_phrase_query, SQL_PHRASE_QUERY),
    "search_prefix": (q_prefix_query, SQL_PREFIX_QUERY),
    "search_tfidf": (q_tfidf_search, SQL_TFIDF_SEARCH),
}
