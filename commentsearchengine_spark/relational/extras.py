"""Remaining §2.B operator categories: Python UDTF, grouped-agg pandas
UDF, scalar pandas UDF, and CSV/JSON source round-trips.

The UDTF reimplements the shared token relation, so its DuckDB oracle is
exact — the driver's value-hash check then covers the UDTF row-expansion
path, not just its row count.
"""

from __future__ import annotations

import math
import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from .search import _SQL_TOKENS
from .util import load


def q_udtf_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF (Spark 4.x): 1 -> N row expansion per document,
    lateral-joined — the same shape as the engine's outlink expansion."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, term string")
    class Tokenize:
        def eval(self, text: str):  # noqa: D401
            toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
            for pos, term in enumerate(toks):
                yield pos, term

    spark.udtf.register("cse_tokenize", Tokenize)
    (docs,) = load(spark, sf, "documents")
    docs.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.term
        FROM udtf_docs d, LATERAL cse_tokenize(d.text) t
        """
    )


SQL_UDTF_TOKENIZE = f"""
SELECT doc_id, pos, term FROM ({_SQL_TOKENS})
"""


def q_grouped_agg_pandas(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: geometric mean of event values."""

    @pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        import numpy as np

        return float(math.exp(np.log(v.to_numpy()).mean()))

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # grouped-agg pandas UDFs cannot mix with JVM aggregates in one
        # agg() — so the count is a pandas aggregate too
        return len(v)

    (events,) = load(spark, sf, "events")
    return events.groupBy("event_type").agg(
        F.round(geo_mean("value"), 4).alias("geo_mean_value"),
        n_rows("value").alias("n"),
    )


SQL_GROUPED_AGG_PANDAS = """
SELECT event_type, round(exp(avg(ln(value))), 4) AS geo_mean_value,
       count(*) AS n
FROM events GROUP BY event_type
"""


def q_scalar_pandas_udf(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar (series->series) pandas UDF with an exact SQL oracle."""

    @pandas_udf("double")
    def signed_log(v: pd.Series) -> pd.Series:
        import numpy as np

        a = v.to_numpy()
        return pd.Series(np.sign(a) * np.log1p(np.abs(a)))

    (events,) = load(spark, sf, "events")
    return events.select(
        "event_id",
        F.round(signed_log("value"), 6).alias("signed_log_value"),
    )


SQL_SCALAR_PANDAS_UDF = """
SELECT event_id,
       round(sign(value) * ln(1 + abs(value)), 6) AS signed_log_value
FROM events
"""


def q_grouped_map_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-map applyInPandas: z-normalize event values per type.
    Exact oracle: the same algebra as SQL window avg/stddev_samp."""

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        sd = v.std(ddof=1)
        pdf["z"] = ((v - v.mean()) / sd).round(4)
        return pdf[["event_id", "event_type", "z"]]

    (events,) = load(spark, sf, "events")
    return events.groupBy("event_type").applyInPandas(
        normalize, schema="event_id long, event_type string, z double"
    )


SQL_GROUPED_MAP_NORMALIZE = """
SELECT event_id, event_type,
       round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) AS z
FROM events WINDOW w AS (PARTITION BY event_type)
"""


def _roundtrip_dir(sf: str, fmt: str) -> str:
    key = os.path.basename(os.path.normpath(sf))
    return os.path.join(tempfile.gettempdir(), f"cse_{fmt}_{key}")


def q_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CSV sink+source: write `nation` as CSV, read it back with an
    explicit schema, aggregate.  Ints and quoted strings survive the
    text format exactly, so the DuckDB oracle (reading the original
    parquet) value-checks the whole write→read→agg pipeline, as it does
    for orc_roundtrip."""
    (nation,) = load(spark, sf, "nation")
    path = _roundtrip_dir(sf, "csv")
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(
        "n_nationkey int, n_name string, n_regionkey int"
    ).option("header", True).csv(path)
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_nation"),
    )


SQL_CSV_ROUNDTRIP = """
SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_nation
FROM nation GROUP BY n_regionkey
"""


def q_json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines sink+source round-trip over `region` — values survive
    the JSON escape round-trip exactly, so the DuckDB oracle on the
    original parquet checks them."""
    (region,) = load(spark, sf, "region")
    path = _roundtrip_dir(sf, "json")
    region.coalesce(1).write.mode("overwrite").json(path)
    back = spark.read.schema("r_regionkey int, r_name string").json(path)
    return back.orderBy("r_regionkey").select("r_regionkey", "r_name")


SQL_JSON_ROUNDTRIP = """
SELECT r_regionkey, r_name FROM region
"""


def q_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ORC sink+source round-trip over `nation` — the third columnar
    format Spark ships natively (after parquet).  The values survive the
    format exactly, so the DuckDB oracle (reading the original parquet)
    checks them."""
    (nation,) = load(spark, sf, "nation")
    path = _roundtrip_dir(sf, "orc")
    nation.coalesce(1).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_nation"),
    )


SQL_ORC_ROUNDTRIP = """
SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_nation
FROM nation GROUP BY n_regionkey
"""


def q_unpivot_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """unpivot/melt (Spark 4 `DataFrame.unpivot`): wide per-year revenue
    columns back to (year, revenue) rows — the inverse of the pivot
    surface, checked against a DuckDB UNPIVOT."""
    (orders,) = load(spark, sf, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        *[
            F.round(
                F.sum(
                    F.when(F.year("o_orderdate") == y, F.col("o_totalprice"))
                    .otherwise(0.0)
                ),
                2,
            ).alias(f"rev_{y}")
            for y in (1994, 1995, 1996)
        ]
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["rev_1994", "rev_1995", "rev_1996"],
        "year_col",
        "revenue",
    )


SQL_UNPIVOT_REVENUE = """
WITH wide AS (
  SELECT o_orderpriority,
         round(sum(CASE WHEN year(o_orderdate) = 1994
                        THEN o_totalprice ELSE 0 END), 2) AS rev_1994,
         round(sum(CASE WHEN year(o_orderdate) = 1995
                        THEN o_totalprice ELSE 0 END), 2) AS rev_1995,
         round(sum(CASE WHEN year(o_orderdate) = 1996
                        THEN o_totalprice ELSE 0 END), 2) AS rev_1996
  FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, year_col, revenue
FROM wide UNPIVOT (revenue FOR year_col IN (rev_1994, rev_1995, rev_1996))
"""


def q_grouped_arrow_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-map ``applyInArrow`` (Spark 4.x): per-group stats computed
    with pyarrow.compute on the raw Arrow batch — no pandas conversion
    at all, the leanest Python-side path Spark offers.  Exact oracle."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(table: pa.Table) -> pa.Table:
        v = table.column("value")
        return pa.table({
            "event_type": [table.column("event_type")[0].as_py()],
            "n": [table.num_rows],
            "min_value": [round(pc.min(v).as_py(), 2)],
            "max_value": [round(pc.max(v).as_py(), 2)],
            "sum_value": [round(pc.sum(v).as_py(), 2)],
        })

    (events,) = load(spark, sf, "events")
    return events.groupBy("event_type").applyInArrow(
        stats,
        schema=(
            "event_type string, n long, min_value double,"
            " max_value double, sum_value double"
        ),
    )


SQL_GROUPED_ARROW_STATS = """
SELECT event_type, count(*) AS n,
       round(min(value), 2) AS min_value,
       round(max(value), 2) AS max_value,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
"""


def q_map_in_arrow_doclen(spark: SparkSession, sf: str) -> DataFrame:
    """``mapInArrow`` (stateless Arrow-batch map): per-document char and
    token counts computed with pyarrow.compute, no pandas and no JVM
    round-trip per row.  Exact oracle."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def doclen(batches):
        for batch in batches:
            text = batch.column("text")
            # trim separator runs at the edges so the split emits no
            # empty edge tokens; an all-separator doc then has 0 tokens
            trimmed = pc.replace_substring_regex(
                pc.utf8_lower(text), "^[^a-z0-9]+|[^a-z0-9]+$", ""
            )
            n_toks = pc.if_else(
                pc.equal(trimmed, ""),
                pa.scalar(0, pa.int32()),
                pc.list_value_length(
                    pc.split_pattern_regex(trimmed, "[^a-z0-9]+")
                ),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(n_toks, pa.int64()),
                ],
                ["doc_id", "n_chars", "n_tokens"],
            )

    (docs,) = load(spark, sf, "documents")
    return docs.select("doc_id", "text").mapInArrow(
        doclen, schema="doc_id long, n_chars long, n_tokens long"
    )


SQL_MAP_IN_ARROW_DOCLEN = """
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS BIGINT) AS n_tokens
FROM documents
"""


def q_bucketed_colocated_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed co-located join (SURVEY §4 'bucketing / pre-partitioning'
    scale lever): both sides written bucketed+sorted on the join key, so
    the SortMergeJoin runs with ZERO Exchange — at 100 TB this is the
    difference between re-shuffling two fact tables every query and a
    scan-side merge.  BENCH/PLANS.md carries the exchange-free plan.

    Results are identical to the plain join, so the DuckDB oracle checks
    values exactly; the bucketed layout is the Spark-side physical
    demonstration."""
    orders, customer = load(spark, sf, "orders", "customer")
    key = os.path.basename(os.path.normpath(sf)).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"cse_bucketed_{key}")
    for name, df, col in (
        (f"orders_bkt_{key}", orders.select(
            "o_orderkey", "o_custkey", "o_totalprice"), "o_custkey"),
        (f"customer_bkt_{key}", customer.select(
            "c_custkey", "c_mktsegment"), "c_custkey"),
    ):
        if not spark.catalog.tableExists(name):
            (df.write.bucketBy(8, col).sortBy(col)
             .option("path", os.path.join(base, name))
             .mode("overwrite").saveAsTable(name))
    ob = spark.table(f"orders_bkt_{key}")
    cb = spark.table(f"customer_bkt_{key}")
    # merge hint: at testdata scale Catalyst would broadcast the tiny
    # side, hiding the exhibit — at fact-x-fact scale SMJ is the only
    # option and bucketing is what removes its exchanges
    return (
        ob.join(cb.hint("merge"), ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


SQL_BUCKETED_COLOCATED_JOIN = """
SELECT c_mktsegment, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_regression_aggs(spark: SparkSession, sf: str) -> DataFrame:
    """Regression/covariance aggregate family (regr_slope/intercept/r2,
    covar_samp) — quantity vs extended price per return flag."""
    (li,) = load(spark, sf, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.covar_samp(y, x), 4).alias("cov_yx"),
        F.regr_count(y, x).alias("n"),
    )


SQL_REGRESSION_AGGS = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       round(covar_samp(l_extendedprice, l_quantity), 4) AS cov_yx,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_hll_sketch_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Native HLL sketches (Spark 4.x): per-priority customer sketches
    merged with hll_union_agg into a grand-total estimate — the
    re-aggregatable form approx_count_distinct can't give you (at 100 TB
    you store per-partition sketches and union them, never recount).
    Rows-only: the estimate is estimator-specific."""
    (orders,) = load(spark, sf, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count("*").alias("n_orders"),
    )
    return per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
            "approx_total_customers"
        ),
        F.sum("n_orders").alias("n_orders"),
        F.count("*").alias("n_sketches"),
    )


QUERIES: dict[str, tuple] = {
    "udtf_tokenize": (q_udtf_tokenize, SQL_UDTF_TOKENIZE),
    "bucketed_colocated_join": (
        q_bucketed_colocated_join, SQL_BUCKETED_COLOCATED_JOIN),
    "regression_aggs": (q_regression_aggs, SQL_REGRESSION_AGGS),
    "hll_sketch_distinct": (q_hll_sketch_distinct, None),
    "grouped_agg_pandas": (q_grouped_agg_pandas, SQL_GROUPED_AGG_PANDAS),
    "scalar_pandas_udf": (q_scalar_pandas_udf, SQL_SCALAR_PANDAS_UDF),
    "grouped_map_normalize": (
        q_grouped_map_normalize, SQL_GROUPED_MAP_NORMALIZE),
    "csv_roundtrip": (q_csv_roundtrip, SQL_CSV_ROUNDTRIP),
    "json_roundtrip": (q_json_roundtrip, SQL_JSON_ROUNDTRIP),
    "orc_roundtrip": (q_orc_roundtrip, SQL_ORC_ROUNDTRIP),
    "unpivot_revenue": (q_unpivot_revenue, SQL_UNPIVOT_REVENUE),
    "grouped_arrow_stats": (q_grouped_arrow_stats, SQL_GROUPED_ARROW_STATS),
    "map_in_arrow_doclen": (q_map_in_arrow_doclen, SQL_MAP_IN_ARROW_DOCLEN),
}
