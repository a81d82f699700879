"""Assembled driver-facing query registry (SURVEY.md §2.B/C + pipeline).

`QUERIES[name] = (fn, oracle_sql_or_None)` where
`fn(spark, sf_dir) -> DataFrame` and the SQL runs under DuckDB against
views named region/nation/customer/supplier/part/orders/lineitem/
events/documents/embeddings over the same parquet files.

The driver's correctness gate checks exactly the FIRST ``GATE_WINDOW``
entries of the dict, in insertion order.  ``GATE_ORDER`` pins that
window explicitly, so adding a query can never silently evict a gated
one.  Invariants, checked at import and by
``tests/test_registry_gate.py``: ``GATE_ORDER`` holds exactly
``GATE_WINDOW`` unique, known names; a window entry without oracle SQL
must be allow-listed in ``GATE_ROWS_ONLY_OK`` (rows-only by design); and
every other query follows the window, never inside it.
"""

from __future__ import annotations

from . import core, engine_queries, extras, pipeline, search, streaming_queries

GATE_WINDOW = 50

# The gated window, in driver order.
GATE_ORDER = [
    # -- crawl / streaming / image / format / estimator demos: rows-only
    # (GATE_ROWS_ONLY_OK) except csv/json_roundtrip, which value-check --
    "crawl_log",
    "crawl_frontier_depth",
    "crawl_lineage",
    "pages_payload_verify",
    "image_feature_extract",
    "image_resize_thumbs",
    "streaming_watermark_counts",
    "streaming_token_bucket",
    "streaming_icelite_sink",
    "csv_roundtrip",
    "json_roundtrip",
    "hll_sketch_distinct",
    "approx_distinct",
    "search_stemmed_index",
    # -- oracle-paired relational, text, UDF and format entries ----------
    "median_quantity",
    "window_rank_orders",
    "topk_orders",
    "set_ops_all",
    "pivot_region_revenue",
    "date_funcs",
    "json_props",
    "session_windows",
    "fingerprint",
    "langid",
    "quality_score",
    "token_counts",
    "ann_lsh_buckets",
    "array_hof",
    "udtf_tokenize",
    "bucketed_colocated_join",
    "regression_aggs",
    "grouped_agg_pandas",
    "scalar_pandas_udf",
    "grouped_map_normalize",
    "orc_roundtrip",
    "unpivot_revenue",
    "grouped_arrow_stats",
    "map_in_arrow_doclen",
    # -- oracle-paired HOF, near-dup pair, search and join plans ---------
    "simhash",
    "simhash_near_pairs",
    "ngram_jaccard_pairs",
    "ann_lsh_recall_sampled",
    "cosine_near_dup_pairs",
    "search_tfidf",
    "pricing_summary",
    "lsh_near_dup_pairs",
    "broadcast_part_revenue",
    "window_lag_events",
    "exists_subquery",
    "minhash_signatures",
]

# Rows-only-by-design entries allowed inside the gate window (no DuckDB
# oracle can express them; the driver records a rows>0 check instead).
GATE_ROWS_ONLY_OK = {
    "video_frame_sample",
    "approx_distinct",
    "search_stemmed_index",
    "hll_sketch_distinct",
    "crawl_log",
    "crawl_frontier_depth",
    "crawl_lineage",
    "pages_payload_verify",
    "image_feature_extract",
    "image_resize_thumbs",
    "streaming_watermark_counts",
    "streaming_token_bucket",
    "streaming_icelite_sink",
}

# Import-time invariants raise real exceptions (not asserts, which
# python -O strips and would leave the driver's gate window unguarded
# outside pytest).
_ALL: dict[str, tuple] = {}
for mod in (core, search, pipeline, extras, engine_queries, streaming_queries):
    overlap = _ALL.keys() & mod.QUERIES.keys()
    if overlap:
        raise RuntimeError(f"duplicate query names: {overlap}")
    _ALL.update(mod.QUERIES)

_missing = [k for k in GATE_ORDER if k not in _ALL]
if _missing:
    raise RuntimeError(f"GATE_ORDER names unknown queries: {_missing}")
if not (len(GATE_ORDER) == len(set(GATE_ORDER)) == GATE_WINDOW):
    raise RuntimeError(
        f"GATE_ORDER must hold exactly {GATE_WINDOW} unique names, got "
        f"{len(GATE_ORDER)} ({len(set(GATE_ORDER))} unique)"
    )

QUERIES: dict[str, tuple] = {k: _ALL[k] for k in GATE_ORDER}
QUERIES.update((k, v) for k, v in _ALL.items() if k not in QUERIES)


def spark_queries() -> dict:
    return {name: fn for name, (fn, _sql) in QUERIES.items()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: sql.strip()
        for name, (_fn, sql) in QUERIES.items()
        if sql is not None
    }
