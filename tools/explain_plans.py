"""Dump physical plans of representative queries + a crawl wave stage to
BENCH/PLANS.md — evidence that filters/pruning reach the parquet scan,
small sides broadcast, and hot paths stay inside WholeStageCodegen
(SURVEY.md §4).

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PICKS = [
    # (name, what the plan must show)
    ("pricing_summary", "partial+final hash agg; shipdate filter + column "
                        "pruning pushed to the parquet scan"),
    ("broadcast_part_revenue", "BroadcastHashJoin with part as build side"),
    ("predicates", "PushedFilters on l_quantity/l_returnflag at the scan"),
    ("window_rank_orders", "single window exchange, rank filter above"),
    ("lsh_near_dup_pairs", "self-join on band_hash only; word arrays "
                           "joined back after pair dedup"),
    ("ann_lsh_pairs", "bucket-key equi-join, HOF projections in codegen"),
    ("bucketed_colocated_join", "SortMergeJoin with NO Exchange on either\n                               side (bucketed+sorted scans; only the final\n                               groupBy exchanges)"),
    ("search_tfidf", "ONE token scan: per-doc conditional tf counts\n                     (localCheckpoint), single-row stats relation joined\n                     via 1-row BroadcastNestedLoop; no repeated\n                     Generate posexplode (the localCheckpoint\n                     boundary shows as a scan over the materialized RDD)"),
    ("simhash", "ONE narrow projection: 32 bit votes\n                fold per document inside nested aggregate() HOFs — zero\n                Exchange, no token explode, no groupBy"),
    ("simhash_near_pairs", "Hamming-chunk banding: equi-join on\n                           (chunk_idx, chunk_value), bit_count verify on\n                           candidates — NO all-pairs BNL"),
    ("ivf_ann_topk", "the 16-centroid dot HOF chain appears ONCE per side\n                     (materialized `dots` projection), assignment and\n                     probe both derive from that column"),
    ("ngram_jaccard_pairs", "broadcast of the deterministic query stratum's\n                            shingle sets; ONE corpus scan streams past it\n                            (BroadcastNestedLoop on the != predicate is\n                            correct here: the build side is |S| = n/25\n                            rows, the exact-Jaccard filter runs on the\n                            stream) — no all-pairs shuffle"),
    ("ann_lsh_recall_sampled", "both the sampled truth (broadcast stratum x\n                               one corpus scan) and the LSH pair chain\n                               materialize once (localCheckpoint); the\n                               final one-row aggregate joins three\n                               single-row relations"),
]


def main(sf_dir: str) -> None:
    from pyspark.sql import SparkSession

    from commentsearchengine_spark.relational.registry import QUERIES

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("explain")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# Physical plans (generated by tools/explain_plans.py)", ""]
    for name, why in PICKS:
        fn, _sql = QUERIES[name]
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"_Expected shape_: {why}", "",
                "```", buf.getvalue().rstrip(), "```", ""]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(path)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
