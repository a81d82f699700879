#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (SURVEY.md §7 M8).

Cluster usage (the north-rule ship path — BASELINE.json:14 "run via
spark-submit --py-files"):

    python bin/package.py                       # -> dist/cse_spark.zip
    spark-submit \
        --master yarn --deploy-mode client \
        --num-executors $N --executor-cores 4 \
        --py-files dist/cse_spark.zip \
        bin/crawl_submit.py --root hdfs:///crawls/run1 \
        --seeds 100000 --waves 8

Local smoke:

    spark-submit --master 'local[8]' --py-files dist/cse_spark.zip \
        bin/crawl_submit.py --root /tmp/crawl1 --seeds 100 --waves 3

The script only uses SparkSession.builder.getOrCreate() so every cluster
parameter (master, executor count/cores, memory) comes from spark-submit
— that is what makes the same artifact runnable at N and 4N executors
for the scaling measurement.

Resume: point --root at an existing catalog; the current snapshot pins
wave number, global_seq, and every table's file list, so the run
continues exactly where the last atomic commit left off (op K2).
"""

from __future__ import annotations

import argparse
import json


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--root", required=True,
                   help="catalog root directory (local or DFS mount)")
    p.add_argument("--seeds", type=int, default=100)
    p.add_argument("--waves", type=int, default=5)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--hosts", type=int, default=200)
    p.add_argument("--seed-spread-hosts", type=int, default=0)
    p.add_argument("--budget-scale", type=float, default=1.0)
    p.add_argument("--arrow-batch-rows", type=int, default=4096)
    return p.parse_args()


def main() -> None:
    args = parse_args()
    from pyspark.sql import SparkSession

    from commentsearchengine_spark.config import EngineConfig
    from commentsearchengine_spark.plans.wave import run_crawl

    spark = SparkSession.builder.appName("cse-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cfg = EngineConfig(
        n_seeds=args.seeds,
        n_waves=args.waves,
        n_buckets=args.buckets,
        n_hosts=args.hosts,
        seed_spread_hosts=args.seed_spread_hosts,
        budget_scale=args.budget_scale,
        arrow_batch_rows=args.arrow_batch_rows,
    )
    cat = run_crawl(spark, args.root, cfg)
    snap = cat.load_snapshot()
    print(json.dumps({
        "snapshot_id": snap.snapshot_id,
        "wave": snap.wave,
        "global_seq": snap.state.get("global_seq"),
        "metrics": snap.metrics,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
