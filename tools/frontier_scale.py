"""Frontier-machinery scale drive (no fetch): evidence that per-wave
scheduler cost is bounded by the ADMITTED + COLLIDING sets, not the
frontier size.

Builds an icelite catalog whose frontier has a FIXED head tier
(admissible shallow rows) and a GROWING deep tail — the shape of a
10^10-row production frontier, where discoveries pile up far faster
than politeness budgets drain them — laid out EXACTLY like the engine
writes it (one file per (priority tier, url_hash segment) directory,
plans/wave.py write_tiered), then times:

- ``admit_pruned`` (manifest-pruned two-pass Q1): reads only head files;
  should stay near-FLAT as the tail grows 80M -> 160M -> 320M (per-phase
  sub-timings printed to attribute any drift);
- plain ``admit`` over the full frontier (the pre-pruning plan): scales
  with total rows — the O(frontier)-per-wave term the pruned path
  removes;
- the COLLISION BACKSTOP: a maybe-set of 50k keys (half
  present, half fresh) is resolved via the seg-pruned semi-join
  (icelite.entries_overlapping_segs over the hash-clustered files) vs
  the full-table scan it replaces; pruned cost should track the maybe
  set, not the frontier;
- within-wave dedup + token update over the same admitted set.

Usage: python tools/frontier_scale.py [n_rows] [cores] [head_rows]
Prints one JSON line per run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BACKSTOP_SEG_SHIFT = 48  # mirrors plans/wave.py


def main(n_rows: int, cores: int, head_rows: int) -> None:
    from pyspark.sql import SparkSession, functions as F

    import commentsearchengine_spark.schemas as S
    from commentsearchengine_spark.operators import admission
    from commentsearchengine_spark.operators.dedup import dedup_within_wave
    from commentsearchengine_spark.sources.icelite import (
        Catalog, entries_overlapping_segs,
    )

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("frontier-scale")
        .config("spark.sql.shuffle.partitions", str(cores * 4))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_hosts = 20_000

    def synth_frontier(n: int, priority_expr):
        return (
            spark.range(n)
            .withColumn(
                "host",
                F.concat(
                    F.lit("site"),
                    F.pmod(F.hash("id"), F.lit(n_hosts)).cast("string"),
                    F.lit(".example.org"),
                ),
            )
            .select(
                F.concat(
                    F.lit("https://"), F.col("host"), F.lit("/p/"),
                    F.hex(F.xxhash64("id")), F.lit("/"),
                ).alias("canon_url"),
                "host",
                F.xxhash64("id").alias("url_hash"),
                priority_expr.cast("int").alias("priority"),
                F.lit(1).alias("depth"),
                F.lit(1).alias("disc_wave"),
                F.col("id").alias("disc_seq"),
                F.lit(0).cast("long").alias("parent_hash"),
            )
        )

    def write_like_engine(cat, df, n_files: int):
        """Mirror plans/wave.py write_tiered: one directory per
        (priority tier, url_hash segment); repartition keyed on the
        segment so each task holds ~1 segment across tiers."""
        k = max(1, (max(2, n_files) - 1).bit_length())
        return cat.stage_write(
            df.withColumn("_tier", F.col("priority"))
            .withColumn("_hseg", F.shiftright("url_hash", 64 - k))
            .repartition(n_files, "_hseg"),
            "frontier", mode="stage-append",
            partition_cols=["_tier", "_hseg"])

    tail_rows = max(0, n_rows - head_rows)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = tempfile.mkdtemp(prefix="frontier_scale_", dir=base)
    try:
        cat = Catalog(root).init()
        head = synth_frontier(head_rows, F.pmod(F.col("id"), F.lit(2)))
        tail = synth_frontier(tail_rows, F.lit(5) + F.pmod(F.col("id"), F.lit(4)))
        t0 = time.monotonic()
        write_like_engine(cat, head, max(1, cores))
        if tail_rows:
            write_like_engine(cat, tail, max(1, tail_rows // 2_500_000 + 1))
        cat.commit(wave=0)
        t_build = time.monotonic() - t0

        hosts = (
            spark.range(n_hosts)
            .select(
                F.concat(F.lit("site"), F.col("id").cast("string"),
                         F.lit(".example.org")).alias("host"),
                F.lit(16.0).alias("tokens"),
                F.lit(16.0).alias("capacity"),
                F.lit(8.0).alias("refill_per_wave"),
                F.lit(1.0).alias("crawl_delay"),
                # accurate live backlog, as the engine maintains it
                F.lit((n_rows + n_hosts - 1) // n_hosts).cast("long")
                .alias("frontier_rows"),
            )
            .persist()
        )
        hosts.count()

        t0 = time.monotonic()
        persists: list = []
        admit_timings: dict = {}
        ranked = admission.admit_pruned(
            spark, cat, hosts, S.FRONTIER, persists=persists,
            timings=admit_timings).persist()
        admitted = admission.assign_global_seq(ranked, 0)
        n_admitted = admitted.count()
        t_pruned = time.monotonic() - t0

        frontier_full = cat.scan(spark, "frontier", schema_ddl=S.FRONTIER)
        t0 = time.monotonic()
        n_admitted_full = admission.admit(frontier_full, hosts).count()
        t_full = time.monotonic() - t0

        admitted_p = admitted.persist()
        admitted_p.count()
        t0 = time.monotonic()
        admission.update_tokens(hosts, admitted_p).count()
        t_tokens = time.monotonic() - t0

        t0 = time.monotonic()
        n_dedup = dedup_within_wave(
            frontier_full.filter(F.col("priority") <= 1)).count()
        t_dedup = time.monotonic() - t0

        # ---- collision backstop probe ----------------------------------
        # maybe set = 25k urls that ARE in the frontier + 25k fresh —
        # the wave loop's exact verify of bloom "maybe" rows.  The
        # production path prunes to the files the keys' url_hash
        # segments could live in (writes above are hash-clustered);
        # the contrast scans every file, the unpruned plan.
        entries = cat.table_files("frontier")

        def backstop_probe(n_maybe: int) -> dict:
            stride = max(1, n_rows // max(1, n_maybe // 2))
            present = synth_frontier(n_rows, F.lit(0)).where(
                F.pmod(F.col("disc_seq"), F.lit(stride)) == 0)
            fresh = synth_frontier(max(1, n_maybe // 2), F.lit(0)).select(
                F.concat(F.lit("https://fresh"), F.col("canon_url"))
                .alias("canon_url"),
                "host",
                F.xxhash64(F.concat(F.lit("f"), F.col("canon_url")))
                .alias("url_hash"),
            )
            maybe = present.select(
                "canon_url", "host", "url_hash").unionByName(fresh).persist()
            segs = set(
                r[0] for r in maybe.select(
                    F.shiftright("url_hash", BACKSTOP_SEG_SHIFT)).distinct()
                .collect())

            keys = maybe.select("canon_url").distinct()
            # full scan FIRST so the cold-page-cache penalty lands on the
            # contrast, not on the pruned path under test
            t0 = time.monotonic()
            n_coll_full = (
                frontier_full.select("canon_url")
                .join(F.broadcast(keys), "canon_url", "left_semi").count())
            t_full_bs = time.monotonic() - t0

            t0 = time.monotonic()
            hit = entries_overlapping_segs(entries, segs, BACKSTOP_SEG_SHIFT)
            n_coll_pruned = (
                cat.scan_entries(spark, hit, S.FRONTIER).select("canon_url")
                .join(F.broadcast(keys), "canon_url", "left_semi").count())
            t_pruned_bs = time.monotonic() - t0
            if n_coll_pruned != n_coll_full:
                raise RuntimeError(
                    f"pruning changed the verdict: {n_coll_pruned} "
                    f"collisions pruned vs {n_coll_full} full")
            maybe.unpersist()
            return {
                "maybe_rows": n_maybe,
                "collisions": n_coll_pruned,
                "files_scanned": len(hit),
                "files_total": len(entries),
                "pruned_sec": round(t_pruned_bs, 2),
                "full_sec": round(t_full_bs, 2),
            }

        # two regimes: a QUIET wave (few collisions — pruning cuts the
        # scan to a handful of files; requires maybe count < file count,
        # the production shape where a 10^10-row table has 10^4-10^5
        # files) and a HOT wave (50k maybes cover every segment —
        # pruning honestly degrades to the full scan; the defense there
        # is bloom sizing + the shuffle valve, not manifest pruning)
        backstop_quiet = backstop_probe(16)
        backstop_hot = backstop_probe(min(50_000, max(2, n_rows // 10)))

        print(json.dumps({
            "frontier_rows": n_rows,
            "head_rows": head_rows,
            "cores": cores,
            "build_sec": round(t_build, 2),
            "admitted": n_admitted,
            "admitted_full_plan": n_admitted_full,
            "admission_pruned_sec": round(t_pruned, 2),
            "admission_phases": admit_timings,
            "admission_full_sec": round(t_full, 2),
            "full_rows_per_sec": round(n_rows / t_full),
            "head_dedup_rows": n_dedup,
            "head_dedup_sec": round(t_dedup, 2),
            "token_update_sec": round(t_tokens, 2),
            "backstop_quiet": backstop_quiet,
            "backstop_hot": backstop_hot,
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 32,
        int(sys.argv[3]) if len(sys.argv) > 3 else 2_000_000,
    )
