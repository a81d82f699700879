"""Catalog maintenance — file compaction (the icelite analogue of
Apache Iceberg's `rewrite_data_files` action).

Why this exists at 10^10 scale: the `seen` table appends a hash-
clustered file set EVERY wave, so after W waves a url_hash segment's
rows are spread over ~W small files.  Two costs grow with W, not with
data volume: (1) manifest length (driver-side planning), and (2) the
collision backstop's pruning RESOLUTION — a maybe key now hits ~W
files instead of 1, because each wave's files tile the same hash space
(plans/wave.py BACKSTOP_SEG_SHIFT).  Compaction rewrites the table
once into ~rows/rows_per_file files re-clustered by the hash column,
restoring one-file-per-segment tightness; content is bit-identical and
the rewrite publishes as ONE ordinary atomic snapshot (crash-safe like
any wave commit: an interrupted compaction leaves the old snapshot
current and only orphans unreachable files).

This is a BETWEEN-WAVES maintenance op (like Iceberg table
maintenance).  It never runs inside a wave; the crawl loop optionally
invokes it between waves on a ``SEEN_COMPACT_EVERY`` cadence
(plans/wave.py), and crawl parity and resume guarantees are untouched
either way: tests assert row-level content equality, improved stats
tightness, and full oracle parity through and across compactions.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from ..sources.icelite import Catalog
from .wave import ROWS_PER_FILE, hash_clustered


def compact_table(spark: SparkSession, cat: Catalog, table: str,
                  schema_ddl: str, cluster_col: str | None = "url_hash",
                  rows_per_file: int = ROWS_PER_FILE,
                  min_files: int = 8,
                  tier_col: str | None = None) -> dict:
    """Rewrite ``table``'s current snapshot into ~total_rows /
    rows_per_file files, hash-clustered by ``cluster_col`` (one file
    per contiguous segment of the column's int64 space — the layout
    every reader's manifest pruning expects).  Publishes one new
    snapshot carrying every OTHER table forward untouched.

    ``tier_col`` (e.g. "priority" for the frontier) additionally keeps
    one directory per tier value, preserving the point-valued tier
    stats that admission's head-cut pruning relies on
    (operators/admission.py::choose_cut) — without it a compacted
    frontier file would straddle priorities and blunt the cut.

    No-op (returns the current state) when the table already has fewer
    than ``min_files`` files, or when the row-proportional output
    target would not be SMALLER than the current file count —
    compacting tiny or already-compact tables only churns snapshots.
    Returns a summary dict with before/after file counts and the new
    snapshot id.
    """
    snap = cat.load_snapshot()
    entries = cat.table_files(table)
    n_files = len(entries)
    if n_files < min_files:
        return {"table": table, "files_before": n_files,
                "files_after": n_files, "compacted": False,
                "snapshot_id": None if snap is None else snap.snapshot_id}
    total_rows = sum(e.get("rows") or 0 for e in entries)
    # row-proportional target WITHOUT the wave writes' parallelism
    # floor: compaction exists to REDUCE file count, and flooring at
    # defaultParallelism would let a small-but-fragmented table come
    # out with MORE files than it had (32-core driver, 10 files, 500k
    # rows -> 32 outputs).  This is an offline/between-waves op, so
    # write-task count may legitimately sit below the core count.
    parts = min(1024, total_rows // rows_per_file + 1)
    if parts >= n_files:
        # projected output would not shrink the table — same no-churn
        # contract as the min_files guard above
        return {"table": table, "files_before": n_files,
                "files_after": n_files, "compacted": False,
                "snapshot_id": None if snap is None else snap.snapshot_id}
    df = cat.scan_entries(spark, entries, schema_ddl)
    partition_cols: list[str] | None = None
    if cluster_col is not None:
        # one directory per contiguous hash segment so each output
        # file's cluster_col [min, max] collapses to a narrow range for
        # manifest pruning — the exact layout every reader expects,
        # via the same helper the wave writes use
        df = hash_clustered(df, parts, col=cluster_col)
        partition_cols = ["_hseg"]
        if tier_col is not None:
            df = df.withColumn("_tier", F.col(tier_col))
            partition_cols = ["_tier", "_hseg"]
    else:
        df = df.repartition(parts)
    new_entries = cat.stage_write(
        df, table, mode="stage-append", partition_cols=partition_cols)
    sid = cat.commit(
        wave=snap.wave,
        state=snap.state,
        metrics={"maintenance": "compact", "table": table,
                 "files_before": n_files, "files_after": len(new_entries),
                 "rows": total_rows},
    )
    return {"table": table, "files_before": n_files,
            "files_after": len(new_entries), "rows": total_rows,
            "compacted": True, "snapshot_id": sid}
