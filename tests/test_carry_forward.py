"""Frontier carry-forward commits (SURVEY §1.3, plans/wave.py): deep-tier
files whose min priority exceeds the deepest admitted row must survive
across waves as the SAME manifest entries (same data-file paths, never
rewritten), while oracle parity holds throughout.

A politeness-bound crawl (tiny budgets, many seeds) guarantees waves
admit only shallow rows while deep discoveries pile up — the production
shape the carry-forward exists for."""

import shutil
import tempfile

import commentsearchengine_spark.schemas as S
from commentsearchengine_spark.config import EngineConfig
from commentsearchengine_spark.plans.wave import run_crawl
from commentsearchengine_spark.sources.icelite import Catalog
from oracle.seqcrawl import run_oracle


def test_deep_files_carry_forward_and_parity_holds(spark):
    # halved budgets: admission stays in the shallow tiers while deeper
    # discoveries pile up — the regime where deep files must carry
    cfg = EngineConfig(n_seeds=40, n_waves=4, n_buckets=16,
                       budget_scale=0.5)
    root = tempfile.mkdtemp(prefix="carry-fwd-")
    try:
        cat = run_crawl(spark, root, cfg)
        snaps = cat.snapshots()
        assert len(snaps) == 5  # bootstrap + 4 waves

        paths_by_snap = [
            {e["path"] for e in cat.table_files("frontier", snapshot_id=s)}
            for s in snaps
        ]
        carried = [
            len(paths_by_snap[i] & paths_by_snap[i + 1])
            for i in range(len(snaps) - 1)
        ]
        # at least one wave-to-wave transition must reuse data files
        # byte-untouched (deep tiers outgrow the tiny admission budgets)
        assert sum(carried) > 0, carried
        # the carried files' manifest entries are identical objects
        # (path + rows + stats), not rewrites that happen to share names
        for i in range(len(snaps) - 1):
            prev = {e["path"]: e for e in cat.table_files(
                "frontier", snapshot_id=snaps[i])}
            nxt = {e["path"]: e for e in cat.table_files(
                "frontier", snapshot_id=snaps[i + 1])}
            for p in prev.keys() & nxt.keys():
                assert prev[p] == nxt[p], p

        # and the final state still matches the sequential oracle exactly
        o = run_oracle(cfg.n_seeds, cfg.n_waves, cfg.n_buckets, cfg.n_hosts,
                       budget_scale=cfg.budget_scale)
        eng_fr = sorted(
            (r["canon_url"], r["disc_seq"], r["priority"])
            for r in cat.scan(
                spark, "frontier", schema_ddl=S.FRONTIER).collect())
        assert eng_fr == sorted(
            (u, e.disc_seq, e.priority) for u, e in o.frontier.items())
        eng_log = sorted(
            tuple(r) for r in cat.scan(
                spark, "crawl_log", schema_ddl=S.CRAWL_LOG).collect())
        assert eng_log == sorted(o.crawl_log)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_carry_forward_with_percent_encoded_root(spark):
    """Catalog root containing a space: input_file_name() URL-encodes it
    (%20), so suffix/equality matching on raw URIs would classify every
    touched frontier file as untouched and silently re-admit its rows
    next wave.  The decoded set-based split must keep oracle parity."""
    cfg = EngineConfig(n_seeds=12, n_waves=3, n_buckets=16)
    base = tempfile.mkdtemp(prefix="carry fwd enc-")  # space in path
    try:
        cat = run_crawl(spark, base, cfg)
        o = run_oracle(cfg.n_seeds, cfg.n_waves, cfg.n_buckets, cfg.n_hosts)
        eng_log = sorted(
            tuple(r) for r in cat.scan(
                spark, "crawl_log", schema_ddl=S.CRAWL_LOG).collect())
        assert eng_log == sorted(o.crawl_log)
        eng_seen = sorted(
            r["canon_url"] for r in cat.scan(
                spark, "seen", schema_ddl=S.SEEN).collect())
        assert eng_seen == sorted(o.seen)
    finally:
        shutil.rmtree(base, ignore_errors=True)
