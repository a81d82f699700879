"""Compaction maintenance (plans/maintenance.py): content-preserving,
pruning-restoring, and transparent to a resumed crawl."""

import os
import shutil
import tempfile

import commentsearchengine_spark.schemas as S
from commentsearchengine_spark.config import EngineConfig
from commentsearchengine_spark.plans.maintenance import compact_table
from commentsearchengine_spark.plans.wave import run_crawl
from oracle.seqcrawl import run_oracle


def _seen_rows(spark, cat):
    return sorted(
        tuple(r) for r in cat.scan(spark, "seen", schema_ddl=S.SEEN).collect())


def test_compact_seen_preserves_content_and_tightens_stats(spark):
    root = tempfile.mkdtemp(prefix="icelite-compact-")
    try:
        cfg = EngineConfig(n_seeds=25, n_waves=3, n_buckets=32)
        cat = run_crawl(spark, root, cfg)
        before_rows = _seen_rows(spark, cat)
        before_files = cat.table_files("seen")
        assert len(before_files) >= 8  # multi-wave append fragmentation

        out = compact_table(spark, cat, "seen", S.SEEN,
                            cluster_col="url_hash", min_files=2)
        assert out["compacted"]
        after_files = cat.table_files("seen")
        assert len(after_files) == out["files_after"] < len(before_files)
        assert _seen_rows(spark, cat) == before_rows  # bit-identical

        # clustering restored: every compacted file covers a narrow
        # url_hash slice and carries stats for pruning
        for e in after_files:
            lo, hi = e["stats"]["url_hash"]
            assert hi - lo < (1 << 63)

        # other tables carried forward untouched in the new snapshot
        snap = cat.load_snapshot()
        assert snap.metrics["maintenance"] == "compact"
        assert snap.row_counts["crawl_log"] > 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_compact_noop_below_min_files(spark):
    root = tempfile.mkdtemp(prefix="icelite-compact-noop-")
    try:
        cfg = EngineConfig(n_seeds=5, n_waves=1, n_buckets=16)
        cat = run_crawl(spark, root, cfg)
        sid = cat.load_snapshot().snapshot_id
        out = compact_table(spark, cat, "seen", S.SEEN, min_files=10_000)
        assert not out["compacted"]
        assert cat.load_snapshot().snapshot_id == sid  # no snapshot churn
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_crawl_resumes_through_compaction_with_oracle_parity(spark):
    """compact between waves 2 and 3-4 → final state equals a straight
    4-wave run AND the sequential oracle (the maintenance op is
    invisible to crawl semantics)."""
    root = tempfile.mkdtemp(prefix="icelite-compact-resume-")
    try:
        run_crawl(spark, root, EngineConfig(n_seeds=25, n_waves=2,
                                            n_buckets=32))
        cat = run_crawl(spark, root, EngineConfig(n_seeds=25, n_waves=2,
                                                  n_buckets=32))
        compact_table(spark, cat, "seen", S.SEEN, min_files=2)
        cat = run_crawl(spark, root, EngineConfig(n_seeds=25, n_waves=4,
                                                  n_buckets=32))
        o = run_oracle(25, 4, 32, EngineConfig().n_hosts)
        from tests.test_crawl_match import _assert_match
        _assert_match(spark, cat, o)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_compact_frontier_preserves_tiers_and_parity(spark):
    """Frontier compaction with tier_col='priority' keeps per-file
    priority stats point-valued (admission head pruning intact) and a
    resumed crawl through it still matches the oracle."""
    root = tempfile.mkdtemp(prefix="icelite-compact-frontier-")
    try:
        run_crawl(spark, root, EngineConfig(n_seeds=25, n_waves=2,
                                            n_buckets=32))
        from commentsearchengine_spark.sources.icelite import Catalog
        cat = Catalog(root)
        out = compact_table(spark, cat, "frontier", S.FRONTIER,
                            cluster_col="url_hash", tier_col="priority",
                            min_files=2)
        assert out["compacted"]
        for e in cat.table_files("frontier"):
            lo, hi = e["stats"]["priority"]
            assert lo == hi  # one tier per file — head cut stays sharp
        cat = run_crawl(spark, root, EngineConfig(n_seeds=25, n_waves=4,
                                                  n_buckets=32))
        o = run_oracle(25, 4, 32, EngineConfig().n_hosts)
        from tests.test_crawl_match import _assert_match
        _assert_match(spark, cat, o)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_auto_compaction_every_wave_keeps_parity(spark, monkeypatch):
    """Compacting seen between every wave is plan-only: the crawl
    matches the oracle bit-for-bit.  The default min_files guard would
    skip this tiny fixture, so the test lowers it through a recording
    wrapper to force real compactions inside the loop."""
    import commentsearchengine_spark.plans.maintenance as m
    from commentsearchengine_spark.plans import wave

    real = m.compact_table
    calls: list[dict] = []

    def forcing(spark_, cat_, table, ddl, **kw):
        kw["min_files"] = 2
        out = real(spark_, cat_, table, ddl, **kw)
        calls.append(out)
        return out

    monkeypatch.setattr(m, "compact_table", forcing)
    monkeypatch.setattr(wave, "SEEN_COMPACT_EVERY", 1)
    cfg = EngineConfig(n_seeds=25, n_waves=3, n_buckets=32)
    root = tempfile.mkdtemp(prefix="icelite-autocompact-")
    try:
        cat = run_crawl(spark, root, cfg)
        assert any(c["compacted"] for c in calls)  # the loop really ran it
        o = run_oracle(25, 3, 32, cfg.n_hosts)
        from tests.test_crawl_match import _assert_match
        _assert_match(spark, cat, o)
        # the maintenance snapshots are visible in the chain
        kinds = [cat.load_snapshot(s).metrics.get("maintenance")
                 for s in cat.snapshots()]
        assert "compact" in kinds
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_expire_and_sweep_reclaim_compaction_orphans(spark):
    """The full reclamation cycle (Iceberg expire_snapshots +
    remove_orphan_files analogue): compaction leaves the old seen file
    set referenced only by historical snapshots; expiring those and
    sweeping must delete real bytes while content, time travel to the
    kept snapshot, AND resume-with-oracle-parity all survive."""
    root = tempfile.mkdtemp(prefix="icelite-sweep-")
    try:
        cfg = EngineConfig(n_seeds=25, n_waves=2, n_buckets=32)
        cat = run_crawl(spark, root, cfg)
        rows_before = _seen_rows(spark, cat)
        compact_table(spark, cat, "seen", S.SEEN, min_files=2)

        # grace window protects fresh files: nothing may be swept yet
        assert cat.sweep_orphans(grace_seconds=3600)["removed_files"] == 0

        exp = cat.expire_snapshots(keep_last=1)
        assert exp["removed"] and cat.snapshots() == exp["kept"]
        swept = cat.sweep_orphans(grace_seconds=0)
        assert swept["removed_files"] > 0 and swept["removed_bytes"] > 0
        # second sweep is a no-op (idempotent)
        assert cat.sweep_orphans(grace_seconds=0)["removed_files"] == 0
        # no emptied write directory survives: Spark's dot-prefixed .crc
        # sidecars of swept files go with them, so every directory left
        # under data/ still holds a live data file
        live = {os.path.normpath(e["path"])
                for sid in cat.snapshots()
                for ents in cat.load_snapshot(sid).tables.values()
                for e in ents}
        data_dir = os.path.join(root, "data")
        for cur, _dirs, _names in os.walk(data_dir):
            if cur == data_dir:
                continue
            assert any(
                os.path.relpath(os.path.join(d, n), root) in live
                for d, _, ns in os.walk(cur) for n in ns), cur

        # content intact through reclamation...
        assert _seen_rows(spark, cat) == rows_before
        # ...and the crawl RESUMES through it with full oracle parity
        cat = run_crawl(spark, root, EngineConfig(n_seeds=25, n_waves=4,
                                                  n_buckets=32))
        o = run_oracle(25, 4, 32, cfg.n_hosts)
        from tests.test_crawl_match import _assert_match
        _assert_match(spark, cat, o)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_staging_guards(spark):
    """Fail-loud / abort surfaces around staging: unknown stage_write
    modes are rejected (a typo silently taking overwrite semantics
    would drop the table's file set at the next commit), and
    discard_staged clears a failed operation's partial staging so the
    next commit cannot pin it."""
    import pytest

    root = tempfile.mkdtemp(prefix="icelite-guards-")
    try:
        cfg = EngineConfig(n_seeds=10, n_waves=1, n_buckets=16)
        cat = run_crawl(spark, root, cfg)
        df = cat.scan(spark, "seen", schema_ddl=S.SEEN)
        with pytest.raises(ValueError, match="unknown stage_write mode"):
            cat.stage_write(df, "seen", mode="appen")
        wave_before = cat.load_snapshot().wave
        files_before = [e["path"] for e in cat.table_files("seen")]
        cat.stage_write(df.limit(1), "seen", mode="overwrite")
        cat.discard_staged()
        cat.commit(wave=wave_before, state=cat.load_snapshot().state)
        assert [e["path"] for e in cat.table_files("seen")] == files_before
    finally:
        shutil.rmtree(root, ignore_errors=True)

