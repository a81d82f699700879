"""Resume equivalence (SURVEY §5.5): N waves straight == k waves, stop,
resume to N — final tables identical (op K2)."""

import shutil
import tempfile

import commentsearchengine_spark.schemas as S
from commentsearchengine_spark.config import EngineConfig
from commentsearchengine_spark.plans.wave import run_crawl
from commentsearchengine_spark.sources.icelite import Catalog


def _tables(spark, cat):
    out = {}
    for t in ("crawl_log", "seen", "frontier", "hosts", "lineage"):
        df = cat.scan(spark, t, schema_ddl=S.ALL_TABLES[t])
        out[t] = sorted(tuple(r) for r in df.collect())
    return out


def test_resume_equivalence(spark):
    straight_root = tempfile.mkdtemp(prefix="icelite-straight-")
    resumed_root = tempfile.mkdtemp(prefix="icelite-resumed-")
    try:
        cat_a = run_crawl(spark, straight_root,
                          EngineConfig(n_seeds=8, n_waves=4, n_buckets=16))
        # run 2 waves, "crash" (just stop), then resume to 4
        run_crawl(spark, resumed_root,
                  EngineConfig(n_seeds=8, n_waves=2, n_buckets=16))
        cat_b = run_crawl(spark, resumed_root,
                          EngineConfig(n_seeds=8, n_waves=4, n_buckets=16))
        assert _tables(spark, cat_a) == _tables(spark, cat_b)
    finally:
        shutil.rmtree(straight_root, ignore_errors=True)
        shutil.rmtree(resumed_root, ignore_errors=True)


def test_failed_wave_is_resumable(spark, monkeypatch):
    """A write failure in bootstrap (the hosts overwrite) or mid-wave
    (the seen append, one of the early writes that overlap the fetch —
    surfaced by the fail-fast poll at the next phase boundary) must
    abort WITHOUT committing anything and without leaving a cached
    relation in the session; re-running the crawl then produces tables
    bit-identical to a never-failed run (staged files of the dead
    attempts are replaced, the snapshot chain never saw them)."""
    import pytest

    straight_root = tempfile.mkdtemp(prefix="icelite-nofail-")
    failed_root = tempfile.mkdtemp(prefix="icelite-failed-")
    cfg = EngineConfig(n_seeds=8, n_waves=2, n_buckets=16)
    orig = Catalog.stage_write
    armed: set = set()
    cache = spark._jsparkSession.sharedState().cacheManager()

    def flaky(self, df, table, mode="overwrite", partition_cols=None):
        if (table, mode) in armed:
            armed.discard((table, mode))
            raise RuntimeError(f"injected {table}-write failure")
        return orig(self, df, table, mode, partition_cols)

    try:
        cat_a = run_crawl(spark, straight_root, cfg)
        monkeypatch.setattr(Catalog, "stage_write", flaky)
        spark.catalog.clearCache()
        # bootstrap fails: no snapshot at all; then wave 1 fails: only
        # the bootstrap snapshot
        for table, mode, committed_wave in (("hosts", "overwrite", None),
                                            ("seen", "append", 0)):
            armed.add((table, mode))
            with pytest.raises(RuntimeError,
                               match=f"injected {table}-write failure"):
                run_crawl(spark, failed_root, cfg)
            assert cache.isEmpty(), f"{table} failure leaked a cache"
            snap = Catalog(failed_root).load_snapshot()
            assert (snap.wave if snap else None) == committed_wave
        # resume after the fault clears: identical final state
        cat_b = run_crawl(spark, failed_root, cfg)
        assert _tables(spark, cat_a) == _tables(spark, cat_b)
    finally:
        shutil.rmtree(straight_root, ignore_errors=True)
        shutil.rmtree(failed_root, ignore_errors=True)


def test_wave_metrics_carry_the_bench_keys(spark):
    """The committed wave metrics carry every key perfbench/crawl_wide.py
    and tools/skew_drive.py read.  They read phases and write_secs with
    .get(name, 0.0), so a renamed key would silently read 0."""
    root = tempfile.mkdtemp(prefix="icelite-metrics-")
    try:
        cat = run_crawl(spark, root,
                        EngineConfig(n_seeds=8, n_waves=2, n_buckets=16))
        snap = cat.load_snapshot()
        m = snap.metrics
        assert snap.wave == m["wave"] == 2
        assert {"admit", "fetch_write", "expand", "writes"} <= set(m["phases"])
        assert {"frontier_new", "hosts", "lineage",
                "bloom_shards"} <= set(m["write_secs"])
        assert {"seen_files_scanned",
                "frontier_files_scanned"} <= set(m["backstop"])
        for k in ("admitted", "wall_sec", "frontier_files_rewritten",
                  "frontier_files_carried", "hosts_files_rewritten"):
            assert isinstance(m[k], (int, float)), k
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_arrow_batch_rows_is_plan_only():
    """The fetch's Arrow batch size changes no table, so resuming with a
    different --arrow-batch-rows must be allowed."""
    assert (EngineConfig(arrow_batch_rows=2048).config_hash()
            == EngineConfig().config_hash())


def test_time_travel(spark):
    root = tempfile.mkdtemp(prefix="icelite-tt-")
    try:
        cat = run_crawl(spark, root,
                        EngineConfig(n_seeds=5, n_waves=3, n_buckets=16))
        snaps = cat.snapshots()
        assert len(snaps) == 4  # bootstrap + 3 waves
        # crawl_log as of wave 1 is a strict prefix of wave 3's
        log_w1 = sorted(
            tuple(r) for r in cat.scan(
                spark, "crawl_log", snapshot_id=snaps[1],
                schema_ddl=S.CRAWL_LOG).collect())
        log_w3 = sorted(
            tuple(r) for r in cat.scan(
                spark, "crawl_log", schema_ddl=S.CRAWL_LOG).collect())
        assert set(log_w1) < set(log_w3)
        assert all(r[0] == 1 for r in log_w1)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_resume_refuses_wrong_layout_or_config(spark):
    """Resuming a catalog written under an older on-disk layout (e.g. a
    bloom probed at the wrong bitmap size) or with drifted
    semantics-affecting config must fail loud, never silently corrupt
    dedup (op K2 guards).  run_wave's own entry guards raise too, so
    they hold under python -O."""
    import json
    import os

    import pytest

    from commentsearchengine_spark.plans.wave import run_wave

    cfg = EngineConfig(n_seeds=4, n_waves=1, n_buckets=8)
    drifted = EngineConfig(n_seeds=4, n_waves=2, n_buckets=8, bloom_k=7)
    root = tempfile.mkdtemp(prefix="layout-guard-")
    empty_root = tempfile.mkdtemp(prefix="layout-guard-empty-")
    try:
        with pytest.raises(ValueError, match="no snapshot"):
            run_wave(spark, Catalog(empty_root).init(), cfg)
        cat = run_crawl(spark, root, cfg)
        with pytest.raises(ValueError, match="config_hash"):
            run_crawl(spark, root, drifted)
        with pytest.raises(ValueError, match="config_hash"):
            run_wave(spark, cat, drifted)
        assert cat.load_snapshot().wave == 1  # nothing committed
        # doctor the current snapshot to an older layout version
        snap_path = os.path.join(
            root, "metadata",
            f"snap-{cat.current_snapshot_id():06d}.json")
        with open(snap_path) as f:
            d = json.load(f)
        d["state"]["layout_version"] = 2
        with open(snap_path, "w") as f:
            json.dump(d, f)
        with pytest.raises(ValueError, match="layout_version"):
            run_crawl(spark, root,
                      EngineConfig(n_seeds=4, n_waves=2, n_buckets=8))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(empty_root, ignore_errors=True)
