"""Headline check (SURVEY §5.1): the distributed engine reproduces the
sequential oracle EXACTLY — crawl ordering, URL-seen set, lineage
counters, frontier, and per-row payloads — including at different
parallelism, which proves the §1.4 tiebreaks are total."""

import shutil
import tempfile
from collections import Counter

import numpy as np
import pytest

import commentsearchengine_spark.schemas as S
from commentsearchengine_spark.config import EngineConfig
from commentsearchengine_spark.functions import imagecodec as ic
from commentsearchengine_spark.plans import wave
from commentsearchengine_spark.plans.wave import run_crawl
from commentsearchengine_spark.sources.icelite import Catalog
from oracle.seqcrawl import run_oracle


def _run_engine(spark, cfg):
    root = tempfile.mkdtemp(prefix="icelite-match-")
    cat = run_crawl(spark, root, cfg)
    return cat, root


def _crawl_log(spark, cat):
    return sorted(
        tuple(r) for r in cat.scan(spark, "crawl_log", schema_ddl=S.CRAWL_LOG)
        .select("wave", "host", "rank_in_host", "canon_url", "global_seq")
        .collect())


def _assert_match(spark, cat, o):
    assert _crawl_log(spark, cat) == sorted(o.crawl_log)

    # politeness balances: lazily-carried hosts rows reconstructed to
    # the final wave must equal the oracle's eagerly-updated dict
    # BIT-EXACTLY (floor(tokens) decides admissions, so any IEEE drift
    # in the lazy refill fold would eventually desync crawl order)
    from commentsearchengine_spark.operators import admission
    snap = cat.load_snapshot()
    eff = admission.effective_tokens(
        cat.scan(spark, "hosts", schema_ddl=S.HOSTS), snap.wave)
    eng_tokens = {r["host"]: r["tokens"] for r in eff.collect()}
    assert eng_tokens == o.tokens

    eng_seen = sorted(
        (r["canon_url"], r["url_hash"], r["first_wave"])
        for r in cat.scan(spark, "seen", schema_ddl=S.SEEN).collect())
    assert eng_seen == sorted((u, h, w) for u, (h, w) in o.seen.items())

    eng_lin = sorted(
        tuple(r) for r in cat.scan(spark, "lineage", schema_ddl=S.LINEAGE)
        .collect())
    assert eng_lin == sorted(o.lineage)

    fr_rows = cat.scan(spark, "frontier", schema_ddl=S.FRONTIER).collect()
    eng_fr = sorted((r["canon_url"], r["disc_seq"], r["priority"])
                    for r in fr_rows)
    assert eng_fr == sorted(
        (u, e.disc_seq, e.priority) for u, e in o.frontier.items())

    # hosts.frontier_rows is each host's exact committed backlog: admission
    # and lineage's politeness_deferred both read it, so it must equal the
    # host's count of frontier rows (0 for a host with none)
    backlog = Counter(r["host"] for r in fr_rows)
    host_rows = cat.scan(spark, "hosts", schema_ddl=S.HOSTS).select(
        "host", "frontier_rows").collect()
    eng_backlog = {r["host"]: r["frontier_rows"] for r in host_rows}
    assert len(eng_backlog) == len(host_rows)  # one row per host
    assert set(backlog) <= set(eng_backlog)
    assert eng_backlog == {h: backlog[h] for h in eng_backlog}


@pytest.mark.parametrize("n_seeds,n_waves", [(3, 3), (25, 4)])
def test_exact_match(spark, n_seeds, n_waves):
    cfg = EngineConfig(n_seeds=n_seeds, n_waves=n_waves, n_buckets=32)
    cat, root = _run_engine(spark, cfg)
    try:
        o = run_oracle(n_seeds, n_waves, cfg.n_buckets, cfg.n_hosts)
        _assert_match(spark, cat, o)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_exact_match_spread_scaled(spark):
    """Bench knobs (seed spreading + budget scaling) preserve oracle
    parity — the throughput bench runs the same semantics, just bigger."""
    cfg = EngineConfig(n_seeds=30, n_waves=3, n_buckets=32,
                       seed_spread_hosts=10, budget_scale=3.0)
    cat, root = _run_engine(spark, cfg)
    try:
        o = run_oracle(30, 3, 32, cfg.n_hosts,
                       seed_spread_hosts=10, budget_scale=3.0)
        _assert_match(spark, cat, o)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_exact_match_shuffle_backstop(spark, monkeypatch):
    """Forcing the backstop's shuffle anti-join fallback (broadcast
    threshold 0) and the cogrouped admission rewrite preserves oracle
    parity — the strategy switch is plan-only, never semantic."""
    monkeypatch.setattr(wave, "BROADCAST_MAX_ROWS", 0)
    cfg = EngineConfig(n_seeds=25, n_waves=3, n_buckets=32)
    cat, root = _run_engine(spark, cfg)
    try:
        o = run_oracle(25, 3, 32, cfg.n_hosts)
        _assert_match(spark, cat, o)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_hot_host_fetch_is_balanced(spark):
    """Op P0b: a wave whose every admission is on one host still spreads
    evenly over the fetch tasks (one pages file each), because the fetch
    repartitions on each row's url_hash.  The slowest fetch task sets
    the fetch's wall time, so the fullest file may hold at most 15% more
    rows than the mean."""
    cfg = EngineConfig(n_seeds=4000, n_waves=1, n_buckets=16,
                       budget_scale=512.0)
    cat, root = _run_engine(spark, cfg)
    try:
        rows = [e["rows"] for e in cat.table_files("pages")]
        assert len(rows) == spark.sparkContext.defaultParallelism
        assert sum(rows) >= 2000
        assert max(rows) / (sum(rows) / len(rows)) <= 1.15, rows
        o = run_oracle(4000, 1, 16, cfg.n_hosts, budget_scale=512.0)
        _assert_match(spark, cat, o)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_parallelism_independence(spark):
    """Same input, different shuffle parallelism → identical crawl_log."""
    cfg = EngineConfig(n_seeds=10, n_waves=2, n_buckets=16)
    o = run_oracle(10, 2, 16, cfg.n_hosts)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    logs = []
    try:
        for parts in ("3", "13"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            cat, root = _run_engine(spark, cfg)
            try:
                logs.append(_crawl_log(spark, cat))
            finally:
                shutil.rmtree(root, ignore_errors=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert logs[0] == logs[1] == sorted(o.crawl_log)


def test_payload_invariants(spark):
    """BASELINE.json:15 — decoded-pixel allclose (PSNR≥40 lossy) + caption
    equality + phash bit-equality vs the reference payloads."""
    cfg = EngineConfig(n_seeds=5, n_waves=2, n_buckets=16)
    cat, root = _run_engine(spark, cfg)
    try:
        o = run_oracle(5, 2, 16, cfg.n_hosts)
        opages = {p["canon_url"]: p for p in o.pages}
        rows = cat.scan(spark, "pages", schema_ddl=S.PAGES).collect()
        assert len(rows) == len(opages) > 0
        for r in rows:
            op = opages[r["canon_url"]]
            assert r["caption"] == op["caption"]
            assert r["phash"] == op["phash"]
            assert (r["w"], r["h"], r["fmt"]) == (op["w"], op["h"], op["fmt"])
            dec = ic.decode(bytes(r["bytes"]), r["fmt"], r["w"], r["h"])
            ref = ic.decode(op["bytes"], op["fmt"], op["w"], op["h"])
            assert np.array_equal(dec, ref)  # stored pixels bit-equal
            orig = ic.synth_pixels(
                int(r["image_id"], 16) - (1 << 64)
                if int(r["image_id"], 16) >= (1 << 63)
                else int(r["image_id"], 16), r["w"], r["h"])
            if r["fmt"] == "qlossy":
                assert ic.psnr(orig, dec) >= 40.0
            else:
                assert np.array_equal(orig, dec)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_exact_match_fully_throttled(spark):
    """budget_scale so small that floor(tokens) is 0 for EVERY host —
    four consecutive zero-admitted waves (empty fetch, empty expansion,
    quiet-wave frontier-write skip, Observation never read) leave the
    engine byte-identical to the oracle: empty crawl_log/seen, the
    seed frontier intact."""
    cfg = EngineConfig(n_seeds=8, n_waves=4, n_buckets=16,
                       budget_scale=0.11)
    cat, root = _run_engine(spark, cfg)
    try:
        o = run_oracle(8, 4, 16, cfg.n_hosts, budget_scale=0.11)
        assert not o.crawl_log  # the fixture really is fully throttled
        _assert_match(spark, cat, o)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_exact_match_mixed_throttle(spark, monkeypatch):
    """Spread seeds over hosts with different capacities at a tiny
    budget scale: some hosts admit a trickle, others are throttled to
    zero every wave — the oracle parity must hold through the mixed
    admit/defer algebra (19 admissions over 4 waves in this fixture).
    The crawl never reads the lineage table: politeness_deferred comes
    from hosts.frontier_rows, so per-wave cost does not grow with the
    lineage history."""
    cfg = EngineConfig(n_seeds=8, n_waves=4, n_buckets=16,
                       seed_spread_hosts=6, budget_scale=0.11)
    scan = Catalog.scan

    def no_lineage_scan(self, spark, table, *args, **kwargs):
        if table == "lineage":
            raise AssertionError("a crawl wave read the lineage table")
        return scan(self, spark, table, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(Catalog, "scan", no_lineage_scan)
        cat, root = _run_engine(spark, cfg)
    try:
        o = run_oracle(8, 4, 16, cfg.n_hosts,
                       seed_spread_hosts=6, budget_scale=0.11)
        assert o.crawl_log and len(o.crawl_log) < 8 * 4
        _assert_match(spark, cat, o)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_hosts_carry_forward_throttled(spark):
    """A throttled wave's hosts write is O(touched hosts), not O(hosts).
    Fully-throttled waves (zero admissions, zero discoveries) must carry
    EVERY hosts file byte-untouched — and the lazily-carried balances
    still reconstruct to the oracle's exactly."""
    cfg = EngineConfig(n_seeds=8, n_waves=4, n_buckets=16,
                       budget_scale=0.11)
    cat, root = _run_engine(spark, cfg)
    try:
        for sid in cat.snapshots():
            s = cat.load_snapshot(sid)
            if s.wave == 0:
                continue
            assert s.metrics["hosts_files_rewritten"] == 0, s.wave
            assert s.metrics["hosts_files_carried"] > 0, s.wave
        o = run_oracle(8, 4, 16, cfg.n_hosts, budget_scale=0.11)
        _assert_match(spark, cat, o)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_hosts_compaction_cadence_is_plan_only(spark, monkeypatch):
    """The hosts compaction cadence changes file staleness, never
    results: the crawl log, seen set, and effective balances are
    identical at any cadence (here: compact every wave vs the default
    16)."""
    cfg = EngineConfig(n_seeds=25, n_waves=3, n_buckets=32)
    o = run_oracle(25, 3, 32, cfg.n_hosts)
    for every in (1, wave.HOSTS_COMPACT_EVERY):
        monkeypatch.setattr(wave, "HOSTS_COMPACT_EVERY", every)
        cat, root = _run_engine(spark, cfg)
        try:
            _assert_match(spark, cat, o)
        finally:
            shutil.rmtree(root, ignore_errors=True)
