"""Wave-synchronous crawl plan (SURVEY.md §3.1) — the production path.

Each crawl wave is ONE Spark batch job ending in ONE atomic icelite
snapshot commit (the wave barrier), per BASELINE.json:6.  The dataflow:

  frontier(head files) ─admit(Q1: manifest-pruned 2-pass rank)─▶ admitted
     │                │
     │                ├─ global_seq (O1: prefix-sum offsets, no global sort)
     │                ├─ crawl_log / seen append
     │                ├─ token-bucket + backlog update (P1)
     │                └─ fetch (F1/F2/F3: mapInPandas, salted repartition P0b)
     │                        └─ outlinks (pre-canonicalized, C1 in-pass)
     │                             └─ robots gate (P2, broadcast+HOF)
     │                                  └─ D1 dedup ─ bloom B2 (discovered set)
     │                                       └─ B3 collision backstop ─▶ new
     ├─ head files rewritten minus admitted ─▶ frontier′ staged files
     └─ deep-tier files carried forward BYTE-UNTOUCHED in the manifest

``run_wave`` runs the phases in this order over one ``_WaveCtx``, each
returning what the next reads: _admit → _start_early_writes → _fetch →
_expand → _finish (remaining writes + commit).

Every ordering decision uses the total orders of §1.4, so the result is
bit-identical to oracle/seqcrawl.py at ANY partition count — that is the
"crawl-order + URL-seen exact match vs reference" gate (BASELINE.json:2).
"""

from __future__ import annotations

import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F

from .. import schemas
from ..config import DISC_SEQ_STRIDE, EngineConfig
from ..fixtures import synth
from ..functions.spark_cols import bucket_col, murmur64_col, seed_urls_df
from ..operators import admission, bloom
from ..operators.canonicalize import with_canonical
from ..operators.dedup import dedup_within_wave, make_host_budget_udf
from ..operators.fetch import FETCHED_SCHEMA, fetch_pages
from ..operators.robots import aggregate_rules, robots_table, with_robots_verdict
from ..sources import icelite
from ..sources.icelite import Catalog

# On-disk layout contract this code reads and writes: 2 = discovered-URL
# bloom (frontier ∪ seen), hosts.frontier_rows backlog column,
# priority-tiered frontier files, fetch-log columns in pages; 3 = the
# bloom bitmap size lives in snapshot state (``bloom_nbits``) and grows
# via saturation-triggered rebuilds; 4 = hosts rows carry
# (host_hash, last_wave) for lazy-refill carry-forward commits
# (schemas.HOSTS) — an older catalog's hosts rows lack the columns the
# effective-balance reconstruction needs.  A catalog written by an
# older layout would silently corrupt dedup or politeness on resume —
# refuse it.
LAYOUT_VERSION = 4

# The collision backstop collects the distinct url_hash SEGMENTS of the
# wave's "maybe seen" keys (seg = url_hash >> 48: at most 2^16 values,
# a bounded driver-side set no matter how big the maybe set grows) and
# prunes the seen/frontier scans to just the files those segments could
# live in.  Effective because every seen/frontier write is hash-
# CLUSTERED (each data file covers a narrow url_hash range, recorded in
# its manifest stats) — see hash_clustered.  48 = 16-bit segments:
# finer than any realistic per-wave file count, so pruning resolution
# is limited by file granularity, not by this constant.
BACKSTOP_SEG_SHIFT = 48

# Row-proportional write partitioning: target rows per parquet file for
# the per-wave table writes and the between-waves seen compaction.
# Small enough that a multi-million-row frontier/seen write
# parallelizes instead of serializing into one task; large enough to
# keep file counts sane at 10^8-row waves (the 1024-part cap bounds the
# manifest).
ROWS_PER_FILE = 1_000_000

# Session-wide Arrow batch size.  Every Python stage reads slim URL rows
# (canonicalizer, bloom probe/build, host budgets, the fetch's input),
# where large batches cut JVM<->Python round-trips (~11% on a
# 5M-candidate probe at 32 cores going 4096 -> 65536 rows).  The one fat
# stream — the fetch's image rows — is capped inside fetch_pages at
# cfg.arrow_batch_rows.
SLIM_BATCH_ROWS = 65536

FRONTIER_COLS = [c.split(" ")[0] for c in schemas.FRONTIER.split(", ")]


def hash_clustered(df: DataFrame, n_files: int,
                   col: str = "url_hash") -> DataFrame:
    """Repartition ``df`` into ~n_files contiguous segments of the
    ``col`` hash space, keyed by a ``_hseg`` column."""
    # writing the result with "_hseg" among the partition_cols yields one
    # file per segment whose `col` [min, max] footer stats collapse to
    # that segment's narrow range — the property manifest seg-pruning
    # needs (the collision backstop over url_hash; the hosts
    # carry-forward split over host_hash).  Purely physical; murmur64
    # hashes are uniform, so static power-of-two segmentation balances
    # without a sampling job (unlike repartitionByRange)
    k = max(1, (max(2, n_files) - 1).bit_length())
    return df.withColumn("_hseg", F.shiftright(col, 64 - k)).repartition(
        n_files, "_hseg")


def _new_host_rows(counts: DataFrame, cfg: EngineConfig,
                   wave: int) -> DataFrame:
    """schemas.HOSTS rows, at full capacity as of the end of ``wave``,
    for hosts entering the table; ``counts`` is (host, frontier_rows)."""
    return counts.withColumn(
        "_b", make_host_budget_udf(cfg.budget_scale)(F.col("host"))
    ).select(
        "host", F.col("_b.capacity").alias("tokens"),
        F.col("_b.capacity"), F.col("_b.refill_per_wave"),
        F.col("_b.crawl_delay"), "frontier_rows",
        murmur64_col(F.col("host")).alias("host_hash"),
        F.lit(wave).alias("last_wave"))


def _state(cfg: EngineConfig, global_seq: int, bloom_nbits: int) -> dict:
    """Snapshot state of a crawl commit (read by resume and next wave)."""
    return {"global_seq": global_seq, "config_hash": cfg.config_hash(),
            "layout_version": LAYOUT_VERSION, "bloom_nbits": bloom_nbits}


def _lineage_singlepass(wave: int, n_buckets: int,
                        sources: dict[str, DataFrame]) -> DataFrame:
    """Per-bucket lineage counters in ONE shuffle: tag each contributing
    relation with its counter name, union, and pivot with sum(when) —
    instead of one groupBy + full-outer join per counter (which costs a
    job chain per wave; at 100 TB each extra barrier is a cluster-wide
    stall).  Derived counters: politeness_deferred = frontier - admitted,
    deduped = allowed - queued (same algebra as the oracle)."""

    def tag(name: str) -> DataFrame:
        return sources[name].select(
            bucket_col(F.col("host"), n_buckets).alias("bucket"),
            F.lit(name).alias("tag"),
        )

    tagged = None
    for name in sources:
        t = tag(name)
        tagged = t if tagged is None else tagged.unionByName(t)

    def n(name: str | None):
        if name is None or name not in sources:
            return F.lit(0).cast("long")
        return F.sum(F.when(F.col("tag") == name, 1).otherwise(0)).cast("long")

    # counter -> (positive tag, negative tag)
    spec: dict[str, tuple[str | None, str | None]] = {
        "fetched": ("admitted", None),
        "queued": ("queued", None),
        "deduped": ("allowed", "queued") if "allowed" in sources
        else ("deduped", None),
        "robots_blocked": ("robots_blocked", None),
        "politeness_deferred": ("frontier", "admitted"),
    }
    return tagged.groupBy("bucket").agg(
        *[(n(pos) - n(neg)).alias(col) for col, (pos, neg) in spec.items()]
    ).select(
        F.lit(wave).alias("wave"), "bucket",
        *[F.col(c).cast("long").alias(c) for c in spec],
    )


def universe_hosts(cfg: EngineConfig) -> list[str]:
    return [synth.SEED_HOST] + [synth.host_name(i) for i in range(cfg.n_hosts)]


@dataclass
class _WaveCtx:
    """What the phases of one wave (or bootstrap) share, including the
    resources ``release`` frees: persisted relations, bloom probe
    broadcasts and the early-write pool."""

    spark: SparkSession
    cat: Catalog
    cfg: EngineConfig
    wave: int
    snap: icelite.Snapshot | None = None
    timings: dict[str, float] = field(default_factory=dict)
    write_secs: dict[str, float] = field(default_factory=dict)
    persists: list[DataFrame] = field(default_factory=list)
    broadcasts: list = field(default_factory=list)
    pool: ThreadPoolExecutor | None = None
    tick: float = field(default_factory=time.monotonic)

    @property
    def par(self) -> int:
        return self.spark.sparkContext.defaultParallelism

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self.persists.append(df)
        return df

    def parts_for(self, n: int) -> int:
        # floor at the cluster parallelism: rows-per-file sizing alone
        # makes a 3.6M-row write 4 tasks on 32 cores, so the writes
        # phase would not scale with cores; the floor costs nothing at
        # 10^10 scale where rows/size dominates anyway
        return max(self.par, min(1024, n // ROWS_PER_FILE + 1))

    def mark(self, phase: str) -> None:
        now = time.monotonic()
        self.timings[phase] = round(now - self.tick, 3)
        self.tick = now

    def timed(self, name: str, fn, *args, **kwargs):
        def run():
            w0 = time.monotonic()
            try:
                return fn(*args, **kwargs)
            finally:
                self.write_secs[name] = round(time.monotonic() - w0, 3)
        return run

    def stage_all(self, writes: list[tuple[str, DataFrame, str, list | None]]
                  ) -> None:
        # independent writes from concurrent driver threads: wall time
        # is max(write), not sum(write)
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            futs = [
                pool.submit(self.timed(name, self.cat.stage_write, df, name,
                                       mode, partition_cols=pcols))
                for name, df, mode, pcols in writes
            ]
            for fut in futs:
                fut.result()

    def release(self) -> None:
        # an exception mid-wave must not leak this wave's early-write
        # threads (they finish into the never-committed staging area; the
        # next attempt re-stages every table), cached relations, or bloom
        # broadcast bitmap blocks (scoped per wave; see
        # bloom.release_broadcasts)
        if self.pool is not None:
            self.pool.shutdown(wait=True)
        for df in self.persists:
            df.unpersist()
        bloom.release_broadcasts(self.broadcasts)


def bootstrap(spark: SparkSession, cat: Catalog, cfg: EngineConfig) -> int:
    """Wave 0 — robots table + seed ingest (op S1) → first snapshot."""
    cat.init()
    ctx = _WaveCtx(spark, cat, cfg, wave=0)
    try:
        robots = robots_table(spark, universe_hosts(cfg))
        rules_agg = aggregate_rules(robots)

        # seeds are synthesized DISTRIBUTED (native Column twin of
        # synth.seed_urls — bit-identical strings): a driver-side Python
        # list is serial non-scaling work (~10 s at 320k seeds) and
        # impossible at the 10^10-frontier target
        seeds = seed_urls_df(spark, cfg.n_seeds, cfg.seed_spread_hosts)
        cand = with_canonical(seeds)  # adds canon_url, host, path

        w = Window.partitionBy("canon_url").orderBy("disc_seq")
        first = cand.withColumn("_rn", F.row_number().over(w))
        survivors = first.filter(F.col("_rn") == 1).drop("_rn")
        dups = first.filter(F.col("_rn") > 1)

        judged = ctx.persist(with_robots_verdict(survivors, rules_agg))
        allowed = judged.filter(F.col("robots_allowed"))
        blocked = judged.filter(~F.col("robots_allowed"))

        frontier = ctx.persist(allowed.select(
            F.col("canon_url"),
            F.col("host"),
            murmur64_col(F.col("canon_url")).alias("url_hash"),
            F.lit(0).alias("priority"),
            F.lit(0).alias("depth"),
            F.lit(0).alias("disc_wave"),
            F.col("disc_seq"),
            F.lit(0).cast("long").alias("parent_hash"),
        ))
        hosts = _new_host_rows(
            frontier.groupBy("host").agg(F.count("*").alias("frontier_rows")),
            cfg, wave=0)
        lineage = _lineage_singlepass(
            0, cfg.n_buckets,
            {"queued": frontier, "deduped": dups, "robots_blocked": blocked},
        )

        # bloom covers DISCOVERED URLs (frontier ∪ seen): every URL
        # entering the frontier is inserted at discovery, so later waves'
        # probes have no false negatives against frontier membership
        # either — fresh candidates skip the exact frontier anti-join,
        # not just seen's.  Initial bitmap size comes from the seed count
        # (upper bound on wave-0 keys); waves grow it as the discovered
        # set grows.
        nbits0 = bloom.sized_nbits(cfg.n_seeds, cfg, cfg.bloom_nbits)
        empty_shards = spark.createDataFrame([], schemas.BLOOM_SHARDS)
        shards0 = bloom.build_shards(frontier, empty_shards, cfg, nbits=nbits0)

        boot_par = max(4, ctx.par)
        ctx.stage_all([
            ("robots", robots, "overwrite", None),
            # seed frontier is hash-clustered like every later frontier
            # write so wave 1's collision backstop can already prune
            ("frontier", hash_clustered(frontier, boot_par), "overwrite",
             ["_hseg"]),
            # hosts cluster by host_hash so later waves' carry-forward
            # split can prune the rewrite to the files holding touched hosts
            ("hosts", hash_clustered(hosts, boot_par, col="host_hash"),
             "overwrite", ["_hseg"]),
            ("lineage", lineage, "overwrite", None),
            ("bloom_shards", shards0, "overwrite", None),
        ])
        return cat.commit(wave=0, state=_state(cfg, 0, nbits0),
                          metrics={"seeds": cfg.n_seeds})
    finally:
        ctx.release()


def run_wave(spark: SparkSession, cat: Catalog, cfg: EngineConfig) -> dict:
    """One crawl wave = one batch job + one snapshot commit.

    Per-wave cost is bounded by the ADMITTED + DISCOVERED sets, not the
    frontier size — the property that keeps a 10^10-row frontier
    crawlable:

    - admission ranks only the priority-tiered head files
      (admission.admit_pruned + icelite manifest pruning);
    - the frontier is never rewritten wholesale: deep-tier files that
      provably contain no admitted row carry forward untouched in the
      manifest, only head files are rewritten minus the admitted rows;
    - candidate dedup probes a bloom over DISCOVERED URLs (frontier ∪
      seen), so fresh candidates (the vast majority) skip every exact
      join; the few "maybe" collisions verify via broadcast-collision
      joins that STREAM the big tables (one columnar key-column scan,
      zero shuffle of frontier/seen);
    - politeness_deferred derives from the lineage history's backlog
      algebra (Σ queued − Σ fetched per bucket) instead of counting the
      live frontier;
    - write parallelism is row-proportional (ROWS_PER_FILE), never a
      fixed coalesce(1) barrier."""
    t0 = time.monotonic()
    snap = cat.load_snapshot()
    # exceptions, not asserts: these guards must survive python -O
    if snap is None:
        raise ValueError(f"catalog at {cat.root} has no snapshot; "
                         "bootstrap it (or use run_crawl) first")
    if snap.state.get("config_hash") != cfg.config_hash():
        raise ValueError(
            f"wave config mismatch at {cat.root}: snapshot has config_hash="
            f"{snap.state.get('config_hash')!r}, requested {cfg.config_hash()!r}")
    ctx = _WaveCtx(spark, cat, cfg, wave=snap.wave + 1, snap=snap)
    try:
        adm = _admit(ctx)
        early = _start_early_writes(ctx, adm)
        fetch_log = _fetch(ctx, adm, early)
        exp = _expand(ctx, adm, fetch_log, early)
        return _finish(ctx, adm, exp, early, t0)
    finally:
        ctx.release()


# ---------------------------------------------------------------- admit


@dataclass
class _Admitted:
    rows: DataFrame          # persisted: ranked rows + global_seq, _src_file
    n: int
    host_segs: set[int]      # host_hash segments of the admitted hosts
    hosts: DataFrame         # every hosts row, LIVE tokens as of wave start
    seen_new: DataFrame      # this wave's seen rows (= the admitted URLs)
    frontier_files: list[dict]   # the wave-start frontier manifest
    touched: list[dict]      # frontier files that lost a row
    untouched: list[dict]    # frontier files carried byte-untouched


def _admit(ctx: _WaveCtx) -> _Admitted:
    """Q1/O1: pruned admission + crawl order."""
    spark, cat, wave = ctx.spark, ctx.cat, ctx.wave
    # hosts rows are lazily carried (schemas.HOSTS): materialize every
    # balance as of the end of wave-1 — admission and the token update
    # need LIVE tokens
    hosts = admission.effective_tokens(
        cat.scan(spark, "hosts", schema_ddl=schemas.HOSTS), wave - 1)
    # persist the ranked-admitted set (small: <= Σ budgets) BEFORE the
    # global-seq assembly — its prefix-sum offsets are a broadcast
    # subquery over the same rows, which would otherwise re-run the
    # ranking window a second time inside the one action
    ranked = ctx.persist(admission.admit_pruned(
        spark, cat, hosts, schemas.FRONTIER, persists=ctx.persists))
    admitted = ctx.persist(admission.assign_global_seq(
        ranked, int(ctx.snap.state["global_seq"])))
    # ONE driver action for every per-wave scalar: row count + the exact
    # set of frontier data files that lost a row (bounded by the head
    # file count; admission tags each row with input_file_name) + the
    # host_hash segments of the admitted hosts (for the hosts
    # carry-forward split) — every extra action is a cluster-wide
    # barrier
    n_admitted, touched_files, host_segs = admitted.agg(
        F.count("*"), F.collect_set("_src_file"),
        F.collect_set(F.shiftright(
            murmur64_col(F.col("host")), BACKSTOP_SEG_SHIFT))
    ).collect()[0]
    ctx.mark("admit")

    entries = cat.table_files("frontier")
    # O(entries) set split on decoded root-relative paths (NOT a nested
    # endswith scan over URL-encoded URIs: 10^6 manifest files x 10^3
    # touched would be 10^9 driver-side comparisons, and percent-encoded
    # roots would silently match nothing — see icelite.uri_to_rel)
    touched_rel = {icelite.uri_to_rel(f, cat.root)
                   for f in touched_files or []}
    untouched = [e for e in entries if e["path"] not in touched_rel]
    touched = [e for e in entries if e["path"] in touched_rel]
    unmatched = touched_rel - {e["path"] for e in touched}
    if unmatched:
        raise RuntimeError(
            "admission touched files missing from the frontier manifest "
            "(path normalization bug — e.g. a symlinked catalog root the "
            "JVM resolved differently, see icelite.uri_to_rel — or a "
            f"concurrent commit): {sorted(unmatched)[:5]}")
    return _Admitted(
        rows=admitted, n=n_admitted, host_segs=set(host_segs or []),
        hosts=hosts,
        seen_new=admitted.select(
            "canon_url", "url_hash", F.lit(wave).alias("first_wave")),
        frontier_files=entries, touched=touched, untouched=untouched)


# ---------------------------------------------------------- early writes


def _write_tiered(ctx: _WaveCtx, df: DataFrame, n_rows: int) -> list[dict]:
    """Stage-append ``df`` to the frontier; returns the new entries."""
    # one directory PER (PRIORITY VALUE, url_hash SEGMENT) (partitionBy
    # on duplicated columns — value-exact, no range sampling): every
    # file's [min,max] priority collapses to a point (admission tier
    # pruning stays sharp even when a wave writes a handful of rows per
    # tier) AND its url_hash range collapses to one narrow segment (the
    # collision backstop prunes frontier files by maybe-key segment).
    # The repartition is keyed on the hash segment, NOT on priority —
    # that would funnel each tier through a single task.
    n_parts = ctx.parts_for(n_rows)
    return ctx.cat.stage_write(
        hash_clustered(df.withColumn("_tier", F.col("priority")), n_parts),
        "frontier", mode="stage-append", partition_cols=["_tier", "_hseg"])


def _write_frontier_base(ctx: _WaveCtx, adm: _Admitted) -> None:
    """Carry untouched frontier files; rewrite touched ones minus admitted."""
    # stage_entries REPLACES the staged list, so it must precede every
    # stage-append to frontier — including the new-entries write, which
    # therefore waits on this future (see _finish)
    ctx.cat.stage_entries("frontier", adm.untouched)
    if adm.touched:
        touched_rows = sum(e.get("rows") or 0 for e in adm.touched)
        # broadcast the admitted keys only while they fit (same guard as
        # the maybe backstop): a 10^8-admitted wave would blow Spark's
        # broadcast limit — fall back to a shuffle anti
        keys = adm.rows.select("canon_url")
        if adm.n <= ctx.cfg.backstop_broadcast_max_rows:
            keys = F.broadcast(keys)
        rewrite = ctx.cat.scan_entries(
            ctx.spark, adm.touched, schemas.FRONTIER
        ).join(keys, "canon_url", "left_anti").select(*FRONTIER_COLS)
        _write_tiered(ctx, rewrite, touched_rows)


def _start_early_writes(ctx: _WaveCtx, adm: _Admitted) -> dict[str, Future]:
    """Launch the seen / crawl_log appends and the frontier carry-forward."""
    # everything derivable from ADMITTED alone runs on driver threads
    # CONCURRENT with the fetch+expansion jobs: its latency hides behind
    # the wave's dominant CPU instead of extending the post-expansion
    # barrier.  All three read only the materialized admitted cache; the
    # snapshot commit still happens once, after every future is collected
    parts = ctx.parts_for(adm.n)
    crawl_log_new = adm.rows.select(
        F.lit(ctx.wave).alias("wave"), "host", "rank_in_host", "canon_url",
        "global_seq")
    ctx.pool = ThreadPoolExecutor(max_workers=3)
    return {
        # hash-clustered append: each seen file covers a narrow url_hash
        # range, so later waves' collision backstops prune to the files
        # their maybe-keys hash into instead of streaming every key ever
        # admitted (which would make the backstop O(discovered) per wave)
        "seen": ctx.pool.submit(
            ctx.cat.stage_write, hash_clustered(adm.seen_new, parts),
            "seen", "append", partition_cols=["_hseg"]),
        "crawl_log": ctx.pool.submit(
            ctx.cat.stage_write, crawl_log_new.repartition(parts),
            "crawl_log", "append"),
        "frontier_base": ctx.pool.submit(_write_frontier_base, ctx, adm),
    }


def _raise_failed(early: dict[str, Future]) -> None:
    # fail-fast poll (non-blocking): an early write that died (disk full,
    # broadcast OOM) should abort the wave at the NEXT phase boundary,
    # not after minutes of fetch+expansion compute whose snapshot could
    # never commit anyway
    for fut in early.values():
        if fut.done() and fut.exception() is not None:
            raise fut.exception()


# ------------------------------------------------------- fetch + pages


def _fetch(ctx: _WaveCtx, adm: _Admitted,
           early: dict[str, Future]) -> DataFrame:
    """P0b + F1/F2/F3: salted fetch → pages write; returns its re-read."""
    # The fetch output is fat (image bytes): caching it for a second
    # consumer spills gigabytes once execution memory competes (measured
    # 3-8x wave slowdowns at 0.5-3.5 GB of page cache), and running the
    # fetch UDF twice doubles the wave's dominant CPU.  Instead it
    # streams STRAIGHT into its pages-table files (ONE execution) and the
    # expansion re-reads only the slim outlink columns from the
    # just-written parquet (columnar pruning never touches the bytes).
    cfg, par = ctx.cfg, ctx.par
    # P0b, adaptive: the salt fan-out per host is derived from that
    # host's MEASURED admitted count, not a fixed knob.  target_rows =
    # an eighth of an even partition share, so even when two heavy
    # (host, salt) keys hash into one partition the fetch stays
    # balanced; s(h) = clamp(ceil(n_h / target_rows), salt_factor,
    # salt_factor_max).  The floor keeps uniform waves' key space dense
    # (hash balance); the cap bounds a 10^10-scale mega-host's key
    # count.  The per-host counts aggregate the already-persisted
    # admitted cache and broadcast (≤ one row per live host), riding the
    # fetch job — no extra driver action.  Purely physical: admission
    # order is fixed before this repartition.
    target_rows = max(1, adm.n // (par * 8) + 1)
    host_salt = adm.rows.groupBy("host").agg(
        F.count("*").alias("_n")
    ).select(
        "host",
        F.least(
            F.lit(cfg.salt_factor_max),
            F.greatest(
                F.lit(cfg.salt_factor),
                F.ceil(F.col("_n") / F.lit(target_rows)),
            ),
        ).cast("int").alias("_s"),
    )
    salted = (
        adm.rows.drop("_src_file")
        .join(F.broadcast(host_salt), "host")
        .withColumn("salt", F.pmod(F.hash("canon_url"), F.col("_s")))
        .drop("_s")
    )
    fetched = fetch_pages(
        salted.repartition(par * 4, "host", "salt"), ctx.wave, cfg.n_hosts,
        batch_rows=cfg.arrow_batch_rows)
    _raise_failed(early)
    pages_entries = ctx.cat.stage_write(fetched, "pages", "append")
    ctx.mark("fetch_write")
    _raise_failed(early)
    return ctx.cat.scan_entries(ctx.spark, pages_entries, FETCHED_SCHEMA)


# ------------------------------------------------------------ expansion


@dataclass
class _Expanded:
    allowed: DataFrame       # robots-allowed candidates (lineage)
    blocked: DataFrame       # robots-blocked candidates (lineage)
    new_entries: DataFrame   # exact new frontier rows (lazy)
    n_uniq: int              # within-wave unique candidates ≥ |new_entries|
    nbits: int               # the wave-start bloom bitmap size
    backstop: dict           # backstop file-pruning counters (metrics)


def _expand(ctx: _WaveCtx, adm: _Admitted, fetch_log: DataFrame,
            early: dict[str, Future]) -> _Expanded:
    """C1 → P2 → D1 → B2/B3: robots gate, dedup, bloom probe, backstop."""
    spark, cat, cfg, wave = ctx.spark, ctx.cat, ctx.cfg, ctx.wave
    # outlinks arrive pre-canonicalized from the fetch pass (see fetch.py)
    cand = fetch_log.select(
        F.col("parent_url_hash").alias("parent_hash"),
        F.col("depth").alias("parent_depth"),
        F.col("fetched_seq").alias("parent_seq"),
        F.explode("outlinks").alias("ol"),
    ).select(
        "parent_hash", "parent_depth", "parent_seq",
        F.col("ol.j").alias("j"),
        F.col("ol.canon_url").alias("canon_url"),
        F.col("ol.host").alias("host"), F.col("ol.path").alias("path"),
    )
    rules_agg = aggregate_rules(
        cat.scan(spark, "robots", schema_ddl=schemas.ROBOTS))
    judged = ctx.persist(with_robots_verdict(cand, rules_agg))
    blocked = judged.filter(~F.col("robots_allowed"))
    allowed = ctx.persist(judged.filter(F.col("robots_allowed")).select(
        "canon_url", "host",
        murmur64_col(F.col("canon_url")).alias("url_hash"),
        (F.col("parent_depth") + 1).alias("priority"),
        (F.col("parent_depth") + 1).alias("depth"),
        F.lit(wave).alias("disc_wave"),
        (F.lit(DISC_SEQ_STRIDE).cast("long") * F.col("parent_seq")
         + F.col("j")).alias("disc_seq"),
        F.col("parent_hash"),
    ))

    # the snapshot's bloom covers every URL ever discovered (frontier ∪
    # seen as of wave start; this wave's admitted rows were frontier
    # members, hence already inside) — no pre-probe rebuild needed.
    # persist the probed set: BOTH branches below (fresh + maybe) and
    # the backstop broadcasts read it, and without the cache the D1
    # window + probe UDF would re-run once per consumer.
    nbits = int(ctx.snap.state.get("bloom_nbits", cfg.bloom_nbits))
    shards = cat.scan(spark, "bloom_shards", schema_ddl=schemas.BLOOM_SHARDS)
    probed = ctx.persist(bloom.probe(
        dedup_within_wave(allowed), shards, cfg, broadcasts=ctx.broadcasts,
        nbits=nbits))
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    # ONE fused agg materializes the persisted probe output (every
    # downstream relation — fresh/maybe, bloom build, host credit,
    # lineage, the frontier write — consumes that cache, so this is
    # scheduling order, not extra compute) and returns the EXACT
    # collision volume.  Choosing the backstop strategy on the
    # worst-case candidate bound (n_admitted x MAX_OUT) instead would
    # take the shuffle fallback on every production-sized wave — and
    # that fallback shuffles the (pruned) frontier + seen scans, a
    # per-wave cost that must stay exceptional at a 10^10-row frontier.
    # What actually has to fit in the broadcast is the maybe set (bloom
    # FPR x fresh + true re-discoveries), orders of magnitude smaller
    # than the bound; the shuffle path survives only as the overflow
    # valve.
    n_uniq, n_maybe, maybe_segs = probed.agg(
        F.count(F.lit(1)),
        F.sum(F.col("maybe_seen").cast("long")),
        # the distinct url_hash segments of the maybe keys ride the SAME
        # fused action (collect_set ignores the non-maybe nulls; bounded
        # by 2^16 int64s no matter how big the maybe set is) — they buy
        # the manifest pruning in _backstop at zero extra jobs
        F.collect_set(
            F.when(F.col("maybe_seen"),
                   F.shiftright("url_hash", BACKSTOP_SEG_SHIFT)))
    ).collect()[0]
    surviving_maybe, backstop = _backstop(
        ctx, adm, maybe, int(n_maybe or 0), set(maybe_segs or []))
    # NO count barrier on new_entries: write sizing uses the
    # within-wave-unique bound (n_new ≤ n_uniq exactly: new_entries =
    # fresh ∪ surviving_maybe ⊆ uniq), and the EXACT count arrives free
    # via an Observation riding the frontier write (_write_new_frontier)
    new_entries = fresh.unionByName(surviving_maybe).select(*FRONTIER_COLS)
    ctx.mark("expand")
    _raise_failed(early)
    return _Expanded(allowed=allowed, blocked=blocked,
                     new_entries=new_entries, n_uniq=int(n_uniq),
                     nbits=nbits, backstop=backstop)


def _backstop(ctx: _WaveCtx, adm: _Admitted, maybe: DataFrame,
              n_maybe: int, maybe_segs: set[int]
              ) -> tuple[DataFrame, dict]:
    """B3: the maybe rows that are truly new, + file-pruning counters."""
    # The frontier files scanned still hold this wave's admitted rows,
    # but those are already excluded by the seen side (admitted ⊆
    # seen_new ∪ seen), so the verdict equals an anti-join against
    # frontier-minus-admitted.
    # O(touched), not O(discovered): both scans read ONLY the
    # seen/frontier files whose url_hash range intersects a maybe-key
    # segment.  Writes are hash-clustered, so each file covers ~1/files
    # of the hash space and the scan cost tracks the maybe count x file
    # size, not the table size — at a 10^10-row seen table a wave with
    # 10^4 collisions reads ~10^4 files' key columns, not 10^10 keys.
    # Pruning is conservative (statless files kept, seg ranges are
    # supersets), so the verdicts are exactly the full scans'.  This
    # wave's own admissions are not in any file yet — seen_new joins in
    # explicitly.
    spark, cat = ctx.spark, ctx.cat
    seen_files = cat.table_files("seen")
    seen_hit = icelite.entries_overlapping_segs(
        seen_files, maybe_segs, BACKSTOP_SEG_SHIFT)
    frontier_hit = icelite.entries_overlapping_segs(
        adm.frontier_files, maybe_segs, BACKSTOP_SEG_SHIFT)
    counters = {
        "seen_files_scanned": len(seen_hit),
        "seen_files_total": len(seen_files),
        "frontier_files_scanned": len(frontier_hit),
        "frontier_files_total": len(adm.frontier_files),
    }
    seen_scan = (
        cat.scan_entries(spark, seen_hit, schemas.SEEN).select("canon_url")
        .unionByName(adm.seen_new.select("canon_url"))
    )
    frontier_scan = cat.scan_entries(
        spark, frontier_hit, schemas.FRONTIER).select("canon_url")
    if n_maybe <= ctx.cfg.backstop_broadcast_max_rows:
        # shuffle-free: ONE broadcast of the maybe keys streams the
        # pruned tables (columnar key-column scans, no shuffle, no build
        # side)
        keys = maybe.select("canon_url").distinct()
        collisions = (
            seen_scan.join(F.broadcast(keys), "canon_url", "left_semi")
            .unionByName(
                frontier_scan
                .join(F.broadcast(keys), "canon_url", "left_semi"))
        )
        return maybe.join(
            F.broadcast(collisions), "canon_url", "left_anti"), counters
    # candidate volume too big to broadcast: plain anti-joins (still over
    # the pruned file sets)
    return maybe.join(seen_scan, "canon_url", "left_anti").join(
        frontier_scan, "canon_url", "left_anti"), counters


# ------------------------------------------------- final writes + commit


def _write_new_frontier(ctx: _WaveCtx, exp: _Expanded
                        ) -> tuple[DataFrame, int, set[int]]:
    """Write the new frontier rows; returns (their re-read, exact count,
    host_hash segments of the hosts gaining backlog)."""
    # new_entries feeds FOUR writers (frontier, bloom, hosts credit,
    # lineage).  A persisted-cache fan-out made the concurrent write jobs
    # race to materialize the same partitions (measured: all four writes
    # finishing in lock-step at 22-23 s in a wave whose columns sum to a
    # fraction of that).  Instead the ONE write that needs the full rows
    # runs FIRST and computes the expansion exactly once; the other three
    # derive from its just-written parquet — the same
    # write-once/re-read-slim pattern the fetch stage uses for pages.
    if exp.n_uniq == 0:
        # quiet wave (every candidate deduped/blocked): skip the empty
        # Spark write whose only product would be the Observation count
        # — new_entries ⊆ uniq, so n_uniq == 0 proves n_new == 0
        return ctx.spark.createDataFrame([], schemas.FRONTIER), 0, set()
    obs = Observation()
    new_files = ctx.timed(
        "frontier_new", _write_tiered, ctx,
        exp.new_entries.observe(
            obs, F.count(F.lit(1)).alias("n"),
            # host_hash segments of the hosts gaining backlog — rides the
            # write action for free, feeds the hosts carry-forward split
            F.collect_set(F.shiftright(
                murmur64_col(F.col("host")), BACKSTOP_SEG_SHIFT)).alias("hsegs")),
        exp.n_uniq)()
    return (ctx.cat.scan_entries(ctx.spark, new_files, schemas.FRONTIER),
            int(obs.get["n"] or 0), set(obs.get["hsegs"] or []))


def _next_bloom(ctx: _WaveCtx, adm: _Admitted, exp: _Expanded,
                new_read: DataFrame) -> tuple[DataFrame, int]:
    """B1: new discoveries enter the bloom; returns (shards, nbits)."""
    # The bitmap sizes itself: a fixed bitmap saturates as the crawl
    # discovers, its FPR climbs toward 1, and every "maybe" row then
    # lands in the exact frontier+seen backstop.  The discovered count is
    # exact and free: frontier ∪ seen partitions the discovered set, so
    # parent row_counts + this wave's unique candidates bound it.  When
    # the projected fill crosses bloom.FILL_TARGET, rebuild at the next
    # power of two from the key column of frontier ∪ seen ∪ new (one
    # slim columnar pass, amortized O(discovered) per doubling — the
    # classic growth argument).
    spark, cat, cfg = ctx.spark, ctx.cat, ctx.cfg
    nbits_cur = exp.nbits
    shards = cat.scan(spark, "bloom_shards", schema_ddl=schemas.BLOOM_SHARDS)
    keys_now = int(ctx.snap.row_counts.get("frontier", 0)) + int(
        ctx.snap.row_counts.get("seen", 0)) + exp.n_uniq
    if bloom.sized_nbits(keys_now, cfg, nbits_cur) <= nbits_cur:
        return bloom.build_shards(new_read, shards, cfg, nbits=nbits_cur), \
            nbits_cur
    # rebuild with 4x headroom so growth costs one rebuild every ~2
    # doublings of the discovered set, not one per wave.  The full
    # committed frontier (unpruned) is the one consumer that genuinely
    # needs every key.
    nbits_next = bloom.sized_nbits(keys_now * 4, cfg, nbits_cur)
    all_keys = (
        cat.scan(spark, "seen", schema_ddl=schemas.SEEN).select("url_hash")
        .unionByName(adm.seen_new.select("url_hash"))
        .unionByName(cat.scan(spark, "frontier", schema_ddl=schemas.FRONTIER)
                     .select("url_hash"))
        .unionByName(new_read.select("url_hash"))
    )
    return bloom.build_shards(
        all_keys, spark.createDataFrame([], schemas.BLOOM_SHARDS),
        cfg, nbits=nbits_next), nbits_next


def _next_hosts(ctx: _WaveCtx, adm: _Admitted, new_read: DataFrame,
                new_host_segs: set[int], n_new_bound: int
                ) -> tuple[DataFrame | None, list[dict], list[dict], int]:
    """P1 token/backlog update over the hosts carry-forward split; returns
    (clustered rows to stage-append or None, carried files, rewritten
    files, rewritten-rows bound)."""
    # Only hosts whose state CHANGED this wave need a rewrite: admitted
    # hosts (tokens consumed, backlog drained) and hosts gaining backlog
    # (credited below) — both seg sets were collected for free.  Every
    # other row's only per-wave change is the pure refill, which the lazy
    # carry invariant (schemas.HOSTS + effective_tokens) reconstructs
    # bit-exactly at read time — so their files carry byte-untouched in
    # the manifest, the same trick the frontier uses.  A throttled wave
    # late in a big crawl writes O(touched hosts), not O(hosts).  Every
    # cfg.hosts_compact_every waves the split is bypassed (full
    # rewrite), bounding the refill fold depth.
    spark, cat, cfg, wave = ctx.spark, ctx.cat, ctx.cfg, ctx.wave
    files = cat.table_files("hosts")
    if cfg.hosts_compact_every > 0 and wave % cfg.hosts_compact_every == 0:
        hit, carried = files, []
    else:
        hit = icelite.entries_overlapping_segs(
            files, adm.host_segs | new_host_segs, BACKSTOP_SEG_SHIFT,
            col="host_hash")
        hit_paths = {e["path"] for e in hit}
        carried = [e for e in files if e["path"] not in hit_paths]
    rows_bound = sum(e.get("rows") or 0 for e in hit) + n_new_bound
    # skip the write entirely when nothing could have changed (fully
    # throttled wave: no admissions, no discoveries — every hosts file
    # carries and every balance stays lazy)
    if not hit and n_new_bound == 0:
        return None, carried, hit, rows_bound
    # update/credit run over the HIT rows only; conservative seg pruning
    # guarantees every admitted/credited host's file is in the hit set,
    # and untouched rows that share a hit file simply normalize (exact:
    # update_tokens with admitted_n = 0 IS the oracle's refill)
    hosts_hit = admission.effective_tokens(
        cat.scan_entries(spark, hit, schemas.HOSTS), wave - 1)
    new_counts = new_read.groupBy("host").agg(
        F.count("*").alias("frontier_rows"))
    credited = (
        admission.update_tokens(hosts_hit, adm.rows, wave=wave)
        .join(new_counts.withColumnRenamed("frontier_rows", "add_rows"),
              "host", "left")
        .withColumn(
            "frontier_rows",
            F.col("frontier_rows") + F.coalesce("add_rows", F.lit(0)))
        .drop("add_rows")
    )
    # anti-join against the FULL host list (not just hit files): a
    # credited host living in a carried file must not re-insert
    new_hosts = _new_host_rows(
        new_counts.join(adm.hosts.select("host"), "host", "left_anti"),
        cfg, wave)
    # size by the REWRITE volume (hit rows + new-host bound), not the
    # table cardinality — the whole point of the carry-forward; cluster
    # by host_hash so the next wave's split prunes sharply
    rows = hash_clustered(credited.unionByName(new_hosts),
                          ctx.parts_for(rows_bound), col="host_hash")
    return rows, carried, hit, rows_bound


def _next_lineage(ctx: _WaveCtx, adm: _Admitted, exp: _Expanded,
                  new_read: DataFrame) -> DataFrame:
    """L1: current counters + history backlog, NO frontier scan."""
    wave = ctx.wave
    cur = _lineage_singlepass(
        wave, ctx.cfg.n_buckets,
        {
            "admitted": adm.rows,
            "allowed": exp.allowed,
            "queued": new_read,
            "robots_blocked": exp.blocked,
        },
    ).drop("politeness_deferred")
    # backlog(bucket) = frontier rows at wave start = Σ queued − Σ fetched
    # over all prior lineage rows (wave 0 queued the seeds)
    hist = (
        ctx.cat.scan(ctx.spark, "lineage", schema_ddl=schemas.LINEAGE)
        .groupBy("bucket")
        .agg((F.sum("queued") - F.sum("fetched")).alias("backlog"))
    )
    return (
        cur.join(hist, "bucket", "full")
        .filter(
            (F.coalesce("backlog", F.lit(0)) > 0) | F.col("wave").isNotNull()
        )
        .select(
            F.lit(wave).alias("wave"),
            "bucket",
            *[
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ("fetched", "queued", "deduped", "robots_blocked")
            ],
            (
                F.coalesce("backlog", F.lit(0))
                - F.coalesce("fetched", F.lit(0))
            ).cast("long").alias("politeness_deferred"),
        )
    )


def _finish(ctx: _WaveCtx, adm: _Admitted, exp: _Expanded,
            early: dict[str, Future], t0: float) -> dict:
    """S3/K1: remaining writes + the atomic commit; returns the metrics."""
    cat = ctx.cat
    # the frontier staged list must already hold carried + rewritten
    # entries before the new-entries stage-append (stage_entries replaces)
    early["frontier_base"].result()
    new_read, n_new, new_host_segs = _write_new_frontier(ctx, exp)
    shards_next, nbits_next = _next_bloom(ctx, adm, exp, new_read)
    hosts_rows, hosts_carried, hosts_rewritten, hosts_bound = _next_hosts(
        ctx, adm, new_read, new_host_segs, exp.n_uniq)
    lineage = _next_lineage(ctx, adm, exp, new_read)

    # seen / crawl_log / frontier-carry-forward were launched right after
    # admission and have been overlapping the fetch+expansion; what
    # remains depends on the expansion output.  The hosts staged list =
    # carried files + the rewrite's new files; the stage_entries seeding
    # must precede the stage-append (it replaces)
    cat.stage_entries("hosts", hosts_carried)
    writes: list[tuple[str, DataFrame, str, list | None]] = [
        ("lineage", lineage.coalesce(1), "append", None),
        ("bloom_shards", shards_next, "overwrite", None),
    ]
    if hosts_rows is not None:
        writes.insert(0, ("hosts", hosts_rows, "stage-append", ["_hseg"]))
    ctx.stage_all(writes)
    for fut in early.values():
        fut.result()
    ctx.mark("writes")
    wall = time.monotonic() - t0
    metrics = {
        "wave": ctx.wave, "admitted": adm.n, "new_frontier": n_new,
        "frontier_files_carried": len(adm.untouched),
        "frontier_files_rewritten": len(adm.touched),
        "hosts_files_carried": len(hosts_carried),
        "hosts_files_rewritten": len(hosts_rewritten),
        "hosts_rows_rewritten_bound": hosts_bound,
        "wall_sec": round(wall, 3),
        "urls_per_sec": round(adm.n / wall, 2) if wall > 0 else None,
        "phases": ctx.timings,
        "write_secs": ctx.write_secs,
        "bloom_nbits": nbits_next,
        "backstop": exp.backstop,
    }
    cat.commit(
        wave=ctx.wave,
        state=_state(ctx.cfg, int(ctx.snap.state["global_seq"]) + adm.n,
                     nbits_next),
        metrics=metrics)
    return metrics


def run_crawl(spark: SparkSession, root: str, cfg: EngineConfig) -> Catalog:
    """Run (or resume — op K2) a crawl to cfg.n_waves.  Resume = point at
    an existing catalog root; the current snapshot carries wave number,
    global_seq and every table's file pins, so the next wave continues
    exactly where the last commit left off."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(SLIM_BATCH_ROWS))
    cat = Catalog(root)
    snap = Catalog(root).init().load_snapshot()
    if snap is not None and snap.state.get("layout_version") != LAYOUT_VERSION:
        # a catalog from an older on-disk layout lacks the discovered-URL
        # bloom coverage and the hosts backlog column this code relies on
        # — resuming it would silently corrupt frontier dedup
        raise ValueError(
            f"catalog at {root} has layout_version="
            f"{snap.state.get('layout_version')!r}, this engine requires "
            f"{LAYOUT_VERSION}; re-crawl into a fresh root"
        )
    if snap is not None and snap.state.get("config_hash") != cfg.config_hash():
        # resuming with different semantics-affecting knobs would silently
        # mix two crawl definitions and break oracle parity — the exact
        # guarantee the recorded hash exists to protect
        raise ValueError(
            f"resume config mismatch at {root}: snapshot has "
            f"config_hash={snap.state.get('config_hash')!r}, requested "
            f"{cfg.config_hash()!r}; start a fresh catalog root or rerun "
            "with the original EngineConfig"
        )
    from .maintenance import compact_table

    try:
        if snap is None:
            bootstrap(spark, cat, cfg)
            snap = cat.load_snapshot()
        while snap.wave < cfg.n_waves:
            run_wave(spark, cat, cfg)
            snap = cat.load_snapshot()
            # periodic seen compaction (plans/maintenance.py): appends
            # fragment each hash segment across ~W files after W waves;
            # compaction restores one-file-per-segment pruning in one
            # content-preserving atomic snapshot.
            if (cfg.seen_compact_every > 0 and snap.wave > 0
                    and snap.wave % cfg.seen_compact_every == 0
                    and snap.wave < cfg.n_waves):
                compact_table(spark, cat, "seen", schemas.SEEN,
                              cluster_col="url_hash",
                              rows_per_file=ROWS_PER_FILE)
                snap = cat.load_snapshot()
    except BaseException:
        # a bootstrap or wave that failed after partial staging must not
        # leave its file lists to be pinned by a later commit on this
        # Catalog object (tests/demos reuse them); the staged parquet
        # becomes orphans for sweep_orphans
        cat.discard_staged()
        raise
    return cat
