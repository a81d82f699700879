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

Every ordering decision uses the total orders of §1.4, so the result is
bit-identical to oracle/seqcrawl.py at ANY partition count — that is the
"crawl-order + URL-seen exact match vs reference" gate (BASELINE.json:2).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F

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
# its manifest stats) — see _with_hseg.  48 = 16-bit segments: finer
# than any realistic per-wave file count, so pruning resolution is
# limited by file granularity, not by this constant.
BACKSTOP_SEG_SHIFT = 48


def _with_hseg(df: DataFrame, n_files: int, col: str = "url_hash"):
    """Add a `_hseg` clustering column splitting the ``col`` hash space
    into ~n_files contiguous segments.  Writing with repartition(n,
    '_hseg') + partition_cols=['_hseg'] then yields one file per segment
    whose ``col`` [min, max] footer stats collapse to that segment's
    narrow range — the property manifest seg-pruning needs (the
    collision backstop over url_hash; the hosts carry-forward split
    over host_hash).  Purely physical (file placement); murmur64 hashes
    are uniform, so static power-of-two segmentation balances without a
    sampling job (unlike repartitionByRange)."""
    k = max(1, (max(2, n_files) - 1).bit_length())
    return df.withColumn("_hseg", F.shiftright(col, 64 - k))


# Σ over hosts of next wave's admissible rows — observed as a free
# side-product of the hosts write (no extra job) and carried in snapshot
# state so admission's head-cut sizing never needs its own aggregate
def _want_expr():
    return F.sum(
        F.greatest(
            F.lit(0).cast("long"),
            F.least(F.floor("tokens").cast("long"), F.col("frontier_rows")),
        )
    ).alias("next_want")

from .. import schemas
from ..config import DISC_SEQ_STRIDE, EngineConfig
from ..fixtures import synth
from ..functions.spark_cols import bucket_col, murmur64_col, seed_urls_df
from ..operators import admission, bloom
from ..operators.canonicalize import with_canonical
from ..operators.dedup import dedup_within_wave, make_host_budget_udf
from ..operators.robots import aggregate_rules, robots_table, with_robots_verdict
from ..sources import icelite
from ..sources.icelite import Catalog

FRONTIER_COLS = [c.split(" ")[0] for c in schemas.FRONTIER.split(", ")]


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


def bootstrap(spark: SparkSession, cat: Catalog, cfg: EngineConfig) -> int:
    """Wave 0 — robots table + seed ingest (op S1) → first snapshot."""
    cat.init()
    # bootstrap ships only slim URL rows through Python (canonicalizer,
    # bloom build) — use the large-batch setting
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(cfg.arrow_batch_rows_slim))
    robots = robots_table(spark, universe_hosts(cfg))
    rules_agg = aggregate_rules(robots)

    # seeds are synthesized DISTRIBUTED (native Column twin of
    # synth.seed_urls — bit-identical strings): a driver-side Python list
    # is serial non-scaling work (~10 s at 320k seeds) and impossible at
    # the 10^10-frontier target
    seeds = seed_urls_df(spark, cfg.n_seeds, cfg.seed_spread_hosts)
    cand = with_canonical(seeds)  # adds canon_url, host, path

    w = Window.partitionBy("canon_url").orderBy("disc_seq")
    first = cand.withColumn("_rn", F.row_number().over(w))
    survivors = first.filter(F.col("_rn") == 1).drop("_rn")
    dups = first.filter(F.col("_rn") > 1)

    judged = with_robots_verdict(survivors, rules_agg).persist()
    allowed = judged.filter(F.col("robots_allowed"))
    blocked = judged.filter(~F.col("robots_allowed"))

    frontier = allowed.select(
        F.col("canon_url"),
        F.col("host"),
        murmur64_col(F.col("canon_url")).alias("url_hash"),
        F.lit(0).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("disc_wave"),
        F.col("disc_seq"),
        F.lit(0).cast("long").alias("parent_hash"),
    ).persist()

    hosts = (
        frontier.groupBy("host")
        .agg(F.count("*").alias("frontier_rows"))
        .withColumn("_b", make_host_budget_udf(cfg.budget_scale)(F.col("host")))
        .select(
            "host", F.col("_b.capacity").alias("tokens"),
            F.col("_b.capacity"), F.col("_b.refill_per_wave"),
            F.col("_b.crawl_delay"), "frontier_rows",
            murmur64_col(F.col("host")).alias("host_hash"),
            # carry-forward invariant (schemas.HOSTS): balance as of the
            # end of wave 0 = ingest capacity
            F.lit(0).alias("last_wave"))
    )

    lineage = _lineage_singlepass(
        0, cfg.n_buckets,
        {"queued": frontier, "deduped": dups, "robots_blocked": blocked},
    )

    # bloom covers DISCOVERED URLs (frontier ∪ seen): every URL entering
    # the frontier is inserted at discovery, so later waves' probes have
    # no false negatives against frontier membership either — fresh
    # candidates skip the exact frontier anti-join, not just seen's.
    # Initial bitmap size comes from the seed count (upper bound on
    # wave-0 keys); waves grow it as the discovered set grows.
    nbits0 = bloom.sized_nbits(cfg.n_seeds, cfg, cfg.bloom_nbits)
    empty_shards = spark.createDataFrame([], schemas.BLOOM_SHARDS)
    shards0 = bloom.build_shards(frontier, empty_shards, cfg, nbits=nbits0)

    from concurrent.futures import ThreadPoolExecutor

    boot_obs = Observation()
    boot_par = max(4, spark.sparkContext.defaultParallelism)
    # seed frontier is hash-clustered like every later frontier write
    # (see _with_hseg) so wave 1's collision backstop can already prune
    frontier_clustered = _with_hseg(frontier, boot_par).repartition(
        boot_par, "_hseg")
    # hosts cluster by host_hash so later waves' carry-forward split can
    # prune the rewrite to the files holding touched hosts
    hosts_clustered = _with_hseg(
        hosts.observe(boot_obs, _want_expr()), boot_par, col="host_hash"
    ).repartition(boot_par, "_hseg")
    boot_writes = [
        ("robots", robots, "overwrite", None),
        ("frontier", frontier_clustered, "overwrite", ["_hseg"]),
        ("hosts", hosts_clustered, "overwrite", ["_hseg"]),
        ("lineage", lineage, "overwrite", None),
        ("bloom_shards", shards0, "overwrite", None),
    ]
    with ThreadPoolExecutor(max_workers=len(boot_writes)) as pool:
        for fut in [
            pool.submit(cat.stage_write, df, name, mode, None, pcols)
            for name, df, mode, pcols in boot_writes
        ]:
            fut.result()
    sid = cat.commit(
        wave=0,
        state={"global_seq": 0, "config_hash": cfg.config_hash(),
               "layout_version": LAYOUT_VERSION,
               "bloom_nbits": nbits0,
               "next_admission_want": int(boot_obs.get["next_want"] or 0)},
        metrics={"seeds": cfg.n_seeds},
    )
    judged.unpersist()
    frontier.unpersist()
    return sid


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
    - write parallelism is row-proportional (cfg.write_rows_per_file),
      never a fixed coalesce(1) barrier."""
    wave_persists: list[DataFrame] = []
    wave_broadcasts: list = []
    wave_pools: list = []
    try:
        return _run_wave(spark, cat, cfg, wave_persists, wave_broadcasts,
                         wave_pools)
    finally:
        # always runs — an exception mid-wave must not leak this wave's
        # early-write threads (they finish into the never-committed
        # staging area; the next attempt re-stages every table), cached
        # relations, or bloom broadcast bitmap blocks (scoped per wave;
        # see bloom.release_broadcasts)
        for pool in wave_pools:
            pool.shutdown(wait=True)
        for df in wave_persists:
            df.unpersist()
        bloom.release_broadcasts(wave_broadcasts)


def _run_wave(spark: SparkSession, cat: Catalog, cfg: EngineConfig,
              wave_persists: list, wave_broadcasts: list,
              wave_pools: list) -> dict:
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
    wave = snap.wave + 1
    base = int(snap.state["global_seq"])
    nb = cfg.n_buckets
    par = spark.sparkContext.defaultParallelism

    def parts_for(n: int, floor_parts: int | None = None) -> int:
        # floor at the cluster parallelism: rows-per-file sizing alone
        # makes a 3.6M-row write 4 tasks on 32 cores, so the writes
        # phase would not scale with cores; the floor costs nothing at
        # 10^10 scale where rows/size dominates anyway
        if floor_parts is None:
            floor_parts = par
        return max(floor_parts, min(1024, n // cfg.write_rows_per_file + 1))

    # hosts rows are lazily carried (schemas.HOSTS): materialize every
    # balance as of the end of wave-1 — admission, the token update and
    # the next-want expression all need LIVE tokens
    hosts = admission.effective_tokens(
        cat.scan(spark, "hosts", schema_ddl=schemas.HOSTS), wave - 1)
    seen = cat.scan(spark, "seen", schema_ddl=schemas.SEEN)
    shards = cat.scan(spark, "bloom_shards", schema_ddl=schemas.BLOOM_SHARDS)
    rules_agg = aggregate_rules(cat.scan(spark, "robots", schema_ddl=schemas.ROBOTS))

    timings: dict[str, float] = {}

    def _mark(name: str, since: list[float]) -> None:
        now = time.monotonic()
        timings[name] = round(now - since[0], 3)
        since[0] = now

    tick = [time.monotonic()]

    # ---- Q1/O1: pruned admission + crawl order ----------------------------
    # persist the ranked-admitted set (small: <= Σ budgets) BEFORE the
    # global-seq assembly — its prefix-sum offsets are a broadcast
    # subquery over the same rows, which would otherwise re-run the
    # ranking window a second time inside the one action
    ranked_admitted = admission.admit_pruned(
        spark, cat, hosts, schemas.FRONTIER,
        head_factor=cfg.admission_head_factor,
        persists=wave_persists,
        want=snap.state.get("next_admission_want")).persist()
    wave_persists.append(ranked_admitted)
    admitted = admission.assign_global_seq(ranked_admitted, base).persist()
    wave_persists.append(admitted)
    # ONE driver action for every per-wave scalar: row count + the exact
    # set of frontier data files that lost a row (bounded by the head
    # file count; admission tags each row with input_file_name) + the
    # host_hash segments of the admitted hosts (for the hosts
    # carry-forward split below) — every extra action is a cluster-wide
    # barrier
    n_admitted, touched_files, adm_host_segs = admitted.agg(
        F.count("*"), F.collect_set("_src_file"),
        F.collect_set(F.shiftright(
            murmur64_col(F.col("host")), BACKSTOP_SEG_SHIFT))
    ).collect()[0]
    touched_files = set(touched_files or [])
    adm_host_segs = set(adm_host_segs or [])
    _mark("admit", tick)

    crawl_log_new = admitted.select(
        F.lit(wave).alias("wave"), "host", "rank_in_host", "canon_url",
        "global_seq")
    seen_new = admitted.select(
        "canon_url", "url_hash", F.lit(wave).alias("first_wave"))
    seen_updated = seen.unionByName(seen_new)

    # ---- early writes: everything derivable from ADMITTED alone -----------
    # seen / crawl_log appends and the frontier carry-forward (manifest
    # split + touched-file rewrite) need nothing from the fetch, so they
    # run on driver threads CONCURRENT with the fetch+expansion jobs —
    # their latency hides behind the wave's dominant CPU instead of
    # extending the post-expansion barrier.  All three read only the
    # materialized `admitted` cache; the snapshot commit still happens
    # once, at the end, after every future is collected.
    entries = cat.table_files("frontier")
    # O(entries) set split on decoded root-relative paths (NOT a nested
    # endswith scan over URL-encoded URIs: 10^6 manifest files x 10^3
    # touched would be 10^9 driver-side comparisons, and percent-encoded
    # roots would silently match nothing — see icelite.uri_to_rel)
    touched_rel = {icelite.uri_to_rel(f, cat.root) for f in touched_files}
    untouched = [e for e in entries if e["path"] not in touched_rel]
    touched = [e for e in entries if e["path"] in touched_rel]
    unmatched = touched_rel - {e["path"] for e in touched}
    if unmatched:
        raise RuntimeError(
            "admission touched files missing from the frontier manifest "
            "(path normalization bug — e.g. a symlinked catalog root the "
            "JVM resolved differently, see icelite.uri_to_rel — or a "
            f"concurrent commit): {sorted(unmatched)[:5]}")

    def write_tiered(df: DataFrame, n_rows: int) -> list[dict]:
        """One directory PER (PRIORITY VALUE, url_hash SEGMENT)
        (partitionBy on duplicated columns — value-exact, no range
        sampling): every file's [min,max] priority collapses to a point
        (admission tier pruning stays sharp even when a wave writes a
        handful of rows per tier) AND its url_hash range collapses to
        one narrow segment (the collision backstop prunes frontier
        files by maybe-key segment).  Returns the new manifest entries."""
        # repartition keyed on the hash segment (NOT on priority — that
        # would funnel each tier through a single task): each task holds
        # ~1 segment across all tiers and fans into the per-(tier, seg)
        # directories
        n_parts = parts_for(n_rows)
        return cat.stage_write(
            _with_hseg(df.withColumn("_tier", F.col("priority")), n_parts)
            .repartition(n_parts, "_hseg"),
            "frontier", mode="stage-append",
            partition_cols=["_tier", "_hseg"])

    def write_frontier_base() -> None:
        # stage_entries REPLACES the staged list, so it must precede
        # every stage-append to frontier — including the new-entries
        # write, which therefore waits on this future (see below)
        cat.stage_entries("frontier", untouched)
        if touched:
            touched_rows = sum(e.get("rows") or 0 for e in touched)
            # broadcast the admitted keys only while they fit (same
            # guard as the maybe backstop): a 10^8-admitted wave would
            # blow Spark's broadcast limit — fall back to a shuffle anti
            keys = admitted.select("canon_url")
            if n_admitted <= cfg.backstop_broadcast_max_rows:
                keys = F.broadcast(keys)
            rewrite = cat.scan_entries(
                spark, touched, schemas.FRONTIER
            ).join(keys, "canon_url", "left_anti").select(*FRONTIER_COLS)
            write_tiered(rewrite, touched_rows)

    from concurrent.futures import ThreadPoolExecutor

    early_pool = ThreadPoolExecutor(max_workers=3)
    wave_pools.append(early_pool)
    early_futs = {
        # hash-clustered append: each seen file covers a narrow url_hash
        # range, so later waves' collision backstops prune to the files
        # their maybe-keys hash into instead of streaming every key ever
        # admitted (which would make the backstop O(discovered) per wave)
        "seen": early_pool.submit(
            cat.stage_write,
            _with_hseg(seen_new, parts_for(n_admitted)).repartition(
                parts_for(n_admitted), "_hseg"),
            "seen", "append", None, ["_hseg"]),
        "crawl_log": early_pool.submit(
            cat.stage_write, crawl_log_new.repartition(parts_for(n_admitted)),
            "crawl_log", "append"),
        "frontier_base": early_pool.submit(write_frontier_base),
    }

    def raise_failed_early_writes() -> None:
        # fail-fast poll (non-blocking): an early write that died (disk
        # full, broadcast OOM) should abort the wave at the NEXT phase
        # boundary, not after minutes of fetch+expansion compute whose
        # snapshot could never commit anyway
        for name, fut in early_futs.items():
            if fut.done() and fut.exception() is not None:
                raise fut.exception()

    # ---- P0b + F1/F2/F3: salted fetch → pages write (ONE execution) -------
    # The fetch output is fat (image bytes): caching it for a second
    # consumer spills gigabytes once execution memory competes (measured
    # 3-8x wave slowdowns at 0.5-3.5 GB of page cache), and running the
    # fetch UDF twice doubles the wave's dominant CPU.  Instead the
    # fetched relation streams STRAIGHT into its pages-table files —
    # outlink log included — and the expansion re-reads only the slim
    # outlink columns from the just-written parquet (columnar pruning
    # never touches the bytes column).
    # P0b, adaptive: the salt fan-out per host is derived from that
    # host's MEASURED admitted count, not a fixed knob.  target_rows =
    # an eighth of an even partition share, so even when two heavy
    # (host, salt) keys hash into one partition the fetch stays
    # balanced; s(h) = clamp(ceil(n_h / target_rows),
    # salt_factor, salt_factor_max).  The floor keeps uniform waves'
    # key space dense (hash balance); the cap bounds a 10^10-scale
    # mega-host's key count.  The per-host counts aggregate the already-
    # persisted `admitted` cache and broadcast (≤ one row per live
    # host), riding the fetch job — no extra driver action.  Purely
    # physical: admission order is fixed before this repartition.
    target_rows = max(1, n_admitted // (par * 8) + 1)
    host_salt = admitted.groupBy("host").agg(
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
        admitted.drop("_src_file")
        .join(F.broadcast(host_salt), "host")
        .withColumn("salt", F.pmod(F.hash("canon_url"), F.col("_s")))
        .drop("_s")
    )
    from ..operators.fetch import FETCHED_SCHEMA, fetch_pages

    fetched = fetch_pages(
        salted.repartition(par * 4, "host", "salt"), wave, cfg.n_hosts)
    raise_failed_early_writes()
    # fat image rows -> small Arrow batches for THIS job only; the
    # expansion/bloom jobs below flip to the slim-row size (the early
    # writes running concurrently have no Python stages, so the session
    # setting is read only by the fetch job)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(cfg.arrow_batch_rows))
    pages_entries = cat.stage_write(fetched, "pages", "append")
    _mark("fetch_write", tick)
    raise_failed_early_writes()
    fetch_log = cat.scan_entries(spark, pages_entries, FETCHED_SCHEMA)

    # ---- expansion: C1 → P2 → D1 → B2/B3 ----------------------------------
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
    judged = with_robots_verdict(cand, rules_agg).persist()
    wave_persists.append(judged)
    blocked = judged.filter(~F.col("robots_allowed"))
    allowed = judged.filter(F.col("robots_allowed")).select(
        "canon_url", "host",
        murmur64_col(F.col("canon_url")).alias("url_hash"),
        (F.col("parent_depth") + 1).alias("priority"),
        (F.col("parent_depth") + 1).alias("depth"),
        F.lit(wave).alias("disc_wave"),
        (F.lit(DISC_SEQ_STRIDE).cast("long") * F.col("parent_seq")
         + F.col("j")).alias("disc_seq"),
        F.col("parent_hash"),
    ).persist()
    wave_persists.append(allowed)

    uniq = dedup_within_wave(allowed)
    # the snapshot's bloom covers every URL ever discovered (frontier ∪
    # seen as of wave start; this wave's admitted rows were frontier
    # members, hence already inside) — no pre-probe rebuild needed.
    # persist the probed set: BOTH branches below (fresh + maybe) and
    # the backstop broadcasts read it, and without the cache the D1
    # window + probe UDF would re-run once per consumer.
    nbits_cur = int(snap.state.get("bloom_nbits", cfg.bloom_nbits))
    probed = bloom.probe(uniq, shards, cfg, broadcasts=wave_broadcasts,
                         nbits=nbits_cur).persist()
    wave_persists.append(probed)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    # exact backstops run ONLY on the maybe set; the frontier files they
    # scan still hold this wave's admitted rows, but those are already
    # excluded by the seen backstop (admitted ⊆ seen_new ∪ seen), so the
    # verdict equals an anti-join against frontier-minus-admitted.
    # frontier_full is the UNPRUNED committed frontier — only the bloom
    # rebuild (which genuinely needs every key) consumes it.
    frontier_full = cat.scan(spark, "frontier", schema_ddl=schemas.FRONTIER)
    # ONE fused agg materializes the persisted probe output (every
    # downstream relation — fresh/maybe, bloom build, host credit,
    # lineage, the frontier write — consumes that cache, so this is
    # scheduling order, not extra compute) and returns the EXACT
    # collision volume.  Choosing the backstop strategy on the
    # worst-case candidate bound (n_admitted x MAX_OUT) instead would
    # take the shuffle fallback on every production-sized wave — and
    # that fallback shuffles the (pruned) frontier + seen scans, a
    # per-wave cost that must stay exceptional at a 10^10-row frontier.
    # What
    # actually has to fit in the broadcast is the maybe set (bloom FPR
    # x fresh + true re-discoveries), orders of magnitude smaller than
    # the bound; the shuffle path survives only as the overflow valve.
    # slim URL rows from here on (probe UDF, bloom build): large Arrow
    # batches cut JVM<->Python round-trips ~11% on a 5M-candidate wave
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(cfg.arrow_batch_rows_slim))
    n_uniq, n_maybe, maybe_segs = probed.agg(
        F.count(F.lit(1)),
        F.sum(F.col("maybe_seen").cast("long")),
        # the distinct url_hash segments of the maybe keys ride the SAME
        # fused action (collect_set ignores the non-maybe nulls; bounded
        # by 2^16 int64s no matter how big the maybe set is) — they buy
        # the manifest pruning below at zero extra jobs
        F.collect_set(
            F.when(F.col("maybe_seen"),
                   F.shiftright("url_hash", BACKSTOP_SEG_SHIFT)))
    ).collect()[0]
    n_uniq, n_maybe = int(n_uniq), int(n_maybe or 0)
    maybe_segs = set(maybe_segs or [])
    # O(touched), not O(discovered): both exact backstops scan ONLY the
    # seen/frontier files whose url_hash range intersects a maybe-key
    # segment.  Writes are hash-clustered (_with_hseg), so each file
    # covers ~1/files of the hash space and the scan cost tracks the
    # maybe count x file size, not the table size — at a 10^10-row seen
    # table a wave with 10^4 collisions reads ~10^4 files' key columns,
    # not 10^10 keys.  Pruning is conservative (statless files kept,
    # seg ranges are supersets), so the verdicts are exactly the full
    # scans'.  This wave's own admissions are not in any file yet —
    # seen_new joins in explicitly, completing seen_updated's semantics.
    seen_entries_all = cat.table_files("seen")
    seen_hit = icelite.entries_overlapping_segs(
        seen_entries_all, maybe_segs, BACKSTOP_SEG_SHIFT)
    frontier_hit = icelite.entries_overlapping_segs(
        entries, maybe_segs, BACKSTOP_SEG_SHIFT)
    backstop_files = {
        "seen_files_scanned": len(seen_hit),
        "seen_files_total": len(seen_entries_all),
        "frontier_files_scanned": len(frontier_hit),
        "frontier_files_total": len(entries),
    }
    seen_scan = (
        cat.scan_entries(spark, seen_hit, schemas.SEEN).select("canon_url")
        .unionByName(seen_new.select("canon_url"))
    )
    frontier_scan = cat.scan_entries(
        spark, frontier_hit, schemas.FRONTIER).select("canon_url")
    if n_maybe <= cfg.backstop_broadcast_max_rows:
        # shuffle-free: ONE broadcast of the maybe keys streams the
        # pruned tables (columnar key-column scans, no shuffle, no
        # build side)
        keys = maybe.select("canon_url").distinct()
        collisions = (
            seen_scan.join(F.broadcast(keys), "canon_url", "left_semi")
            .unionByName(
                frontier_scan
                .join(F.broadcast(keys), "canon_url", "left_semi"))
        )
        surviving_maybe = maybe.join(
            F.broadcast(collisions), "canon_url", "left_anti")
    else:
        # candidate volume too big to broadcast: plain anti-joins
        # (still over the pruned file sets)
        surviving_maybe = maybe.join(
            seen_scan, "canon_url", "left_anti"
        ).join(
            frontier_scan, "canon_url", "left_anti")
    new_entries = fresh.unionByName(surviving_maybe).select(*FRONTIER_COLS)
    # NO count barrier on new_entries: write sizing uses the
    # within-wave-unique bound (n_new ≤ n_uniq exactly: new_entries =
    # fresh ∪ surviving_maybe ⊆ uniq), and the EXACT count arrives free
    # via an Observation riding the frontier write (metrics read it
    # after the writes complete).
    n_new_bound = n_uniq
    new_obs = Observation()
    _mark("expand", tick)
    raise_failed_early_writes()

    # ---- frontier-new write FIRST; everything else re-reads its files ----
    # new_entries feeds FOUR writers (frontier, bloom, hosts credit,
    # lineage).  A persisted-cache fan-out made the concurrent write
    # jobs race to materialize the same partitions (measured: all four
    # writes finishing in lock-step at 22-23 s in a wave whose columns
    # sum to a fraction of that).  Instead the ONE write that needs the
    # full rows computes the expansion exactly once, and the other
    # three derive from its just-written parquet — the same
    # write-once/re-read-slim pattern the fetch stage uses for pages.
    write_secs: dict[str, float] = {}

    def timed(name: str, fn, *args):
        def run():
            w0 = time.monotonic()
            try:
                return fn(*args)
            finally:
                write_secs[name] = round(time.monotonic() - w0, 3)
        return run

    # the frontier staged list must already hold carried + rewritten
    # entries before this stage-append (stage_entries replaces)
    early_futs["frontier_base"].result()
    if n_new_bound > 0:
        new_files = timed("frontier_new", write_tiered,
                          new_entries.observe(
                              new_obs, F.count(F.lit(1)).alias("n"),
                              # host_hash segments of the hosts gaining
                              # backlog — rides the write action for
                              # free, feeds the hosts carry-forward
                              # split below
                              F.collect_set(F.shiftright(
                                  murmur64_col(F.col("host")),
                                  BACKSTOP_SEG_SHIFT)).alias("hsegs")),
                          n_new_bound)()
        new_read = cat.scan_entries(spark, new_files, schemas.FRONTIER)
    else:
        # quiet wave (every candidate deduped/blocked): skip the empty
        # Spark write whose only product would be the Observation count
        # — new_entries ⊆ uniq, so n_uniq == 0 proves n_new == 0
        new_read = spark.createDataFrame([], schemas.FRONTIER)

    # ---- B1: new discoveries enter the bloom ------------------------------
    # The bitmap sizes itself: a fixed bitmap saturates as the crawl
    # discovers, its FPR climbs toward 1, and every "maybe" row then
    # lands in the exact frontier+seen backstop.  The discovered count
    # is exact and free: frontier ∪ seen partitions the discovered set,
    # so parent row_counts + this wave's unique candidates bound it.
    # When the projected fill crosses bloom.FILL_TARGET, rebuild at the
    # next power of two from the key column of frontier ∪ seen ∪ new
    # (one slim columnar pass, amortized O(discovered) per doubling —
    # the classic growth argument).
    prev_keys = int(snap.row_counts.get("frontier", 0)) + int(
        snap.row_counts.get("seen", 0))
    if bloom.sized_nbits(prev_keys + n_uniq, cfg, nbits_cur) > nbits_cur:
        # rebuild with 4x headroom so growth costs one rebuild every ~2
        # doublings of the discovered set, not one per wave
        nbits_next = bloom.sized_nbits(
            (prev_keys + n_uniq) * 4, cfg, nbits_cur)
        all_keys = (
            seen_updated.select("url_hash")
            .unionByName(frontier_full.select("url_hash"))
            .unionByName(new_read.select("url_hash"))
        )
        shards_updated = bloom.build_shards(
            all_keys, spark.createDataFrame([], schemas.BLOOM_SHARDS),
            cfg, nbits=nbits_next)
    else:
        nbits_next = nbits_cur
        shards_updated = bloom.build_shards(
            new_read, shards, cfg, nbits=nbits_cur)

    # ---- hosts: carry-forward split ---------------------------------------
    # Only hosts whose state CHANGED this wave need a rewrite: admitted
    # hosts (tokens consumed, backlog drained) and hosts gaining backlog
    # (credited below) — both seg sets were collected for free above.
    # Every other row's only per-wave change is the pure refill, which
    # the lazy carry invariant (schemas.HOSTS + effective_tokens)
    # reconstructs bit-exactly at read time — so their files carry
    # byte-untouched in the manifest, the same trick the frontier uses.
    # A throttled wave late in a big crawl writes O(touched hosts),
    # not O(hosts).  Every cfg.hosts_compact_every waves the split is
    # bypassed (full rewrite): bounds the refill fold depth and re-arms
    # the exact next-want Observation.
    new_host_segs = (
        set(new_obs.get["hsegs"] or []) if n_new_bound > 0 else set())
    host_segs = adm_host_segs | new_host_segs
    hosts_entries_all = cat.table_files("hosts")
    compact_wave = (cfg.hosts_compact_every > 0
                    and wave % cfg.hosts_compact_every == 0)
    if compact_wave:
        hosts_hit_entries = hosts_entries_all
        hosts_carried: list = []
    else:
        hosts_hit_entries = icelite.entries_overlapping_segs(
            hosts_entries_all, host_segs, BACKSTOP_SEG_SHIFT,
            col="host_hash")
        hit_paths = {e["path"] for e in hosts_hit_entries}
        hosts_carried = [
            e for e in hosts_entries_all if e["path"] not in hit_paths]
    # update/credit run over the HIT rows only; conservative seg pruning
    # guarantees every admitted/credited host's file is in the hit set,
    # and untouched rows that share a hit file simply normalize (exact:
    # update_tokens with admitted_n = 0 IS the oracle's refill)
    hosts_hit = admission.effective_tokens(
        cat.scan_entries(spark, hosts_hit_entries, schemas.HOSTS), wave - 1)
    new_counts = new_read.groupBy("host").agg(
        F.count("*").alias("add_rows"))
    hosts_credited = (
        admission.update_tokens(hosts_hit, admitted, wave=wave)
        .join(new_counts, "host", "left")
        .withColumn(
            "frontier_rows",
            F.col("frontier_rows") + F.coalesce("add_rows", F.lit(0)))
        .drop("add_rows")
    )
    new_hosts = (
        new_counts
        # anti-join against the FULL host list (not just hit files): a
        # credited host living in a carried file must not re-insert
        .join(hosts.select("host"), "host", "left_anti")
        .withColumn("_b", make_host_budget_udf(cfg.budget_scale)(F.col("host")))
        .select("host", F.col("_b.capacity").alias("tokens"),
                F.col("_b.capacity"), F.col("_b.refill_per_wave"),
                F.col("_b.crawl_delay"),
                F.col("add_rows").alias("frontier_rows"),
                murmur64_col(F.col("host")).alias("host_hash"),
                F.lit(wave).alias("last_wave")))
    hosts_next = hosts_credited.unionByName(new_hosts)
    n_hosts_hit_rows = sum(e.get("rows") or 0 for e in hosts_hit_entries)
    # skip the write entirely when nothing could have changed (fully
    # throttled wave: no admissions, no discoveries — every hosts file
    # carries and every balance stays lazy)
    hosts_write_needed = bool(hosts_hit_entries) or n_new_bound > 0

    # ---- L1: lineage — current counters + history backlog, NO frontier scan
    cur = _lineage_singlepass(
        wave, nb,
        {
            "admitted": admitted,
            "allowed": allowed,
            "queued": new_read,
            "robots_blocked": blocked,
        },
    ).drop("politeness_deferred")
    # backlog(bucket) = frontier rows at wave start = Σ queued − Σ fetched
    # over all prior lineage rows (wave 0 queued the seeds)
    hist = (
        cat.scan(spark, "lineage", schema_ddl=schemas.LINEAGE)
        .groupBy("bucket")
        .agg((F.sum("queued") - F.sum("fetched")).alias("backlog"))
    )
    lineage = (
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

    # ---- S3/K1: remaining writes + atomic snapshot commit -----------------
    # seen / crawl_log / frontier-carry-forward were launched right after
    # admission (see early writes above) and have been overlapping the
    # fetch+expansion; what remains depends on the expansion output.
    # Independent jobs over persisted inputs run from concurrent driver
    # threads so wall-time is max(write) not sum(write).
    want_obs = Observation()
    # hosts staged list = carried files + the rewrite's new files; the
    # stage_entries seeding must precede the stage-append (it replaces)
    cat.stage_entries("hosts", hosts_carried)
    writes: list[tuple[str, DataFrame, str, list | None]] = [
        ("lineage", lineage.coalesce(1), "append", None),
        ("bloom_shards", shards_updated, "overwrite", None),
    ]
    if hosts_write_needed:
        # size by the REWRITE volume (hit rows + new-host bound), not
        # the table cardinality — the whole point of the carry-forward;
        # cluster by host_hash so the next wave's split prunes sharply
        hosts_parts = parts_for(n_hosts_hit_rows + n_new_bound)
        writes.insert(0, (
            "hosts",
            _with_hseg(
                hosts_next.observe(want_obs, _want_expr()),
                hosts_parts, col="host_hash",
            ).repartition(hosts_parts, "_hseg"),
            "stage-append", ["_hseg"]))

    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futs = [
            pool.submit(
                timed(name, cat.stage_write, df, name, mode, None, pcols))
            for name, df, mode, pcols in writes
        ]
        for fut in [*futs, *early_futs.values()]:
            fut.result()
    early_pool.shutdown(wait=True)
    _mark("writes", tick)
    # reading a never-fired Observation would block forever — the quiet
    # wave skipped the write, so its count is definitionally 0
    n_new = int(new_obs.get["n"] or 0) if n_new_bound > 0 else 0
    # exact Σ next-wave need, but only on full-rewrite waves (with
    # carried hosts files the Observation covers only the rewritten
    # rows); None ⇒ the next admission computes it itself (one small
    # hosts aggregate).  The guard also keeps a never-fired Observation
    # from being read, which would block forever.
    next_want = (int(want_obs.get["next_want"] or 0)
                 if hosts_write_needed and not hosts_carried else None)
    wall = time.monotonic() - t0
    metrics = {
        "wave": wave, "admitted": n_admitted, "new_frontier": n_new,
        "frontier_files_carried": len(untouched),
        "frontier_files_rewritten": len(touched),
        "hosts_files_carried": len(hosts_carried),
        "hosts_files_rewritten": len(hosts_hit_entries),
        "hosts_rows_rewritten_bound": n_hosts_hit_rows + n_new_bound,
        "wall_sec": round(wall, 3),
        "urls_per_sec": round(n_admitted / wall, 2) if wall > 0 else None,
        "phases": timings,
        "write_secs": write_secs,
        "bloom_nbits": nbits_next,
        "backstop": backstop_files,
    }
    cat.commit(
        wave=wave,
        state={"global_seq": base + n_admitted,
               "config_hash": cfg.config_hash(),
               "layout_version": LAYOUT_VERSION,
               "bloom_nbits": nbits_next,
               "next_admission_want": next_want},
        metrics=metrics)

    return metrics


def run_crawl(spark: SparkSession, root: str, cfg: EngineConfig) -> Catalog:
    """Run (or resume — op K2) a crawl to cfg.n_waves.  Resume = point at
    an existing catalog root; the current snapshot carries wave number,
    global_seq and every table's file pins, so the next wave continues
    exactly where the last commit left off."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(cfg.arrow_batch_rows))
    cat = Catalog(root)
    snap = Catalog(root).init().load_snapshot()
    if snap is None:
        bootstrap(spark, cat, cfg)
        snap = cat.load_snapshot()
    elif snap.state.get("layout_version") != LAYOUT_VERSION:
        # a catalog from an older on-disk layout lacks the discovered-URL
        # bloom coverage and the hosts backlog column this code relies on
        # — resuming it would silently corrupt frontier dedup
        raise ValueError(
            f"catalog at {root} has layout_version="
            f"{snap.state.get('layout_version')!r}, this engine requires "
            f"{LAYOUT_VERSION}; re-crawl into a fresh root"
        )
    elif snap.state.get("config_hash") != cfg.config_hash():
        # resuming with different semantics-affecting knobs would silently
        # mix two crawl definitions and break oracle parity — the exact
        # guarantee the recorded hash exists to protect
        raise ValueError(
            f"resume config mismatch at {root}: snapshot has "
            f"config_hash={snap.state.get('config_hash')!r}, requested "
            f"{cfg.config_hash()!r}; start a fresh catalog root or rerun "
            "with the original EngineConfig"
        )
    try:
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
                from .maintenance import compact_table
                compact_table(spark, cat, "seen", schemas.SEEN,
                              cluster_col="url_hash",
                              rows_per_file=cfg.write_rows_per_file)
                snap = cat.load_snapshot()
    except BaseException:
        # a wave that failed after partial staging must not leave its
        # file lists to be pinned by a later commit on this Catalog
        # object (tests/demos reuse them); the staged parquet becomes
        # orphans for sweep_orphans
        cat.discard_staged()
        raise
    return cat
