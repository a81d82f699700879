"""Ops Q1/O1/P1 — priority-queue admission, crawl-order assembly, and
token-bucket update (SURVEY.md §2.A) — all native Column API.

Admission reproduces the oracle's per-host total order exactly:
rank by (priority, disc_wave, disc_seq, canon_url) inside a host
partition, admit the first floor(tokens(host)).  The window shuffle is
the engine's explicit host-hash partitioning (op P0) — rows for one
host meet in one partition; the per-host budget is ≤ capacity (≤16),
so the admitted set is tiny relative to the frontier.

Crawl-order (op O1) avoids a global single-partition sort: per-host
admitted counts (≤ #hosts rows) get a prefix-sum window, and the
offsets broadcast-join back — global_seq = base + offset(host) + rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F

ORDER_COLS = ["priority", "disc_wave", "disc_seq", "canon_url"]

# admit_pruned's pass 1 reads head-tier frontier files covering this
# multiple of the wave's total admission need
HEAD_FACTOR = 4


def admit(frontier: DataFrame, hosts: DataFrame) -> DataFrame:
    """Returns frontier columns + rank_in_host for admitted rows only."""
    budgets = hosts.select(
        "host", F.floor("tokens").cast("long").alias("budget"))
    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in ORDER_COLS])
    return (
        frontier.withColumn("rank_in_host", F.row_number().over(w))
        .join(F.broadcast(budgets), "host", "left")
        .filter(F.col("rank_in_host") <= F.coalesce("budget", F.lit(0)))
        .drop("budget")
    )


def choose_cut(entries: list[dict], want_rows: int) -> int | None:
    """Pick the smallest priority cut whose tier files cover at least
    ``want_rows`` manifest rows (None => no usable stats, scan all).

    The frontier is stored priority-tiered (plans/wave.py writes head
    and tail separately and carries untouched deep files forward), so
    per-file [min,max] priority is tight and the head tiers hold the
    admissible rows; deep tiers — the bulk of a 10^10-row frontier —
    are never read by pass 1."""
    tiers: list[tuple[int, int]] = []  # (min_priority, rows)
    for e in entries:
        rng = (e.get("stats") or {}).get("priority")
        if rng is None:
            return None  # a statless file could hold any priority
        tiers.append((rng[0], e.get("rows") or 0))
    if not tiers:
        return None
    tiers.sort()
    covered, cut = 0, tiers[0][0]
    for mn, rows in tiers:
        if covered >= want_rows and mn > cut:
            break
        covered += rows
        cut = max(cut, mn)
    return cut


def admit_pruned(spark, cat, hosts: DataFrame, schema_ddl: str,
                 head_factor: int = HEAD_FACTOR,
                 persists: list | None = None,
                 timings: dict | None = None) -> DataFrame:
    """Q1 with manifest pruning: rank only the frontier's plausible head
    of the CURRENT committed snapshot.

    Pass 1 scans just the frontier files whose min priority lies under a
    cut chosen to cover ``head_factor`` x the wave's total admission
    need, and window-ranks rows with priority <= cut.  A host whose head
    candidate count reaches need(host) = min(floor(tokens),
    frontier_rows) is served EXACTLY there: the per-host order starts
    with priority, so its need smallest rows cannot hide above the cut.
    ``hosts.frontier_rows`` (incrementally maintained backlog, see
    schemas.HOSTS) proves coverage for fully-drained and
    fully-head-resident hosts without touching deep tiers.  Hosts the
    head cannot prove covered (freshly discovered deep hosts) fall back
    to a pass-2 rank over the full frontier restricted to just those
    hosts — and pass 2 is skipped entirely when no such host exists.

    Result == admit() over the whole frontier, bit for bit, at any
    partition count (tests/test_admission.py + test_crawl_match.py).
    Persisted intermediates are appended to ``persists`` for the caller
    to unpersist once its actions complete."""
    budgets = hosts.select(
        "host",
        F.least(
            F.floor("tokens").cast("long"), F.col("frontier_rows")
        ).alias("need"),
        F.floor("tokens").cast("long").alias("budget"),
    ).filter(F.col("need") > 0).persist()
    if persists is not None:
        persists.append(budgets)
    import time as _time

    def _mark(name: str, t0: float) -> None:
        if timings is not None:
            timings[name] = round(_time.monotonic() - t0, 3)

    # Σ need rides the ONE job that materializes the budgets cache: a
    # plan without an exchange runs as a single job, where a global
    # aggregate would add a shuffle-map job and a result job
    t0 = _time.monotonic()
    obs = Observation()
    budgets.observe(obs, F.sum("need").alias("want")) \
        .write.format("noop").mode("overwrite").save()
    want = obs.get["want"] or 0
    _mark("want_job_sec", t0)
    from ..sources.icelite import _may_match

    entries = cat.table_files("frontier")
    cut = choose_cut(entries, int(want) * head_factor)
    head_entries = entries if cut is None else [
        e for e in entries if _may_match(e, [("priority", "<=", cut)])]
    if timings is not None:
        timings["cut"] = cut
        timings["head_files"] = len(head_entries)
        timings["total_files"] = len(entries)
    if len(head_entries) == len(entries):
        # the cut excludes nothing (budgets reach deep into every tier,
        # or the frontier is shallow): the coverage-check machinery
        # would only add jobs — rank the whole table once instead
        cut = None
    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in ORDER_COLS])

    # every admitted row remembers its source data file so the caller's
    # carry-forward commit can rewrite EXACTLY the files that lost rows
    # (file-precise, not a conservative priority bound)
    def tagged_scan(sel: list[dict]) -> DataFrame:
        return cat.scan_entries(spark, sel, schema_ddl) \
            .withColumn("_src_file", F.input_file_name())

    def rank_and_admit(rows: DataFrame) -> DataFrame:
        return (
            rows.join(F.broadcast(budgets), "host")
            .withColumn("rank_in_host", F.row_number().over(w))
            .filter(F.col("rank_in_host") <= F.col("budget"))
            .drop("budget", "need")
        )

    if cut is None:
        return rank_and_admit(tagged_scan(entries))

    head = tagged_scan(head_entries).filter(F.col("priority") <= cut)
    # coverage check FIRST, via a partial-aggregated count (map-side
    # combine, no wide row shuffle, no window) — the expensive per-host
    # ranking then runs exactly ONCE, over whichever row set the check
    # proves sufficient.  short is derived from BUDGETS (all hosts with
    # live backlog), not from head rows: a needy host with zero head
    # candidates (freshly discovered deep host) must reach pass 2 too.
    head_counts = head.groupBy("host").agg(F.count("*").alias("n_head"))
    short = (
        budgets.join(head_counts, "host", "left")
        .filter(F.coalesce("n_head", F.lit(0)) < F.col("need"))
        .select("host")
        .persist()
    )
    if persists is not None:
        persists.append(short)
    t0 = _time.monotonic()
    n_short = short.count()
    _mark("coverage_check_sec", t0)
    if timings is not None:
        timings["n_short"] = n_short

    if n_short == 0:
        return rank_and_admit(head)
    pass1 = rank_and_admit(
        head.join(F.broadcast(short), "host", "left_anti"))
    pass2 = rank_and_admit(
        tagged_scan(entries).join(F.broadcast(short), "host", "left_semi"))
    return pass1.unionByName(pass2)


RANGE_PREFIX_LEN = 6


def assign_global_seq(admitted: DataFrame, base: int,
                      prefix_len: int = RANGE_PREFIX_LEN) -> DataFrame:
    """global_seq = base + prefix_sum(admitted counts by host ASC) + rank.

    Two-level distributed prefix sum (no unpartitioned window over the
    per-host counts relation): hosts are grouped into contiguous ranges
    by ``substring(host, 1, prefix_len)`` — a pure, deterministic,
    ORDER-PRESERVING function (pfx(a) < pfx(b) ⇒ a < b, equal prefixes
    fall through to the full-string orderBy), so unlike
    ``repartitionByRange`` there is no sampling job and no cross-branch
    consistency risk.  Level 1 runs the per-range prefix windows in
    parallel (partitionBy range); level 2 is a cumulative window over
    ONE ROW PER DISTINCT PREFIX — bounded by host-name diversity, not
    host count (10^7 admitted hosts with realistic names collapse to
    ~10^3–10^5 prefix rows of 16 bytes).  Degenerate case (every host
    shares one prefix) degrades to a single-task prefix sum, never
    to wrong answers.  offset(host) = range_base + within_range_prefix.
    """
    counts = admitted.groupBy("host").agg(
        F.count("*").alias("cnt"))
    ranged = counts.withColumn(
        "rng", F.substring("host", 1, prefix_len))
    w_in = Window.partitionBy("rng").orderBy("host").rowsBetween(
        Window.unboundedPreceding, -1)
    within = ranged.withColumn(
        "within", F.coalesce(F.sum("cnt").over(w_in), F.lit(0)))
    subtot = ranged.groupBy("rng").agg(F.sum("cnt").alias("sub"))
    w_rng = Window.orderBy("rng").rowsBetween(
        Window.unboundedPreceding, -1)
    bases = subtot.withColumn(
        "rbase", F.coalesce(F.sum("sub").over(w_rng), F.lit(0)))
    offsets = (
        within.join(F.broadcast(bases.select("rng", "rbase")), "rng")
        .select(
            "host",
            (F.col("rbase") + F.col("within")).alias("offset"))
    )
    return (
        admitted.join(F.broadcast(offsets), "host")
        .withColumn(
            "global_seq",
            F.lit(base) + F.col("offset") + F.col("rank_in_host"))
        .drop("offset")
    )


def effective_tokens(hosts: DataFrame, after_wave: int) -> DataFrame:
    """Reconstruct each host's token balance as of the END of
    ``after_wave`` from a lazily-carried row (see schemas.HOSTS: stored
    ``tokens`` is the balance after wave ``last_wave``).

    A host untouched since ``last_wave`` received only PURE refills —
    the oracle's per-wave step 4 with admitted = 0, i.e.
    ``x = min(cap, x - 0 + r)`` — and IEEE ``x - 0.0 + r == x + r``
    bit-exactly (tokens is never -0.0: it is min(cap, ·) with cap > 0),
    so folding ``after_wave - last_wave`` iterations of
    ``min(cap, x + r)`` in wave order reproduces the eager per-wave
    update bit-for-bit.  That exactness is what lets the wave loop
    carry untouched hosts files across commits without rewriting them
    (plans/wave.py) while floor(tokens) — which decides admissions —
    stays oracle-identical.

    NOTE: the returned ``tokens`` is live as of ``after_wave`` but
    ``last_wave`` is left stored-stale; only update_tokens(..., wave=t)
    output (which re-stamps it) may be written back to the table."""
    fold = (
        f"aggregate(sequence(1, cast({int(after_wave)} as int) - last_wave),"
        " tokens,"
        " (acc, i) -> least(capacity, acc + refill_per_wave /"
        " greatest(cast(1.0 as double), crawl_delay)))"
    )
    return hosts.withColumn(
        "tokens",
        F.when(F.col("last_wave") >= F.lit(int(after_wave)), F.col("tokens"))
        .otherwise(F.expr(fold)),
    )


def update_tokens(hosts: DataFrame, admitted: DataFrame,
                  wave: int | None = None) -> DataFrame:
    """tokens' = min(capacity, tokens − admitted + refill_per_wave / max(1, crawl_delay)).

    Same expression tree as the oracle so IEEE double results are
    bit-identical.  Also decrements the host's ``frontier_rows`` backlog
    by its admitted count (admission is the only operation that removes
    frontier rows; insertion is credited in plans/wave.py).

    ``hosts`` must carry LIVE balances (pass lazily-carried rows through
    effective_tokens first).  When ``wave`` is given the rows are
    re-stamped ``last_wave = wave``, restoring the schemas.HOSTS carry
    invariant for write-back."""
    admitted_counts = admitted.groupBy("host").agg(
        F.count("*").cast("double").alias("admitted_n"))
    out = (
        hosts.join(admitted_counts, "host", "left")
        .withColumn("admitted_n", F.coalesce("admitted_n", F.lit(0.0)))
        .withColumn(
            "tokens",
            F.least(
                F.col("capacity"),
                F.col("tokens") - F.col("admitted_n")
                + F.col("refill_per_wave")
                / F.greatest(F.lit(1.0), F.col("crawl_delay")),
            ),
        )
        .withColumn(
            "frontier_rows",
            F.col("frontier_rows") - F.col("admitted_n").cast("long"),
        )
        .drop("admitted_n")
    )
    if wave is not None:
        out = out.withColumn("last_wave", F.lit(int(wave)))
    return out
