"""Binding engine table schemas (SURVEY.md §1.2) as Spark DDL strings.

The ``pages`` prefix (image_id … phash) is the exact input-table shape
required by BASELINE.json:15; the extension columns after it are
engine-internal provenance.
"""

# This DDL is the pages READ contract (the binding prefix + provenance).
# On disk the wave writer stores additional fetch-log columns (depth,
# parent_url_hash, outlinks — operators/fetch.py::FETCHED_SCHEMA) so the
# fetch output is written exactly once and the expansion re-reads only
# the slim columns; readers using this subset schema never see them.
PAGES = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, "
    "url string, canon_url string, host string, wave int, fetched_seq long"
)

FRONTIER = (
    "canon_url string, host string, url_hash long, priority int, depth int, "
    "disc_wave int, disc_seq long, parent_hash long"
)

SEEN = "canon_url string, url_hash long, first_wave int"

# frontier_rows = this host's live frontier backlog, maintained
# incrementally (+queued, -admitted).  Two readers rely on it being
# exact, so neither scans the frontier: admission proves whether the
# pruned head scan fully covers a host (operators/admission.py::
# admit_pruned), and each wave's lineage sums it per bucket into
# politeness_deferred (plans/wave.py::_finish).
# Lazy-refill carry-forward, so a throttled wave rewrites O(touched
# hosts) rather than O(hosts): `tokens` is the
# balance as of the END of wave `last_wave`, NOT necessarily the latest
# wave — a host untouched since then (no admissions, no backlog change)
# carries its file byte-unchanged across commits, and readers
# reconstruct the live balance by folding the missed pure-refill waves
# (operators/admission.py::effective_tokens — bit-identical to applying
# the oracle's per-wave update eagerly).  `host_hash` = murmur64(host),
# stored so hosts files hash-cluster and manifest stats let the wave
# loop prune the rewrite to just the files holding touched hosts.
HOSTS = (
    "host string, tokens double, capacity double, refill_per_wave double, "
    "crawl_delay double, frontier_rows long, host_hash long, last_wave int"
)

ROBOTS = "host string, rule string, path_prefix string, rule_order int"

CRAWL_LOG = (
    "wave int, host string, rank_in_host int, canon_url string, "
    "global_seq long"
)

LINEAGE = (
    "wave int, bucket int, fetched long, queued long, deduped long, "
    "robots_blocked long, politeness_deferred long"
)

BLOOM_SHARDS = "shard int, nbits long, k int, bits binary"

ALL_TABLES = {
    "pages": PAGES,
    "frontier": FRONTIER,
    "seen": SEEN,
    "hosts": HOSTS,
    "robots": ROBOTS,
    "crawl_log": CRAWL_LOG,
    "lineage": LINEAGE,
    "bloom_shards": BLOOM_SHARDS,
}
