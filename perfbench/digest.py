"""Order-insensitive digests of a crawl's parity tables.

The same canonical rows are built from the sequential oracle
(``oracle/seqcrawl.py``) and from an engine catalog, then hashed per
table.  ``make_expected.py`` stores the oracle's digests next to the
benchmark; a run compares every timed crawl against them.
"""

from __future__ import annotations

import hashlib
import os

TABLES = ("crawl_log", "seen", "tokens", "lineage", "frontier", "pages")


def _hash_rows(rows) -> str:
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digests(o) -> dict[str, str]:
    """Digests of a finished ``SeqCrawl``."""
    return {
        "crawl_log": _hash_rows(o.crawl_log),
        "seen": _hash_rows((u, h, w) for u, (h, w) in o.seen.items()),
        "tokens": _hash_rows(o.tokens.items()),
        "lineage": _hash_rows(o.lineage),
        "frontier": _hash_rows(
            (u, e.disc_seq, e.priority) for u, e in o.frontier.items()),
        "pages": _hash_rows(
            (p["canon_url"], p["wave"], p["fetched_seq"], p["phash"])
            for p in o.pages),
    }


def _read(cat, table: str, columns: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    snap = cat.load_snapshot()
    rows: list[tuple] = []
    for entry in snap.tables.get(table, []):
        rel = entry["path"] if isinstance(entry, dict) else entry
        t = pq.read_table(os.path.join(cat.root, rel), columns=columns)
        rows.extend(zip(*(t.column(c).to_pylist() for c in columns)))
    return rows


def engine_digests(spark, cat) -> dict[str, str]:
    """Digests of the catalog's current snapshot.  Data files are read
    with pyarrow; live token balances come from the engine's own
    ``effective_tokens`` fold over the lazily carried hosts rows."""
    from commentsearchengine_spark import schemas
    from commentsearchengine_spark.operators.admission import effective_tokens

    snap = cat.load_snapshot()
    hosts = effective_tokens(
        cat.scan(spark, "hosts", schema_ddl=schemas.HOSTS), snap.wave)
    return {
        "crawl_log": _hash_rows(_read(
            cat, "crawl_log",
            ["wave", "host", "rank_in_host", "canon_url", "global_seq"])),
        "seen": _hash_rows(_read(
            cat, "seen", ["canon_url", "url_hash", "first_wave"])),
        "tokens": _hash_rows(
            (r["host"], r["tokens"])
            for r in hosts.select("host", "tokens").collect()),
        "lineage": _hash_rows(_read(
            cat, "lineage",
            ["wave", "bucket", "fetched", "queued", "deduped",
             "robots_blocked", "politeness_deferred"])),
        "frontier": _hash_rows(_read(
            cat, "frontier", ["canon_url", "disc_seq", "priority"])),
        "pages": _hash_rows(_read(
            cat, "pages", ["canon_url", "wave", "fetched_seq", "phash"])),
    }
