"""Ops F1/F2/F3 — deterministic simulated fetch + codecs + phash.

``mapInPandas`` over the admitted URLs.  Page content is a pure function
of the 64-bit URL id (same numpy code as the sequential oracle —
functions/imagecodec.py, fixtures/synth.py), so engine and reference
produce bit-identical payloads and outlink sets.

Python iterates over *rows* of each batch only to drive per-image numpy
kernels (pixel synthesis, codec, phash are all vectorized per image);
pixels never see a Python loop (SURVEY §7 hard-part 3).  Input rows are
slim URL rows and arrive at the session's Arrow batch size; the UDF
slices each input batch so every output batch holds at most
``batch_rows`` (EngineConfig.arrow_batch_rows) rows, because image rows
are fat (SURVEY §4) — the batch size is a property of this stage, not
of the session.

In a real crawler this stage would be the HTTP fetch; its simulation
keeps the scheduler's contract (CPU-heavy, per-URL independent work)
without network access.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .. import schemas
from ..config import EngineConfig
from ..fixtures import synth
from ..functions.imagecodec import payload_for

# outlinks leave the fetch stage ALREADY canonicalized (op C1 runs inside
# this same Python pass): a separate canonicalizer UDF downstream would be
# another full ArrowEvalPython round-trip over ~4x the admitted rows —
# serialize every raw link to the JVM, back to a Python worker, and back —
# for work this worker can do while the strings are already in hand.
# Link synthesis + canonicalization is fully batch-vectorized
# (synth.outlinks_canon_batch: numpy splitmix64 over the whole Arrow
# batch, canonical parts emitted directly); the sequential oracle runs
# the scalar outlinks()+canonicalize() path and tests pin the two
# bit-equal, so parity is unchanged.  (The raw pre-canonical form is
# consumed here and never used downstream, so it is not emitted — one
# fewer string per link across the Arrow boundary.)
FETCHED_SCHEMA = (
    schemas.PAGES
    + ", depth int, parent_url_hash long, outlinks array<struct<"
    "j: int, canon_url: string, host: string, path: string>>"
)


def batch_slices(batches: Iterator[pd.DataFrame],
                 max_rows: int) -> Iterator[pd.DataFrame]:
    """Each batch cut into consecutive slices of at most ``max_rows``
    rows, in row order."""
    for pdf in batches:
        for lo in range(0, len(pdf), max_rows):
            yield pdf.iloc[lo:lo + max_rows]


def fetch_pages(admitted: DataFrame, wave: int, n_hosts: int,
                batch_rows: int = EngineConfig.arrow_batch_rows) -> DataFrame:
    """admitted (canon_url, host, url_hash, depth, global_seq) → pages rows
    + canonicalized outlinks for expansion.

    Output assembly is COLUMNAR: per-column Python lists feed one
    dict-of-columns DataFrame per batch (pandas' fast path straight to
    Arrow), never a list of per-row dicts (pandas' slowest constructor —
    it re-infers dtypes cell by cell).  Scalar passthrough columns reuse
    the input batch's Arrow-backed series without touching the row loop.
    Outlink synthesis + canonicalization runs ONCE per batch, vectorized
    (numpy over the url_hash column); the remaining Python row loop only
    drives the per-image numpy kernels."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_slices(batches, batch_rows):
            image_ids: list = []
            blobs: list = []
            ws: list = []
            hs: list = []
            fmts: list = []
            captions: list = []
            phashes: list = []
            # uh == murmur64(canon_url) by construction (wave.py sets
            # url_hash with the murmur64 column), so the batch generator
            # never recomputes the pure-Python hash
            uh_np = pdf["url_hash"].to_numpy()
            outlinks_col = synth.outlinks_canon_batch(uh_np, n_hosts)
            for host, uh in zip(pdf["host"], uh_np, strict=True):
                p = payload_for(int(uh), host, wave)
                image_ids.append(p["image_id"])
                blobs.append(p["bytes"])
                ws.append(p["w"])
                hs.append(p["h"])
                fmts.append(p["fmt"])
                captions.append(p["caption"])
                phashes.append(p["phash"])
            yield pd.DataFrame({
                "image_id": image_ids,
                "bytes": blobs,
                "w": ws,
                "h": hs,
                "fmt": fmts,
                "caption": captions,
                "phash": phashes,
                # .to_numpy(): strip the source index so every column
                # aligns positionally with the plain lists above
                "url": pdf["canon_url"].to_numpy(),
                "canon_url": pdf["canon_url"].to_numpy(),
                "host": pdf["host"].to_numpy(),
                "wave": wave,
                "fetched_seq": pdf["global_seq"].to_numpy(),
                "depth": pdf["depth"].to_numpy(),
                "parent_url_hash": pdf["url_hash"].to_numpy(),
                "outlinks": outlinks_col,
            })

    return admitted.mapInPandas(gen, schema=FETCHED_SCHEMA)
