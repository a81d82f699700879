"""Ops B1/B2 — partitioned Bloom-filter URL-seen pre-filter (SURVEY §2.A).

Sharded by ``shard = pmod(url_hash, n_shards)``; each shard is a packed
numpy bitmap stored as one ``binary`` row in the ``bloom_shards`` table.
Bit positions use Kirsch–Mitzenmacher double hashing
``(h1 + i·h2) mod nbits`` where h1/h2 are the high/low 32-bit halves of
the murmur64 URL id — both halves are independent murmur3 runs (op H2),
so no extra hash evaluation is needed anywhere.

Build and probe are cogrouped ``applyInPandas`` passes: candidates and
the shard bitmap meet in the same task, so the filter scales out with
``n_shards`` instead of broadcasting one giant bitmap (at 10^10 URLs a
monolithic bloom would be tens of GB; shards keep each task's slice
bounded).  Exactness is NOT bloom's job: op B3 (left_anti against the
``seen`` table) guarantees the exact URL-seen semantics; bloom only
spares "definitely new" rows that shuffle.

Bloom is the URL-seen filter because the seen set is insert-only
(nothing ever expires a key, so a cuckoo filter's deletion would go
unused), bitmaps OR-merge trivially across waves and shards, and the
exactness backstop makes the FPR a pure performance knob.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from .. import schemas
from ..config import EngineConfig

# saturation budget: rebuild before the fill fraction passes this.  At
# fill 0.25 and k=5 the FPR is 0.25^5 ≈ 1e-3, so the exact backstop's
# "maybe" set stays ~0.1% of the candidates — always broadcastable.
FILL_TARGET = 0.25
# fill = 1 - exp(-inserts/nbits) <= FILL_TARGET  <=>  inserts/nbits <= this
_INSERTS_PER_BIT = 0.2877  # -ln(1 - FILL_TARGET)
# probe strategy switch: filters up to this total size broadcast to
# workers (shuffle-free probe); larger ones cogroup per shard.  Changes
# only the physical plan, never a verdict.
BROADCAST_MAX_BYTES = 64 << 20


def sized_nbits(n_keys: int, cfg: EngineConfig, floor_nbits: int) -> int:
    """Per-shard bitmap size (power of two) that keeps the filter under
    FILL_TARGET after ``n_keys`` distinct keys — the self-sizing rule
    that lets the bloom GROW with the discovered set instead of
    saturating (a fixed bitmap's FPR → 1 as a 10^10-URL crawl
    progresses, silently sending every wave down the exact backstop).
    Never shrinks below ``floor_nbits``."""
    inserts_per_shard = n_keys * cfg.bloom_k / max(1, cfg.bloom_shards)
    need = inserts_per_shard / _INSERTS_PER_BIT
    nbits = max(floor_nbits, cfg.bloom_nbits)
    while nbits < need:
        nbits *= 2
    return nbits


def shard_col(url_hash_col, n_shards: int):
    return F.pmod(url_hash_col, F.lit(n_shards)).cast("int")


def release_broadcasts(broadcasts: list) -> None:
    """Destroy probe broadcasts whose jobs have completed (call only
    after every action that consumed the probed DataFrame).

    Scoped PER CALLER: probe() appends to the caller-supplied list and
    the wave loop releases its own list in a try/finally — a concurrent
    Catalog/probe user in the same SparkSession can never have a live
    broadcast destroyed from under it, and an exception mid-wave cannot
    leak bitmap blocks until process exit.  A long multi-wave crawl
    would otherwise accumulate one driver+executor bitmap block per
    wave while waiting on GC/ContextCleaner."""
    while broadcasts:
        bc = broadcasts.pop()
        try:
            bc.destroy()
        except Exception:
            pass  # already cleaned by context shutdown


def _positions(url_hashes: np.ndarray, nbits: int, k: int) -> np.ndarray:
    """(n, k) bit positions via Kirsch–Mitzenmacher double hashing."""
    uh = url_hashes.astype(np.int64).astype(np.uint64)
    h1 = (uh >> np.uint64(32)) & np.uint64(0xFFFFFFFF)
    h2 = uh & np.uint64(0xFFFFFFFF)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return (h1[:, None] + i * h2[:, None]) % np.uint64(nbits)


def build_shards(new_urls: DataFrame, shards: DataFrame,
                 cfg: EngineConfig, nbits: int | None = None) -> DataFrame:
    """OR the url_hashes of ``new_urls`` into the existing shard bitmaps
    (op B1).  Shards with no new rows pass through unchanged; new shards
    start from a zero bitmap.  ``nbits`` overrides the configured bitmap
    size (the wave loop passes the snapshot's CURRENT size, which grows
    via ``sized_nbits`` rebuilds); merging into ``shards`` built at a
    different size would corrupt bit positions — callers rebuild from
    scratch (empty ``shards``) when the size changes."""
    k, n_shards = cfg.bloom_k, cfg.bloom_shards
    nbits = cfg.bloom_nbits if nbits is None else nbits
    left = new_urls.select(
        shard_col(F.col("url_hash"), n_shards).alias("shard"), "url_hash")

    def fn(key, new_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        (shard,) = key
        if len(shard_pdf):
            bits = np.frombuffer(shard_pdf["bits"].iloc[0], dtype=np.uint8).copy()
        else:
            bits = np.zeros(nbits // 8, dtype=np.uint8)
        if len(new_pdf):
            pos = _positions(new_pdf["url_hash"].to_numpy(), nbits, k)
            np.bitwise_or.at(
                bits,
                (pos >> np.uint64(3)).ravel(),
                (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)).ravel(),
            )
        return pd.DataFrame(
            {"shard": [shard], "nbits": [nbits], "k": [k],
             "bits": [bits.tobytes()]})

    return (
        left.groupBy("shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(fn, schema=schemas.BLOOM_SHARDS)
    )


def _check_bits(bits: np.ndarray, url_hashes: np.ndarray, nbits: int,
                k: int) -> np.ndarray:
    pos = _positions(url_hashes, nbits, k)
    byte = bits[(pos >> np.uint64(3))]
    hit = (byte & (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))) != 0
    return hit.all(axis=1)


def probe(candidates: DataFrame, shards: DataFrame,
          cfg: EngineConfig, broadcasts: list | None = None,
          nbits: int | None = None) -> DataFrame:
    """Op B2 — adds boolean ``maybe_seen``.  False ⇒ definitely new
    (bloom has no false negatives); True ⇒ must be checked exactly (B3).

    Two physical strategies by filter size:

    - **broadcast** (total bitmap ≤ BROADCAST_MAX_BYTES): ship
      all shard bitmaps to every worker and probe via ``mapInPandas`` on
      the candidates' EXISTING partitioning — no shuffle, parallelism =
      candidate partitions, not n_shards.
    - **cogroup** (big filters, the 10^10-URL regime where the bloom is
      tens of GB): candidates shuffle to their shard's task so each task
      holds exactly one bitmap slice; parallelism = n_shards, which at
      that scale is sized in the thousands.

    The broadcast path appends its Broadcast handle to ``broadcasts``
    (if given) for the caller to release_broadcasts() once its jobs
    finish; with no list the handle is left to ContextCleaner GC.

    ``nbits`` must match what the shard bitmaps were BUILT with (the
    wave loop passes the snapshot state's value); a mismatch would
    compute wrong bit positions and produce false negatives — the one
    failure mode bloom must never have.
    """
    k, n_shards = cfg.bloom_k, cfg.bloom_shards
    nbits = cfg.bloom_nbits if nbits is None else nbits
    out_schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType())])

    if n_shards * (nbits // 8) <= BROADCAST_MAX_BYTES:
        bitmaps = {
            int(r["shard"]): np.frombuffer(bytes(r["bits"]), dtype=np.uint8)
            for r in shards.collect()
        }
        bc = candidates.sparkSession.sparkContext.broadcast(bitmaps)
        if broadcasts is not None:
            broadcasts.append(bc)

        def probe_map(pdfs):
            for pdf in pdfs:
                if not len(pdf):
                    continue
                uh = pdf["url_hash"].to_numpy()
                sh = (uh % n_shards + n_shards) % n_shards  # pmod
                maybe = np.zeros(len(pdf), dtype=bool)
                for s in np.unique(sh):
                    bits = bc.value.get(int(s))
                    if bits is None:
                        continue  # never-built shard: definitely new
                    m = sh == s
                    maybe[m] = _check_bits(bits, uh[m], nbits, k)
                pdf["maybe_seen"] = maybe
                yield pdf

        return candidates.mapInPandas(probe_map, schema=out_schema)

    cands = candidates.withColumn(
        "shard", shard_col(F.col("url_hash"), n_shards))
    grouped_schema = StructType(
        cands.schema.fields + [StructField("maybe_seen", BooleanType())])

    def fn(key, cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cand_pdf):
            return pd.DataFrame(columns=[f.name for f in grouped_schema.fields])
        if not len(shard_pdf):
            cand_pdf["maybe_seen"] = False
            return cand_pdf
        bits = np.frombuffer(bytes(shard_pdf["bits"].iloc[0]), dtype=np.uint8)
        cand_pdf["maybe_seen"] = _check_bits(
            bits, cand_pdf["url_hash"].to_numpy(), nbits, k)
        return cand_pdf

    return (
        cands.groupBy("shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(fn, schema=grouped_schema)
        .drop("shard")
    )
