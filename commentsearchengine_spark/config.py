"""Engine configuration (SURVEY.md §1.4, §4)."""

from __future__ import annotations

from dataclasses import dataclass, asdict
import hashlib
import json

from .fixtures import synth

# disc_seq = DISC_SEQ_STRIDE * global_seq(parent) + link_index — a single
# int64 that totally orders discoveries without any cross-partition
# coordination (SURVEY §1.4.3).  Safe while global_seq < 2^63 / 10^6.
DISC_SEQ_STRIDE = 1_000_000


@dataclass(frozen=True)
class EngineConfig:
    n_seeds: int = 10
    n_waves: int = 5
    n_buckets: int = 64          # logical host-hash partition space (op P0)
    n_hosts: int = synth.N_HOSTS
    # bloom pre-filter (op B1/B2); exactness is guaranteed by B3 regardless
    bloom_shards: int = 16
    # INITIAL bits per shard — the live size is snapshot state: the wave
    # loop grows it (power-of-two rebuilds from the discovered set) when
    # the projected fill crosses bloom.FILL_TARGET, so a long crawl's
    # filter tracks its frontier instead of saturating (plan-only knob)
    bloom_nbits: int = 1 << 20
    bloom_k: int = 5
    # probe strategy switch (operators/bloom.py): filters up to this total
    # size broadcast to workers (shuffle-free probe); larger ones cogroup
    # per shard.  Does not affect results, only the physical plan.
    bloom_broadcast_max_bytes: int = 64 << 20
    # hot-host salting (op P0b): every host gets at least `salt_factor`
    # salted fetch sub-partitions (the floor keeps the repartition key
    # space dense enough to hash-balance uniform waves); hosts whose
    # MEASURED admitted count exceeds its share of the wave grow their
    # fan-out adaptively, s(h) = clamp(ceil(n_h / target_rows),
    # salt_factor, salt_factor_max) with target_rows derived from the
    # wave's admitted count and the cluster parallelism (plans/wave.py).
    # Purely physical: crawl order is decided at admission, before the
    # salted repartition (tools/skew_drive.py verifies exact parity).
    salt_factor: int = 32
    salt_factor_max: int = 1024
    # Arrow batch rows for the fetch's output (operators/fetch.py): image
    # rows are fat (SURVEY §4), but batches that are too small multiply
    # JVM<->Python round-trips — measured 2x wave wall-time at 512 rows
    # vs 4096 on 32 cores.  4096 rows x ~5 KB/page ~= 20 MB per
    # in-flight batch per worker (plan-only knob)
    arrow_batch_rows: int = 4096
    # bench knobs (affect semantics => part of config_hash; parity tests
    # exercise them at small scale)
    seed_spread_hosts: int = 0   # 0 = all seeds on the WaPo host
    budget_scale: float = 1.0    # multiplies politeness capacity/refill
    # ---- plan-level knobs (never change results => NOT in config_hash)
    # bloom "maybe" sets up to this many rows verify via broadcast
    # collision joins (stream the big tables, zero shuffle); larger sets
    # fall back to plain shuffle anti-joins (plans/wave.py)
    backstop_broadcast_max_rows: int = 500_000
    # hosts carry-forward (plans/wave.py): every this-many waves the
    # hosts table rewrites wholesale, normalizing every lazily-carried
    # row to the current wave — bounds the effective_tokens fold depth.
    # Plan-only: hosts row STALENESS changes, but effective balances
    # (and every parity table: crawl_log/seen/frontier/lineage/pages)
    # are bit-identical at any cadence.
    hosts_compact_every: int = 16
    # auto-compaction cadence for the seen table (plans/maintenance.py
    # run by the crawl loop between waves; 0 = offline-only): appends
    # fragment each url_hash segment across ~W files after W waves,
    # degrading the collision backstop's pruning resolution and growing
    # the manifest with wave count.  Content-preserving and plan-only
    # (tests/test_maintenance.py proves oracle parity through it).
    seen_compact_every: int = 64

    _PLAN_ONLY = ("n_waves", "backstop_broadcast_max_rows", "salt_factor",
                  "salt_factor_max", "bloom_nbits", "arrow_batch_rows",
                  "hosts_compact_every", "seen_compact_every")

    def config_hash(self) -> str:
        """Hash of the semantics-affecting parameters.  ``n_waves`` is a
        run target, not state semantics — resuming a 2-wave run with
        n_waves=4 must be legal (SURVEY §5.5); the _PLAN_ONLY knobs tune
        physical plans and never change any table's contents."""
        d = asdict(self)
        for k in self._PLAN_ONLY:
            d.pop(k)
        return hashlib.sha256(
            json.dumps(d, sort_keys=True).encode()).hexdigest()[:16]
