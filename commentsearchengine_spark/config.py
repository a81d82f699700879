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

    _PLAN_ONLY = ("n_waves", "bloom_nbits", "arrow_batch_rows")

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
