"""Hot-host skew demonstration (op P0b) — measures WHY the fetch salts.

The north rule requires "hot-host skew salting at 10^10-frontier
scale".  Structural evidence lives in plans/wave.py (every admitted row
gets ``salt = pmod(hash(canon_url), s(host))`` with the per-host
fan-out s derived from that host's MEASURED admitted count, and the
fetch repartitions on ("host", "salt")); this tool provides the
MEASURED evidence: a deliberately skewed crawl — all seeds concentrated
on ``SPREAD`` hosts (5 of which carry the fixture's hot-host budgets),
so a handful of hosts own the whole wave — run three ways:

  unsalted   salt_factor=1, salt_factor_max=1 (one fetch partition key
             per host: at most SPREAD tasks carry all fetch CPU
             regardless of cluster size)
  fixed-32   salt_factor=32, salt_factor_max=32 (a fixed fan-out)
  adaptive   shipped defaults (floor 32, measured per-host growth,
             cap 1024)

Reported per config: total wall, summed fetch_write phase, URLs/s.

Crawl-order parity is INDEPENDENT of the salt knobs (ordering is
decided at admission, before the salted repartition; pytest pins
engine == oracle for spread/scaled configs), so they are purely
physical and sit in EngineConfig._PLAN_ONLY.

Usage: taskset -c 0-31 python tools/skew_drive.py [cores] [reps]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SPREAD = 8          # hosts carrying ALL seeds (5 are fixture-hot)
N_SEEDS = 64_000
SCALE = 4096.0      # politeness scale => thousands of URLs/host/wave
WAVES = 2


def run(cores: int, label: str, salt_factor: int,
        salt_factor_max: int) -> dict:
    import bench

    from commentsearchengine_spark.config import EngineConfig
    from commentsearchengine_spark.plans.wave import run_crawl

    spark = bench.make_spark(cores)
    cfg = EngineConfig(
        n_seeds=N_SEEDS, n_waves=WAVES, n_buckets=64, n_hosts=2000,
        bloom_shards=8, seed_spread_hosts=SPREAD, budget_scale=SCALE,
        salt_factor=salt_factor, salt_factor_max=salt_factor_max,
    )
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = tempfile.mkdtemp(prefix="skew_", dir=base)
    try:
        t0 = time.monotonic()
        cat = run_crawl(spark, root, cfg)
        wall = time.monotonic() - t0
        snap = cat.load_snapshot()
        admitted = int(snap.state["global_seq"])
        fetch_sec = 0.0
        sid = snap.snapshot_id
        while sid is not None:
            s = cat.load_snapshot(sid)
            fetch_sec += (s.metrics or {}).get("phases", {}).get(
                "fetch_write", 0.0)
            sid = s.parent_id
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    return {
        "config": label, "salt_factor": salt_factor,
        "salt_factor_max": salt_factor_max, "cores": cores,
        "admitted": admitted,
        "wall_sec": round(wall, 2), "fetch_write_sec": round(fetch_sec, 2),
        "urls_per_sec": round(admitted / wall, 1),
    }


CONFIGS = [
    ("unsalted", 1, 1),
    ("fixed-32", 32, 32),
    ("adaptive", 32, 1024),
]


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    out = []
    for label, salt, cap in CONFIGS:
        runs = [run(cores, label, salt, cap) for _ in range(reps)]
        best = min(runs, key=lambda r: r["fetch_write_sec"])
        out.append(best)
    print("SKEW " + json.dumps(out))


if __name__ == "__main__":
    main()
