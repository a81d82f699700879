"""Regenerate ``expected/crawl_wide.json``: the sequential oracle's
digests for the crawl the ``crawl_wide`` workload checks.

Run from the repository root:  python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from oracle.seqcrawl import run_oracle  # noqa: E402
from perfbench.crawl_wide import (  # noqa: E402
    CONFIG, EXPECTED_PATH, config_params)
from perfbench.digest import oracle_digests  # noqa: E402


def main() -> None:
    p = config_params()
    t0 = time.monotonic()
    o = run_oracle(p["n_seeds"], p["n_waves"], p["n_buckets"], p["n_hosts"],
                   seed_spread_hosts=p["seed_spread_hosts"],
                   budget_scale=p["budget_scale"])
    out = {"config": p, "admitted": o.global_seq,
           "digests": oracle_digests(o)}
    with open(EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"oracle crawl of {CONFIG.n_waves} waves, {o.global_seq} URLs, "
          f"{time.monotonic() - t0:.1f} s -> {EXPECTED_PATH}")


if __name__ == "__main__":
    main()
