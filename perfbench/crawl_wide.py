"""``crawl_wide``: one wave of a crawl over 2,000 hosts, repeated.

Set-up bootstraps a base catalog (seed ingest only); that is the only
warm-up the run can afford, so the first timed op still pays part of
the session's JVM and Python cold costs (see NOTES.md).  One op copies
the base catalog and resumes it for wave 1 through the public
``plans.wave.run_crawl``: ~13k admitted URLs spread over every host,
every op the same input, so op times are comparable within and across
runs.  Each op's catalog is checked against the oracle digest in
``expected/crawl_wide.json`` after the op, outside its timing.

The engine synthesises its own seed URLs, so the workload seed cannot
change this crawl's input; it drives the kernel microbenchmarks of the
traced run.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import replace

from commentsearchengine_spark.config import EngineConfig
from commentsearchengine_spark.plans.wave import run_crawl
from commentsearchengine_spark.sources.icelite import Catalog

from . import kernels
from .digest import engine_digests

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected", "crawl_wide.json")

CONFIG = EngineConfig(
    n_seeds=16_000, n_waves=1, n_buckets=64, n_hosts=2000, bloom_shards=32,
    seed_spread_hosts=2000, budget_scale=8.0,
)
BASE_WAVES = 0

PHASES = ("admit", "fetch_write", "expand", "writes")
WRITES = ("frontier_new", "hosts", "lineage", "bloom_shards")
COUNTS = ("frontier_files_rewritten", "frontier_files_carried",
          "hosts_files_rewritten")


def config_params() -> dict:
    return {k: getattr(CONFIG, k) for k in (
        "n_seeds", "n_waves", "n_buckets", "n_hosts", "seed_spread_hosts",
        "budget_scale")}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _s, names in os.walk(path) for n in names)


class CrawlWide:
    name = "crawl_wide"
    round_size = 1  # ops per round; a round is the unit the window counts

    def __init__(self, spark, work, spans, seed: int, timers=None):
        self.spark = spark
        self.work = work
        self.spans = spans
        self.timers = timers
        self.base = work.sub("data/base")
        with open(EXPECTED_PATH) as f:
            self.expected = json.load(f)
        if self.expected["config"] != config_params():
            raise RuntimeError(
                f"{EXPECTED_PATH} was made for another crawl config; "
                "regenerate it with perfbench/make_expected.py")
        self.bootstrap_s = None
        self._n = 0

    def setup(self) -> None:
        t0 = time.perf_counter()
        run_crawl(self.spark, self.base, replace(CONFIG, n_waves=BASE_WAVES))
        self.bootstrap_s = time.perf_counter() - t0

    def run_op(self) -> dict:
        """Resume a copy of the base catalog for one wave, then check it
        against the oracle digest (outside ``wall``).  The previous op's
        catalog is removed; the last one stays for ``fetch_job_rate``."""
        if self._n:
            shutil.rmtree(self.work.sub(f"data/op{self._n}"),
                          ignore_errors=True)
        self._n += 1
        root = self.work.sub(f"data/op{self._n}")
        shutil.copytree(self.base, root)
        icelite0 = dict(self.timers.seconds) if self.timers else None
        with self.spans.span("crawl.op"):
            t0 = time.perf_counter()
            cat = run_crawl(self.spark, root, CONFIG)
            wall = time.perf_counter() - t0
        snap = cat.load_snapshot()
        wave = dict(snap.metrics)
        if icelite0 is not None:
            wave["icelite"] = {k: v - icelite0[k]
                               for k, v in self.timers.seconds.items()}
        with self.spans.span("crawl.check"):
            ok = self._check(cat)
        return {"wall": wall, "work": wave["admitted"], "ok": ok,
                "wave": wave, "footprint": self._footprint(cat, snap)}

    def check(self, ops: list[dict]) -> None:
        """Every op was checked as it finished (``run_op``)."""

    def fetch_job_rate(self, cores: int) -> float:
        """``kernels.fetch_job_rate`` over the rows the last op's wave
        admitted, read back from its pages table."""
        from pyspark.sql import functions as F

        cat = Catalog(self.work.sub(f"data/op{self._n}"))
        wave = cat.load_snapshot().metrics["wave"]
        admitted = (cat.scan(self.spark, "pages")
                    .where(F.col("wave") == wave)
                    .select("canon_url", "host",
                            F.col("parent_url_hash").alias("url_hash"),
                            "depth", F.col("fetched_seq").alias("global_seq")))
        return kernels.fetch_job_rate(self.spark, admitted, wave,
                                      CONFIG.n_hosts, cores)

    def _check(self, cat: Catalog) -> bool:
        got = engine_digests(self.spark, cat)
        bad = [t for t, d in self.expected["digests"].items() if got[t] != d]
        if bad:
            print(f"crawl_wide: oracle mismatch in {bad}", file=sys.stderr,
                  flush=True)
        return not bad

    @staticmethod
    def _footprint(cat: Catalog, snap) -> dict:
        meta = os.path.join(cat.root, "metadata")
        return {
            "bytes": _dir_bytes(cat.root),
            "urls": int(snap.state["global_seq"]),
            "files": sum(len(v) for v in snap.tables.values()),
            "manifest_bytes": _dir_bytes(meta),
            "snapshots": len(cat.snapshots()),
        }

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        med = statistics.median
        ms = [o["wave"] for o in ops]
        cs = [o["footprint"] for o in ops]
        out: dict[str, float] = {}
        for p in PHASES:
            out[f"wave.{p}_s"] = med(m["phases"].get(p, 0.0) for m in ms)
        out["wave.other_s"] = med(
            m["wall_sec"] - sum(m["phases"].get(p, 0.0) for p in PHASES)
            for m in ms)
        out["wave.bootstrap_s"] = self.bootstrap_s
        for w in WRITES:
            out[f"wave.write.{w}_s"] = med(
                m["write_secs"].get(w, 0.0) for m in ms)
        for c in COUNTS:
            out[f"wave.{c}"] = med(m[c] for m in ms)
        out["wave.backstop_files_scanned"] = med(
            m["backstop"]["seen_files_scanned"]
            + m["backstop"]["frontier_files_scanned"] for m in ms)
        out["wave.admitted_per_op"] = med(m["admitted"] for m in ms)
        for k in ("commit", "stage_write", "load_snapshot"):
            out[f"icelite.{k}_s"] = med(m["icelite"][k] for m in ms)
        out["icelite.files_total"] = med(c["files"] for c in cs)
        out["icelite.manifest_bytes"] = med(c["manifest_bytes"] for c in cs)
        out["icelite.snapshots"] = med(c["snapshots"] for c in cs)
        out["icelite.catalog_bytes_per_url"] = med(
            c["bytes"] / c["urls"] for c in cs)
        return out
