"""Kernel microbenchmarks and the standalone fetch job (traced run only).

``payload_for`` is timed whole and by part (pixel synthesis, encode,
decode, phash) in this process, one core.  The standalone job runs
``operators.fetch.fetch_pages`` over the rows a timed crawl wave
admitted, on every core, and materialises it with the ``noop`` writer;
comparing its rate with ``cores x`` the single-core kernel rate gives
the share of the job that is kernel work rather than Arrow/pandas
transfer and scheduling.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

N_PAYLOAD = 1000
N_OUTLINKS = 20_000
FETCH_HOSTS = 2000


def _hashes(seed: int, n: int) -> list[int]:
    rng = np.random.default_rng(seed)
    return [int(v) for v in rng.integers(-2**63, 2**63 - 1, size=n,
                                         dtype=np.int64)]


def microbench(seed: int, reps: int = 5) -> dict[str, float]:
    from commentsearchengine_spark.fixtures import synth
    from commentsearchengine_spark.functions import imagecodec as ic

    hashes = _hashes(seed, N_PAYLOAD)
    host = synth.host_name(1)
    rates, parts = [], {k: [] for k in ("synth", "encode", "decode", "phash")}
    for _ in range(reps):
        t0 = time.perf_counter()
        for h in hashes:
            ic.payload_for(h, host, 1)
        rates.append(len(hashes) / (time.perf_counter() - t0))
        acc = dict.fromkeys(parts, 0.0)
        for h in hashes:
            w, hh = ic.dims_for(h)
            fmt = ic.fmt_for(h)
            t = time.perf_counter()
            arr = ic.synth_pixels(h, w, hh)
            t1 = time.perf_counter()
            data = ic.encode(arr, fmt)
            t2 = time.perf_counter()
            stored = ic.decode(data, fmt, w, hh)
            t3 = time.perf_counter()
            ic.phash64(stored)
            t4 = time.perf_counter()
            for k, dt in zip(parts, (t1 - t, t2 - t1, t3 - t2, t4 - t3)):
                acc[k] += dt
        for k in parts:
            parts[k].append(acc[k] / len(hashes) * 1e6)
    uh = np.array(_hashes(seed + 1, N_OUTLINKS), dtype=np.int64)
    link_rates = []
    for _ in range(reps):
        t0 = time.perf_counter()
        synth.outlinks_canon_batch(uh, FETCH_HOSTS)
        link_rates.append(len(uh) / (time.perf_counter() - t0))
    med = statistics.median
    return {
        "kernel.payload_for_urls_per_s": med(rates),
        "kernel.synth_pixels_us": med(parts["synth"]),
        "kernel.encode_us": med(parts["encode"]),
        "kernel.decode_us": med(parts["decode"]),
        "kernel.phash64_us": med(parts["phash"]),
        "kernel.outlinks_canon_batch_urls_per_s": med(link_rates),
    }


def fetch_job_rate(spark, admitted, wave: int, n_hosts: int,
                   cores: int) -> float:
    """URLs/s of ``fetch_pages`` over ``admitted`` (canon_url, host,
    url_hash, depth, global_seq), as the crawl's fetch stage sees it."""
    from commentsearchengine_spark.config import EngineConfig
    from commentsearchengine_spark.operators.fetch import fetch_pages

    # the crawl's Arrow batch size for the fetch stage
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(EngineConfig().arrow_batch_rows))
    frontier = admitted.repartition(cores * 4).persist()
    try:
        n = frontier.count()
        # warm every Python worker outside the timed job
        fetch_pages(frontier.limit(cores * 64).repartition(cores), wave,
                    n_hosts).write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        fetch_pages(frontier, wave, n_hosts).write.format("noop").mode(
            "overwrite").save()
        return n / (time.perf_counter() - t0)
    finally:
        frontier.unpersist()
