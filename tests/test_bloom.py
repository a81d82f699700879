"""Bloom shard build/probe: zero false negatives; FPR within ~2× theory."""

import math

from pyspark.sql import functions as F

import commentsearchengine_spark.schemas as S
from commentsearchengine_spark.config import EngineConfig
from commentsearchengine_spark.functions.spark_cols import murmur64_col
from commentsearchengine_spark.operators import bloom


def _urls(spark, prefix, n):
    return spark.range(n).select(
        F.concat(F.lit(f"https://bloom.test/{prefix}/"),
                 F.col("id").cast("string")).alias("canon_url")
    ).withColumn("url_hash", murmur64_col(F.col("canon_url")))


def test_probe_paths_agree(spark, monkeypatch):
    """Both physical probe strategies (broadcast mapInPandas vs cogroup
    shuffle) produce IDENTICAL verdicts on the same shards + candidates
    — compared row by row, not just free of false negatives."""
    cfg = EngineConfig(bloom_shards=4, bloom_nbits=1 << 16, bloom_k=5)
    inserted = _urls(spark, "in", 1000)
    empty = spark.createDataFrame([], S.BLOOM_SHARDS)
    shards = bloom.build_shards(inserted, empty, cfg)
    shards.persist().count()
    mixed = inserted.unionByName(_urls(spark, "out", 1000))

    bcs: list = []

    def verdicts(max_bytes):
        monkeypatch.setattr(bloom, "BROADCAST_MAX_BYTES", max_bytes)
        return sorted(
            (r["canon_url"], r["maybe_seen"])
            for r in bloom.probe(mixed, shards, cfg, broadcasts=bcs).collect())

    got_bcast = verdicts(64 << 20)
    got_cogroup = verdicts(0)
    assert got_bcast == got_cogroup
    # inserted rows must all be maybe_seen (no false negatives)
    assert all(seen for url, seen in got_bcast if "/in/" in url)
    shards.unpersist()
    assert len(bcs) == 1  # only the broadcast path registers a handle
    bloom.release_broadcasts(bcs)
    assert not bcs


def test_no_false_negatives_and_fpr(spark):
    cfg = EngineConfig(bloom_shards=4, bloom_nbits=1 << 16, bloom_k=5)
    n = 4000
    inserted = _urls(spark, "in", n)
    empty = spark.createDataFrame([], S.BLOOM_SHARDS)
    shards = bloom.build_shards(inserted, empty, cfg)
    shards.persist().count()

    probed_in = bloom.probe(inserted, shards, cfg)
    assert probed_in.filter(~F.col("maybe_seen")).count() == 0  # no FN ever

    other = _urls(spark, "out", n)
    fp = bloom.probe(other, shards, cfg).filter(F.col("maybe_seen")).count()
    # theoretical FPR for k hashes, m bits per shard, ~n/shards inserts
    m, k = cfg.bloom_nbits, cfg.bloom_k
    n_per = n / cfg.bloom_shards
    p = (1 - math.exp(-k * n_per / m)) ** k
    assert fp / n <= max(2 * p, 0.01), (fp / n, p)
    shards.unpersist()


def test_incremental_build_merges(spark):
    cfg = EngineConfig(bloom_shards=4, bloom_nbits=1 << 16, bloom_k=5)
    a, b = _urls(spark, "a", 500), _urls(spark, "b", 500)
    empty = spark.createDataFrame([], S.BLOOM_SHARDS)
    s1 = bloom.build_shards(a, empty, cfg)
    s1.persist().count()
    s2 = bloom.build_shards(b, s1, cfg)
    s2.persist().count()
    both = a.unionByName(b)
    assert bloom.probe(both, s2, cfg).filter(~F.col("maybe_seen")).count() == 0
    s1.unpersist()
    s2.unpersist()


def test_sized_nbits_growth_rule():
    """Power-of-two growth, never below floor, fill stays under target."""
    cfg = EngineConfig(bloom_shards=4, bloom_nbits=1 << 10, bloom_k=5)
    assert bloom.sized_nbits(10, cfg, 1 << 10) == 1 << 10  # floor holds
    big = bloom.sized_nbits(1_000_000, cfg, 1 << 10)
    assert big > 1 << 10 and (big & (big - 1)) == 0  # grew, power of two
    # the chosen size actually satisfies the fill budget
    inserts_per_shard = 1_000_000 * cfg.bloom_k / cfg.bloom_shards
    assert 1 - math.exp(-inserts_per_shard / big) <= bloom.FILL_TARGET
    # never shrinks below the current live size
    assert bloom.sized_nbits(10, cfg, 1 << 20) == 1 << 20


def test_rebuild_at_larger_nbits_no_false_negatives(spark):
    """The wave loop's saturation rebuild: same keys re-inserted into a
    doubled bitmap keep zero false negatives, and the rebuilt filter's
    FPR drops below the saturated one's."""
    cfg = EngineConfig(bloom_shards=2, bloom_nbits=1 << 10, bloom_k=5)
    n = 2000  # 2k keys x 5 into 2x1024 bits => saturated (fill ~0.99)
    inserted = _urls(spark, "in", n)
    empty = spark.createDataFrame([], S.BLOOM_SHARDS)
    small = bloom.build_shards(inserted, empty, cfg)
    small.persist().count()
    grown_nbits = bloom.sized_nbits(n, cfg, cfg.bloom_nbits)
    assert grown_nbits > cfg.bloom_nbits
    big = bloom.build_shards(inserted, empty, cfg, nbits=grown_nbits)
    big.persist().count()
    novel = _urls(spark, "out", 2000)

    def fp_rate(shards, nbits):
        hits = bloom.probe(novel, shards, cfg, nbits=nbits).filter(
            F.col("maybe_seen")).count()
        return hits / 2000

    # no false negatives at the grown size
    assert bloom.probe(inserted, big, cfg, nbits=grown_nbits).filter(
        ~F.col("maybe_seen")).count() == 0
    assert fp_rate(big, grown_nbits) < 0.05 < fp_rate(small, cfg.bloom_nbits)
    small.unpersist()
    big.unpersist()
