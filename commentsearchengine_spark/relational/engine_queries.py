"""Rows-only driver queries exercising the crawl engine + image pipeline.

These run the actual product (the wave-synchronous crawler of
plans/wave.py) and the multimodal payload path (imagecodec) through the
driver contract.  They are not SQL-expressible (stateful multi-wave
iteration, binary image codecs), so the driver records the weaker
rows-only check (SURVEY.md §2.B); bit-exactness vs the sequential oracle
is enforced separately by tests/test_crawl_match.py.
"""

from __future__ import annotations

import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import schemas
from ..config import EngineConfig
from ..plans.wave import run_crawl
from ..sources.icelite import Catalog

_DEMO_CFG = EngineConfig(n_seeds=6, n_waves=2, n_buckets=16, bloom_shards=4)
_crawl_cache: dict[str, str] = {}


def _demo_catalog(spark: SparkSession) -> Catalog:
    """Run (once per process) a small deterministic crawl; reuse after."""
    key = _DEMO_CFG.config_hash()
    if key not in _crawl_cache:
        root = tempfile.mkdtemp(prefix="cse_demo_crawl_")
        run_crawl(spark, root, _DEMO_CFG)
        _crawl_cache[key] = root
    return Catalog(_crawl_cache[key])


def q_crawl_log(spark: SparkSession, sf: str) -> DataFrame:
    """The headline artifact: deterministic crawl ordering (op O1)."""
    cat = _demo_catalog(spark)
    return cat.scan(spark, "crawl_log", schema_ddl=schemas.CRAWL_LOG).orderBy(
        "global_seq"
    )


def q_crawl_frontier_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Frontier composition after the run: depth/priority histogram."""
    cat = _demo_catalog(spark)
    fr = cat.scan(spark, "frontier", schema_ddl=schemas.FRONTIER)
    return fr.groupBy("depth", "disc_wave").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("host").alias("n_hosts"),
    )


def q_crawl_lineage(spark: SparkSession, sf: str) -> DataFrame:
    """Per-partition lineage counters (op L1) for crawl waves (wave >= 1);
    the manifest-level `where` prunes wave-0 bootstrap files before Spark
    ever sees them (icelite scan planning)."""
    cat = _demo_catalog(spark)
    return cat.scan(
        spark, "lineage", schema_ddl=schemas.LINEAGE,
        where=[("wave", ">=", 1)],
    ).filter(F.col("wave") >= 1).groupBy(
        "wave"
    ).agg(
        F.sum("fetched").alias("fetched"),
        F.sum("queued").alias("queued"),
        F.sum("deduped").alias("deduped"),
        F.sum("robots_blocked").alias("robots_blocked"),
        F.sum("politeness_deferred").alias("politeness_deferred"),
    )


def q_pages_payload_verify(spark: SparkSession, sf: str) -> DataFrame:
    """Decode every stored page (op F2 inverse) and verify the binding
    per-row invariant (BASELINE.json:15): decoded-pixel allclose
    (PSNR >= 40 dB for qlossy, exact for raw/png) + caption equality +
    phash match — inside a vectorized mapInPandas pass."""
    from ..functions import imagecodec as ic

    cat = _demo_catalog(spark)
    pages = cat.scan(spark, "pages", schema_ddl=schemas.PAGES)

    def verify(batches):
        # dict-of-columns batch assembly (NOT list-of-dicts — pandas'
        # slowest constructor; same convention as operators/fetch.py)
        for pdf in batches:
            fmt, pix, cap, ph, floor = [], [], [], [], []
            for r in pdf.itertuples(index=False):
                stored = ic.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
                true_hash = int.from_bytes(
                    bytes.fromhex(r.image_id), "big", signed=True
                )
                ref = ic.synth_pixels(true_hash, int(r.w), int(r.h))
                p = ic.psnr(ref, stored)
                fmt.append(r.fmt)
                pix.append(bool(p >= 40.0 or p == float("inf")))
                cap.append(r.caption == ic.caption_for(
                    r.image_id, r.host, int(r.wave)))
                ph.append(ic.phash64(stored) == int(r.phash))
                floor.append(float(min(p, 99.0)))
            yield pd.DataFrame({
                "fmt": fmt, "pixels_ok": pix, "caption_ok": cap,
                "phash_ok": ph, "psnr_floor": floor,
            })

    checked = pages.mapInPandas(
        verify,
        schema=(
            "fmt string, pixels_ok boolean, caption_ok boolean,"
            " phash_ok boolean, psnr_floor double"
        ),
    )
    return checked.groupBy("fmt").agg(
        F.count("*").alias("n_pages"),
        F.sum(F.col("pixels_ok").cast("long")).alias("n_pixels_ok"),
        F.sum(F.col("caption_ok").cast("long")).alias("n_caption_ok"),
        F.sum(F.col("phash_ok").cast("long")).alias("n_phash_ok"),
        F.round(F.min("psnr_floor"), 2).alias("min_psnr"),
    )


def q_image_feature_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal feature extraction over an opaque-binary image column:
    synthesize deterministic images keyed by embeddings.vec_id, then a
    vectorized decode -> grayscale-stats -> phash pass (mapInPandas).
    The Spark plumbing (schema, Arrow batches, partition-parallel decode)
    is the real thing; synthesis stands in for reading stored bytes."""
    from ..functions import imagecodec as ic
    from ..functions.mmh3 import murmur64

    (emb,) = (
        spark.read.parquet(f"{sf}/embeddings.parquet"),
    )
    ids = emb.select("vec_id")

    def featurize(batches):
        # dict-of-columns assembly (see q_pages_payload_verify)
        for pdf in batches:
            cols: dict[str, list] = {
                k: [] for k in (
                    "vec_id", "fmt", "w", "h", "n_bytes", "mean_lum", "phash")
            }
            for vid in pdf["vec_id"]:
                uh = murmur64(f"img-{int(vid)}")
                w, h = ic.dims_for(uh)
                fmt = ic.fmt_for(uh)
                data = ic.encode(ic.synth_pixels(uh, w, h), fmt)
                dec = ic.decode(data, fmt, w, h)
                gray = dec.astype("float64").mean(axis=2)
                cols["vec_id"].append(int(vid))
                cols["fmt"].append(fmt)
                cols["w"].append(int(w))
                cols["h"].append(int(h))
                cols["n_bytes"].append(len(data))
                cols["mean_lum"].append(round(float(gray.mean()), 4))
                cols["phash"].append(ic.phash64(dec))
            yield pd.DataFrame(cols)

    return ids.repartition(8).mapInPandas(
        featurize,
        schema=(
            "vec_id long, fmt string, w int, h int, n_bytes long,"
            " mean_lum double, phash long"
        ),
    )


def q_image_resize_thumbs(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal RESIZE over opaque image binaries: decode -> box-filter
    8x8 RGB thumbnail (imagecodec.resize_box, reduceat block means, no
    per-pixel Python) -> re-encode raw, inside one vectorized
    mapInPandas pass.  Rows-only (binary codec pipeline)."""
    from ..functions import imagecodec as ic
    from ..functions.mmh3 import murmur64

    (emb,) = (spark.read.parquet(f"{sf}/embeddings.parquet"),)
    ids = emb.select("vec_id")
    tw = th = 8

    def thumbs(batches):
        # dict-of-columns assembly (see q_pages_payload_verify)
        for pdf in batches:
            vids, ws, hs, tb, tm = [], [], [], [], []
            for vid in pdf["vec_id"]:
                uh = murmur64(f"img-{int(vid)}")
                w, h = ic.dims_for(uh)
                fmt = ic.fmt_for(uh)
                dec = ic.decode(
                    ic.encode(ic.synth_pixels(uh, w, h), fmt), fmt, w, h)
                thumb = ic.resize_box(dec, tw, th)
                vids.append(int(vid))
                ws.append(int(w))
                hs.append(int(h))
                tb.append(thumb.tobytes())
                tm.append(round(float(thumb.mean()), 4))
            yield pd.DataFrame({
                "vec_id": vids, "src_w": ws, "src_h": hs,
                "thumb_bytes": tb, "thumb_mean": tm,
            })

    thumbed = ids.repartition(8).mapInPandas(
        thumbs,
        schema=(
            "vec_id long, src_w int, src_h int, thumb_bytes binary,"
            " thumb_mean double"
        ),
    )
    return thumbed.select(
        "vec_id", "src_w", "src_h", "thumb_mean",
        F.length("thumb_bytes").cast("long").alias("n_thumb_bytes"),
    )


VIDEO_SAMPLE_EVERY = 2


def q_video_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal FRAME-SAMPLE over an opaque video binary column
    (the video modality).

    A "video" here is a deterministic clip container: ``n_frames`` raw
    RGB frames of one (w, h) concatenated into a single binary, frame i
    seeded by mix(clip_hash, i) — the decode is our own raw codec (no
    video libs exist in this container; the brief allows a
    deterministic stand-in as long as the Spark-side plumbing is real).
    Two CHAINED mapInPandas passes prove that plumbing: pass 1
    synthesizes (vec_id, video binary, typed metadata n_frames/w/h);
    pass 2 is the actual frame-sampler — slices every
    ``VIDEO_SAMPLE_EVERY``-th frame out of the binary, phashes each
    kept frame, and computes motion as the mean |luma delta| between
    consecutive kept frames.  At scale the clip bytes stay in Arrow
    batches end to end; sampling is numpy slicing, no per-pixel
    Python.  Rows-only (binary codec pipeline)."""
    from ..functions import imagecodec as ic
    from ..functions.mmh3 import murmur64

    (emb,) = (spark.read.parquet(f"{sf}/embeddings.parquet"),)
    ids = emb.select("vec_id")

    def synth_clips(batches):
        # dict-of-columns assembly (see q_pages_payload_verify)
        for pdf in batches:
            vids, videos, nfs, ws, hs = [], [], [], [], []
            for vid in pdf["vec_id"]:
                uh = murmur64(f"clip-{int(vid)}")
                w, h = ic.dims_for(uh)
                n_frames = 4 + (uh & 0x7FFFFFFF) % 5
                frames = b"".join(
                    ic.synth_pixels(
                        murmur64(f"clip-{int(vid)}#f{i}"), w, h
                    ).tobytes()
                    for i in range(n_frames)
                )
                vids.append(int(vid))
                videos.append(frames)
                nfs.append(int(n_frames))
                ws.append(int(w))
                hs.append(int(h))
            yield pd.DataFrame({
                "vec_id": vids, "video": videos, "n_frames": nfs,
                "w": ws, "h": hs,
            })

    clips = ids.repartition(8).mapInPandas(
        synth_clips,
        schema="vec_id long, video binary, n_frames int, w int, h int",
    )

    def sample(batches):
        import numpy as np

        # dict-of-columns assembly (see q_pages_payload_verify)
        for pdf in batches:
            cols: dict[str, list] = {
                k: [] for k in (
                    "vec_id", "n_frames", "n_sampled", "first_phash",
                    "last_phash", "mean_motion", "clip_bytes")
            }
            for r in pdf.itertuples(index=False):
                w, h, nf = int(r.w), int(r.h), int(r.n_frames)
                arr = np.frombuffer(
                    bytes(r.video), dtype=np.uint8
                ).reshape(nf, h, w, 3)
                kept = arr[::VIDEO_SAMPLE_EVERY]
                luma = kept.astype(np.float64).mean(axis=(1, 2, 3))
                motion = (
                    float(np.abs(np.diff(luma)).mean())
                    if len(kept) > 1 else 0.0
                )
                cols["vec_id"].append(int(r.vec_id))
                cols["n_frames"].append(nf)
                cols["n_sampled"].append(int(len(kept)))
                cols["first_phash"].append(ic.phash64(kept[0]))
                cols["last_phash"].append(ic.phash64(kept[-1]))
                cols["mean_motion"].append(round(motion, 4))
                cols["clip_bytes"].append(nf * w * h * 3)
            yield pd.DataFrame(cols)

    return clips.mapInPandas(
        sample,
        schema=(
            "vec_id long, n_frames int, n_sampled int, first_phash long,"
            " last_phash long, mean_motion double, clip_bytes long"
        ),
    )


def q_audio_frame_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal FEATURE-EXTRACT over an opaque audio binary column —
    completes the brief's image/audio/video modality triple (image:
    q_image_feature_extract / q_image_resize_thumbs, video:
    q_video_frame_sample).

    An "audio clip" is deterministic PCM16 little-endian mono bytes
    (functions/audiocodec — no audio libs exist in this container; the
    deterministic stand-in convention matches the image/video synth,
    and every feature value has a pure-Python pytest oracle in
    tests/test_audio.py).  Two CHAINED mapInPandas passes prove the
    real plumbing: pass 1 synthesizes (vec_id, audio binary, typed
    metadata sr/n_samples); pass 2 is the actual feature extractor —
    decodes the PCM, reshapes into FRAME_LEN-sample analysis windows,
    and computes windowed RMS energy / zero-crossing rate / silence
    ratio as whole-clip numpy reductions (no per-sample Python).  At
    scale the clip bytes stay in Arrow batches end to end and clips
    are embarrassingly parallel across partitions.  Rows-only (binary
    codec pipeline)."""
    from ..functions import audiocodec as ac
    from ..functions.mmh3 import murmur64

    (emb,) = (spark.read.parquet(f"{sf}/embeddings.parquet"),)
    ids = emb.select("vec_id")

    def synth_audio(batches):
        # dict-of-columns assembly (see q_pages_payload_verify)
        for pdf in batches:
            vids, clips, srs, ns = [], [], [], []
            for vid in pdf["vec_id"]:
                uh = murmur64(f"audio-{int(vid)}")
                n = ac.n_samples_for(uh)
                vids.append(int(vid))
                clips.append(ac.pcm_encode(ac.synth_pcm(uh, n)))
                srs.append(ac.SAMPLE_RATE)
                ns.append(int(n))
            yield pd.DataFrame({
                "vec_id": vids, "audio": clips, "sr": srs, "n_samples": ns,
            })

    clips = ids.repartition(8).mapInPandas(
        synth_audio,
        schema="vec_id long, audio binary, sr int, n_samples int",
    )

    def featurize(batches):
        # dict-of-columns assembly (see q_pages_payload_verify)
        for pdf in batches:
            cols: dict[str, list] = {
                k: [] for k in (
                    "vec_id", "sr", "n_samples", "n_windows",
                    "tail_samples", "mean_rms", "max_rms", "mean_zcr",
                    "silence_ratio")
            }
            for r in pdf.itertuples(index=False):
                feats = ac.frame_features(ac.pcm_decode(bytes(r.audio)))
                cols["vec_id"].append(int(r.vec_id))
                cols["sr"].append(int(r.sr))
                for k in ("n_samples", "n_windows", "tail_samples",
                          "mean_rms", "max_rms", "mean_zcr",
                          "silence_ratio"):
                    cols[k].append(feats[k])
            yield pd.DataFrame(cols)

    return clips.mapInPandas(
        featurize,
        schema=(
            "vec_id long, sr int, n_samples int, n_windows int,"
            " tail_samples int, mean_rms double, max_rms double,"
            " mean_zcr double, silence_ratio double"
        ),
    )


def q_icelite_compact(spark: SparkSession, sf: str) -> DataFrame:
    """Catalog maintenance through the driver contract: compact the
    demo crawl's fragmented `seen` table (plans/maintenance.py — the
    icelite analogue of Iceberg rewrite_data_files) and report the
    before/after file counts plus a row-content equality check.
    Rows-only (a maintenance action, not SQL); content preservation is
    additionally pytest-gated with full oracle parity across a
    compaction (tests/test_maintenance.py)."""
    import shutil

    from ..plans.maintenance import compact_table

    # compact a THROWAWAY COPY of the demo catalog: compaction is
    # content-preserving, but it COMMITS — repeat invocations against
    # the shared cached catalog would grow its snapshot count and disk
    # linearly and make the reported file counts run-order-dependent
    src = _demo_catalog(spark)
    root = tempfile.mkdtemp(prefix="cse_demo_compact_")
    try:
        shutil.rmtree(root)
        shutil.copytree(src.root, root)
        cat = Catalog(root)
        files_before = len(cat.table_files("seen"))
        rows_before = cat.scan(spark, "seen", schema_ddl=schemas.SEEN).count()
        out = compact_table(spark, cat, "seen", schemas.SEEN,
                            cluster_col="url_hash", min_files=2)
        rows_after = cat.scan(spark, "seen", schema_ddl=schemas.SEEN).count()
        return spark.createDataFrame(
            [(files_before, len(cat.table_files("seen")),
              bool(out["compacted"]),
              int(rows_before), int(rows_after), rows_before == rows_after)],
            "files_before int, files_after int, compacted boolean, "
            "rows_before long, rows_after long, content_preserved boolean",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES: dict[str, tuple] = {
    "video_frame_sample": (q_video_frame_sample, None),
    "audio_frame_features": (q_audio_frame_features, None),
    "icelite_compact": (q_icelite_compact, None),
    "crawl_log": (q_crawl_log, None),
    "crawl_frontier_depth": (q_crawl_frontier_depth, None),
    "crawl_lineage": (q_crawl_lineage, None),
    "pages_payload_verify": (q_pages_payload_verify, None),
    "image_feature_extract": (q_image_feature_extract, None),
    "image_resize_thumbs": (q_image_resize_thumbs, None),
}
