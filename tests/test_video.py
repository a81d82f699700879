"""Semantic oracle for the video frame-sampler: `video_frame_sample`'s
phash/motion arithmetic is checked value by value, not just by row
count.  This recomputes every output row with a straight-line
pure-Python/numpy oracle (same imagecodec primitives, independent frame
slicing) and asserts exact equality, including the sampling edges."""

from __future__ import annotations

import numpy as np
import pytest

from commentsearchengine_spark.functions import imagecodec as ic
from commentsearchengine_spark.functions.mmh3 import murmur64
from commentsearchengine_spark.relational import engine_queries as eq


def _oracle_row(vid: int, every: int) -> dict:
    uh = murmur64(f"clip-{vid}")
    w, h = ic.dims_for(uh)
    nf = 4 + (uh & 0x7FFFFFFF) % 5
    frames = [
        ic.synth_pixels(murmur64(f"clip-{vid}#f{i}"), w, h)
        for i in range(nf)
    ]
    kept = frames[::every]
    luma = [float(f.astype(np.float64).mean()) for f in kept]
    motion = (
        float(np.abs(np.diff(np.array(luma))).mean())
        if len(kept) > 1 else 0.0
    )
    return {
        "n_frames": nf,
        "n_sampled": len(kept),
        "first_phash": ic.phash64(kept[0]),
        "last_phash": ic.phash64(kept[-1]),
        "mean_motion": round(motion, 4),
        "clip_bytes": nf * w * h * 3,
    }


def test_video_frame_sample_matches_oracle(spark, sf_dir):
    rows = {
        r["vec_id"]: r.asDict()
        for r in eq.q_video_frame_sample(spark, sf_dir).collect()
    }
    assert rows
    # the synthesized clips must exercise every length 4..8 (so the
    # slice arithmetic is tested at both parities of n_frames)
    assert {r["n_frames"] for r in rows.values()} == {4, 5, 6, 7, 8}
    for vid, got in rows.items():
        exp = _oracle_row(int(vid), eq.VIDEO_SAMPLE_EVERY)
        for k, v in exp.items():
            assert got[k] == v, (vid, k, got[k], v)


def test_video_frame_sample_single_frame_edge(spark, sf_dir, monkeypatch):
    """Sampling stride >= n_frames keeps exactly one frame: motion is
    0.0 by definition and first == last phash."""
    monkeypatch.setattr(eq, "VIDEO_SAMPLE_EVERY", 10)
    rows = eq.q_video_frame_sample(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_sampled"] == 1
        assert r["mean_motion"] == 0.0
        assert r["first_phash"] == r["last_phash"]
        exp = _oracle_row(int(r["vec_id"]), 10)
        assert r["first_phash"] == exp["first_phash"]


@pytest.mark.parametrize("every", [1, 2, 3])
def test_oracle_slice_arithmetic(every):
    """The oracle itself: ceil-division sample counts per stride."""
    for vid in range(20):
        exp = _oracle_row(vid, every)
        assert exp["n_sampled"] == -(-exp["n_frames"] // every)
