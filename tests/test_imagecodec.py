"""Codec roundtrips + PSNR bound + phash determinism (SURVEY §5.2-5.4)."""

import numpy as np

from commentsearchengine_spark.functions import imagecodec as ic


def _arrs():
    for seed in (1, 42, 7_000_000_001, -5):
        uh = seed & ((1 << 64) - 1)
        w, h = ic.dims_for(uh)
        yield uh, w, h, ic.synth_pixels(uh, w, h)


def test_raw_roundtrip():
    for _, w, h, arr in _arrs():
        assert np.array_equal(ic.decode(ic.encode(arr, "raw"), "raw", w, h), arr)


def test_png_roundtrip():
    for _, w, h, arr in _arrs():
        assert np.array_equal(ic.decode(ic.encode(arr, "png"), "png", w, h), arr)


def test_qlossy_psnr_bound():
    for _, w, h, arr in _arrs():
        dec = ic.decode(ic.encode(arr, "qlossy"), "qlossy", w, h)
        assert np.abs(dec.astype(int) - arr.astype(int)).max() <= 1
        assert ic.psnr(arr, dec) >= 40.0


def test_phash_deterministic_and_packed():
    for uh, _, _, arr in _arrs():
        p1, p2 = ic.phash64(arr), ic.phash64(arr.copy())
        assert p1 == p2
        assert -(1 << 63) <= p1 < (1 << 63)


def test_payload_shape():
    p = ic.payload_for(123456789, "site001.example.org", 3)
    assert set(p) == {"image_id", "bytes", "w", "h", "fmt", "caption", "phash"}
    assert p["caption"] == f"img {p['image_id']} from site001.example.org wave 3"
    dec = ic.decode(p["bytes"], p["fmt"], p["w"], p["h"])
    assert dec.shape == (p["h"], p["w"], 3)


def test_resize_box():
    import numpy as np

    from commentsearchengine_spark.functions import imagecodec as ic

    # constant image stays constant at any target size
    const = np.full((33, 17, 3), 200, dtype=np.uint8)
    thumb = ic.resize_box(const, 8, 8)
    assert thumb.shape == (8, 8, 3)
    assert (thumb == 200).all()
    # block means are exact when blocks divide evenly
    quad = np.zeros((4, 4, 3), dtype=np.uint8)
    quad[:2, :2] = 100
    out = ic.resize_box(quad, 2, 2)
    assert out[0, 0, 0] == 100 and out[1, 1, 0] == 0


def test_resize_box_upscale():
    import numpy as np

    from commentsearchengine_spark.functions import imagecodec as ic

    src = np.zeros((2, 2, 3), dtype=np.uint8)
    src[0, 0] = 10
    src[0, 1] = 20
    src[1, 0] = 30
    src[1, 1] = 40
    up = ic.resize_box(src, 4, 4)
    assert up.shape == (4, 4, 3)
    # nearest-neighbor replication, no NaN/garbage
    assert up[0, 0, 0] == 10 and up[1, 1, 0] == 10
    assert up[3, 3, 0] == 40 and up[2, 2, 0] == 40
    # mixed up/down: 2x5 -> 4x2
    mixed = ic.resize_box(np.full((2, 5, 3), 7, dtype=np.uint8), 2, 4)
    assert mixed.shape == (4, 2, 3)
    assert (mixed == 7).all()


def test_png_decode_rejects_non_png():
    import pytest

    with pytest.raises(ValueError, match="not a PNG"):
        ic.png_decode(b"GIF89a" + bytes(32))


def test_png_decode_rejects_filtered_scanline():
    """A scanline with filter type 1 (Sub) would decode to garbage
    pixels if the guard were skipped (asserts vanish under python -O)."""
    import struct
    import zlib

    import pytest

    uh, w, h, arr = next(_arrs())
    raw = np.empty((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = arr.reshape(h, w * 3)
    raw[h // 2, 0] = 1
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (ic._PNG_SIG + ic._chunk(b"IHDR", ihdr)
            + ic._chunk(b"IDAT", zlib.compress(raw.tobytes()))
            + ic._chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="filter"):
        ic.png_decode(data)
