"""Codec roundtrips + PSNR bound + phash determinism (SURVEY §5.2-5.4),
and the batch payload kernel pinned to its per-row definition."""

import numpy as np
import pytest

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


@pytest.mark.parametrize("fmt", ic.FMTS)
@pytest.mark.parametrize("w,h", [(16, 16), (64, 64), (16, 64), (37, 23)])
def test_decode_returns_stored_pixels(fmt, w, h):
    """The round-trip invariant the payload kernel relies on when it
    hashes the stored pixels without decoding them."""
    arr = ic.synth_pixels(w * 1000 + h, w, h)
    dec = ic.decode(ic.encode(arr, fmt), fmt, w, h)
    expected = arr & 0xFE if fmt == "qlossy" else arr
    assert np.array_equal(dec, expected)
    assert np.array_equal(ic.stored_pixels(arr, fmt), expected)


def _reference_payload(url_hash, host, wave):
    """The per-row definition: phash over the decoded pixels."""
    w, h = ic.dims_for(url_hash)
    fmt = ic.fmt_for(url_hash)
    image_id = ic.image_id_for(url_hash)
    data = ic.encode(ic.synth_pixels(url_hash, w, h), fmt)
    return {
        "image_id": image_id, "bytes": data, "w": w, "h": h, "fmt": fmt,
        "caption": ic.caption_for(image_id, host, wave),
        "phash": ic.phash64(ic.decode(data, fmt, w, h)),
    }


def test_payload_columns_match_reference():
    rng = np.random.default_rng(20240611)
    hashes = [int(v) for v in rng.integers(-2**63, 2**63 - 1, size=2048,
                                           dtype=np.int64)]
    hosts = [f"site{i % 13:03d}.example.org" for i in range(len(hashes))]
    ref = [_reference_payload(uh, host, 5) for uh, host in zip(hashes, hosts)]
    assert {p["fmt"] for p in ref} == set(ic.FMTS)
    assert len({(p["w"], p["h"]) for p in ref}) > 500
    # the engine's slice sizes: uneven cuts, then the whole batch
    for cut in (820, len(hashes)):
        got = []
        for lo in range(0, len(hashes), cut):
            cols = ic.payload_columns(hashes[lo:lo + cut],
                                      hosts[lo:lo + cut], 5)
            assert tuple(cols) == ic.PAYLOAD_COLUMNS
            assert len({len(v) for v in cols.values()}) == 1
            got += [dict(zip(cols, row)) for row in zip(*cols.values())]
        assert got == ref
    assert ic.payload_for(hashes[7], hosts[7], 5) == ref[7]


def test_phash_batch_matches_phash64_at_ties():
    """Block-constant images whose block means tie with the image mean:
    the batch pass must take the same mean bit for bit."""
    def blocky(h, w, col_values):
        _, c_lens = ic._split_starts(w)
        row = np.repeat(np.array(col_values, dtype=np.uint8),
                        c_lens.astype(int))
        return np.repeat(np.repeat(row[None, :, None], h, 0), 3, 2)

    images = [
        np.full((16, 16, 3), 100, dtype=np.uint8),
        np.zeros((64, 64, 3), dtype=np.uint8),
        blocky(16, 16, [10, 10, 20, 20, 20, 20, 30, 30]),
        blocky(23, 41, [10, 10, 20, 20, 20, 20, 30, 30]),
        blocky(64, 17, [30, 20, 10, 20, 20, 10, 20, 30]),
    ] + [ic.synth_pixels(s, 19 + s, 50 - s) for s in range(5)]
    assert ic._phash_batch(images) == [ic.phash64(a) for a in images]


def test_payload_columns_empty_batch():
    assert ic.payload_columns([], [], 1) == {k: [] for k in ic.PAYLOAD_COLUMNS}


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
