"""Image payload synthesis + codecs + phash (SURVEY.md §1.5) — spec twins.

No PIL/cv2 in the environment (verified), so codecs are built from scratch
on numpy + stdlib zlib.  These pure functions run identically in the
sequential oracle and inside the Spark engine's Arrow-batched UDFs, making
the per-row payload invariant (BASELINE.json:15 — decoded-pixel allclose,
PSNR≥40dB for lossy, caption equality, phash int64) testable bit-for-bit.

Formats:
  raw    — ``arr.tobytes()`` prefixed by nothing (w/h/fmt travel as columns)
  png    — minimal valid PNG (8-bit RGB, filter 0, single IDAT)
  qlossy — lossy-by-construction: pixels floored to even values
           (error ≤ 1 ⇒ MSE ≤ 1 ⇒ PSNR ≥ 10·log10(255²) ≈ 48.1 dB > 40 dB),
           then zlib-compressed
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .mmh3 import splitmix64

FMTS = ("raw", "png", "qlossy")
_M64 = (1 << 64) - 1


# ---------------------------------------------------------------- synthesis
# per-image fields are bit-slices of one splitmix64 round (cheap: these
# run once per fetched row inside Arrow batches)

def _z(url_hash: int) -> int:
    return splitmix64(url_hash & _M64)


def dims_for(url_hash: int) -> tuple[int, int]:
    """Deterministic (w, h) in [16, 64]."""
    z = _z(url_hash)
    return 16 + z % 49, 16 + (z >> 8) % 49


def fmt_for(url_hash: int) -> str:
    return FMTS[(_z(url_hash) >> 17) % 3]


def image_id_for(url_hash: int) -> str:
    return f"{url_hash & ((1 << 64) - 1):016x}"


def synth_pixels(url_hash: int, w: int, h: int) -> np.ndarray:
    """Deterministic RGB uint8 (h, w, 3) — identical in oracle and engine."""
    rng = np.random.Generator(np.random.PCG64(url_hash & ((1 << 64) - 1)))
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def caption_for(image_id: str, host: str, wave: int) -> str:
    return f"img {image_id} from {host} wave {wave}"


# ---------------------------------------------------------------- PNG codec

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_encode(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = np.empty((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 per scanline
    raw[:, 1:] = arr.reshape(h, w * 3)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    # exceptions, not asserts: under python -O an assert vanishes and the
    # decoder would return garbage pixels
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, 0
    h = 0
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, bits, ctype = struct.unpack(">IIBB", body[:10])
            if bits != 8 or ctype != 2:
                raise ValueError("only 8-bit RGB PNG is supported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w * 3 + 1)
    if (raw[:, 0] != 0).any():
        raise ValueError("only PNG filter type 0 is supported")
    return raw[:, 1:].reshape(h, w, 3).copy()


# ------------------------------------------------------------- qlossy codec

def qlossy_encode(arr: np.ndarray) -> bytes:
    q = arr & 0xFE  # floor to even: |err| ≤ 1 ⇒ PSNR ≥ 48.1 dB
    return zlib.compress(q.tobytes(), 6)


def qlossy_decode(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(zlib.decompress(data), dtype=np.uint8).reshape(h, w, 3).copy()


# ------------------------------------------------------------------ encode

def encode(arr: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return arr.tobytes()
    if fmt == "png":
        return png_encode(arr)
    if fmt == "qlossy":
        return qlossy_encode(arr)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt == "raw":
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3).copy()
    if fmt == "png":
        return png_decode(data)
    if fmt == "qlossy":
        return qlossy_decode(data, w, h)
    raise ValueError(f"unknown fmt {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


# ------------------------------------------------------------------- phash

def _split_starts(n: int, parts: int = 8) -> tuple[list[int], np.ndarray]:
    """Start offsets + lengths of ``np.array_split(range(n), parts)``."""
    q, r = divmod(n, parts)
    starts = [i * q + min(i, r) for i in range(parts)]
    lens = np.diff(starts + [n]).astype(np.float64)
    return starts, lens


def resize_box(arr: np.ndarray, tw: int, th: int) -> np.ndarray:
    """Box-filter resize to (th, tw, 3) uint8 — block means via two
    ``np.add.reduceat`` passes (the phash downsampler generalized and
    kept per-channel).  No Python loop over pixels.  Upscaled axes
    (target > source) replicate source pixels (nearest-neighbor): an
    empty block would otherwise divide by a zero length and emit
    undefined uint8 garbage."""
    h, w, _ = arr.shape

    def prop_starts(n: int, parts: int):
        # proportional partition: starts stay < n for any parts (the
        # phash _split_starts formula can emit start == n when
        # parts > n, which reduceat rejects); reduceat yields a[start]
        # for an empty block, which is exactly nearest-neighbor once
        # its length is clamped to 1
        starts = (np.arange(parts) * n) // parts
        lens = np.diff(np.append(starts, n)).astype(np.float64)
        return starts, np.maximum(lens, 1.0)

    r_starts, r_lens = prop_starts(h, th)
    c_starts, c_lens = prop_starts(w, tw)
    sums = np.add.reduceat(
        np.add.reduceat(arr.astype(np.float64), r_starts, axis=0),
        c_starts, axis=1,
    )
    out = sums / np.outer(r_lens, c_lens)[..., None]
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def phash64(arr: np.ndarray) -> int:
    """8×8 average-hash over the gray image, packed row-major MSB-first
    into a signed int64.  Fully vectorized (block sums via
    ``np.add.reduceat``) — this runs per row inside the engine's Arrow
    batches, so it must not loop in Python.  Identical code in oracle
    and engine keeps phash bit-equal between them."""
    # channel SUM, not mean: downstream quantities scale by the same x3,
    # and one full-image temporary + mean pass disappears from the hot
    # loop.  NOTE the old per-pixel /3 carried float rounding, so bits
    # at exact-float block-vs-global ties can differ from builds before
    # layout_version 2 — engine and oracle share this code and stay in
    # lockstep, but catalogs recorded by older builds won't reproduce
    # (covered by the layout_version resume guard / fresh-catalog rule)
    gray = arr.sum(axis=2, dtype=np.float64)
    h, w = gray.shape
    r_starts, r_lens = _split_starts(h)
    c_starts, c_lens = _split_starts(w)
    sums = np.add.reduceat(
        np.add.reduceat(gray, r_starts, axis=0), c_starts, axis=1
    )
    small = sums / np.outer(r_lens, c_lens)
    bits = (small > small.mean()).ravel()
    val = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return val - (1 << 64) if val >= (1 << 63) else val


# ------------------------------------------------ one-shot payload builder

def payload_for(url_hash: int, host: str, wave: int) -> dict:
    """The full deterministic page payload for a fetched URL.

    Returns the exact columns of the binding ``pages`` input shape
    (BASELINE.json:15): image_id, bytes, w, h, fmt, caption, phash.
    phash is computed over the encoded-then-decoded pixels (what a reader
    of the table can reproduce), so it is well-defined for lossy rows too.
    """
    w, h = dims_for(url_hash)
    fmt = fmt_for(url_hash)
    image_id = image_id_for(url_hash)
    arr = synth_pixels(url_hash, w, h)
    data = encode(arr, fmt)
    stored = decode(data, fmt, w, h)
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption_for(image_id, host, wave),
        "phash": phash64(stored),
    }
