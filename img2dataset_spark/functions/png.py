"""Pure-Python PNG codec (stdlib zlib + numpy) — the sandbox has no
PIL/OpenCV, but PNG is a small public spec (RFC 2083), so the pixel path
for PNG images is REAL, not stubbed: decode -> ndarray, ndarray ->
encode.  This is what lets the reference's pixel-exact blur golden
(/root/reference/tests/blur_test_files/, tests/test_blurrer.py) actually
execute in this repo's test suite.

Supported: bit depth 8; color types 0 (gray), 2 (RGB), 3 (palette),
4 (gray+alpha), 6 (RGBA); non-interlaced; all five filter types.
Interlaced (Adam7) and 16-bit images raise ValueError — detected, not
silently mis-decoded.

Unfiltering (each row may use its own filter):
  - None rows are the filtered bytes themselves: the whole image starts
    as one copy of the scanlines, and None rows are never visited again
    (so the all-None output of `encode_png` visits no row).
  - Average and Paeth predictors read the DECODED byte to the left
    through a floor or a three-way choice, so such a row is a non-linear
    recurrence with no numpy scan.  The span from the first to the last
    Average/Paeth row is decoded as one anti-diagonal wavefront instead
    (Lamport's hyperplane method, "The Parallel Execution of DO Loops",
    CACM 1974): pixel (r, x) needs only pixels of diagonals r + x - 1
    and r + x - 2, so each of the span + width - 1 steps updates a whole
    diagonal with a few int16 array ops.  The span sits in a skewed,
    diagonal-major buffer; the Sub, Up and None rows inside it use their
    own predictors in the same steps.  Work is proportional to the
    pixels plus one step per column, so a lone Average row is the worst
    case: ~4-9 ms at 1,000 px as a wavefront against 0.1-0.3 ms for the
    scalar per-byte loop this replaced; spans of about 32 rows or more
    win.  Taller spans run in bands of rows so that the buffer stays
    within `_SKEW_SAMPLES`.
  - Up rows outside the span are one uint8 add of the row above, Sub
    rows one uint8 cumsum along each channel; uint8 arithmetic wraps mod
    256 exactly as the spec's byte arithmetic does.

Encoding writes filter-type-0 rows with one zlib stream — bytes are
deterministic for a given array (fixed zlib level), which the sink tests
rely on.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# samples per pixel by color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Samples of one wavefront's skewed int16 buffer (32 MiB): taller
# Average/Paeth spans run as several wavefronts, one band of rows each.
_SKEW_SAMPLES = 1 << 24


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 ndarray of shape (H, W) or (H, W, C)."""
    if data[: len(_SIG)] != _SIG:
        raise ValueError("not a PNG")
    pos = len(_SIG)
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    palette: np.ndarray | None = None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    if bit_depth != 8:
        raise ValueError(f"unsupported bit depth {bit_depth} (only 8)")
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    if color_type not in _CHANNELS:
        raise ValueError(f"unsupported color type {color_type}")

    nch = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * nch
    if len(raw) != height * (stride + 1):
        raise ValueError("truncated PNG pixel data")

    out = _unfilter(raw, height, stride, nch)  # bytes per pixel = nch at depth 8
    img = out.reshape(height, width, nch) if nch > 1 else out
    if color_type == 3:
        if palette is None:
            raise ValueError("palette image without PLTE")
        img = palette[img]
    return img


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Filtered scanlines (one filter-type byte + ``stride`` bytes each)
    -> (height, stride) uint8 rows.  Every row starts as its filtered
    bytes, which is already the answer for None rows.  The span from the
    first to the last Average/Paeth row is a wavefront (`_unfilter_span`);
    the Sub and Up rows before and after it are array ops, in row order."""
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    kinds = lines[:, 0]
    bad = np.flatnonzero(kinds > 4)
    if bad.size:
        raise ValueError(f"bad filter type {kinds[bad[0]]}")
    out = lines[:, 1:].copy()
    span = np.flatnonzero(kinds >= 3)
    lo, hi = (int(span[0]), int(span[-1]) + 1) if span.size else (height, height)
    filtered = np.flatnonzero(kinds)
    _unfilter_rows(out, kinds, filtered[filtered < lo], bpp)
    width = stride // bpp
    q = _SKEW_SAMPLES // bpp  # rows per wavefront: (band + width + 1)(band + 1) <= q
    band = max(1, (math.isqrt(width * width + 4 * q) - width) // 2 - 1)
    for top in range(lo, hi, band):
        _unfilter_span(out, kinds, top, min(top + band, hi), bpp)
    _unfilter_rows(out, kinds, filtered[filtered >= hi], bpp)
    return out


def _unfilter_rows(out: np.ndarray, kinds: np.ndarray, rows: np.ndarray, bpp: int) -> None:
    """Undo Sub and Up rows one at a time; uint8 arithmetic wraps mod 256
    exactly as the spec's byte arithmetic does."""
    for y in rows.tolist():
        row = out[y]
        if kinds[y] == 1:  # Sub: a running sum along each channel
            row[:] = np.cumsum(row.reshape(-1, bpp), axis=0, dtype=np.uint8).reshape(-1)
        elif y:  # Up
            row += out[y - 1]


def _unfilter_span(out: np.ndarray, kinds: np.ndarray, lo: int, hi: int, bpp: int) -> None:
    """Undo the filters of rows lo..hi-1 in place, as one anti-diagonal
    wavefront (Lamport's hyperplane method).  Pixel (r, x) reads its
    left, upper and upper-left neighbours, which all lie on diagonals
    r + x - 1 and r + x - 2, so the pixels of one diagonal are
    independent: step d updates the rows with 0 <= d - r < width at once,
    and the span takes (hi - lo) + width - 1 steps.  Each row keeps its
    own predictor (None 0, Sub a, Up b, Average (a + b) >> 1, Paeth ties
    to a then b), so the Sub/Up/None rows libpng interleaves do not
    split the span."""
    n, width = hi - lo, out.shape[1] // bpp
    # skew[d, r] is pixel (r, d - r) of the span, diagonal-major so that
    # each step reads and writes contiguous rows.  Row r = 0 is the
    # decoded row above the span (zeros above the image) and pixel
    # x = 0 the zero left neighbour of each row's first pixel.
    skew = np.zeros((n + width + 1, n + 1, bpp), dtype=np.int16)
    item = skew.itemsize
    pixels = np.lib.stride_tricks.as_strided(  # pixels[r, x] is skew[r + x, r]
        skew, shape=(n + 1, width + 1, bpp),
        strides=((n + 2) * bpp * item, (n + 1) * bpp * item, item),
    )
    rows = out[lo:hi].reshape(n, width, bpp)
    if lo:
        pixels[0, 1:] = out[lo - 1].reshape(width, bpp)
    _copy_tiles(pixels[1:, 1:], rows)

    row_kinds = kinds[lo:hi, None]
    present = set(row_kinds.ravel().tolist())
    # None, Sub, Up and Average are all (alpha * a + beta * b) >> 1
    linear, average_only, paeth = bool(present - {4}), present == {3}, 4 in present
    alpha = np.array([0, 2, 0, 1, 0], dtype=np.int16)[row_kinds]
    beta = np.array([0, 0, 2, 1, 0], dtype=np.int16)[row_kinds]
    paeth_rows = row_kinds == 4
    for d in range(2, n + width + 1):
        r0, r1 = max(1, d - width), min(n, d - 1) + 1
        a = skew[d - 1, r0:r1]
        b = skew[d - 1, r0 - 1 : r1 - 1]
        if linear:
            pred = a + b if average_only else a * alpha[r0 - 1 : r1 - 1] + b * beta[r0 - 1 : r1 - 1]
            pred >>= 1
        if paeth:
            c = skew[d - 2, r0 - 1 : r1 - 1]
            bc, ac = b - c, a - c
            pa, pb, pc = np.abs(bc), np.abs(ac), np.abs(bc + ac)
            nearest = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
            pred = np.where(paeth_rows[r0 - 1 : r1 - 1], nearest, pred) if linear else nearest
        x = skew[d, r0:r1]
        x += pred
        x &= 0xFF
    _copy_tiles(rows, pixels[1:, 1:])


def _copy_tiles(dst: np.ndarray, src: np.ndarray) -> None:
    """dst[...] = src in 64 x 64 tiles of rows x pixels.  One side of the
    copy is skewed, so a plain assignment would touch a new cache line
    per sample; a tile's lines stay cached until it is done."""
    tile = 64
    for r in range(0, src.shape[0], tile):
        for x in range(0, src.shape[1], tile):
            dst[r : r + tile, x : x + tile] = src[r : r + tile, x : x + tile]


def encode_png(img: np.ndarray, compress_level: int = 6) -> bytes:
    """uint8 ndarray (H, W) or (H, W, {1,2,3,4}) -> PNG bytes."""
    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nch = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[nch]

    def chunk(typ: bytes, body: bytes) -> bytes:
        raw = typ + body
        return (
            struct.pack(">I", len(body)) + raw + struct.pack(">I", zlib.crc32(raw) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    stride = arr.reshape(h, w * nch)
    filt = np.zeros((h, w * nch + 1), dtype=np.uint8)
    filt[:, 1:] = stride  # filter type 0 on every row
    idat = zlib.compress(filt.tobytes(), compress_level)
    return _SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
