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

Unfiltering, row by row (each row may use its own filter):
  - None rows are the filtered bytes themselves: the whole image starts
    as one copy of the scanlines, and None rows are never visited again.
  - Up rows are one uint8 add of the row above, Sub rows one uint8
    cumsum along each channel; uint8 arithmetic wraps mod 256 exactly
    as the spec's byte arithmetic does.
  - Average and Paeth rows stay a scalar loop: each byte's predictor
    reads the DECODED byte to its left through a floor or a three-way
    choice, so the row is a non-linear recurrence with no numpy scan.
    The loop runs per channel over `bytes` with Python ints, not over
    numpy scalars (5-6x faster on the Average rows libpng writes).  A
    wavefront over anti-diagonals would vectorize them, but needs
    image-sized skewed buffers and makes the all-None output of
    `encode_png` tens of times slower to decode.

Encoding writes filter-type-0 rows with one zlib stream — bytes are
deterministic for a given array (fixed zlib level), which the sink tests
rely on.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# samples per pixel by color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


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
    bytes, which is already the answer for None rows; only the others
    are visited, in order, since each reads the decoded row above."""
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = lines[:, 1:].copy()
    for y in np.flatnonzero(lines[:, 0]).tolist():
        ftype = raw[y * (stride + 1)]
        row = out[y]
        if ftype == 1:  # Sub: a running sum along each channel, mod 256
            row[:] = np.cumsum(row.reshape(-1, bpp), axis=0, dtype=np.uint8).reshape(-1)
        elif ftype == 2:  # Up
            if y:
                row += out[y - 1]
        elif ftype in (3, 4):  # Average, Paeth
            prior = out[y - 1].tobytes() if y else bytes(stride)
            undo = _average_row if ftype == 3 else _paeth_row
            row[:] = np.frombuffer(undo(row.tobytes(), prior, bpp), dtype=np.uint8)
        else:
            raise ValueError(f"bad filter type {ftype}")
    return out


def _average_row(line: bytes, prior: bytes, bpp: int) -> bytearray:
    """Undo the Average filter of one row: x + floor((left + up) / 2),
    walked per channel so the left neighbour `a` stays a local int."""
    out = bytearray(len(line))
    for ch in range(bpp):
        a = 0
        res = bytearray()
        put = res.append
        for x, b in zip(line[ch::bpp], prior[ch::bpp]):
            a = (x + ((a + b) >> 1)) & 0xFF
            put(a)
        out[ch::bpp] = res
    return out


def _paeth_row(line: bytes, prior: bytes, bpp: int) -> bytearray:
    """Undo the Paeth filter: x + whichever of left (a), up (b) and
    upper-left (c) is nearest p = a + b - c, ties to a then b.  With
    d = a - c: |p - a| = |b - c|, |p - b| = |d|, |p - c| = |b - c + d|."""
    out = bytearray(len(line))
    for ch in range(bpp):
        a = c = 0
        res = bytearray()
        put = res.append
        for x, b in zip(line[ch::bpp], prior[ch::bpp]):
            bc = b - c
            d = a - c
            pa = bc if bc >= 0 else -bc
            pb = d if d >= 0 else -d
            pc = bc + d
            if pc < 0:
                pc = -pc
            if pa <= pb and pa <= pc:
                pred = a
            elif pb <= pc:
                pred = b
            else:
                pred = c
            a = (x + pred) & 0xFF
            put(a)
            c = b
        out[ch::bpp] = res
    return out


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
