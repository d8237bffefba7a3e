"""The vectorized JPEG entropy coder against the scalar one it replaced.

``jpeg._entropy_code`` lays out every Huffman code of the scan with numpy
arrays, a chunk of blocks at a time.  The per-symbol coder below (a bit
writer, one call per block, one Python loop over the MCUs) is the
independent reference: both are fed the same quantized coefficients,
captured from ``encode_jpeg``, and the files must be equal byte for
byte.
"""

from __future__ import annotations

import struct
from unittest import mock

import numpy as np
import pytest
from conftest import PHOTOS

from img2dataset_spark.functions import jpeg
from img2dataset_spark.functions.jpeg import (
    _AC_CHROMA,
    _AC_LUMA,
    _DC_CHROMA,
    _DC_LUMA,
    _huffman_codes,
    decode_jpeg,
    encode_jpeg,
)

_FACTORS = {"444": (1, 1), "422": (2, 1), "440": (1, 2), "420": (2, 2)}


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1 if self.nbits else 0

    def flush(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1s


def _magnitude(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _emit_block(bw: _BitWriter, row, dctab, actab, pred: int) -> int:
    """Huffman-encode one zigzag coefficient row; returns the new DC
    predictor."""
    dc = int(row[0])
    diff = dc - pred
    s = _magnitude(diff)
    code, length = dctab[s]
    bw.write(code, length)
    if s:
        v = diff if diff >= 0 else diff + (1 << s) - 1
        bw.write(v, s)
    run = 0
    last_nz = int(np.nonzero(row[1:])[0][-1]) + 1 if row[1:].any() else 0
    for k in range(1, last_nz + 1):
        v = int(row[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = actab[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        s = _magnitude(v)
        code, length = actab[(run << 4) | s]
        bw.write(code, length)
        vv = v if v >= 0 else v + (1 << s) - 1
        bw.write(vv, s)
        run = 0
    if last_nz < 63:
        code, length = actab[0x00]  # EOB
        bw.write(code, length)
    return dc


def _reference_scan(coefs, h, w, hs, vs, restart_interval) -> bytes:
    """The entropy-coded segment of the scalar encoder's MCU loop."""
    gray = len(coefs) == 1
    sub = (hs, vs) != (1, 1)
    dc_specs = [_DC_LUMA] + ([_DC_CHROMA, _DC_CHROMA] if not gray else [])
    ac_specs = [_AC_LUMA] + ([_AC_CHROMA, _AC_CHROMA] if not gray else [])
    dc_codes = [_huffman_codes(*s) for s in dc_specs]
    ac_codes = [_huffman_codes(*s) for s in ac_specs]
    bw = _BitWriter()
    preds = [0] * len(coefs)
    if sub:
        mcux, mcuy = -(-w // (8 * hs)), -(-h // (8 * vs))
        total_mcus = mcux * mcuy
        ybw = hs * mcux
    else:
        nby, nbx = -(-h // 8), -(-w // 8)
        total_mcus = nby * nbx
    rst_n = 0

    def maybe_restart(done: int) -> None:
        """Between-interval RSTn: byte-align, emit marker, reset DC."""
        nonlocal rst_n
        if restart_interval and done % restart_interval == 0 and done < total_mcus:
            bw.flush()
            bw.buf += bytes([0xFF, 0xD0 + rst_n])
            rst_n = (rst_n + 1) & 7
            for i in range(len(preds)):
                preds[i] = 0

    for mcu in range(total_mcus):
        if sub:
            # interleaved MCU: hs*vs luma blocks (row-major) + Cb + Cr
            my, mx = divmod(mcu, mcux)
            for v in range(vs):
                for hh in range(hs):
                    preds[0] = _emit_block(
                        bw, coefs[0][(vs * my + v) * ybw + (hs * mx + hh)],
                        dc_codes[0], ac_codes[0], preds[0],
                    )
            ci_idx = my * mcux + mx
            preds[1] = _emit_block(
                bw, coefs[1][ci_idx], dc_codes[1], ac_codes[1], preds[1]
            )
            preds[2] = _emit_block(
                bw, coefs[2][ci_idx], dc_codes[2], ac_codes[2], preds[2]
            )
        else:
            for ci in range(len(coefs)):
                preds[ci] = _emit_block(
                    bw, coefs[ci][mcu], dc_codes[ci], ac_codes[ci], preds[ci]
                )
        maybe_restart(mcu + 1)
    bw.flush()
    return bytes(bw.buf)


def _headers_end(data: bytes) -> int:
    """Offset just past the SOS segment, walking segments by length."""
    i = 2
    while True:
        marker = data[i + 1]
        (seglen,) = struct.unpack(">H", data[i + 2 : i + 4])
        i += 2 + seglen
        if marker == 0xDA:
            return i


def _assert_matches_reference(img, quality, subsampling, restart_interval,
                              chunk_units=jpeg._CHUNK_UNITS):
    """``chunk_units`` shrinks the coder's step so that small images
    cross chunk boundaries at every offset to the restart intervals."""
    with mock.patch.object(
        jpeg, "_entropy_code", wraps=jpeg._entropy_code
    ) as spy, mock.patch.object(jpeg, "_CHUNK_UNITS", chunk_units):
        got = encode_jpeg(img, quality, subsampling, restart_interval)
    coefs = spy.call_args.args[0]
    hs, vs = _FACTORS[subsampling] if img.ndim == 3 else (1, 1)
    h, w = img.shape[:2]
    scan = _reference_scan(coefs, h, w, hs, vs, restart_interval)
    head = _headers_end(got)
    assert got == got[:head] + scan + b"\xff\xd9", (
        img.shape, quality, subsampling, restart_interval
    )


def _small_images() -> list[np.ndarray]:
    """Random and flat images of 1-70 px per side, RGB and gray."""
    rng = np.random.default_rng(20)
    out = []
    for i in range(42):
        h, w = (int(v) for v in rng.integers(1, 71, size=2))
        shape = (h, w, 3) if i % 2 == 0 else (h, w)
        if i % 3 == 2:
            out.append(np.full(shape, rng.integers(0, 256), np.uint8))
        else:
            out.append(rng.integers(0, 256, shape, dtype=np.uint8))
    return out


def _photo(path: str) -> np.ndarray:
    with open(path, "rb") as fh:
        return decode_jpeg(fh.read())


# every subsampling x q {10, 50, 95, 100}; restart intervals at q95 and
# q10 only
GRID = [
    (q, sub, ri)
    for sub in _FACTORS
    for q in (10, 50, 95, 100)
    for ri in ((0, 1, 3, 7) if q in (10, 95) else (0,))
]


@pytest.mark.parametrize(
    "quality,subsampling,restart_interval", GRID,
    ids=[f"q{q}-{s}-ri{r}" for q, s, r in GRID],
)
def test_small_images_match_reference(quality, subsampling, restart_interval):
    for img in _small_images():
        for chunk_units in (jpeg._CHUNK_UNITS, 5):
            _assert_matches_reference(
                img, quality, subsampling, restart_interval, chunk_units
            )


@pytest.mark.parametrize("subsampling", sorted(_FACTORS))
@pytest.mark.parametrize(
    "path", PHOTOS, ids=[p.rsplit("/", 1)[-1] for p in PHOTOS]
)
def test_photos_reencoded_q95_match_reference(path, subsampling):
    """The committed photos, decoded and re-encoded at q95, with and
    without restart markers."""
    img = _photo(path)
    for ri in (0, 7):
        _assert_matches_reference(img, 95, subsampling, ri)


def test_photo_crops_match_reference_over_grid():
    """A textured photo crop over the whole grid: long zero runs (ZRL),
    0xFF stuffing and every restart interval at real coefficient
    statistics, in one chunk and in chunks of 7 units."""
    img = _photo(PHOTOS[0])[:64, :96]
    for quality, subsampling, ri in GRID:
        for chunk_units in (jpeg._CHUNK_UNITS, 7):
            _assert_matches_reference(img, quality, subsampling, ri, chunk_units)


def test_scalar_coder_is_gone():
    for name in ("_BitWriter", "_emit_block", "_magnitude"):
        assert not hasattr(jpeg, name), name
