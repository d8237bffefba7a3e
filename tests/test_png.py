"""PNG codec tests that need no fixtures: every filter type, the
unsupported-input errors, and a property check of the decoder against
an independent scalar filter encoder written from the spec (RFC 2083
§6), over every color type, odd widths and per-row filter mixes.  The
mixes put None/Sub/Up rows inside Average/Paeth spans, make one-row
spans, and start images with an Average or Paeth row (zero prior), so
the decoder's wavefront sees each predictor next to the others."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from img2dataset_spark.functions.png import decode_png


def test_png_decoder_all_filters():
    """Exercise Sub/Up/Average/Paeth decode paths: encode a gradient with
    each filter type by hand and check the decode."""
    import struct
    import zlib

    h, w = 5, 7
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)

    # build raw scanlines with per-row filter types 0..4
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    stride = w * 3
    flat = img.reshape(h, stride).astype(int)
    raw = bytearray()
    for y in range(h):
        ftype = y % 5
        raw.append(ftype)
        for i in range(stride):
            x = flat[y][i]
            a = flat[y][i - 3] if i >= 3 else 0
            b = flat[y - 1][i] if y > 0 else 0
            c = flat[y - 1][i - 3] if (y > 0 and i >= 3) else 0
            if ftype == 0:
                v = x
            elif ftype == 1:
                v = x - a
            elif ftype == 2:
                v = x - b
            elif ftype == 3:
                v = x - ((a + b) >> 1)
            else:
                v = x - paeth(a, b, c)
            raw.append(v & 0xFF)

    def chunk(typ, body):
        r = typ + body
        return struct.pack(">I", len(body)) + r + struct.pack(
            ">I", zlib.crc32(r) & 0xFFFFFFFF
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png), img)


def test_png_decoder_rejects_unsupported():
    import struct
    import zlib

    def chunk(typ, body):
        r = typ + body
        return struct.pack(">I", len(body)) + r + struct.pack(
            ">I", zlib.crc32(r) & 0xFFFFFFFF
        )

    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 20))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(interlaced)
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"garbage")


# -- property check against a scalar reference encoder ---------------------


_COLOR_TYPES = [0, 2, 3, 4, 6]
_WIDTHS = [1, 2, 7, 300]
_HEIGHTS = [1, 5, 40]
_NCH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth_predictor(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_row(ftype: int, row: list[int], prior: list[int], bpp: int) -> list[int]:
    """One scanline filtered with `ftype`, byte by byte as the spec
    writes it (x minus its predictor, mod 256)."""
    out = []
    for i, x in enumerate(row):
        a = row[i - bpp] if i >= bpp else 0
        b = prior[i]
        c = prior[i - bpp] if i >= bpp else 0
        pred = (0, a, b, (a + b) >> 1, _paeth_predictor(a, b, c))[ftype]
        out.append((x - pred) & 0xFF)
    return out


def _min_abs_sum_filter(row: list[int], prior: list[int], bpp: int) -> int:
    """libpng's default choice: the filter whose output has the smallest
    sum of bytes read as signed (first filter on ties)."""
    costs = [
        sum(min(v, 256 - v) for v in _filter_row(f, row, prior, bpp)) for f in range(5)
    ]
    return costs.index(min(costs))


def _chunk(typ: bytes, body: bytes) -> bytes:
    r = typ + body
    return struct.pack(">I", len(body)) + r + struct.pack(">I", zlib.crc32(r) & 0xFFFFFFFF)


def _png_file(raw: bytes, width: int, height: int, color_type: int, plte: bytes = b"") -> bytes:
    """Filtered scanlines `raw` -> a PNG file of one IDAT chunk."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + (_chunk(b"PLTE", plte) if plte else b"")
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def _png_from_samples(samples: np.ndarray, color_type: int, choose, plte: bytes = b"") -> bytes:
    """(H, W*C) uint8 samples -> PNG whose row filters come from
    `choose(y, row, prior, bpp)`."""
    h, stride = samples.shape
    bpp = _NCH[color_type]
    raw = bytearray()
    prior = [0] * stride
    for y in range(h):
        row = samples[y].tolist()
        ftype = choose(y, row, prior, bpp)
        raw.append(ftype)
        raw += bytes(_filter_row(ftype, row, prior, bpp))
        prior = row
    return _png_file(bytes(raw), stride // bpp, h, color_type, plte)


def _samples(color_type: int, width: int, height: int) -> np.ndarray:
    """(H, W*C) rows: a 2-D ramp plus noise, so that the min-abs-sum
    choice picks every filter somewhere over the grid, not only None."""
    rng = np.random.default_rng([color_type, width, height])
    nch = _NCH[color_type]
    ramp = np.arange(width * nch)[None, :] * 3 + np.arange(height)[:, None] * 5
    return ((ramp + rng.integers(0, 33, size=ramp.shape)) % 256).astype(np.uint8)


@pytest.mark.parametrize("choice", ["random", "min_abs_sum", "first_row_average_paeth", "lone_spans"])
@pytest.mark.parametrize("height", _HEIGHTS)
@pytest.mark.parametrize("width", _WIDTHS)
@pytest.mark.parametrize("color_type", _COLOR_TYPES)
def test_decode_inverts_reference_filters(color_type, width, height, choice):
    samples = _samples(color_type, width, height)
    nch = _NCH[color_type]
    plte = b""
    expected = samples.reshape(height, width, nch) if nch > 1 else samples
    if color_type == 3:
        palette = np.random.default_rng(width).integers(0, 256, size=(256, 3), dtype=np.uint8)
        plte = palette.tobytes()
        expected = palette[samples]
    rng = np.random.default_rng([color_type, width, height])
    if choice == "random":
        filters = np.random.default_rng([width, height]).integers(0, 5, size=height).tolist()
    elif choice == "first_row_average_paeth":
        filters = rng.integers(0, 5, size=height).tolist()
        filters[0] = 3 + (color_type + width) % 2
    elif choice == "lone_spans":
        # None/Sub/Up rows with every fourth row Average or Paeth: spans
        # of one row whose prior row another filter decoded
        filters = rng.integers(0, 3, size=height).tolist()
        filters[1::4] = rng.integers(3, 5, size=len(filters[1::4])).tolist()
    if choice != "min_abs_sum":

        def choose(y, row, prior, bpp):
            return filters[y]
    else:

        def choose(y, row, prior, bpp):
            return _min_abs_sum_filter(row, prior, bpp)

    png = _png_from_samples(samples, color_type, choose, plte)
    assert np.array_equal(decode_png(png), expected)


def test_min_abs_sum_grid_uses_every_filter():
    """The libpng-style choice over the property grid must reach all
    five filters, or the min_abs_sum cases would not test them."""
    seen = set()
    for color_type in _COLOR_TYPES:
        for width in _WIDTHS:
            for height in _HEIGHTS:
                prior = [0] * (width * _NCH[color_type])
                for row in _samples(color_type, width, height).tolist():
                    seen.add(_min_abs_sum_filter(row, prior, _NCH[color_type]))
                    prior = row
    assert seen == {0, 1, 2, 3, 4}


def test_bad_filter_type_raises():
    raw = b"\x00" + bytes(6) + b"\x05" + bytes(6)  # 2x2 RGB, row 1 has filter 5
    with pytest.raises(ValueError, match="^bad filter type 5$"):
        decode_png(_png_file(raw, 2, 2, 2))


def test_tall_spans_decode_in_bands(monkeypatch):
    """A span taller than one wavefront's buffer runs as several; each
    band's prior row is the last row of the band before it."""
    import img2dataset_spark.functions.png as png

    rng = np.random.default_rng(5)
    samples = rng.integers(0, 256, size=(40, 7 * 3), dtype=np.uint8)
    filters = rng.integers(0, 5, size=40).tolist()
    data = _png_from_samples(samples, 2, lambda y, row, prior, bpp: filters[y])
    for budget in (1, 60, 400):  # one-row bands, a few rows, ~10 rows
        monkeypatch.setattr(png, "_SKEW_SAMPLES", budget)
        assert np.array_equal(decode_png(data).reshape(40, -1), samples), budget
