"""Pure-Python baseline JPEG codec (stdlib + numpy) — real raster
pixels for the format that dominates every web crawl, with no imaging
library installed.

The reference resizes ANY format through cv2
(/root/reference/img2dataset/resizer.py:150-159); this container has no
PIL/cv2, so without this module JPEG inputs got header-only dimension
parsing and the pixel path raised.  Baseline sequential DCT JPEG is a
public spec (ITU-T T.81 / ISO 10918-1), small enough to implement
directly:

decode (`decode_jpeg`): marker parse -> Huffman entropy decode (16-bit
LUT per table, byte-unstuffing, restart-marker resync) -> dequantize ->
de-zigzag -> vectorized 8x8 IDCT over all blocks at once (one einsum
per component) -> chroma upsample by sampling factor -> YCbCr->RGB.
Supported: SOF0/SOF1 baseline AND SOF2 progressive (spectral selection
+ successive approximation, T.81 G.2 — DC/AC first and refinement
scans, EOB runs, interleaved and non-interleaved), 8-bit, 1- or
3-component, grid sampling factors (4:4:4, 4:2:2, 4:4:0, 4:2:0,
4:1:1), DRI restarts.  Arithmetic coding, 12-bit, lossless, and
hierarchical raise ValueError — detected, never silently mis-decoded.

encode (`encode_jpeg`): baseline with the Annex K quantization tables
scaled by the libjpeg quality formula and the Annex K Huffman tables;
forward DCT is the same einsum transposed.  Default chroma subsampling
is 4:2:0 (interleaved 2x2-luma MCUs, box-mean chroma — the
libjpeg/cv2 default the reference's outputs use, ~35% smaller files);
pass subsampling="444" for full chroma.  Output is deterministic for a
given array+quality (sink tests rely on byte-stable shards).

The encoder is numpy end to end.  Once the blocks are quantized every
Huffman code is known, so the entropy coder (`_entropy_code`) builds
the scan's block order as index arrays, takes the DC differences and
the AC (run, size) symbols with array operations, looks the codes up
in 256-entry tables and packs all bits at once; its bytes equal the
per-symbol coder it replaced (tests/test_jpeg_encoder_reference.py
keeps that coder as the reference).  The forward DCT stays an einsum:
a matmul is faster but sums in another order, and at .5 rounding ties
that flips quantized coefficients (109 of 9,631,104 q95 luma
coefficients over perfbench's pixels pools of seeds 1-3 at their native
sizes), so the files would change.
The decoder's entropy loop is per-symbol Python (a Huffman stream can
only be parsed in order); everything after coefficients is vectorized.
This is the dependency-free fallback path — when PIL is importable the
transform UDF prefers it (functions/image.py) — and at cluster scale
the Arrow-batched UDF runs it embarrassingly parallel per core.
"""

from __future__ import annotations

import re
import struct

import numpy as np

# ---------------------------------------------------------------------------
# shared tables
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# orthonormal 8-point DCT-II basis: forward F = C @ f @ C.T, inverse
# f = C.T @ F @ C
_C = np.array([
    [(np.sqrt(0.125) if u == 0 else 0.5) * np.cos((2 * x + 1) * u * np.pi / 16)
     for x in range(8)]
    for u in range(8)
])

# Annex K (K.1/K.2) base quantization tables, natural (row-major) order
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K Huffman table specs: (bits[1..16], values)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _huffman_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) by the canonical T.81 C.2 procedure."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huffman_lut(bits: list[int], values: list[int]) -> tuple[bytes, bytes]:
    """16-bit peek lookup tables: (length, symbol) per 16-bit prefix, as
    `bytes`, so that a lookup is a Python int with no numpy scalar."""
    lut_len = np.zeros(1 << 16, dtype=np.uint8)
    lut_sym = np.zeros(1 << 16, dtype=np.uint8)
    for sym, (code, length) in _huffman_codes(bits, values).items():
        base = code << (16 - length)
        span = 1 << (16 - length)
        lut_len[base : base + span] = length
        lut_sym[base : base + span] = sym
    return lut_len.tobytes(), lut_sym.tobytes()


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

class _Component:
    __slots__ = ("cid", "h", "v", "tq", "dc", "ac", "blocks", "bw", "bh")

    def __init__(self, cid: int, h: int, v: int, tq: int):
        self.cid, self.h, self.v, self.tq = cid, h, v, tq


# The end of a scan: the first 0xFF followed by anything but a stuffed
# 0x00 or an RSTn (including FF FF fill), or a trailing 0xFF.
_SCAN_END = re.compile(rb"\xff(?:[^\x00\xd0-\xd7]|\Z)")
_RST = re.compile(rb"\xff[\xd0-\xd7]")


def _split_segments(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Unstuff one scan's entropy-coded data, split at RST markers.
    Returns (segments, position of the terminating marker's 0xFF).
    Inside the scan every 0xFF starts a stuffed FF 00 or an RSTn, so
    splitting at RSTn first and then unstuffing is exact."""
    end = _SCAN_END.search(data, start)
    end = end.start() if end else max(start, len(data))
    return [seg.replace(b"\xff\x00", b"\xff") for seg in _RST.split(data[start:end])], end


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 ndarray (H, W, 3) RGB, or (H, W) grayscale.
    Malformed input fails with ValueError — the parser's single failure
    mode (mid-parse out-of-range reads are normalized here)."""
    try:
        return _decode_jpeg(data)
    except (IndexError, KeyError, TypeError, struct.error) as e:
        raise ValueError("malformed JPEG") from e


def _decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[bytes, bytes]] = {}
    comps: list[_Component] = []
    width = height = None
    restart_interval = 0
    progressive = False
    frame_ready = False
    any_scan = False
    hmax = vmax = mcux = mcuy = 0
    by_id: dict[int, _Component] = {}

    n = len(data)
    while pos < n - 1:
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker == 0xFF:
            # 0xFF fill byte before a marker (T.81 B.1.1.2) — skip one
            # fill byte and rescan from the next
            pos -= 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        if pos + 2 > n:
            raise ValueError("truncated JPEG marker segment")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq_id = body[i] >> 4, body[i] & 15
                i += 1
                if pq == 0:
                    if i + 64 > len(body):
                        raise ValueError("truncated JPEG DQT")
                    tbl = np.frombuffer(body, np.uint8, 64, i).astype(np.int64)
                    i += 64
                else:
                    if i + 128 > len(body):
                        raise ValueError("truncated JPEG DQT")
                    tbl = np.frombuffer(body, ">u2", 64, i).astype(np.int64)
                    i += 128
                qt[tq_id] = tbl  # zigzag order
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            prec, height, width, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if nc not in (1, 3):
                # 4-component = Adobe CMYK/YCCK: decoding it as YCbCr
                # would silently emit garbage colors
                raise ValueError(
                    f"unsupported JPEG component count {nc} (CMYK/YCCK)"
                )
            for c in range(nc):
                cid, hv, tq_id = body[6 + 3 * c : 9 + 3 * c]
                comps.append(_Component(cid, hv >> 4, hv & 15, tq_id))
            hmax = max(c.h for c in comps)
            vmax = max(c.v for c in comps)
            mcux = -(-width // (8 * hmax))
            mcuy = -(-height // (8 * vmax))
            for c in comps:
                c.bw, c.bh = mcux * c.h, mcuy * c.v
                c.blocks = np.zeros((c.bw * c.bh, 64), dtype=np.int64)
            by_id = {c.cid: c for c in comps}
            frame_ready = True
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG coding process (lossless/arithmetic/"
                f"hierarchical, SOF marker 0x{marker:02X})"
            )
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                if i + 17 + nv > len(body):
                    raise ValueError("truncated JPEG DHT")
                values = list(body[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _huffman_lut(bits, values)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if not frame_ready:
                raise ValueError("JPEG scan before frame header")
            ns = body[0]
            sel = []
            for c in range(ns):
                cs, tda = body[1 + 2 * c], body[2 + 2 * c]
                sel.append((cs, tda >> 4, tda & 15))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            segments, end = _split_segments(data, pos + seglen)
            scan_comps = []
            for cs, td, ta in sel:
                comp = by_id[cs]
                if ss == 0:
                    comp.dc = huff.get((0, td))
                if se > 0:
                    comp.ac = huff.get((1, ta))
                scan_comps.append(comp)
            if progressive:
                _progressive_scan(
                    segments, scan_comps, ss, se, ah, al,
                    restart_interval, mcux, mcuy, width, height, hmax, vmax,
                )
            elif len(comps) == 1:
                # T.81 A.2.2: a single-component scan is NON-interleaved
                # — blocks in raster order, one per data unit, even when
                # the frame declares sampling factors > 1
                _decode_baseline_single(
                    segments, comps[0], restart_interval, width, height
                )
            else:
                if len(scan_comps) != len(comps) or ss != 0 or se != 63:
                    raise ValueError(
                        "multi-scan sequential JPEG not supported"
                    )
                total_mcus = mcux * mcuy
                mcu = 0
                for seg in segments:
                    if mcu >= total_mcus:
                        break
                    preds = {c.cid: 0 for c in comps}
                    mcu_limit = (
                        min(mcu + restart_interval, total_mcus)
                        if restart_interval
                        else total_mcus
                    )
                    mcu = _decode_segment(seg, comps, preds, mcu, mcu_limit, mcux)
                if mcu < total_mcus:
                    raise ValueError("truncated JPEG entropy data")
            any_scan = True
            pos = end
            continue
        pos += seglen

    if width is None or not any_scan:
        raise ValueError("truncated JPEG (no frame/scan)")

    # dequantize + de-zigzag + IDCT, fully vectorized per component
    planes = []
    for c in comps:
        deq = c.blocks * qt[c.tq][None, :]
        blocks = deq[:, UNZIGZAG].reshape(-1, 8, 8).astype(np.float64)
        pix = np.einsum("ij,njk,kl->nil", _C.T, blocks, _C) + 128.0
        plane = (
            pix.reshape(c.bh, c.bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c.bh * 8, c.bw * 8)
        )
        if c.h != hmax or c.v != vmax:
            if hmax % c.h or vmax % c.v:
                raise ValueError("non-integer chroma sampling ratio")
            plane = np.repeat(np.repeat(plane, vmax // c.v, 0), hmax // c.h, 1)
        planes.append(plane[:height, :width])

    if len(planes) == 1:
        return np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _decode_segment(
    seg: bytes,
    comps: list[_Component],
    preds: dict[int, int],
    mcu: int,
    mcu_limit: int,
    mcux: int,
) -> int:
    """Huffman-decode MCUs from one restart segment; returns next mcu."""
    acc = 0
    nbits = 0
    spos = 0
    slen = len(seg)

    while mcu < mcu_limit:
        my, mx = divmod(mcu, mcux)
        for c in comps:
            dc_len, dc_sym = c.dc
            ac_len, ac_sym = c.ac
            for v in range(c.v):
                for h in range(c.h):
                    row = c.blocks[(my * c.v + v) * c.bw + (mx * c.h + h)]
                    # ---- DC
                    while nbits < 16 and spos < slen:
                        acc = (acc << 8) | seg[spos]
                        spos += 1
                        nbits += 8
                    # Peek padding uses 1-bits (T.81 F.1.2.3 fill
                    # convention): on a truncated segment, 1-fill steers
                    # a partial code toward a longer LUT entry so the
                    # length>nbits guard fires instead of silently
                    # decoding a shorter code.
                    peek = (
                        ((acc << (16 - nbits)) | ((1 << (16 - nbits)) - 1))
                        & 0xFFFF
                        if nbits < 16
                        else (acc >> (nbits - 16)) & 0xFFFF
                    )
                    length = dc_len[peek]
                    if length == 0 or length > nbits:
                        raise ValueError("bad JPEG Huffman code")
                    s = dc_sym[peek]
                    nbits -= length
                    if s:
                        while nbits < s and spos < slen:
                            acc = (acc << 8) | seg[spos]
                            spos += 1
                            nbits += 8
                        if nbits < s:
                            raise ValueError("truncated JPEG entropy data")
                        v_ = (acc >> (nbits - s)) & ((1 << s) - 1)
                        nbits -= s
                        if v_ < (1 << (s - 1)):
                            v_ -= (1 << s) - 1
                        preds[c.cid] += v_
                    row[0] = preds[c.cid]
                    # ---- AC
                    k = 1
                    while k < 64:
                        while nbits < 16 and spos < slen:
                            acc = (acc << 8) | seg[spos]
                            spos += 1
                            nbits += 8
                        peek = (
                            ((acc << (16 - nbits)) | ((1 << (16 - nbits)) - 1))
                            & 0xFFFF
                            if nbits < 16
                            else (acc >> (nbits - 16)) & 0xFFFF
                        )
                        length = ac_len[peek]
                        if length == 0 or length > nbits:
                            raise ValueError("bad JPEG Huffman code")
                        rs = ac_sym[peek]
                        nbits -= length
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC index out of range")
                        while nbits < s and spos < slen:
                            acc = (acc << 8) | seg[spos]
                            spos += 1
                            nbits += 8
                        if nbits < s:
                            raise ValueError("truncated JPEG entropy data")
                        v_ = (acc >> (nbits - s)) & ((1 << s) - 1)
                        nbits -= s
                        if v_ < (1 << (s - 1)):
                            v_ -= (1 << s) - 1
                        row[k] = v_
                        k += 1
                    # keep acc bounded (it only ever holds < 32 bits of
                    # unconsumed payload, but the int would still grow)
                    acc &= (1 << max(nbits, 1)) - 1 if nbits else 0
        mcu += 1
    return mcu


# A reader never holds more than 23 unread bits (it refills below 16 and
# adds a byte at a time), so its accumulator keeps only the low 32 bits
# instead of growing into a big integer over the whole segment.
_ACC_MASK = 0xFFFFFFFF


class _Bits:
    """Sequential bit reader over one unstuffed entropy segment."""

    __slots__ = ("seg", "pos", "acc", "nbits")

    def __init__(self, seg: bytes):
        self.seg = seg
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self, want: int) -> None:
        seg, pos = self.seg, self.pos
        while self.nbits < want and pos < len(seg):
            self.acc = ((self.acc << 8) | seg[pos]) & _ACC_MASK
            pos += 1
            self.nbits += 8
        self.pos = pos

    def huff(self, lut: tuple[bytes, bytes]) -> int:
        self._fill(16)
        nbits = self.nbits
        # 1-bit fill past end-of-segment (T.81 F.1.2.3) — see the
        # baseline decoder's peek for rationale
        peek = (
            ((self.acc << (16 - nbits)) | ((1 << (16 - nbits)) - 1)) & 0xFFFF
            if nbits < 16
            else (self.acc >> (nbits - 16)) & 0xFFFF
        )
        lut_len, lut_sym = lut
        length = lut_len[peek]
        if length == 0 or length > nbits:
            raise ValueError("bad JPEG Huffman code")
        self.nbits = nbits - length
        return lut_sym[peek]

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        self._fill(k)
        if self.nbits < k:
            raise ValueError("truncated JPEG entropy data")
        self.nbits -= k
        return (self.acc >> self.nbits) & ((1 << k) - 1)

    def bit(self) -> int:
        return self.bits(1)

    def receive_extend(self, s: int) -> int:
        v = self.bits(s)
        if v < (1 << (s - 1)):
            v -= (1 << s) - 1
        return v


def _progressive_scan(
    segments: list[bytes],
    scan_comps: list[_Component],
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart_interval: int,
    mcux: int,
    mcuy: int,
    width: int,
    height: int,
    hmax: int,
    vmax: int,
) -> None:
    """One progressive scan (T.81 G.2): DC first/refine (interleaved or
    not), AC first/refine (always single-component).  Coefficients are
    accumulated into each component's zigzag-order block rows."""
    interleaved = len(scan_comps) > 1
    if ss == 0 and se != 0:
        raise ValueError("progressive scan mixes DC and AC")
    if ss > 0 and interleaved:
        raise ValueError("progressive AC scan must be single-component")

    if interleaved:
        units_total = mcux * mcuy
    else:
        c = scan_comps[0]
        cw = -(-width * c.h // hmax)
        ch = -(-height * c.v // vmax)
        ubx, uby = -(-cw // 8), -(-ch // 8)
        units_total = ubx * uby

    unit = 0
    for seg in segments:
        if unit >= units_total:
            break
        br = _Bits(seg)
        preds = {c.cid: 0 for c in scan_comps}
        eobrun = 0
        limit = (
            min(unit + restart_interval, units_total)
            if restart_interval
            else units_total
        )
        while unit < limit:
            if interleaved:  # DC scan over whole MCUs
                my, mx = divmod(unit, mcux)
                for c in scan_comps:
                    for v in range(c.v):
                        for h in range(c.h):
                            row = c.blocks[
                                (my * c.v + v) * c.bw + (mx * c.h + h)
                            ]
                            _dc_unit(br, row, c, preds, ah, al)
            else:
                c = scan_comps[0]
                by, bx = divmod(unit, ubx)
                row = c.blocks[by * c.bw + bx]
                if ss == 0:
                    _dc_unit(br, row, c, preds, ah, al)
                elif ah == 0:
                    eobrun = _ac_first(br, row, c.ac, ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine(br, row, c.ac, ss, se, al, eobrun)
            unit += 1
    if unit < units_total:
        raise ValueError("truncated JPEG entropy data")


def _decode_baseline_single(
    segments: list[bytes],
    c: _Component,
    restart_interval: int,
    width: int,
    height: int,
) -> None:
    """Sequential scan of a single-component frame: non-interleaved
    raster block order (T.81 A.2.2), regardless of the frame's declared
    sampling factors.  DC+AC per block; baseline AC is the al=0 case of
    the progressive first-scan reader (EOB there is the r=0 run)."""
    ubx, uby = -(-width // 8), -(-height // 8)
    total = ubx * uby
    unit = 0
    for seg in segments:
        if unit >= total:
            break
        br = _Bits(seg)
        preds = {c.cid: 0}
        limit = min(unit + restart_interval, total) if restart_interval else total
        while unit < limit:
            by, bx = divmod(unit, ubx)
            row = c.blocks[by * c.bw + bx]
            _dc_unit(br, row, c, preds, 0, 0)
            _ac_first(br, row, c.ac, 1, 63, 0, 0)
            unit += 1
    if unit < total:
        raise ValueError("truncated JPEG entropy data")


def _dc_unit(br: _Bits, row: np.ndarray, c: _Component, preds, ah: int, al: int):
    if ah == 0:  # first DC scan
        s = br.huff(c.dc)
        if s:
            preds[c.cid] += br.receive_extend(s)
        row[0] = preds[c.cid] << al
    else:  # DC refinement: one bit per block
        if br.bit():
            row[0] = int(row[0]) | (1 << al)


def _ac_first(br, row, ac_lut, ss, se, al, eobrun):
    """AC first scan of one block (T.81 G.1.2.2), also the AC part of a
    sequential single-component scan (al = 0, never an EOB run).  The
    bit reader's state lives in locals for the block; `_Bits.huff`,
    `bits` and `receive_extend` are inlined."""
    if eobrun > 0:
        return eobrun - 1
    lut_len, lut_sym = ac_lut
    seg, pos, acc, nbits = br.seg, br.pos, br.acc, br.nbits
    slen = len(seg)
    k = ss
    eobrun = 0
    while k <= se:
        while nbits < 16 and pos < slen:
            acc = ((acc << 8) | seg[pos]) & _ACC_MASK
            pos += 1
            nbits += 8
        peek = (
            ((acc << (16 - nbits)) | ((1 << (16 - nbits)) - 1)) & 0xFFFF
            if nbits < 16
            else (acc >> (nbits - 16)) & 0xFFFF
        )
        length = lut_len[peek]
        if length == 0 or length > nbits:
            raise ValueError("bad JPEG Huffman code")
        nbits -= length
        rs = lut_sym[peek]
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r != 15:
                eobrun = (1 << r) - 1
                if r:
                    while nbits < r and pos < slen:
                        acc = ((acc << 8) | seg[pos]) & _ACC_MASK
                        pos += 1
                        nbits += 8
                    if nbits < r:
                        raise ValueError("truncated JPEG entropy data")
                    nbits -= r
                    eobrun += (acc >> nbits) & ((1 << r) - 1)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("JPEG AC index out of range")
        while nbits < s and pos < slen:
            acc = ((acc << 8) | seg[pos]) & _ACC_MASK
            pos += 1
            nbits += 8
        if nbits < s:
            raise ValueError("truncated JPEG entropy data")
        nbits -= s
        v = (acc >> nbits) & ((1 << s) - 1)
        if v < (1 << (s - 1)):
            v -= (1 << s) - 1
        row[k] = v << al
        k += 1
    br.pos, br.acc, br.nbits = pos, acc, nbits
    return eobrun


def _ac_refine(br, row, ac_lut, ss, se, al, eobrun):
    """AC successive-approximation refinement (T.81 G.1.2.3), with the
    bit reader inlined as in `_ac_first`."""
    lut_len, lut_sym = ac_lut
    seg, pos, acc, nbits = br.seg, br.pos, br.acc, br.nbits
    slen = len(seg)
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            while nbits < 16 and pos < slen:
                acc = ((acc << 8) | seg[pos]) & _ACC_MASK
                pos += 1
                nbits += 8
            peek = (
                ((acc << (16 - nbits)) | ((1 << (16 - nbits)) - 1)) & 0xFFFF
                if nbits < 16
                else (acc >> (nbits - 16)) & 0xFFFF
            )
            length = lut_len[peek]
            if length == 0 or length > nbits:
                raise ValueError("bad JPEG Huffman code")
            nbits -= length
            rs = lut_sym[peek]
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        while nbits < r and pos < slen:
                            acc = ((acc << 8) | seg[pos]) & _ACC_MASK
                            pos += 1
                            nbits += 8
                        if nbits < r:
                            raise ValueError("truncated JPEG entropy data")
                        nbits -= r
                        eobrun += (acc >> nbits) & ((1 << r) - 1)
                    break  # tail handler consumes one EOB unit
                # r == 15: ZRL — pass 16 zero-history coefficients
            else:
                if not nbits:
                    if pos == slen:
                        raise ValueError("truncated JPEG entropy data")
                    acc = ((acc << 8) | seg[pos]) & _ACC_MASK
                    pos += 1
                    nbits = 8
                nbits -= 1
                val = p1 if (acc >> nbits) & 1 else m1
            while k <= se:
                coef = int(row[k])
                if coef != 0:
                    if not nbits:
                        if pos == slen:
                            raise ValueError("truncated JPEG entropy data")
                        acc = ((acc << 8) | seg[pos]) & _ACC_MASK
                        pos += 1
                        nbits = 8
                    nbits -= 1
                    if (acc >> nbits) & 1 and (coef & p1) == 0:
                        row[k] = coef + (p1 if coef >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                row[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            coef = int(row[k])
            if coef != 0:
                if not nbits:
                    if pos == slen:
                        raise ValueError("truncated JPEG entropy data")
                    acc = ((acc << 8) | seg[pos]) & _ACC_MASK
                    pos += 1
                    nbits = 8
                nbits -= 1
                if (acc >> nbits) & 1 and (coef & p1) == 0:
                    row[k] = coef + (p1 if coef >= 0 else m1)
            k += 1
        eobrun -= 1
    br.pos, br.acc, br.nbits = pos, acc, nbits
    return eobrun


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

def scaled_quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex K tables scaled by the libjpeg quality formula (natural
    order)."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    ql = np.clip((QUANT_LUMA * scale + 50) // 100, 1, 255)
    qc = np.clip((QUANT_CHROMA * scale + 50) // 100, 1, 255)
    return ql, qc


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) float plane -> (n, 8, 8) blocks, edge-replicated padding."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    if (ph, pw) != (h, w):
        plane = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    return (
        plane.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _code_tables(*specs) -> tuple[np.ndarray, np.ndarray]:
    """(code, length) arrays of shape (len(specs), 256): one row per
    Huffman table, indexed by symbol."""
    code = np.zeros((len(specs), 256), np.int64)
    length = np.zeros((len(specs), 256), np.int64)
    for t, spec in enumerate(specs):
        for sym, (c, n) in _huffman_codes(*spec).items():
            code[t, sym], length[t, sym] = c, n
    return code, length


# row 0 luma, row 1 chroma
_DC_CODE, _DC_LEN = _code_tables(_DC_LUMA, _DC_CHROMA)
_AC_CODE, _AC_LEN = _code_tables(_AC_LUMA, _AC_CHROMA)

# n ZRL (0xF0) codes in a row, fused, per table, for n = 0..3: a run of
# at most 62 zeros needs at most three
_ZRL_LEN = _AC_LEN[:, 0xF0, None] * np.arange(4)
_ZRL_CODE = (
    _AC_CODE[:, 0xF0, None] * ((1 << _ZRL_LEN) - 1)
    // ((1 << _AC_LEN[:, 0xF0, None]) - 1)
)


def _scan_order(
    nc: int, hs: int, vs: int, mcux: int, total_mcus: int
) -> tuple[np.ndarray, np.ndarray]:
    """(component, block index) of every data unit of the interleaved
    scan, in stream order (T.81 A.2.3): per MCU, hs*vs luma blocks in
    row-major order, then one block of each chroma component.  Without
    subsampling an MCU is one block of each component."""
    mcus = np.arange(total_mcus)
    if (hs, vs) == (1, 1):
        return np.tile(np.arange(nc), total_mcus), np.repeat(mcus, nc)
    my, mx = np.divmod(mcus, mcux)
    v, h = np.divmod(np.arange(vs * hs), hs)
    luma = (vs * my[:, None] + v) * (hs * mcux) + hs * mx[:, None] + h
    blk = np.concatenate([luma, mcus[:, None], mcus[:, None]], axis=1)
    comp = np.tile(np.r_[np.zeros(vs * hs, np.int64), 1, 2], total_mcus)
    return comp, blk.ravel()


def _magnitude_bits(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(size category s, the s low bits T.81 F.1.2.1 appends) of each
    value: s is the bit length of |v|, negatives are sent as v - 1."""
    s = np.frexp(np.abs(v))[1].astype(np.int64)
    return s, np.where(v < 0, v + (1 << s) - 1, v)


def _or_segments(words: np.ndarray, idx: np.ndarray, vals: np.ndarray) -> None:
    """words[idx] |= vals, for a non-decreasing ``idx``."""
    if len(idx):
        seg = np.flatnonzero(np.r_[True, idx[1:] != idx[:-1]])
        words[idx[seg]] |= np.bitwise_or.reduceat(vals, seg)


def _block_tokens(
    rows: np.ndarray, diff: np.ndarray, tbl: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(value, bit length) of every Huffman token of the given blocks, in
    stream order, and the index of each block's first token.

    A block is a run of tokens: its DC difference, one token per nonzero
    AC coefficient (with the ZRLs before it fused in) and an EOB unless
    coefficient 63 is nonzero.  A token is at most 59 bits."""
    s, bits = _magnitude_bits(diff)
    dc_val = (_DC_CODE[tbl, s] << s) | bits
    dc_len = _DC_LEN[tbl, s] + s

    # AC: one (run, size) symbol per nonzero coefficient
    unit, k = np.nonzero(rows[:, 1:])
    k += 1
    v = rows[unit, k]
    first = np.r_[True, unit[1:] != unit[:-1]]
    run = k - np.where(first, 0, np.r_[0, k[:-1]]) - 1
    s, bits = _magnitude_bits(v)
    t = tbl[unit]
    sym = ((run & 15) << 4) | s
    zrl = run >> 4
    body_len = _AC_LEN[t, sym] + s
    ac_val = (_ZRL_CODE[t, zrl] << body_len) | (_AC_CODE[t, sym] << s) | bits
    ac_len = _ZRL_LEN[t, zrl] + body_len

    eob = np.flatnonzero(rows[:, 63] == 0)

    # token slots: per block its DC, its AC tokens, then its EOB
    nnz = np.bincount(unit, minlength=len(rows))
    per_block = 1 + nnz
    per_block[eob] += 1
    bstart = np.cumsum(per_block) - per_block
    ac_pos = bstart[unit] + 1 + np.arange(len(unit)) - (np.cumsum(nnz) - nnz)[unit]
    eob_pos = bstart[eob] + 1 + nnz[eob]
    ntok = int(per_block.sum())
    val = np.empty(ntok, np.int64)
    length = np.empty(ntok, np.int64)
    val[bstart], length[bstart] = dc_val, dc_len
    val[ac_pos], length[ac_pos] = ac_val, ac_len
    val[eob_pos], length[eob_pos] = _AC_CODE[tbl[eob], 0], _AC_LEN[tbl[eob], 0]
    return val, length, bstart


def _ceil8(bits):
    """``bits`` rounded up to a whole number of bytes, in bits."""
    return -(-bits // 8) * 8


# data units coded per step: bounds the token arrays (~300 B per token,
# up to 64 tokens per unit) whatever the image size
_CHUNK_UNITS = 2048


def _entropy_code(
    coefs: list[np.ndarray],
    comp: np.ndarray,
    blk: np.ndarray,
    total_mcus: int,
    restart_interval: int,
) -> bytes:
    """Huffman-code the quantized zigzag rows of every data unit, in
    scan order, into the stuffed entropy-coded segment with its RSTn
    markers.

    Every code is known once the blocks are quantized, so the tokens of
    a chunk of blocks come out of array operations (`_block_tokens`); a
    cumsum of their lengths gives each token's bit offset, and the tokens
    are OR-ed into big-endian 64-bit words.  Each restart interval starts
    on a byte boundary, its last byte padded with 1-bits; then every 0xFF
    byte gets its 0x00 stuffing and the RSTn markers go in between the
    intervals."""
    upm = len(comp) // total_mcus
    per_interval = upm * (restart_interval or total_mcus)
    starts = np.cumsum([0] + [len(c) for c in coefs[:-1]])
    allc = np.concatenate(coefs)
    gidx = starts[comp] + blk
    tbl = np.minimum(comp, 1)
    n = len(comp)
    interval = np.arange(n) // per_interval

    # DC: the difference to the previous block of the same component;
    # the predictor restarts at 0 in every restart interval
    dc = allc[gidx, 0]
    diff = dc.copy()
    for c in range(len(coefs)):
        idx = np.flatnonzero(comp == c)
        same = interval[idx[1:]] == interval[idx[:-1]]
        diff[idx[1:]] -= np.where(same, dc[idx[:-1]], 0)

    bitpos = 0  # where the next chunk's first token starts
    carry = np.zeros(1, np.uint64)  # the partial word holding bitpos
    done: list[np.ndarray] = []  # complete words
    ends = []  # bit offset where each interval's tokens end
    for lo in range(0, n, _CHUNK_UNITS):
        hi = min(lo + _CHUNK_UNITS, n)
        val, length, bstart = _block_tokens(
            allc[gidx[lo:hi]], diff[lo:hi], tbl[lo:hi]
        )
        end = np.cumsum(length)
        local = end - length
        # the chunk's tokens in segments, one per interval it touches:
        # segment 0 continues at bitpos, each later one is an interval
        # that starts on the byte after the previous interval's end
        first = -(-max(lo, 1) // per_interval) * per_interval
        seg_tok = bstart[np.arange(first, hi, per_interval) - lo]
        bounds = np.r_[0, local[seg_tok], end[-1]]
        seg_bits = np.diff(bounds)
        seg_start = np.full(len(seg_bits), bitpos)
        if len(seg_tok):
            # byte-aligned from segment 1 on, so each later start is the
            # previous one plus its bits rounded up to whole bytes
            seg_start[1:] = _ceil8(bitpos + seg_bits[0]) + np.r_[
                0, np.cumsum(_ceil8(seg_bits[1:-1]))
            ]
            ends += [bitpos + seg_bits[0], *(seg_start[1:-1] + seg_bits[1:-1])]
        start = local + np.repeat(
            seg_start - bounds[:-1], np.diff(np.r_[0, seg_tok, len(val)])
        )
        new_bitpos = int(seg_start[-1] + seg_bits[-1])

        # OR each token into the (at most two) words it spans; start is
        # increasing, so each word's tokens are one segment
        base = bitpos // 64
        words = np.zeros(new_bitpos // 64 - base + 2, np.uint64)
        words[0] = carry[0]
        word, off = np.divmod(start, 64)
        word -= base
        spill = off + length - 64  # bits that run into the next word
        val = val.astype(np.uint64)
        head = np.where(
            spill > 0,
            val >> np.maximum(spill, 0).astype(np.uint64),
            val << np.maximum(-spill, 0).astype(np.uint64),
        )
        _or_segments(words, word, head)
        s = spill > 0
        _or_segments(
            words, word[s] + 1, val[s] << (64 - spill[s]).astype(np.uint64)
        )
        keep = new_bitpos // 64 - base
        done.append(words[:keep])
        carry = words[keep : keep + 1]
        bitpos = new_bitpos
    ends.append(bitpos)

    nbytes = _ceil8(bitpos) // 8
    data = np.concatenate(done + [carry]).astype(">u8").view(np.uint8)[:nbytes]
    # pad the last byte of every interval with 1-bits
    ends = np.asarray(ends)
    part = ends[ends % 8 != 0]
    data[part // 8] |= ((1 << (-part % 8)) - 1).astype(np.uint8)
    istart = _ceil8(ends[:-1]) // 8  # byte where intervals 1.. start

    # 0x00 after every 0xFF; RSTn (n = 0..7 cyclic) between intervals
    ff = data == 0xFF
    byte_interval = np.zeros(nbytes, np.int64)
    byte_interval[istart] = 1
    pos = np.arange(nbytes) + np.cumsum(ff) - ff + 2 * np.cumsum(byte_interval)
    out = np.zeros(nbytes + int(ff.sum()) + 2 * len(istart), np.uint8)
    out[pos] = data
    marker = pos[istart] - 2
    out[marker] = 0xFF
    out[marker + 1] = 0xD0 + (np.arange(len(marker)) & 7)
    return out.tobytes()


def encode_jpeg(
    img: np.ndarray,
    quality: int = 95,
    subsampling: str = "420",
    restart_interval: int = 0,
) -> bytes:
    """uint8 (H, W) or (H, W, 3) RGB -> baseline JPEG bytes.

    ``subsampling`` is "420" (2x2 box-mean chroma, the libjpeg/cv2
    default the reference's outputs use — ~35% smaller files), "422"
    (horizontal-only), "440" (vertical-only), or "444" (full chroma).
    Grayscale input ignores it.  ``restart_interval``
    > 0 emits a DRI segment and RSTn markers every that-many MCUs —
    what hardware/parallel encoders produce; also how the decoder's
    restart-resync path gets a true roundtrip test."""
    img = np.asarray(img)
    if img.ndim == 3 and img.shape[2] == 4:
        img = img[:, :, :3]
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    _FACTORS = {"444": (1, 1), "422": (2, 1), "440": (1, 2), "420": (2, 2)}
    if subsampling not in _FACTORS:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    hs, vs = _FACTORS[subsampling] if not gray else (1, 1)
    sub = (hs, vs) != (1, 1)
    ql, qc = scaled_quant_tables(quality)

    if gray:
        planes = [img.astype(np.float64) - 128.0]
        qts = [ql]
    else:
        f = img.astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if sub:
            # pad everything to the MCU pixel grid (8*hs x 8*vs), then
            # box-mean the chroma by the sampling factors (the
            # encoder-side norm; decode box-upsamples)
            mh, mw = 8 * vs, 8 * hs
            ph, pw = -(-h // mh) * mh, -(-w // mw) * mw
            pad = ((0, ph - h), (0, pw - w))
            y = np.pad(y, pad, mode="edge")
            cb = np.pad(cb, pad, mode="edge")
            cr = np.pad(cr, pad, mode="edge")
            cb = cb.reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3))
            cr = cr.reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3))
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
        qts = [ql, qc, qc]

    # forward DCT + quantize + zigzag, vectorized per plane
    coefs = []
    for plane, q in zip(planes, qts):
        blocks = _blockify(plane)
        F = np.einsum("ij,njk,kl->nil", _C, blocks, _C.T)
        quant = np.rint(F.reshape(-1, 64) / q[None, :]).astype(np.int64)
        coefs.append(quant[:, ZIGZAG])

    mcux, mcuy = -(-w // (8 * hs)), -(-h // (8 * vs))
    comp, blk = _scan_order(len(planes), hs, vs, mcux, mcux * mcuy)
    scan = _entropy_code(coefs, comp, blk, mcux * mcuy, restart_interval)

    # ---- assemble the file
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

    def dqt(tid: int, tbl: np.ndarray) -> bytes:
        return (
            b"\xff\xdb"
            + struct.pack(">HB", 67, tid)
            + bytes(int(x) for x in tbl[ZIGZAG])
        )

    out += dqt(0, ql)
    if not gray:
        out += dqt(1, qc)

    nc = 1 if gray else 3
    sof = struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        hv = ((hs << 4) | vs) if (sub and ci == 0) else 0x11
        sof += bytes([ci + 1, hv, 0 if ci == 0 else 1])
    out += b"\xff\xc0" + sof

    def dht(tc: int, th: int, spec) -> bytes:
        bits, values = spec
        return (
            b"\xff\xc4"
            + struct.pack(">HB", 19 + len(values), (tc << 4) | th)
            + bytes(bits)
            + bytes(values)
        )

    out += dht(0, 0, _DC_LUMA) + dht(1, 0, _AC_LUMA)
    if not gray:
        out += dht(0, 1, _DC_CHROMA) + dht(1, 1, _AC_CHROMA)

    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    sos = struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + sos
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)