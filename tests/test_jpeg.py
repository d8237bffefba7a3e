"""functions/jpeg.py — dependency-free baseline JPEG codec.

Without PIL/cv2 there is no independent JPEG ground truth in this
container, so correctness is pinned three ways:
  1. encoder->decoder roundtrip PSNR on synthetic images (a wrong
     Huffman table, zigzag, or IDCT shatters PSNR immediately);
  2. decoding real photographs — the reference repo's test JPEGs
     (produced by cv2, dimensions in the file name) when present, and
     the six committed under perfbench/data/photos (dimensions from the
     SOF marker, read here apart from the codec) — the entropy-decoded
     frame must match those dimensions and the header parser;
  3. cross-codec consistency: a PNG and a JPEG encoded from the same
     array decode to nearly identical pixels (PNG path is already
     golden-verified, so it anchors the JPEG path).
When PIL is present (other environments), test_pil_cross_decode checks
our decoder against PIL's within JPEG rounding tolerance.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest
from conftest import PHOTOS, sof_dimensions

from img2dataset_spark.functions.jpeg import decode_jpeg, encode_jpeg
from img2dataset_spark.functions.png import decode_png, encode_png

REF_JPEGS = sorted(glob.glob("/root/reference/tests/resize_test_image/*.jpg"))
REAL_JPEGS = REF_JPEGS + PHOTOS


def _true_dimensions(path: str) -> tuple[int, int]:
    if path in REF_JPEGS:
        w, h = os.path.basename(path)[:-4].split("_")
        return int(w), int(h)
    with open(path, "rb") as fh:
        return sof_dimensions(fh.read())[:2]


def _synthetic(h, w, seed=0):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            127 + 100 * np.sin(xx / 13 + seed) * np.cos(yy / 17),
            127 + 80 * np.cos(xx / 7 + seed),
            127 + 60 * np.sin(yy / 9 + seed),
        ],
        axis=-1,
    ).clip(0, 255).astype(np.uint8)


def _psnr(a, b):
    mse = ((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean()
    return 10 * np.log10(255.0**2 / mse) if mse else np.inf


class TestRoundtrip:
    @pytest.mark.parametrize("h,w", [(8, 8), (16, 24), (123, 77), (64, 200)])
    def test_rgb_psnr(self, h, w):
        img = _synthetic(h, w)
        dec = decode_jpeg(encode_jpeg(img, quality=95, subsampling="444"))
        assert dec.shape == img.shape
        assert _psnr(dec, img) > 40

    @pytest.mark.parametrize("h,w", [(16, 24), (123, 77), (31, 33)])
    def test_rgb_420_default(self, h, w):
        """Default 4:2:0: meaningfully smaller than 4:4:4, luma still
        high-fidelity (chroma pays the box-subsample cost)."""
        img = _synthetic(h, w)
        e420 = encode_jpeg(img, quality=95)
        e444 = encode_jpeg(img, quality=95, subsampling="444")
        assert len(e420) < len(e444)
        dec = decode_jpeg(e420)
        assert dec.shape == img.shape
        assert _psnr(dec, img) > 30
        luma = lambda a: a.astype(np.float64) @ [0.299, 0.587, 0.114]  # noqa: E731
        assert _psnr(luma(dec), luma(img)) > 40

    @pytest.mark.parametrize("subsampling", ["422", "440"])
    def test_asymmetric_subsampling_roundtrip(self, subsampling):
        """4:2:2 / 4:4:0 exercise the decoder's asymmetric
        sampling-factor handling (one axis subsampled, one full)."""
        img = _synthetic(37, 51)
        dec = decode_jpeg(encode_jpeg(img, 92, subsampling=subsampling))
        assert dec.shape == img.shape
        assert _psnr(dec, img) > 28
        luma = lambda a: a.astype(np.float64) @ [0.299, 0.587, 0.114]  # noqa: E731
        assert _psnr(luma(dec), luma(img)) > 38

    def test_gray(self):
        g = _synthetic(50, 40)[:, :, 0]
        dec = decode_jpeg(encode_jpeg(g, quality=90))
        assert dec.shape == g.shape
        assert _psnr(dec, g) > 38

    def test_quality_monotone(self):
        img = _synthetic(64, 64)
        sizes = [len(encode_jpeg(img, q)) for q in (30, 60, 90)]
        assert sizes == sorted(sizes)
        assert _psnr(decode_jpeg(encode_jpeg(img, 90)), img) > _psnr(
            decode_jpeg(encode_jpeg(img, 30)), img
        )

    def test_deterministic_bytes(self):
        img = _synthetic(33, 47)
        assert encode_jpeg(img, 80) == encode_jpeg(img, 80)

    def test_rgba_alpha_dropped(self):
        img = _synthetic(16, 16)
        rgba = np.dstack([img, np.full((16, 16), 255, np.uint8)])
        assert decode_jpeg(encode_jpeg(rgba, 95)).shape == (16, 16, 3)

    @pytest.mark.parametrize("subsampling", ["444", "422", "440", "420"])
    @pytest.mark.parametrize("interval", [1, 3])
    def test_restart_markers_roundtrip(self, subsampling, interval):
        """DRI + RSTn emission and the decoder's restart-resync path:
        identical pixels with and without restarts."""
        img = _synthetic(40, 56)
        plain = decode_jpeg(encode_jpeg(img, 90, subsampling=subsampling))
        enc = encode_jpeg(
            img, 90, subsampling=subsampling, restart_interval=interval
        )
        assert b"\xff\xdd" in enc  # DRI present
        assert any(bytes([0xFF, 0xD0 + i]) in enc for i in range(8))
        assert np.array_equal(decode_jpeg(enc), plain)

    def test_flat_image_exact(self):
        img = np.full((24, 24, 3), 137, np.uint8)
        dec = decode_jpeg(encode_jpeg(img, 95))
        assert np.abs(dec.astype(int) - 137).max() <= 2


class TestReferenceImages:
    """Real photographs: the reference's test JPEGs (filename =
    {w}_{h}.jpg) and the committed photos (one grayscale, progressive)."""

    @pytest.mark.parametrize(
        "path", REAL_JPEGS, ids=[os.path.basename(p) for p in REAL_JPEGS]
    )
    def test_decode_dims_match_filename(self, path):
        from img2dataset_spark.functions.image import parse_dimensions

        data = open(path, "rb").read()
        w, h = _true_dimensions(path)
        arr = decode_jpeg(data)
        assert arr.shape[:2] == (h, w)
        assert parse_dimensions(data) == (w, h)
        # real photograph: decoded content has non-trivial variation
        assert arr.std() > 10

    @pytest.mark.parametrize(
        "path", REAL_JPEGS, ids=[os.path.basename(p) for p in REAL_JPEGS]
    )
    def test_no_block_seams(self, path):
        """A wrong entropy decode (especially a wrong progressive
        refinement) leaves strong 8x8 seams; a correct decode's
        block-boundary gradients stay close to interior gradients."""
        arr = decode_jpeg(open(path, "rb").read()).astype(float)
        if arr.ndim == 3:
            arr = arr.mean(axis=2)
        dv = np.abs(np.diff(arr, axis=0))
        rows = np.arange(arr.shape[0] - 1)
        ratio = dv[rows % 8 == 7].mean() / dv[rows % 8 != 7].mean()
        assert ratio < 2.5, ratio

    @pytest.mark.parametrize(
        "path", REF_JPEGS, ids=[p.rsplit("/", 1)[-1] for p in REF_JPEGS]
    )
    def test_pil_reference_decode_parity(self, path):
        """When PIL exists: our decode of the reference images (incl.
        the five progressive ones) matches PIL/libjpeg within IDCT
        rounding + chroma-upsample tolerance."""
        pytest.importorskip("PIL")
        import io

        from PIL import Image

        ours = decode_jpeg(open(path, "rb").read()).astype(np.int64)
        theirs = np.asarray(
            Image.open(io.BytesIO(open(path, "rb").read())).convert("RGB")
        ).astype(np.int64)
        assert ours.shape == theirs.shape
        # box-upsampled chroma vs libjpeg's fancy upsampling differs at
        # edges; mean error must still be sub-pixel
        assert np.abs(ours - theirs).mean() < 3.0


class TestCrossCodec:
    def test_png_and_jpeg_agree(self):
        """Same array through the (golden-verified) PNG codec and the
        JPEG codec: decoded pixels agree within JPEG loss."""
        img = _synthetic(48, 64)
        via_png = decode_png(encode_png(img))
        via_jpeg = decode_jpeg(encode_jpeg(img, 95, subsampling="444"))
        assert np.array_equal(via_png, img)  # PNG is lossless
        assert _psnr(via_jpeg, via_png) > 40

    def test_pil_cross_decode(self):
        """When PIL exists, our decoder matches PIL's on our encoder's
        output (both implement the same T.81 IDCT contract)."""
        PIL = pytest.importorskip("PIL")
        import io

        from PIL import Image

        img = _synthetic(40, 56)
        enc = encode_jpeg(img, 95, subsampling="444")
        ours = decode_jpeg(enc)
        theirs = np.asarray(Image.open(io.BytesIO(enc)).convert("RGB"))
        # IDCT implementations may differ by a rounding step
        assert np.abs(ours.astype(int) - theirs.astype(int)).max() <= 2


class TestSpecEdgeCases:
    def test_gray_with_declared_sampling_factors(self):
        """T.81 A.2.2: a single-component scan is raster-ordered
        regardless of the frame's sampling factors.  Patch a gray
        stream's SOF sampling byte from 0x11 to 0x22 — the entropy data
        is unchanged, so a correct decoder yields identical pixels."""
        g = _synthetic(40, 56)[:, :, 0]
        enc = bytearray(encode_jpeg(g, 90))
        i = bytes(enc).find(b"\xff\xc0")
        assert enc[i + 11] == 0x11  # component 1 sampling byte
        plain = decode_jpeg(bytes(enc))
        enc[i + 11] = 0x22
        patched = decode_jpeg(bytes(enc))
        assert np.array_equal(patched, plain)

    def test_fill_bytes_before_markers(self):
        """0xFF fill bytes before a marker (T.81 B.1.1.2) are legal:
        inject them before EOI and before the SOS marker."""
        img = _synthetic(24, 24)
        enc = encode_jpeg(img, 90)
        plain = decode_jpeg(enc)
        assert enc.endswith(b"\xff\xd9")
        padded = enc[:-2] + b"\xff\xff\xff" + b"\xff\xd9"
        assert np.array_equal(decode_jpeg(padded), plain)
        i = padded.find(b"\xff\xda")
        padded2 = padded[:i] + b"\xff\xff" + padded[i:]
        assert np.array_equal(decode_jpeg(padded2), plain)

    def test_cmyk_rejected_not_misdecoded(self):
        """4-component (Adobe CMYK) frames must raise, never silently
        decode the C/M/Y planes as YCbCr."""
        img = _synthetic(16, 16)
        enc = bytearray(encode_jpeg(img, 90))
        i = bytes(enc).find(b"\xff\xc0")
        assert enc[i + 9] == 3  # component count byte
        enc[i + 9] = 4
        with pytest.raises(ValueError, match="component count 4"):
            decode_jpeg(bytes(enc))


class TestErrors:
    def test_not_a_jpeg(self):
        with pytest.raises(ValueError, match="not a JPEG"):
            decode_jpeg(b"\x89PNG\r\n\x1a\nxxxx")

    def test_truncated(self):
        img = _synthetic(32, 32)
        enc = encode_jpeg(img, 80)
        with pytest.raises(ValueError):
            decode_jpeg(enc[: len(enc) // 2])

    @pytest.mark.parametrize("cut", [3, 6, 11, 21, 151])
    def test_any_truncation_is_valueerror(self, cut):
        """Truncation at ANY marker-segment boundary must surface as
        ValueError, not struct.error/IndexError/KeyError."""
        enc = encode_jpeg(_synthetic(16, 16), 80)
        with pytest.raises(ValueError):
            decode_jpeg(enc[:cut])
    def test_entropy_truncation_mostly_raises_with_one_fill(self):
        """Entropy-segment truncation: the Huffman peek pads with 1-bits
        (T.81 F.1.2.3 fill convention), which steers partial codes into
        the length>nbits guard instead of silently decoding a shorter
        zero-prefixed code.  Not every cut is detectable at the bit level
        (the unit-count check catches the rest), but no cut may crash
        with a non-ValueError."""
        enc = bytearray(encode_jpeg(_synthetic(32, 32), 80))
        # find SOS, then cut inside the entropy stream before EOI
        sos = enc.find(b"\xff\xda")
        assert sos > 0
        entropy_start = sos + 2 + int.from_bytes(enc[sos + 2 : sos + 4], "big")
        raised = 0
        cuts = range(entropy_start + 4, len(enc) - 2, 7)
        for cut in cuts:
            try:
                decode_jpeg(bytes(enc[:cut]) + b"\xff\xd9")
            except ValueError:
                raised += 1
        assert raised >= len(list(cuts)) * 3 // 4
