"""Numpy resampling tests: analytically exact cases per mode, the
banded resize against the dense weight-matrix product it replaced, plus
the full png->png resize path through the fused transform closure (T2-T5
pixel semantics, reference resizer.py:178-215)."""

from __future__ import annotations

import numpy as np
import pytest

from img2dataset_spark.functions.png import decode_png, encode_png
from img2dataset_spark.functions.resample import (
    _axis_weights,
    crop_center,
    pad_center,
    resize,
)


class TestWeights:
    def test_rows_sum_to_one(self):
        for mode in ("nearest", "bilinear", "cubic", "lanczos4", "area"):
            W = _axis_weights(13, 5, mode)
            assert np.allclose(W.sum(axis=1), 1.0), mode
            W = _axis_weights(5, 13, mode)
            assert np.allclose(W.sum(axis=1), 1.0), mode


class TestResize:
    def test_identity(self):
        img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
        for mode in ("nearest", "bilinear", "cubic", "lanczos4", "area"):
            assert np.array_equal(resize(img, 4, 4, mode), img)

    def test_area_integer_downscale_is_box_mean(self):
        img = np.array(
            [[0, 4, 8, 12], [2, 6, 10, 14], [16, 20, 24, 28], [18, 22, 26, 30]],
            dtype=np.uint8,
        )
        out = resize(img, 2, 2, "area")
        # each 2x2 block's exact mean
        expect = np.array([[3, 11], [19, 27]], dtype=np.uint8)
        assert np.array_equal(out, expect)

    def test_bilinear_preserves_constant_and_ramp(self):
        const = np.full((6, 6), 77, dtype=np.uint8)
        assert np.array_equal(resize(const, 13, 9, "bilinear"), np.full((9, 13), 77))
        # a linear ramp stays linear under bilinear: interior values equal
        # the analytic ramp at the mapped centers
        ramp = np.tile(np.arange(0, 160, 10, dtype=np.uint8), (4, 1))  # 4x16
        out = resize(ramp.astype(np.float64), 31, 4, "bilinear")
        centers = (np.arange(31) + 0.5) * (16 / 31) - 0.5
        inner = (centers >= 0) & (centers <= 15)
        assert np.allclose(out[0, inner], 10 * centers[inner], atol=1e-9)

    def test_lanczos_upscale_reasonable(self):
        img = np.zeros((8, 8), dtype=np.uint8)
        img[2:6, 2:6] = 200
        out = resize(img, 16, 16, "lanczos4")
        assert out.shape == (16, 16)
        assert out[7, 7] > 150  # center stays bright
        assert out[0, 0] < 50  # corners stay dark

    def test_crop_and_pad_center(self):
        img = np.arange(24, dtype=np.uint8).reshape(4, 6)
        c = crop_center(img, 2, 2)
        assert np.array_equal(c, img[1:3, 2:4])
        p = pad_center(img, 8, 6, value=255)
        assert p.shape == (6, 8)
        assert p[0, 0] == 255 and np.array_equal(p[1:5, 1:7], img)


def _dense_resize(img: np.ndarray, out_w: int, out_h: int, mode: str) -> np.ndarray:
    """The reference: both axes as dense (n_out, n_in) matrix products,
    rows first, as `resize` computed them before it went banded."""
    arr = np.asarray(img)
    squeeze = arr.ndim == 2
    if squeeze:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if (out_h, out_w) == (h, w):
        out = arr.astype(np.float64)
    else:
        Wh = _axis_weights(h, out_h, mode)
        Ww = _axis_weights(w, out_w, mode)
        tmp = (Wh @ arr.reshape(h, w * c).astype(np.float64)).reshape(out_h, w, c)
        out = (Ww @ tmp.transpose(1, 0, 2).reshape(w, out_h * c)).reshape(
            out_w, out_h, c
        ).transpose(1, 0, 2)
    if np.issubdtype(img.dtype, np.integer):
        out = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    else:
        out = out.astype(img.dtype)
    return out[:, :, 0] if squeeze else out


_MODES = ["nearest", "linear", "cubic", "lanczos4", "area"]
# (in_w, in_h) -> (out_w, out_h)
_GEOMETRIES = {
    "downscale": ((37, 29), (11, 8)),
    "upscale": ((9, 7), (23, 30)),
    "identity": ((13, 10), (13, 10)),
    "one_px_side": ((1, 17), (5, 1)),
}


class TestBandedMatchesDense:
    @pytest.mark.parametrize("channels", [0, 3, 4])
    @pytest.mark.parametrize("geometry", sorted(_GEOMETRIES))
    @pytest.mark.parametrize("mode", _MODES)
    def test_uint8_equal(self, mode, geometry, channels):
        (w, h), (ow, oh) = _GEOMETRIES[geometry]
        shape = (h, w, channels) if channels else (h, w)
        img = np.random.default_rng([w, h, channels]).integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(resize(img, ow, oh, mode), _dense_resize(img, ow, oh, mode))

    @pytest.mark.parametrize("dtype", [np.float32, np.float64])
    @pytest.mark.parametrize("channels", [0, 3, 4])
    @pytest.mark.parametrize("geometry", sorted(_GEOMETRIES))
    @pytest.mark.parametrize("mode", _MODES)
    def test_float_equal(self, mode, geometry, channels, dtype):
        """Float outputs are not rounded, so the two summation orders
        (taps in order against BLAS) may differ in the last bits: equal
        to within 16 float64 ulps of the input bound, or one ulp of the
        output dtype when that is coarser."""
        (w, h), (ow, oh) = _GEOMETRIES[geometry]
        shape = (h, w, channels) if channels else (h, w)
        bound = 300.0
        img = np.random.default_rng([w, h, channels, 1]).uniform(-bound, bound, shape).astype(dtype)
        got, want = resize(img, ow, oh, mode), _dense_resize(img, ow, oh, mode)
        assert got.dtype == want.dtype == dtype and got.shape == want.shape
        tol = bound * max(16 * np.finfo(np.float64).eps, np.finfo(dtype).eps)
        assert np.abs(got.astype(np.float64) - want).max() <= tol

    def test_photo_sized_downscales_equal(self):
        """The transform's own geometry: a photo-sized smooth image to a
        256 long side, every mode."""
        rng = np.random.default_rng(3)
        y, x = np.mgrid[0:301, 0:417]
        img = np.clip(
            128 + 90 * np.sin(x / 23.0) * np.cos(y / 17.0)
            + rng.normal(0, 4, (301, 417)), 0, 255,
        ).astype(np.uint8)
        img = np.stack([img, img[::-1], img[:, ::-1]], axis=-1)
        for mode in _MODES:
            assert np.array_equal(resize(img, 256, 185, mode), _dense_resize(img, 256, 185, mode)), mode


class TestPngResizeEndToEnd:
    def _png(self, w, h):
        rng = np.random.default_rng(11)
        return encode_png(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))

    def _fn(self, **kw):
        from img2dataset_spark.functions.image import make_transform_fn

        return make_transform_fn(encode_format="png", **kw)

    def test_border_mode_pads_white(self):
        fn = self._fn(resize_mode="border", image_size=64)
        data, w, h, ow, oh, err = fn(self._png(100, 50))
        assert err is None and (w, h, ow, oh) == (64, 64, 100, 50)
        out = decode_png(data)
        assert out.shape == (64, 64, 3)
        # 100x50 -> 64x32 centered; rows 0..15 and 48..63 are white padding
        assert (out[:16] == 255).all() and (out[48:] == 255).all()
        assert not (out[16:48] == 255).all()

    def test_center_crop_mode_dims(self):
        fn = self._fn(resize_mode="center_crop", image_size=32)
        data, w, h, ow, oh, err = fn(self._png(100, 50))
        assert err is None and (w, h) == (32, 32)
        assert decode_png(data).shape == (32, 32, 3)

    def test_keep_ratio_upscale(self):
        fn = self._fn(resize_mode="keep_ratio", image_size=64)
        data, w, h, ow, oh, err = fn(self._png(32, 16))
        assert err is None and (w, h) == (128, 64)
        assert decode_png(data).shape == (64, 128, 3)

    def test_only_if_bigger_passthrough(self):
        src = self._png(32, 16)
        fn = self._fn(resize_mode="border", image_size=64,
                      resize_only_if_bigger=True, skip_reencode=True)
        data, w, h, ow, oh, err = fn(src)
        assert err is None and (w, h) == (32, 16)
        assert data == src  # skip_reencode fast path, bytes untouched

    def test_jpeg_resize_is_real(self):
        """JPEG pixels resize for real via functions/jpeg.py (this was a
        stub before the dependency-free codec existed)."""
        import numpy as np

        from img2dataset_spark.functions.image import make_transform_fn
        from img2dataset_spark.functions.jpeg import decode_jpeg, encode_jpeg

        jpg = encode_jpeg(np.full((16, 32, 3), 90, np.uint8), 95)
        fn = make_transform_fn(
            resize_mode="border", image_size=64, encode_format="jpg"
        )
        data, w, h, ow, oh, err = fn(jpg)
        assert err is None and (w, h, ow, oh) == (64, 64, 32, 16)
        dec = decode_jpeg(data)
        assert dec.shape == (64, 64, 3)
        # border mode pads with white around the scaled content
        assert abs(float(dec[32, 32].mean()) - 90.0) < 4
        assert abs(float(dec[4, 32].mean()) - 255.0) < 4

    def test_alpha_png_matted_onto_white(self):
        """Reference parity (resizer.py:155-159): an alpha PNG is matted
        onto white and re-encoded even when geometry is a no-op — never
        passed through with its alpha intact."""
        import numpy as np

        from img2dataset_spark.functions.image import make_transform_fn
        from img2dataset_spark.functions.png import encode_png

        rgba = np.zeros((10, 10, 4), np.uint8)
        rgba[:, :, 0] = 200
        rgba[:, :, 3] = 128
        src = encode_png(rgba)
        fn = make_transform_fn(resize_mode="no", encode_format="png")
        data, w, h, ow, oh, err = fn(src)
        assert err is None and (w, h) == (10, 10)
        assert data != src
        out = decode_png(data)
        assert out.shape == (10, 10, 3)
        # rint(128/255*200 + 255-128) = 227 red over white; G/B = 127
        assert tuple(out[0, 0]) == (227, 127, 127)

    def test_truncated_jpeg_errors_cleanly(self):
        fn = self._fn(resize_mode="border", image_size=64)
        jpg = (b"\xff\xd8\xff\xc0\x00\x11\x08\x00\x10\x00\x20\x03"
               b"\x01\x22\x00\x02\x11\x01\x03\x11\x01\xff\xd9")
        out = fn(jpg)
        assert out[0] is None and out[5]  # loud error, no silent bytes
