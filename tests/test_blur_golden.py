"""Pixel-exact golden test against the reference's blur fixtures
(/root/reference/tests/blur_test_files, tests/test_blurrer.py:11-33).

The reference asserts np.array_equal(blurrer(original), blurred) using
cv2 + albumentations; this repo reproduces the identical bytes with a
from-scratch numpy separable Gaussian and a pure-Python PNG codec —
no imaging library involved.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from img2dataset_spark.functions.blur import blur_bboxes
from img2dataset_spark.functions.png import decode_png, encode_png

_FIXTURES = "/root/reference/tests/blur_test_files"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(_FIXTURES), reason="reference fixtures not present"
)


def test_blur_matches_reference_golden_pixel_exact():
    orig = decode_png(open(os.path.join(_FIXTURES, "original.png"), "rb").read())
    gold = decode_png(open(os.path.join(_FIXTURES, "blurred.png"), "rb").read())
    bbox = np.load(os.path.join(_FIXTURES, "bbox.npy"))
    out = blur_bboxes(orig, bbox)
    assert out.shape == gold.shape
    assert np.array_equal(out, gold)  # bit-for-bit, same as test_blurrer.py


def test_png_roundtrip_exact():
    orig = decode_png(open(os.path.join(_FIXTURES, "original.png"), "rb").read())
    again = decode_png(encode_png(orig))
    assert np.array_equal(orig, again)


def test_transform_fn_blurs_png_end_to_end():
    """The fused transform closure runs real pixels for png->png blur."""
    from img2dataset_spark.functions.image import make_transform_fn

    orig_bytes = open(os.path.join(_FIXTURES, "original.png"), "rb").read()
    gold = decode_png(open(os.path.join(_FIXTURES, "blurred.png"), "rb").read())
    bbox = np.load(os.path.join(_FIXTURES, "bbox.npy")).tolist()

    fn = make_transform_fn(resize_mode="no", encode_format="png")
    data, w, h, ow, oh, err = fn(orig_bytes, bbox)
    assert err is None
    assert (w, h, ow, oh) == (389, 535, 389, 535)
    assert np.array_equal(decode_png(data), gold)
