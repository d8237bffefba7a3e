"""EXIF descriptive-rendering parity with the reference's serialization.

The reference extracts EXIF with ``exifread.process_file(details=False)``
and serializes ``{k: str(v).strip()}`` via json.dumps.  The goldens
below are the exact strings that call produces for the reference's
committed test photos: tag names use exifread's "<group> <TagName>"
convention, rationals are reduced fractions (exifread's Ratio
subclasses Fraction, so 25400/1000 prints "127/5"), UNDEFINED version
tags print their ASCII payload, ComponentsConfiguration maps bytes to
"YCbCr", the sub-IFD pointer tags appear as numeric "Image ExifOffset"
entries, and UserComment (0x9286, present in every one of these files)
is absent because details=False skips it.

The photos are rebuilt here byte-layout-for-byte-layout, so the test
needs no file outside the repo: a baseline JPEG from the in-repo
encoder with an APP1 "Exif" segment inserted after SOI, whose TIFF
payload carries exactly the tags the goldens list.  The layout is the
one the goldens pin: IFD0 holds 6 entries (78 bytes from offset 8) and
then its 2 rationals (16 bytes), which puts the EXIF sub-IFD at offset
102 — the "Image ExifOffset" value.  When exifread is importable the
test also cross-checks the goldens against the real library.
"""

from __future__ import annotations

import io
import json
import struct

import numpy as np
import pytest

from img2dataset_spark.functions.exif import extract_exif_json
from img2dataset_spark.functions.jpeg import encode_jpeg

# One photo per distinct EXIF payload shape in the reference set
# (72 dpi vs 25400/1000 dpi variants; two files carry no APP1 at all).
GOLDENS = {
    "208_495.jpg": {
        "Image Orientation": "Horizontal (normal)",
        "Image XResolution": "127/5",
        "Image YResolution": "127/5",
        "Image ResolutionUnit": "Pixels/Inch",
        "Image YCbCrPositioning": "Centered",
        "Image ExifOffset": "102",
        "EXIF ExifVersion": "0210",
        "EXIF ComponentsConfiguration": "YCbCr",
        "EXIF FlashPixVersion": "0100",
        "EXIF ColorSpace": "Uncalibrated",
        "EXIF ExifImageWidth": "208",
        "EXIF ExifImageLength": "495",
    },
    "416_264.jpg": {
        "Image Orientation": "Horizontal (normal)",
        "Image XResolution": "72",
        "Image YResolution": "72",
        "Image ResolutionUnit": "Pixels/Inch",
        "Image YCbCrPositioning": "Centered",
        "Image ExifOffset": "102",
        "EXIF ExifVersion": "0210",
        "EXIF ComponentsConfiguration": "YCbCr",
        "EXIF FlashPixVersion": "0100",
        "EXIF ColorSpace": "Uncalibrated",
        "EXIF ExifImageWidth": "416",
        "EXIF ExifImageLength": "264",
    },
}


# (XResolution, YResolution) rationals and (width, height) per photo
_LAYOUT = {
    "208_495.jpg": ((25400, 1000), (208, 495)),
    "416_264.jpg": ((72, 1), (416, 264)),
}
_USER_COMMENT = b"ASCII\x00\x00\x00Picsum ID: 1"


def _tiff(resolution: tuple[int, int], size: tuple[int, int]) -> bytes:
    """Big-endian TIFF payload: IFD0 (Orientation, X/YResolution,
    ResolutionUnit, YCbCrPositioning, ExifOffset) with its rationals,
    then the EXIF sub-IFD (ExifVersion, ComponentsConfiguration,
    UserComment, FlashPixVersion, ColorSpace, ExifImageWidth/Length)
    with the UserComment bytes after it."""
    ifd0_off, n0 = 8, 6
    rat_off = ifd0_off + 2 + 12 * n0 + 4  # 86
    exif_off = rat_off + 16  # 102
    n1 = 7
    comment_off = exif_off + 2 + 12 * n1 + 4

    def entry(tag, typ, count, value: bytes) -> bytes:
        return struct.pack(">HHI", tag, typ, count) + value.ljust(4, b"\x00")

    short = lambda v: struct.pack(">H", v)  # noqa: E731
    long_ = lambda v: struct.pack(">I", v)  # noqa: E731
    ifd0 = [
        entry(0x0112, 3, 1, short(1)),  # Orientation: Horizontal (normal)
        entry(0x011A, 5, 1, long_(rat_off)),  # XResolution
        entry(0x011B, 5, 1, long_(rat_off + 8)),  # YResolution
        entry(0x0128, 3, 1, short(2)),  # ResolutionUnit: Pixels/Inch
        entry(0x0213, 3, 1, short(1)),  # YCbCrPositioning: Centered
        entry(0x8769, 4, 1, long_(exif_off)),  # ExifOffset
    ]
    exif = [
        entry(0x9000, 7, 4, b"0210"),  # ExifVersion
        entry(0x9101, 7, 4, bytes([1, 2, 3, 0])),  # ComponentsConfiguration
        entry(0x9286, 7, len(_USER_COMMENT), long_(comment_off)),
        entry(0xA000, 7, 4, b"0100"),  # FlashPixVersion
        entry(0xA001, 3, 1, short(0xFFFF)),  # ColorSpace: Uncalibrated
        entry(0xA002, 3, 1, short(size[0])),  # ExifImageWidth
        entry(0xA003, 3, 1, short(size[1])),  # ExifImageLength
    ]
    out = (
        b"MM\x00\x2a" + long_(ifd0_off)
        + short(n0) + b"".join(ifd0) + long_(0)
        + struct.pack(">II", *resolution) * 2
    )
    assert len(out) == exif_off
    out += short(n1) + b"".join(exif) + long_(0)
    assert len(out) == comment_off
    return out + _USER_COMMENT


def _photo(width: int, height: int, app1: bytes | None = None) -> bytes:
    rng = np.random.default_rng(width * 1000 + height)
    img = rng.integers(0, 256, (height, width, 3), dtype=np.uint8)
    jpeg = encode_jpeg(img)
    assert jpeg[:2] == b"\xff\xd8"
    if app1 is None:
        return jpeg
    seg = b"Exif\x00\x00" + app1
    return jpeg[:2] + b"\xff\xe1" + struct.pack(">H", len(seg) + 2) + seg + jpeg[2:]


def _golden_photo(name: str) -> bytes:
    resolution, size = _LAYOUT[name]
    return _photo(*size, app1=_tiff(resolution, size))


@pytest.mark.parametrize("name", sorted(GOLDENS))
def test_reference_photo_exif_matches_exifread_serialization(name):
    data = _golden_photo(name)
    got = extract_exif_json(data)
    want = json.dumps(GOLDENS[name])
    assert got == want, f"{name}: {got} != {want}"


@pytest.mark.parametrize("name", ["123_456.jpg", "456_123.jpg"])
def test_reference_photo_without_app1_yields_empty_json(name):
    width, height = (int(x) for x in name[:-4].split("_"))
    data = _photo(width, height)
    assert b"\xff\xe1" not in data[:64]
    assert extract_exif_json(data) == "{}"


def test_usercomment_present_in_bytes_but_skipped():
    # details=False parity: the raw APP1 contains tag 0x9286 but the
    # serialized output must not.
    data = _golden_photo("208_495.jpg")
    assert b"Picsum ID" in data
    assert "UserComment" not in extract_exif_json(data)


def test_cross_check_against_exifread_if_available():
    exifread = pytest.importorskip("exifread")
    for name in GOLDENS:
        data = _golden_photo(name)
        tags = exifread.process_file(io.BytesIO(data), details=False)
        ref = {k: str(v).strip() for k, v in tags.items() if v is not None}
        assert json.loads(extract_exif_json(data)) == ref
