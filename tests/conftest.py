"""Shared fixtures: one SparkSession per test run and a local HTTP
server fixture mirroring the reference's hermetic test strategy
(/root/reference/tests/http_server.py, conftest.py): an /allowed/ mount
serving images and a /disallowed/ mount that adds X-Robots-Tag headers.
"""

from __future__ import annotations

import glob
import http.server
import os
import struct
import sys
import threading
import zlib

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the six CC0 photos committed with the benchmark (one of them grayscale
# and progressive); hermetic real-JPEG inputs for the codec tests
PHOTOS = sorted(glob.glob(os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "data", "photos", "*.jpg",
)))


def sof_dimensions(data: bytes) -> tuple[int, int, int]:
    """(width, height, SOF marker) from a JPEG's frame header, walking
    the marker segments by their lengths; independent of the codec."""
    i = 2
    while data[i] == 0xFF:
        marker = data[i + 1]
        (seglen,) = struct.unpack(">H", data[i + 2 : i + 4])
        if marker in (0xC0, 0xC1, 0xC2):
            h, w = struct.unpack(">HH", data[i + 5 : i + 9])
            return w, h, marker
        i += 2 + seglen
    raise ValueError("no SOF marker before the first scan")


@pytest.fixture(scope="session")
def spark():
    from img2dataset_spark.session import get_spark

    spark = get_spark(app_name="img2dataset_spark_tests", shuffle_partitions=8)
    yield spark


def make_png(width: int, height: int, color: int = 0x336699) -> bytes:
    """Minimal valid PNG (stdlib only) so header parsing sees real bytes."""

    def chunk(typ: bytes, data: bytes) -> bytes:
        raw = typ + data
        return struct.pack(">I", len(data)) + raw + struct.pack(
            ">I", zlib.crc32(raw) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = bytes([0]) + bytes(
        [(color >> 16) & 0xFF, (color >> 8) & 0xFF, color & 0xFF]
    ) * width
    idat = zlib.compress(row * height)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


class _Handler(http.server.BaseHTTPRequestHandler):
    images: dict[str, bytes] = {}

    def do_GET(self):  # noqa: N802
        name = self.path.rsplit("/", 1)[-1]
        data = self.images.get(name)
        if data is None or "/missing/" in self.path:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.send_header("Content-Type", "image/png")
        self.send_header("Content-Length", str(len(data)))
        if "/disallowed/" in self.path:
            self.send_header("X-Robots-Tag", "noai, noimageai, noindex, noimageindex")
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args):  # silence
        pass


@pytest.fixture(scope="session")
def http_fixture():
    """Returns (base_url, images: {name: png_bytes})."""
    images = {f"img{i}.png": make_png(32 + i * 8, 24 + i * 4) for i in range(10)}
    _Handler.images = images
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base, images
    server.shutdown()
