"""A local HTTP server, run as a thread of the benchmark process.

``/img/<tag>/<name>`` serves the bytes registered under ``name``; the
tag only makes each URL distinct, so checkers know the exact bytes
sent for every URL from its last path component.
"""

from __future__ import annotations

import http.server
import threading


class _Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.0"

    def do_GET(self):  # noqa: N802
        data = self.server.images.get(self.path.rsplit("/", 1)[-1])
        if data is None:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.send_header("Content-Type", "image/png" if data[:4] == b"\x89PNG" else "image/jpeg")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args):
        pass


class ImageServer:
    def __init__(self, images: dict[str, bytes]):
        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self.httpd.daemon_threads = True
        self.httpd.images = images
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)

    def add(self, images: dict[str, bytes]) -> None:
        self.httpd.images.update(images)

    @property
    def base(self) -> str:
        host, port = self.httpd.server_address[:2]
        return f"http://{host}:{port}"

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join()
