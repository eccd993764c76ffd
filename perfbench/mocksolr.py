"""Loopback mock of Solr's ``/update/json`` endpoint.

HTTP/1.1 keep-alive with ``TCP_NODELAY`` (as Jetty serves it), one thread
per connection. Every request body is parsed as the JSON array of documents
the writer sends; the ids are recorded and the request is held for a fixed
service time before the 200 reply, standing in for Solr's indexing work.

The writer opens one connection per running partition, so the number of
requests in flight is bounded by the task slots; ``max_inflight`` records
the highest number seen so the harness can check that bound.
"""

from __future__ import annotations

import collections
import http.server
import json
import threading
import time


class _Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    disable_nagle_algorithm = True
    wbufsize = 8192

    def do_POST(self):
        srv = self.server.mock
        t0 = time.perf_counter()
        with srv.lock:
            srv.inflight += 1
            srv.max_inflight = max(srv.max_inflight, srv.inflight)
        try:
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            docs = json.loads(body)
            ids = [d["id"] for d in docs]
            time.sleep(srv.service_s)
            with srv.lock:
                srv.requests += 1
                if any(i in srv.ids for i in ids):
                    srv.resent += 1
                srv.ids.update(ids)
        finally:
            with srv.lock:
                srv.inflight -= 1
                srv.busy_s += time.perf_counter() - t0
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", "2")
        self.end_headers()
        self.wfile.write(b"{}")

    def log_message(self, *args):
        pass


class MockSolr:
    def __init__(self, service_s: float):
        self.service_s = service_s
        self.lock = threading.Lock()
        self._server = http.server.ThreadingHTTPServer(
            ("127.0.0.1", 0), _Handler
        )
        self._server.daemon_threads = True
        self._server.mock = self
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self.inflight = 0
        self.max_inflight = 0
        self.reset()

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}/solr/core"

    def reset(self) -> None:
        """Forget the documents of the previous pass."""
        with self.lock:
            self.ids: collections.Counter = collections.Counter()
            self.requests = 0
            self.resent = 0
            self.busy_s = 0.0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._server.shutdown()
        self._server.server_close()
        self._thread.join()
