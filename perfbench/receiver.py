"""In-process loopback stand-in for the ingest API.

A keep-alive HTTP/1.1 server on 127.0.0.1 that accepts the sink's
POSTs and records what a checker needs: posts, the
``X-Idempotency-Key`` of each, events per post, and the client ports
that connected. Each connection gets a handler thread; the sink's
pooled transport opens at most one connection per Python worker, so
the count stays at or below the worker-thread count.
"""

from __future__ import annotations

import json
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def do_POST(self) -> None:  # noqa: N802 (http.server naming)
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        key = self.headers.get("X-Idempotency-Key", "")
        n_events = len(json.loads(body)["events"])
        self.server.record(key, n_events, self.client_address[1])
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *args) -> None:
        pass


class Receiver(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self) -> None:
        super().__init__(("127.0.0.1", 0), _Handler)
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self.serve_forever,
                                        daemon=True)
        self.reset()

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}"

    def reset(self) -> None:
        with self._lock:
            self.keys: Counter[str] = Counter()
            self.events = 0
            self.ports: set[int] = set()

    def record(self, key: str, n_events: int, port: int) -> None:
        with self._lock:
            self.keys[key] += 1
            self.events += n_events
            self.ports.add(port)

    @property
    def posts(self) -> int:
        return sum(self.keys.values())

    def snapshot(self) -> dict:
        with self._lock:
            return {"keys": dict(self.keys), "events": self.events,
                    "posts": self.posts, "ports": len(self.ports)}

    def __enter__(self) -> "Receiver":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.shutdown()
        self.server_close()
        self._thread.join()
