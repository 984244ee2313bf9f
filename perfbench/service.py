"""Simulated OpenAI-compatible chat service on localhost.

It answers ``POST /v1/chat/completions`` the way the reference's
kitchen-filter prompt would be answered: it keeps the lines of the user
message that name a kitchen product. When no line qualifies it answers
a single newline, because the client treats an empty answer as an
error; the output checks compare non-empty lines only.

Latency is a fixed base per request, and a request whose body hashes
into a fixed 2 % takes ten times as long. There is no random jitter,
so the same request always takes the same time and gets the same
answer.

The service counts what a provider would bill and see: requests,
request-body bytes, and each request's start and end on the monotonic
clock, which is shared by every process on the host, so the benchmark
can line the requests up against its own job timings.
"""

from __future__ import annotations

import hashlib
import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from perfbench.gen import KITCHEN

BASE_LATENCY_S = 0.020
SLOW_FACTOR = 10
SLOW_ONE_IN = 50  # 2 % of request bodies, chosen by hash

_KEEP_RE = re.compile(r"\b(?:" + "|".join(KITCHEN) + r")\b")


def keeps(line: str) -> bool:
    """The simulated model's decision for one input line."""
    return _KEEP_RE.search(line) is not None


def answer(user: str) -> str:
    kept = [line for line in user.split("\n") if keeps(line)]
    return "\n".join(kept) if kept else "\n"


def latency_s(body: bytes, base_s: float) -> float:
    slow = int.from_bytes(hashlib.sha256(body).digest()[:8], "big") % SLOW_ONE_IN == 0
    return base_s * (SLOW_FACTOR if slow else 1)


class LLMService:
    """The service plus its counters. ``start()`` serves on an
    ephemeral localhost port from a background thread; ``close()``
    stops it and joins the thread."""

    def __init__(self, base_latency_s: float = BASE_LATENCY_S):
        self.base_latency_s = base_latency_s
        self._lock = threading.Lock()
        self._inflight = 0
        self.reset()
        service = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self):  # noqa: N802 — http.server naming
                start = time.monotonic()
                body = self.rfile.read(int(self.headers["Content-Length"]))
                service._enter()
                try:
                    messages = json.loads(body)["messages"]
                    user = next(m["content"] for m in messages if m["role"] == "user")
                    time.sleep(latency_s(body, service.base_latency_s))
                    out = json.dumps(
                        {"choices": [{"message": {"role": "assistant", "content": answer(user)}}]}
                    ).encode()
                finally:
                    service._leave(start, len(body))
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

            def log_message(self, *args):
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def start(self) -> "LLMService":
        self._thread.start()
        return self

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def reset(self) -> None:
        with self._lock:
            self.requests = 0
            self.request_bytes = 0
            self.max_inflight = 0
            self.spans: list[tuple[float, float]] = []

    def _enter(self) -> None:
        with self._lock:
            self._inflight += 1
            self.max_inflight = max(self.max_inflight, self._inflight)

    def _leave(self, start: float, nbytes: int) -> None:
        with self._lock:
            self._inflight -= 1
            self.requests += 1
            self.request_bytes += nbytes
            self.spans.append((start, time.monotonic()))

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "requests": self.requests,
                "request_bytes": self.request_bytes,
                "max_inflight": self.max_inflight,
                "spans": sorted(self.spans),
            }
