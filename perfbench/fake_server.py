"""A fake OpenAI-shaped model server for the remote-model workload.

Serves ``POST /v1/embeddings`` and ``POST /v1/chat/completions`` with the
OpenAI response shapes, plus ``GET /stats`` with its counters. Every
reply is a pure function of the request, every request takes a fixed
service time with no jitter (:data:`SERVICE_MS`), and every
:data:`THROTTLE_EVERY`-th request (counted over all POSTs, retries included)
is answered ``429`` with a short ``Retry-After``. At most ``nproc`` requests
are in service at once; further connections wait.

Run: ``python3 perfbench/fake_server.py --dim 1536``.
The first line it prints is the port it listens on.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

EMBED_MODEL = "text-embedding-3-small"
CHAT_MODEL = "gpt-4o-mini"
SERVICE_MS = 10.0
THROTTLE_EVERY = 50
RETRY_AFTER_S = 0.05


def _token_vector(token: str, dim: int) -> np.ndarray:
    seed = int.from_bytes(hashlib.md5(token.encode()).digest()[:8], "little")
    return np.random.default_rng(seed).standard_normal(dim)


def fake_embedding(text: str, dim: int) -> list[float]:
    """Deterministic embedding: the normalised mean of per-token Gaussian
    vectors, rounded to float32 as a real endpoint would return it."""
    toks = (text or "").lower().split()
    if not toks:
        return [0.0] * dim
    acc = np.zeros(dim)
    for t in toks:
        acc += _token_vector(t, dim)
    acc /= np.linalg.norm(acc) or 1.0
    return acc.astype(np.float32).tolist()


def fake_reply(prompt: str) -> dict:
    """The assistant message the fake returns for ``prompt``."""
    digest = hashlib.md5(prompt.encode()).hexdigest()[:16]
    return {
        "role": "assistant",
        "content": f"[fake:{digest}] Here are three products that match, "
        f"answered from a prompt of {len(prompt)} chars.",
    }


def embeddings_body(texts: list[str], dim: int) -> dict:
    return {
        "object": "list",
        "data": [
            {"object": "embedding", "index": i, "embedding": fake_embedding(t, dim)}
            for i, t in enumerate(texts)
        ],
        "model": EMBED_MODEL,
        "usage": {"prompt_tokens": sum(len(t.split()) for t in texts),
                  "total_tokens": sum(len(t.split()) for t in texts)},
    }


def chat_body(prompt: str) -> dict:
    digest = hashlib.md5(prompt.encode()).hexdigest()
    return {
        "id": f"chatcmpl-{digest[:24]}",
        "object": "chat.completion",
        "created": 0,
        "model": CHAT_MODEL,
        "choices": [{"index": 0, "message": fake_reply(prompt), "finish_reason": "stop"}],
        "usage": {"prompt_tokens": len(prompt.split()), "completion_tokens": 16,
                  "total_tokens": len(prompt.split()) + 16},
    }


def is_throttled(n: int, every: int) -> bool:
    """The 429 schedule: request ``n`` (1-based) is throttled when it is a
    multiple of ``every``; ``every <= 0`` throttles nothing."""
    return every > 0 and n % every == 0


class FakeModelServer(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, addr, *, dim: int, service_s: float, throttle_every: int,
                 retry_after_s: float, max_conns: int, fail_chat_status: int = 0,
                 fail_chat_after: int = 0):
        self.request_queue_size = max(8, max_conns * 4)
        super().__init__(addr, _Handler)
        self.dim = dim
        self.service_s = service_s
        self.throttle_every = throttle_every
        self.retry_after_s = retry_after_s
        self.fail_chat_status = fail_chat_status
        self.fail_chat_after = fail_chat_after
        self.slots = threading.BoundedSemaphore(max_conns)
        self.lock = threading.Lock()
        self.stats = {"requests": 0, "ok": 0, "throttled": 0, "failed": 0,
                      "busy_s": 0.0, "embedding_requests": 0, "embedding_inputs": 0,
                      "chat_requests": 0}

    def count(self, key: str) -> int:
        """Increment counter ``key``; returns its new value."""
        with self.lock:
            self.stats[key] += 1
            return self.stats[key]

    def add(self, **deltas) -> None:
        with self.lock:
            for k, v in deltas.items():
                self.stats[k] += v


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server: FakeModelServer

    def log_message(self, *args) -> None:  # keep stderr quiet
        pass

    def _send(self, status: int, body: dict, headers: dict | None = None) -> None:
        payload = json.dumps(body, separators=(",", ":")).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(payload)

    def do_GET(self) -> None:
        if self.path != "/stats":
            self._send(404, {"error": "not found"})
            return
        with self.server.lock:
            stats = dict(self.server.stats)
        self._send(200, stats)

    def do_POST(self) -> None:
        srv = self.server
        body = json.loads(self.rfile.read(int(self.headers.get("Content-Length", 0))) or b"{}")
        with srv.slots:
            t0 = time.perf_counter()
            n = srv.count("requests")
            if is_throttled(n, srv.throttle_every):
                srv.add(throttled=1)
                self._send(429, {"error": {"message": "rate limited", "type": "rate_limit"}},
                           {"Retry-After": f"{srv.retry_after_s:g}"})
                return
            if self.path == "/v1/embeddings":
                texts = body.get("input", [])
                texts = [texts] if isinstance(texts, str) else list(texts)
                status, out = 200, embeddings_body(texts, srv.dim)
                srv.add(embedding_requests=1, embedding_inputs=len(texts))
            elif self.path == "/v1/chat/completions":
                n_chat = srv.count("chat_requests")
                if srv.fail_chat_status and n_chat > srv.fail_chat_after:
                    status, out = srv.fail_chat_status, {"error": {"message": "server error"}}
                else:
                    prompt = body["messages"][-1]["content"]
                    status, out = 200, chat_body(prompt)
            else:
                status, out = 404, {"error": {"message": "not found"}}
            # fixed service time: pad the compute up to service_s
            remaining = srv.service_s - (time.perf_counter() - t0)
            if remaining > 0:
                time.sleep(remaining)
            srv.add(busy_s=time.perf_counter() - t0, ok=int(status == 200),
                    failed=int(status != 200))
            self._send(status, out)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dim", type=int, default=1536)
    ap.add_argument("--fail-chat-status", type=int, default=0,
                    help="answer chat requests with this status (0: never)")
    ap.add_argument("--fail-chat-after", type=int, default=0,
                    help="with --fail-chat-status: serve this many chat requests first")
    a = ap.parse_args(argv)
    srv = FakeModelServer(("127.0.0.1", 0), dim=a.dim, service_s=SERVICE_MS / 1000,
                          throttle_every=THROTTLE_EVERY, retry_after_s=RETRY_AFTER_S,
                          max_conns=os.cpu_count() or 1, fail_chat_status=a.fail_chat_status,
                          fail_chat_after=a.fail_chat_after)
    print(srv.server_address[1], flush=True)
    try:
        srv.serve_forever(poll_interval=0.1)
    finally:
        srv.server_close()


if __name__ == "__main__":
    sys.exit(main())
