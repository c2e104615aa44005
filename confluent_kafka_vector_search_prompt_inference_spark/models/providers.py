"""Inference providers behind the model registry.

The reference calls OpenAI over HTTPS per row (embedding request
``README.md:123-127``, response shape ``README.md:144-168``; chat endpoint
``README.md:649-653``) and warns that live embeddings are nondeterministic
for identical input (``README.md:170``). Tests therefore use hermetic
deterministic providers with the same signatures; the HTTP provider is the
drop-in for live use. Its embeddings are Arrow-batched — one request per
batch of rows, not per row, the single most important deviation from the
reference's row-at-a-time model at 100 TB scale (SURVEY.md §3 entry point
B). Chat completions are still one request per row: the chat API takes one
conversation per call.
"""

from __future__ import annotations

import datetime
import email.utils
import hashlib
import json
import math
import random
import struct
import time
from collections.abc import Sequence
from dataclasses import dataclass, field
from functools import lru_cache


class Provider:
    """A batch text→values function. ``deterministic`` tells the compiler
    whether Catalyst may duplicate calls (CSE); live providers must be
    nondeterministic so retries/re-execution never double-bill
    (SURVEY.md §4.2)."""

    deterministic: bool = True

    def embed_batch(self, texts: Sequence[str]) -> list[list[float]]:
        raise NotImplementedError

    def complete_batch(self, prompts: Sequence[str]) -> list[str]:
        raise NotImplementedError


@lru_cache(maxsize=262_144)
def _hash_floats(text: str, dim: int, salt: str) -> tuple[float, ...]:
    """Deterministic pseudo-embedding: md5-seeded floats in [-1, 1], then
    L2-normalized. Similar strings do NOT get similar vectors (it's a hash);
    token-level averaging below provides the similarity structure. Cached —
    real corpora have Zipfian token distributions, so the cache turns
    per-token hashing into a vocabulary-sized cost."""
    out: list[float] = []
    counter = 0
    while len(out) < dim:
        h = hashlib.md5(f"{salt}|{text}|{counter}".encode()).digest()
        for i in range(0, 16, 4):
            (u,) = struct.unpack(">I", h[i : i + 4])
            out.append((u / 2**31) - 1.0)
        counter += 1
    out = out[:dim]
    norm = math.sqrt(sum(x * x for x in out)) or 1.0
    return tuple(x / norm for x in out)


@dataclass
class HashingEmbedder(Provider):
    """Deterministic local embedder: mean of per-token hash vectors.

    Texts sharing tokens get nearby vectors, so top-k search over these
    embeddings behaves like a (crude) semantic search — enough to exercise
    every downstream operator with exact, reproducible results. Stands in
    for ``text-embedding-3-small`` (dim 1536 in production,
    ``README.md:170``; fixtures use small dims per FIXTURES.md)."""

    dim: int = 64
    salt: str = "spark-graft"
    deterministic: bool = True

    def embed_batch(self, texts: Sequence[str]) -> list[list[float]]:
        import numpy as np

        out = []
        for text in texts:
            toks = (text or "").lower().split()
            if not toks:
                out.append([0.0] * self.dim)
                continue
            acc = np.zeros(self.dim)
            for t in toks:
                acc += np.asarray(_hash_floats(t, self.dim, self.salt))
            norm = float(np.linalg.norm(acc)) or 1.0
            out.append([float(x) for x in acc / norm])
        return out


@dataclass
class TemplateLLM(Provider):
    """Deterministic local chat model returning an OpenAI-shaped JSON string.

    Mirrors the ``retail_assistant`` model's role: answer from the prompt's
    retrieved products (system prompt, reference ``README.md:469-480``)."""

    system_prompt: str = "You are a friendly shopping assistant"
    model_name: str = "template-llm"
    deterministic: bool = True

    def complete_batch(self, prompts: Sequence[str]) -> list[str]:
        out = []
        for p in prompts:
            digest = hashlib.md5((p or "").encode()).hexdigest()[:12]
            out.append(
                json.dumps(
                    {
                        "role": "assistant",
                        "content": f"[{self.model_name}:{digest}] {self.system_prompt}: "
                        f"answering from prompt of {len(p or '')} chars",
                    },
                    separators=(",", ":"),
                )
            )
        return out


# first backoff ceiling without a Retry-After; doubles per attempt
_BACKOFF_BASE_S = 1.0


def _retry_after_s(value: str | None) -> float | None:
    """Seconds a ``Retry-After`` header value asks to wait: delay-seconds
    (fractions accepted) or an HTTP-date, never below 0. ``None`` when the
    header is missing or unreadable."""
    if not value:
        return None
    try:
        secs = float(value)
    except ValueError:
        try:
            when = email.utils.parsedate_to_datetime(value)
        except (TypeError, ValueError):
            return None
        if when.tzinfo is None:  # "-0000": UTC, as every HTTP-date is
            when = when.replace(tzinfo=datetime.timezone.utc)
        secs = when.timestamp() - time.time()
    return max(0.0, secs) if math.isfinite(secs) else None


@dataclass
class HttpChatProvider(Provider):
    """Live OpenAI-compatible provider (embeddings + chat).

    Request/response contracts follow the reference's captured payloads
    (``files/sampleVectorSearches/test.txt``; request ``README.md:123-127``,
    ``README.md:636-645``). Embeddings are batched per Arrow batch; chat is
    one request per row. Construction is lazy: nothing connects until the
    first call.

    Retry policy: a call makes at most ``max_retries`` requests, and no
    wait between them exceeds ``timeout_s``.

    - ``429`` and ``5xx``: wait the server's ``Retry-After`` (seconds or an
      HTTP-date); without one, back off exponentially with full jitter.
    - Any other ``4xx`` (a bad request or key, a missing model): raise at
      once; the same request would fail the same way again.
    - Connection-level failures (refused, reset, timed out, closed before
      or while answering): back off with jitter as for a bare ``5xx``.

    A micro-batch commits only when its slowest task ends, so a wait longer
    than the server asked for stalls the whole stream."""

    endpoint: str = ""
    api_key_env: str = "OPENAI_API_KEY"
    model: str = "text-embedding-3-small"
    max_retries: int = 3
    deterministic: bool = False
    timeout_s: float = 30.0
    _session: object = field(default=None, repr=False)

    def _http(self):
        if self._session is None:
            import urllib.request  # stdlib only; no extra deps

            self._session = urllib.request
        return self._session

    def _post(self, url: str, payload: dict) -> dict:
        import http.client
        import os
        import urllib.error

        req = self._http().Request(
            url,
            data=json.dumps(payload).encode(),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {os.environ.get(self.api_key_env, '')}",
            },
        )
        for attempt in range(self.max_retries):
            last = attempt == self.max_retries - 1
            try:
                with self._http().urlopen(req, timeout=self.timeout_s) as resp:
                    return json.loads(resp.read())
            except urllib.error.HTTPError as e:
                # raised still open: the caller can read the server's reason
                if last or not (e.code == 429 or e.code >= 500):
                    raise
                wait = _retry_after_s(e.headers.get("Retry-After"))
                e.close()
            except (OSError, http.client.HTTPException):
                # URLError (refused, DNS, a failed send) and what urllib
                # lets through unwrapped from reading the answer: a
                # RemoteDisconnected, a read timeout, a truncated body
                if last:
                    raise
                wait = None
            if wait is None:
                wait = random.uniform(0.0, _BACKOFF_BASE_S * 2**attempt)
            time.sleep(min(wait, self.timeout_s))
        raise RuntimeError("unreachable")

    def embed_batch(self, texts: Sequence[str]) -> list[list[float]]:
        body = self._post(
            f"{self.endpoint}/v1/embeddings", {"input": list(texts), "model": self.model}
        )
        data = sorted(body["data"], key=lambda d: d["index"])
        return [d["embedding"] for d in data]

    def complete_batch(self, prompts: Sequence[str]) -> list[str]:
        out = []
        for p in prompts:  # chat API is per-conversation; still one HTTP per row here
            body = self._post(
                f"{self.endpoint}/v1/chat/completions",
                {"model": self.model, "messages": [{"role": "user", "content": p}]},
            )
            out.append(json.dumps(body["choices"][0]["message"], separators=(",", ":")))
        return out


def parse_embedding_response(payload: str) -> list[list[float]]:
    """Parse the OpenAI embeddings response shape the reference captures
    verbatim (``files/sampleVectorSearches/test.txt:1-1552``; shape
    ``README.md:144-168``): ``{object, data: [{object, index, embedding}],
    model, usage}`` → embeddings ordered by index."""
    body = json.loads(payload)
    data = sorted(body["data"], key=lambda d: d["index"])
    return [d["embedding"] for d in data]
