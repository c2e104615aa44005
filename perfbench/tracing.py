"""Spans recorded around the benchmark's own calls into each layer.

Spans of the benchmark process stay in memory in a :class:`Tracer`.
Provider calls run in Spark's Python workers; :class:`TracingProvider` wraps
a model provider and appends one JSON line per call to a per-worker file.
When the run ends,
:meth:`Tracer.adopt_worker_spans` parents each worker span to the batch
span whose interval contains it and :meth:`Tracer.write` writes everything
once.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections.abc import Sequence
from dataclasses import dataclass

from confluent_kafka_vector_search_prompt_inference_spark.models.providers import Provider


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the block as a span; its parent defaults to the innermost open
        span. Yields the span, whose ``end`` is set when the block exits."""
        sp = self.add(name, time.time(), 0.0,
                      parent if parent is not None else (self._stack[-1] if self._stack else None),
                      **attrs)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> Span:
        sp = Span(len(self.spans), name, start, end, parent, attrs)
        self.spans.append(sp)
        return sp

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def adopt_worker_spans(self, trace_dir: str, batch_span: str) -> None:
        """Read the per-worker JSONL files and parent each span to the
        ``batch_span`` span whose interval contains its start; spans outside
        every batch keep no parent."""
        batches = self.named(batch_span)
        for path in sorted(glob.glob(os.path.join(trace_dir, "worker-*.jsonl"))):
            with open(path) as f:
                for line in f:
                    rec = json.loads(line)
                    parent = next((b.id for b in batches if b.start <= rec["start"] <= b.end), None)
                    self.add(rec["name"], rec["start"], rec["end"], parent,
                             rows=rec["rows"], pid=rec["pid"])

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, **s.attrs}) + "\n")


class TracingProvider(Provider):
    """Wraps a provider; each batch call appends ``{name, start, end, rows,
    pid}`` to ``<trace_dir>/worker-<pid>.jsonl`` in the worker that ran it."""

    def __init__(self, inner: Provider, name: str, trace_dir: str):
        self.inner = inner
        self.name = name
        self.trace_dir = trace_dir
        self.deterministic = inner.deterministic

    def _record(self, start: float, rows: int) -> None:
        rec = {"name": self.name, "start": start, "end": time.time(), "rows": rows,
               "pid": os.getpid()}
        with open(os.path.join(self.trace_dir, f"worker-{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")

    def embed_batch(self, texts: Sequence[str]) -> list[list[float]]:
        t0 = time.time()
        try:
            return self.inner.embed_batch(texts)
        finally:
            self._record(t0, len(texts))

    def complete_batch(self, prompts: Sequence[str]) -> list[str]:
        t0 = time.time()
        try:
            return self.inner.complete_batch(prompts)
        finally:
            self._record(t0, len(prompts))
