"""Model registry semantics from the reference (SURVEY.md §2.10):
first-version default (README.md:718), $version pinning (README.md:704-708),
ALTER default (README.md:712-714), DESCRIBE (README.md:660-699), 404 on
missing version (README.md:657), golden provider-response parsing
(files/sampleVectorSearches/test.txt)."""

import email.utils
import json
import os
import threading
import time
import types
import urllib.error
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from confluent_kafka_vector_search_prompt_inference_spark.models import (
    HashingEmbedder,
    HttpChatProvider,
    ModelNotFound,
    ModelRegistry,
    TemplateLLM,
    parse_embedding_response,
    providers,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures", "embedding_response_golden.json")


@pytest.fixture()
def registry():
    r = ModelRegistry()
    r.create_model("vector_encoding", "embedding", HashingEmbedder(dim=16))
    return r


def test_first_version_is_default(registry):
    registry.create_model("vector_encoding", "embedding", HashingEmbedder(dim=32))
    assert registry.get("vector_encoding").version == 1  # README.md:718
    assert registry.get("vector_encoding$2").provider.dim == 32


def test_alter_default(registry):
    registry.create_model("vector_encoding", "embedding", HashingEmbedder(dim=32))
    registry.alter_default("vector_encoding", 2)
    assert registry.get("vector_encoding").version == 2


def test_missing_version_404(registry):
    with pytest.raises(ModelNotFound):
        registry.get("vector_encoding$9")  # README.md:657
    with pytest.raises(ModelNotFound):
        registry.get("nope")
    with pytest.raises(ModelNotFound):
        registry.alter_default("vector_encoding", 9)


def test_describe_all(spark, registry):
    registry.create_model("vector_encoding", "embedding", HashingEmbedder(dim=32))
    one = registry.describe(spark, "vector_encoding").collect()
    assert len(one) == 1 and one[0].version == 1 and one[0].is_default
    both = registry.describe(spark, "vector_encoding$all").collect()
    assert [r.version for r in both] == [1, 2]


def test_embedder_deterministic_and_normalized(registry):
    e = registry.get("vector_encoding").provider
    v1, v2 = e.embed_batch(["hello world"]), e.embed_batch(["hello world"])
    assert v1 == v2
    norm = sum(x * x for x in v1[0]) ** 0.5
    assert norm == pytest.approx(1.0)
    # shared tokens → closer than disjoint tokens
    a, b, c = e.embed_batch(["red shoes", "red boots", "quantum flux"])
    dot_ab = sum(x * y for x, y in zip(a, b))
    dot_ac = sum(x * y for x, y in zip(a, c))
    assert dot_ab > dot_ac


def test_ml_predict_appends_column(spark, registry):
    df = spark.createDataFrame([("a question",)], "content string")
    out = registry.ml_predict(df, "vector_encoding", "content")
    row = out.first()
    assert out.columns == ["content", "vector"]
    assert len(row.vector) == 16


def test_template_llm_json_shape():
    llm = TemplateLLM()
    (resp,) = llm.complete_batch(["what shoes?"])
    body = json.loads(resp)
    assert body["role"] == "assistant" and "content" in body


def test_parse_golden_embedding_response():
    """Golden capture from the reference repo (1536 floats, README.md:144-168)."""
    with open(GOLDEN) as f:
        payload = f.read()
    vecs = parse_embedding_response(payload)
    assert len(vecs) == 1 and len(vecs[0]) == 1536
    body = json.loads(payload)
    assert body["model"] == "text-embedding-3-small"
    assert body["usage"]["prompt_tokens"] in (11, 12)  # README.md:164-166


def test_all_golden_payloads_parse():
    """All four captured provider responses from the reference repo
    (files/sampleVectorSearches/) parse to 1536-dim vectors."""
    import glob

    files = sorted(glob.glob(os.path.join(os.path.dirname(__file__), "fixtures", "embedding_*.json")))
    assert len(files) == 4
    for path in files:
        with open(path) as f:
            vecs = parse_embedding_response(f.read())
        assert len(vecs) == 1 and len(vecs[0]) == 1536


# --- HttpChatProvider retry policy, against a scripted local server ---

_HANG_UP = "hang up"  # close the connection without answering
_STALL = "stall"  # answer nothing for 0.5 s, then hang up


class _ScriptedServer(ThreadingHTTPServer):
    """Answers the n-th POST with ``replies[n]`` (the last one repeats):
    ``(status, headers)``, :data:`_HANG_UP` or :data:`_STALL`."""

    daemon_threads = True

    def __init__(self, replies):
        super().__init__(("127.0.0.1", 0), _ScriptedHandler)
        self.replies = list(replies)
        self.requests = 0
        self.lock = threading.Lock()


class _ScriptedHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server: _ScriptedServer

    def log_message(self, *args):
        pass

    def do_POST(self):
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        srv = self.server
        with srv.lock:
            srv.requests += 1
            reply = srv.replies[min(srv.requests, len(srv.replies)) - 1]
        if reply in (_HANG_UP, _STALL):
            if reply == _STALL:
                time.sleep(0.5)
            self.close_connection = True
            return
        status, headers = reply
        if status == 200:
            body = {"data": [{"index": 0, "embedding": [1.0, 0.0]}]}
        else:
            body = {"error": {"message": f"status {status}"}}
        payload = json.dumps(body).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        for k, v in headers.items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(payload)


@pytest.fixture()
def scripted():
    """``scripted(*replies)`` → (server, endpoint URL); stopped after the test."""
    servers = []

    def start(*replies):
        srv = _ScriptedServer(replies)
        threading.Thread(target=srv.serve_forever, kwargs={"poll_interval": 0.05},
                         daemon=True).start()
        servers.append(srv)
        return srv, f"http://127.0.0.1:{srv.server_address[1]}"

    yield start
    for srv in servers:
        srv.shutdown()
        srv.server_close()


@pytest.fixture()
def waits(monkeypatch):
    """The client's retry waits, recorded instead of slept."""
    seen = []
    monkeypatch.setattr(providers, "time", types.SimpleNamespace(sleep=seen.append,
                                                                 time=time.time))
    return seen


def test_http_429_waits_retry_after_not_a_fixed_second(scripted):
    srv, url = scripted((429, {"Retry-After": "0.05"}), (200, {}))
    t0 = time.perf_counter()
    assert HttpChatProvider(endpoint=url).embed_batch(["a"]) == [[1.0, 0.0]]
    assert time.perf_counter() - t0 < 0.5
    assert srv.requests == 2


@pytest.mark.parametrize("status", [400, 401, 403, 404])
def test_http_other_4xx_fails_on_first_response(scripted, waits, status):
    srv, url = scripted((status, {}))
    with pytest.raises(urllib.error.HTTPError) as e:
        HttpChatProvider(endpoint=url, max_retries=3).embed_batch(["a"])
    assert e.value.code == status
    assert json.loads(e.value.read()) == {"error": {"message": f"status {status}"}}
    assert srv.requests == 1 and waits == []


def test_http_5xx_exhausts_retries_with_capped_jittered_backoff(scripted, waits):
    srv, url = scripted((500, {}))
    with pytest.raises(urllib.error.HTTPError) as e:
        HttpChatProvider(endpoint=url, max_retries=4, timeout_s=0.2).embed_batch(["a"])
    assert e.value.code == 500
    assert json.loads(e.value.read()) == {"error": {"message": "status 500"}}
    assert srv.requests == 4
    assert len(waits) == 3 and all(0.0 <= w <= 0.2 for w in waits)


def test_http_retry_after_capped_at_timeout(scripted, waits):
    srv, url = scripted((429, {"Retry-After": "120"}), (200, {}))
    assert HttpChatProvider(endpoint=url, timeout_s=0.2).embed_batch(["a"]) == [[1.0, 0.0]]
    assert waits == [0.2] and srv.requests == 2


def test_http_retry_after_http_date(scripted, waits):
    date = email.utils.formatdate(time.time() + 30, usegmt=True)
    srv, url = scripted((503, {"Retry-After": date}), (200, {}))
    assert HttpChatProvider(endpoint=url, timeout_s=60).embed_batch(["a"]) == [[1.0, 0.0]]
    assert len(waits) == 1 and 28 <= waits[0] <= 30


def test_retry_after_values(monkeypatch):
    date = "Wed, 21 Oct 2015 07:28:00 GMT"
    at = email.utils.parsedate_to_datetime(date).timestamp()
    for now, want in ((at - 12.5, 12.5), (at + 60, 0.0)):
        monkeypatch.setattr(providers, "time", types.SimpleNamespace(time=lambda: now))
        assert providers._retry_after_s(date) == want
        assert providers._retry_after_s(date.replace("GMT", "-0000")) == want
    assert providers._retry_after_s("0.05") == 0.05
    assert providers._retry_after_s("-3") == 0.0
    for bad in (None, "", "soon", "nan", "inf"):
        assert providers._retry_after_s(bad) is None


@pytest.mark.parametrize("first", [_HANG_UP, _STALL])
def test_http_retries_a_connection_dropped_before_the_answer(scripted, waits, first):
    """``urllib`` wraps only send errors in ``URLError``: a server that
    hangs up (``RemoteDisconnected``) or stalls past the timeout
    (``TimeoutError``) while the answer is read must be retried too."""
    srv, url = scripted(first, (200, {}))
    assert HttpChatProvider(endpoint=url, timeout_s=0.2).embed_batch(["a"]) == [[1.0, 0.0]]
    assert srv.requests == 2 and len(waits) == 1
