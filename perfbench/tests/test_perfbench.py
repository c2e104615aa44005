"""Tests of the benchmark itself: generator, fake server, percentile rule,
tracing and the failure accounting of a stream that dies mid-drain.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The last test starts Spark and takes about half a minute.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
import textwrap
import threading
import urllib.error
import urllib.request
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, fake_server, gen  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402


def _digests(directory: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(directory.iterdir())}


def _write_all(seed: int, out: Path) -> None:
    feed = gen.product_feed(seed, 40, exact_share=0.2, near_share=0.2)
    gen.write_batches(feed.rows, gen.PRODUCT_SCHEMA, str(out / "feed"), 16)
    gen.write_batches(gen.catalog(seed, 30), gen.PRODUCT_SCHEMA, str(out / "catalog"), 10)
    gen.write_batches(gen.questions(seed, 40, repeat_share=0.3), gen.QUESTION_SCHEMA,
                      str(out / "questions"), 10)


def test_generator_is_byte_identical_per_seed(tmp_path):
    _write_all(7, tmp_path / "a")
    _write_all(7, tmp_path / "b")
    _write_all(8, tmp_path / "c")
    for sub in ("feed", "catalog", "questions"):
        a = _digests(tmp_path / "a" / sub)
        assert a and a == _digests(tmp_path / "b" / sub)
        assert a != _digests(tmp_path / "c" / sub)


def test_generator_shapes():
    qs = gen.questions(3, 200, repeat_share=0.3)
    assert [q["content"] for q in qs[:3]] == gen.CANONICAL_QUESTIONS
    assert len({q["sessionid"] for q in qs}) == len({q["email"] for q in qs}) == 200
    repeats = 200 - len({q["content"] for q in qs})
    assert 40 <= repeats <= 80  # about 30% repeat an earlier question
    assert len({q["content"] for q in gen.questions(3, 200, repeat_share=0.0)}) == 200

    feed = gen.product_feed(3, 50, exact_share=0.2, near_share=0.1)
    assert len(feed.rows) == 50 + 10 + 5
    order = [r["product_id"] for r in feed.rows]
    by_id = {r["product_id"]: r for r in feed.rows}
    for orig, copy in feed.exact_sets:
        assert by_id[orig]["content"] == by_id[copy]["content"]
        assert order.index(orig) < order.index(copy)
    for orig, copy in feed.near_sets:
        assert by_id[copy]["content"].startswith(by_id[orig]["content"])
    assert by_id[1]["content"].endswith(", product_id: 1")


@pytest.fixture
def server():
    srv = fake_server.FakeModelServer(("127.0.0.1", 0), dim=8, service_s=0.001,
                                      throttle_every=3, retry_after_s=0.05, max_conns=2)
    t = threading.Thread(target=srv.serve_forever, kwargs={"poll_interval": 0.05}, daemon=True)
    t.start()
    yield srv, f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()
    t.join(timeout=5)
    assert not t.is_alive()


def _post(url: str, body: dict) -> tuple[int, dict, dict]:
    req = urllib.request.Request(url, data=json.dumps(body).encode(),
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            return r.status, json.loads(r.read()), dict(r.headers)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read()), dict(e.headers)


def test_fake_throttles_every_nth_request(server):
    srv, url = server
    statuses = []
    for i in range(9):
        path = "/v1/embeddings" if i % 2 else "/v1/chat/completions"
        body = ({"input": ["a b"], "model": "m"} if i % 2 else
                {"model": "m", "messages": [{"role": "user", "content": f"p{i}"}]})
        status, _, headers = _post(url + path, body)
        statuses.append(status)
        if status == 429:
            assert float(headers["Retry-After"]) == 0.05
    assert statuses == [200, 200, 429] * 3
    assert [fake_server.is_throttled(n, 3) for n in range(1, 7)] == [False, False, True] * 2
    assert not fake_server.is_throttled(5, 0)
    with urllib.request.urlopen(url + "/stats", timeout=10) as r:
        stats = json.loads(r.read())
    assert (stats["requests"], stats["throttled"], stats["ok"]) == (9, 3, 6)
    assert stats["busy_s"] >= 6 * 0.001


def test_fake_responses_have_openai_shape_and_are_deterministic(server):
    _, url = server
    _, emb, _ = _post(url + "/v1/embeddings", {"input": ["red shoes", "hat"], "model": "m"})
    assert emb["object"] == "list" and [d["index"] for d in emb["data"]] == [0, 1]
    assert len(emb["data"][0]["embedding"]) == 8
    assert emb["data"][1]["embedding"] == fake_server.fake_embedding("hat", 8)
    _, chat, _ = _post(url + "/v1/chat/completions",
                       {"model": "m", "messages": [{"role": "user", "content": "hello"}]})
    assert chat["choices"][0]["message"] == fake_server.fake_reply("hello")


def test_percentile_rule_refuses_unsupported_percentiles():
    assert checks.percentile([1.0] * 99, 0.9) is None
    assert checks.percentile(list(range(100)), 0.9) == pytest.approx(89.1)
    assert checks.percentile([1.0] * 19, 0.5) is None
    assert checks.percentile(list(range(20)), 0.5) == pytest.approx(9.5)
    assert checks.percentile([], 0.5) is None


def test_brute_force_breaks_ties_by_id():
    import numpy as np

    c = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
    top = checks.brute_force_topk(np.array([[1.0, 0.0]]), c, np.array([9, 4, 1]), 2)
    assert top.tolist() == [[1, 0]]


def test_worker_spans_are_parented_to_the_containing_batch(tmp_path):
    tr = Tracer()
    b0 = tr.add("batch", 10.0, 20.0)
    b1 = tr.add("batch", 20.5, 30.0)
    lines = [{"name": "models.chat", "start": s, "end": s + 1, "rows": 2, "pid": 1}
             for s in (11.0, 25.0, 40.0)]
    (tmp_path / "worker-1.jsonl").write_text("".join(json.dumps(x) + "\n" for x in lines))
    tr.adopt_worker_spans(str(tmp_path), "batch")
    assert [s.parent for s in tr.named("models.chat")] == [b0.id, b1.id, None]
    tr.write(str(tmp_path / "out" / "spans.jsonl"))
    assert len((tmp_path / "out" / "spans.jsonl").read_text().splitlines()) == 5


_DYING_STREAM = textwrap.dedent("""
    import json, sys
    from pathlib import Path
    sys.path.insert(0, sys.argv[1])
    from perfbench import run
    work = Path(sys.argv[2])
    run.configure_env(work)
    from perfbench import workloads
    # catalog_remote, shrunk: a 50-row feed, an index probed whole, 4 batches
    workloads.DIM, workloads.SETUP_REPS = 16, 1
    workloads.MIN_BATCHES, workloads.QUESTIONS_PER_FILE = 4, 5
    workloads.FEED_PRODUCTS, workloads.FEED_PER_FILE = 40, 50
    workloads.IVF_CLUSTERS, workloads.RECALL_PROBES = 4, 5
    cfg = workloads.Config(kind="catalog", repeat_share=0.0, warmup_files=0,
                           fail_chat_status=500, fail_chat_after=10)
    try:
        rec = workloads.run(cfg, 1, 1, False, str(work))
    finally:
        run.stop_children()
    print(json.dumps({"attempted": rec.attempted, "failed": rec.failed,
                      "checks": rec.checks.results, "ok": rec.checks.ok,
                      "metrics": sorted(rec.metrics)}))
""")


def test_failed_share_counts_a_stream_that_dies_mid_drain(tmp_path):
    """Chat requests fail with 500 after the first ten: the client exhausts
    its retries, the micro-batch fails and the stream dies. Every question
    of an uncommitted batch counts as failed; committed ones do not."""
    p = subprocess.run([sys.executable, "-c", _DYING_STREAM, str(ROOT), str(tmp_path / "work")],
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["attempted"] == 20 + 50  # questions + feed rows
    assert not out["ok"]
    assert not out["checks"]["drain_completed"]["ok"]
    assert out["checks"]["index_holds_every_feed_row"]["ok"]
    assert out["checks"]["ivf_recall_at_3_floor"]["ok"]
    missing = out["checks"]["one_answer_per_question"]["bad"]
    assert 0 < missing < 20 and missing % 5 == 0  # whole micro-batches
    assert out["failed"] == missing
    assert "answers_per_s" in out["metrics"]
