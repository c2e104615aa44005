"""Correctness checks and the percentile rule.

A failed check marks the inputs it concerns as failed; it never raises, so
a run always ends with a record.
"""

from __future__ import annotations

import json
import math
import statistics
from collections import Counter

import numpy as np


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1) of ``values`` when at least ten samples
    lie beyond it, else ``None``: p90 needs 100 samples, the median 20."""
    n = len(values)
    if n == 0 or n * (1 - q) < 10 - 1e-9:
        return None
    s = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def prompt_json(question: str, products: list[str]) -> str:
    """The prompt string the pipeline builds (``to_json(struct(prompt,
    to_json(products)))``) for a question and its ranked product texts."""
    inner = json.dumps([{"content": c} for c in products], separators=(",", ":"))
    return json.dumps({"prompt": question, "products": inner}, separators=(",", ":"))


def brute_force_topk(qvecs: np.ndarray, cvecs: np.ndarray, cids: np.ndarray, k: int) -> np.ndarray:
    """Exact dot-product top-``k`` rows per query, ties broken by ascending
    id; returns row indexes into the corpus."""
    scores = np.asarray(qvecs, dtype=np.float64) @ np.asarray(cvecs, dtype=np.float64).T
    out = np.empty((len(qvecs), min(k, len(cids))), dtype=np.int64)
    for r in range(len(qvecs)):
        out[r] = np.lexsort((cids, -scores[r]))[: out.shape[1]]
    return out


class Checks:
    """Collects named check results and the ids of failed inputs."""

    def __init__(self) -> None:
        self.results: dict[str, dict] = {}
        self.failed_inputs: set = set()

    def record(self, name: str, bad: list, total: int, note: str = "") -> None:
        self.results[name] = {"ok": not bad, "bad": len(bad), "of": total,
                              **({"note": note} if note else {})}
        self.failed_inputs.update(bad)

    def fail(self, name: str, note: str) -> None:
        self.results[name] = {"ok": False, "note": note}

    @property
    def ok(self) -> bool:
        return all(r["ok"] for r in self.results.values())


def check_answers(checks: Checks, questions: list[dict], answers: list[dict],
                  expected: dict[str, str], emails: set[str], prefix: str = "") -> None:
    """One answer per question, no email in the sink, and each answer equal
    to the reply expected for its question (``expected``: sessionid →
    ``json_response``). Questions are keyed by ``sessionid``."""
    counts = Counter(a["sessionid"] for a in answers)
    sids = [q["sessionid"] for q in questions]
    checks.record(prefix + "one_answer_per_question",
                  [s for s in sids if counts.get(s, 0) != 1], len(sids))
    leaked = [a["sessionid"] for a in answers
              if "email" in a or any(e in (a.get("json_response") or "") for e in emails)]
    checks.record(prefix + "no_email_in_sink", leaked, len(answers))
    got = {a["sessionid"]: a.get("json_response") for a in answers}
    wrong = [s for s in sids if s in got and got[s] != expected.get(s)]
    checks.record(prefix + "answer_matches_reference", wrong, len(sids))


def recall_at_k(got: list[list], truth: list[list]) -> float:
    hits = sum(len(set(g) & set(t)) for g, t in zip(got, truth))
    return hits / max(1, sum(len(t) for t in truth))
