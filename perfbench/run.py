#!/usr/bin/env python3
"""Run one benchmark workload of the streaming RAG pipeline.

Usage, from the repository root::

    python3 perfbench/run.py --workload questions_local --seed 1 --seconds 16 --trace 0

Workloads: ``questions_local`` and ``catalog_remote``
(see ``workloads.py``). Every metric is printed as ``name value unit
n=samples``, then the correctness checks, then one JSON line (the last
line): ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` adds a traced drain and
reports the per-layer metrics, writing the spans to
``.perfbench_work/traces/<workload>-seed<n>.jsonl``.

All scratch space (Spark local dirs, temp files, sinks) lives under
``.perfbench_work/`` in the repository and is removed when the run ends,
except the trace files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "confluent_kafka_vector_search_prompt_inference_spark"


def configure_env(work: Path) -> None:
    """Point every scratch path of Python, the JVM and Spark's workers into
    ``work``; must run before pyspark is imported."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # one core fewer than the machine has: it is left to the benchmark
    # process, the fake server and the JVM's own threads, so that Spark's
    # task threads do not queue behind them
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) - 1))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, str(ROOT))


def stop_children(timeout_s: float = 20.0) -> None:
    """Stop Spark and every process this one started, and wait for them."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.procstat import tree_pids

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=timeout_s / 2)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + timeout_s / 2
    while (left := [p for p in tree_pids(os.getpid()) if p != os.getpid()]):
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:  # reap our own children; grandchildren are reaped by init
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench_work"
    work = base / f"{a.workload}-{a.seed}-{os.getpid()}"
    configure_env(work)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    from perfbench import workloads

    if a.workload not in workloads.WORKLOADS:
        shutil.rmtree(work)
        ap.error(f"--workload must be one of {', '.join(workloads.WORKLOADS)}")
    try:
        rec = workloads.run(workloads.WORKLOADS[a.workload], a.seed, a.seconds, bool(a.trace),
                            str(work))
    finally:
        stop_children()
    if a.trace:
        rec.tracer.write(str(base / "traces" / f"{a.workload}-seed{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if a.trace:  # a layer the workload does not exercise reports 0
        for m in wanted:
            rec.metrics.setdefault(m["name"], workloads.Metric(0.0, m["unit"], 0))

    for name, m in sorted(rec.metrics.items()):
        print(f"{name} {m.value:.6g} {m.unit} n={m.samples}")
    print(f"failed_share {rec.failed / max(1, rec.attempted):.6g} ratio "
          f"n={rec.attempted}")
    for name, r in rec.checks.results.items():
        print(f"check {name} {'ok' if r['ok'] else 'FAILED'} "
              + " ".join(f"{k}={v}" for k, v in r.items() if k != "ok"))
    for sp in rec.tracer.spans:
        if sp.parent is None and sp.name != "batch":
            print(f"phase {sp.name} {sp.duration:.3f} s")
    for note in rec.notes:
        print(f"note {note}")
    metrics = {m["name"]: {"value": rec.metrics[m["name"]].value, "unit": m["unit"]}
               for m in wanted if m["name"] in rec.metrics}
    complete = len(metrics) == len(wanted)
    print(json.dumps({"correct": rec.checks.ok and complete, "attempted": max(1, rec.attempted),
                      "failed": rec.failed if complete else max(1, rec.failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
