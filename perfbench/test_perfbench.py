"""Self-tests for the benchmark at a tiny size (inputs of sf0.001 size, a
few dozen ops per workload). Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402  (needs HERE on sys.path)

TINY = "0.01"


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_lists_runnable_workloads():
    assert {w["name"] for w in _benchmark()["workloads"]} <= set(WORKLOADS)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = _benchmark()["per_layer" if trace else "end_to_end"]
    assert {n: v["unit"] for n, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    from session import BenchSession

    s = BenchSession(str(tmp_path_factory.mktemp("perfbench")), "perfbench-selftest")
    yield s
    s.close()


def test_cpu_clock_counts_jvm_work(session):
    """A Spark job's CPU time is spent in the JVM: the driver's CPU
    clock sees it, this process's own CPU time does not."""
    import time

    cpu0, py0 = session.cpu_s(), time.process_time()
    session.spark.range(0, 50_000_000).selectExpr("sum(id % 1000)").collect()
    assert session.cpu_s() - cpu0 > 2 * (time.process_time() - py0)


@pytest.mark.parametrize(
    "module, cls, steps",
    [("oltp", "OltpCommits", 60), ("contended", "ContendedWriters", 8),
     ("bulk", "BulkScanDml", 16)],
)
def test_store_call_counts_match_objects_created(session, tmp_path, module, cls, steps):
    """Every object under the store root was created by a traced store
    call, and every traced successful create left one object."""
    import importlib

    from harness import Recorder
    from tracer import Tracer

    wl = getattr(importlib.import_module(module), cls)(
        session.spark, str(tmp_path), seed=7, scale=float(TINY)
    )
    root = str(tmp_path / "store")
    tracer = Tracer()
    tracer.install()
    try:
        rec = Recorder(tracer=tracer)
        state = wl.setup(root, rec)
        for _ in range(steps):
            wl.step(state, rec)
    finally:
        tracer.uninstall()
    assert rec.failed == 0, rec.failures
    m = tracer.layer_metrics()
    objects = [n for n in os.listdir(root) if os.path.isfile(os.path.join(root, n))]
    overwritten = [n for n in objects if n == "_last_checkpoint"]
    created = (
        m["storage.put_if_absent.calls"]
        - m["storage.put_if_absent.collisions"]
        + m["storage.put_file_if_absent.calls"]
    )
    assert len(objects) - len(overwritten) == created - m["storage.delete.calls"]
    assert len(overwritten) == (1 if m["storage.put.calls"] else 0)
    logs = [n for n in objects if n.startswith("_log_")]
    assert len(logs) == m["client.tx.commit.attempts"] - m["client.tx.commit.retries"]
