"""perfbench runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload oltp_commits --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, sets the workload up ``setup_reps`` times on fresh stores
(``setup_s`` is the median), then drives the last store in a closed
loop from one client thread for a fixed amount of work sized to take
about ``--seconds`` (see ``measure``) and checks every result.
With ``--trace 1`` it instead runs half the time untraced and half
traced (each on its own freshly set-up store) and reports the per-layer
metrics plus the tracing overhead. The last stdout line is the JSON
result; the lines before it give every metric with its sample count.

``BENCHMARK.json`` lists ``oltp_commits`` (metadata-bound) and
``bulk_scan_dml`` (Spark-bound). ``contended_writers`` (three clients
committing colliding transactions) runs the same way but is left out of
that list: three workloads at a run length that keeps them steady do not
fit the benchmark's time budget on a 4-core host.

Seeds: every input (keys, values, op mix, commit order, generated
tables) comes from ``--seed`` alone, so one seed repeats the same ops
on the same data; the engine only sees the generated inputs.

Flush policy: the engine's ``LocalObjectStorage`` fsyncs every object it
writes, and every store root lives under ``.perfbench-work`` in the
checkout, so both sides of a comparison flush to the same local
filesystem in the same way.

Clock: the contract's timings (``setup_s``, ``ops_per_cpu_s`` and the
``*_cpu_p50_ms`` medians) are CPU time of the driver (see
``BenchSession.cpu_s``), not wall-clock time. On a shared 4-vCPU VM the
hypervisor took the vCPUs away (``steal`` in ``/proc/stat``) for up to
a third of the time the benchmark ran, in phases lasting minutes, and
wall-clock timings of the same code differed by up to 2x from one run
to the next; CPU time leaves the stolen time out, though it still rises
by up to a quarter while the host is busy. CPU time also leaves out
time spent waiting on the disk (fsync), so the wall-clock latencies are
printed beside it for every op kind, but they are not contract metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import statistics
import sys

from harness import Recorder, percentile, write_amp
from session import REPO_ROOT, BenchSession
from tracer import Tracer

WORKLOADS = {
    "oltp_commits": ("oltp", "OltpCommits"),
    "bulk_scan_dml": ("bulk", "BulkScanDml"),
    "contended_writers": ("contended", "ContendedWriters"),
}
# (name, unit): the contract metrics printed with --trace 0
END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_cpu_s", "1/s"),
    ("op_cpu_p50_ms", "ms"),
    ("append_cpu_p50_ms", "ms"),
    ("delete_cpu_p50_ms", "ms"),
    ("write_amp", "ratio"),
    ("peak_rss_mb", "MB"),
)
OP_KINDS = ("append", "delete", "delete_dv", "merge", "read", "compact")


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "B"
    if name.endswith("share"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    return list(Tracer().layer_metrics()) + ["trace.overhead_share"]


def measure(wl, state, seconds: float, rec: Recorder) -> Recorder:
    """Closed loop: the next op starts when the previous one returns.

    The amount of work is fixed by ``seconds`` alone: whole cycles of
    the workload's seeded sequence, as many as take ``seconds`` at the
    workload's nominal cycle time (``wl.cycle_s``, measured on a 4-core
    host). It never depends on measured speed, so every run of a seed
    does the same ops on the same data and faster code finishes sooner
    rather than doing more. Results are checked op by op;
    ``wl.verify`` makes the final check."""
    steps = max(1, round(seconds / wl.cycle_s)) * wl.cycle_steps
    for _ in range(steps):
        wl.step(state, rec)
    return rec


def tail_pct(n: int, top: float) -> float:
    """``top``, lowered (not below p50) until at least 10 of ``n``
    samples lie beyond it."""
    return max(0.5, min(top, math.floor(100 * (n - 10) / n) / 100))


def summarize(wl, rec: Recorder, setups: list[tuple[float, float]], roots: list[str],
              rss_mb: float):
    """Metrics as {name: (value, unit, n, note)}: the CPU-time metrics
    the contract lists, then their wall-clock counterparts."""
    cpu, lat = rec.cpu_ms(), rec.latencies_ms()
    setup_cpu = [c for _, c in setups]
    setup_wall = statistics.median(w for w, _ in setups)
    tail = tail_pct(len(lat), wl.tail)
    beyond = f"p{100 * tail:g}, {len(lat) - math.ceil(tail * len(lat))} samples beyond"
    out = {
        "setup_s": (
            statistics.median(setup_cpu), "s", len(setups),
            "median CPU s of set-ups " + " ".join(f"{t:.3f}" for t in setup_cpu)
            + f" (wall median {setup_wall:.3f} s)",
        ),
        # the loop's own bookkeeping between ops is left out
        "ops_per_cpu_s": (
            1000 * len(cpu) / sum(cpu), "1/s", len(cpu),
            f"completed ops / {sum(cpu) / 1000:.1f} CPU s inside them",
        ),
        "op_cpu_p50_ms": (percentile(cpu, 0.5), "ms", len(cpu), "all ops"),
        "op_cpu_tail_ms": (percentile(cpu, tail), "ms", len(cpu), beyond),
    }
    for kind in OP_KINDS:
        k_cpu = rec.cpu_ms(kind)
        if k_cpu:
            out[f"{kind}_cpu_p50_ms"] = (percentile(k_cpu, 0.5), "ms", len(k_cpu), "")
    out["ops_per_s"] = (
        1000 * len(lat) / sum(lat), "1/s", len(lat),
        f"completed ops / {sum(lat) / 1000:.1f} s inside them",
    )
    out["latency_p50_ms"] = (percentile(lat, 0.5), "ms", len(lat), "all ops")
    out["latency_tail_ms"] = (percentile(lat, tail), "ms", len(lat), beyond)
    for kind in OP_KINDS:
        k_lat = rec.latencies_ms(kind)
        if k_lat:
            out[f"{kind}_p50_ms"] = (percentile(k_lat, 0.5), "ms", len(k_lat), "")
    # a median, like the latencies: one stalled append must not set it
    rates = [rows / s for k, s, _, rows in rec.samples if k == "append"]
    if rates:
        out["ingest_rows_per_s"] = (
            statistics.median(rates), "1/s", len(rates),
            "median over appends of rows / seconds",
        )
    txs = rec.attempted
    out["conflict_share"] = (
        rec.counts.get("abandoned", 0) / txs, "ratio", txs,
        f"{rec.counts.get('conflicts', 0)} commits raised and were retried whole",
    )
    out["error_share"] = (rec.failed / txs, "ratio", txs, "unexpected errors + failed checks")
    out["write_amp"] = (write_amp(roots), "ratio", 1, "store bytes / live data bytes")
    out["peak_rss_mb"] = (rss_mb, "MB", 1, "driver Python + JVM VmHWM")
    return out


def print_table(title: str, rows: dict) -> None:
    print(f"== {title}")
    for name, (value, unit, n, note) in rows.items():
        print(f"  {name:44s} {value:14.4f} {unit:6s} n={n:<6d} {note}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (self-tests use a tiny one)")
    args = ap.parse_args(argv)

    mod_name, cls_name = WORKLOADS[args.workload]
    # import the workload (and the engine) before starting any process:
    # without the engine package this fails here, with no result line
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    wl_cls = getattr(importlib.import_module(mod_name), cls_name)

    work = os.path.join(REPO_ROOT, ".perfbench-work")
    run_dir = os.path.join(work, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(run_dir)
    session = None
    try:
        session = BenchSession(run_dir, f"perfbench-{args.workload}")
        inputs = os.path.join(run_dir, "inputs")
        os.makedirs(inputs)
        wl = wl_cls(session.spark, inputs, args.seed, scale=args.scale)

        setup_rec = Recorder(cpu_clock=session.cpu_s)
        states, setups = [], []
        for rep in range(wl.setup_reps):
            root = os.path.join(run_dir, f"store{rep}")
            wall0, cpu0 = setup_rec.clock()
            states.append(wl.setup(root, setup_rec))
            wall1, cpu1 = setup_rec.clock()
            setups.append((wall1 - wall0, cpu1 - cpu0))

        if args.trace:
            half = args.seconds / 2
            plain = measure(wl, states[-2], half, Recorder(cpu_clock=session.cpu_s))
            tracer = Tracer()
            tracer.install(session.spark)
            try:
                traced = measure(
                    wl, states[-1], half, Recorder(tracer=tracer, cpu_clock=session.cpu_s)
                )
            finally:
                tracer.uninstall()
            wl.verify(states[-2], plain)
            wl.verify(states[-1], traced)
            recs = [plain, traced]
            rows = summarize(wl, traced, setups, wl.roots(states[-1]), session.peak_rss_mb())
            print_table(f"{args.workload} seed={args.seed} traced half", rows)
            layers = tracer.layer_metrics()
            p_plain = percentile(plain.latencies_ms(), 0.5)
            p_traced = percentile(traced.latencies_ms(), 0.5)
            layers["trace.overhead_share"] = p_traced / p_plain - 1.0
            n_ops = max(1, len(traced.samples))
            print(f"== per layer ({n_ops} traced ops; untraced p50 {p_plain:.4f} ms,"
                  f" traced p50 {p_traced:.4f} ms)")
            for name, value in layers.items():
                print(f"  {name:44s} {value:16.6f} {layer_unit(name)}")
            trace_dir = os.path.join(work, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.jsonl"))
            metrics = {n: {"value": layers[n], "unit": layer_unit(n)} for n in per_layer_names()}
        else:
            jit0 = session.jit_cpu_s()
            rec = measure(wl, states[-1], args.seconds, Recorder(cpu_clock=session.cpu_s))
            jit_s = session.jit_cpu_s() - jit0
            wl.verify(states[-1], rec)
            recs = [rec]
            rows = summarize(wl, rec, setups, wl.roots(states[-1]), session.peak_rss_mb())
            rows["jit_cpu_s"] = (jit_s, "s", 1, "JIT compiler threads while measuring (not in CPU times)")
            print_table(f"{args.workload} seed={args.seed}", rows)
            metrics = {n: {"value": rows[n][0], "unit": u} for n, u in END_TO_END}

        attempted = setup_rec.attempted + sum(r.attempted for r in recs)
        failed = setup_rec.failed + sum(r.failed for r in recs)
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
