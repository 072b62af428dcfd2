"""Op recording, summary statistics and store accounting shared by the
workloads and the runner."""

from __future__ import annotations

import math
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

from tracer import NullTracer


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in [0, 1])."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered)))
    return ordered[rank - 1]


@dataclass
class Recorder:
    """Closed-loop op log: one sample per completed op (wall-clock and
    CPU seconds), plus the count of ops attempted and of failures
    (unexpected exceptions and failed correctness checks)."""

    tracer: Any = field(default_factory=NullTracer)
    cpu_clock: Callable[[], float] = time.process_time
    samples: list[tuple[str, float, float, int]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)

    def clock(self) -> tuple[float, float]:
        """(wall-clock, CPU) seconds, for differences."""
        return time.perf_counter(), self.cpu_clock()

    @contextmanager
    def op(self, kind: str, rows: int = 0):
        """Time one op. An exception inside is recorded as a failure and
        not re-raised, so the closed loop keeps going."""
        op_id = self.attempted
        self.attempted += 1
        wall = cpu = 0.0
        try:
            with self.tracer.op(op_id, kind):
                # the CPU clock is read outside the wall-clock interval
                cpu0 = self.cpu_clock()
                wall0 = time.perf_counter()
                try:
                    yield
                finally:
                    wall = time.perf_counter() - wall0
                    cpu = self.cpu_clock() - cpu0
        except Exception as e:  # the loop must survive any single op
            self.fail(f"{kind}: {type(e).__name__}: {e}")
            return
        self.samples.append((kind, wall, cpu, rows))

    def add_sample(self, kind: str, wall: float, cpu: float, rows: int = 0) -> None:
        """Record an op timed by the workload itself (interleaved txs)."""
        self.attempted += 1
        self.samples.append((kind, wall, cpu, rows))

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(f"check failed: {what}")

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(msg)
            print(f"perfbench: {msg}", file=sys.stderr)

    def bump(self, name: str, n: int = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def latencies_ms(self, kind: str | None = None) -> list[float]:
        return [1000.0 * s for k, s, _, _ in self.samples if kind is None or k == kind]

    def cpu_ms(self, kind: str | None = None) -> list[float]:
        return [1000.0 * c for k, _, c, _ in self.samples if kind is None or k == kind]


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except FileNotFoundError:
                pass
    return total


def live_data_bytes(store_root: str) -> int:
    """Bytes of the live data objects of every table, from a fresh log
    replay (read straight from disk, so tracing never sees it)."""
    from delta_lake_experiment_spark.plans.snapshot import replay_log
    from delta_lake_experiment_spark.storage.objectstore import LocalObjectStorage

    snap = replay_log(LocalObjectStorage(store_root))
    total = 0
    for table in snap.tables:
        for obj in snap.live_objects(table):
            total += os.path.getsize(os.path.join(store_root, obj.name))
    return total


def write_amp(store_roots: list[str]) -> float:
    """Bytes under the store roots ÷ bytes of live data objects."""
    stored = sum(dir_bytes(r) for r in store_roots)
    live = sum(live_data_bytes(r) for r in store_roots)
    return stored / live if live else float("nan")
