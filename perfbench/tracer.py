"""Outside-in tracer for the traced benchmark run.

The tracer patches the engine's public entry points from outside the
package (the package itself carries no instrumentation) and records one
span per call: name, start, end, parent span and the id of the benchmark
op that caused it. Spans stay in memory until :meth:`Tracer.dump`.

Layers and their boundaries:

- ``storage``: ``LocalObjectStorage`` methods (calls, busy time, bytes,
  put-if-absent collisions);
- ``plans.snapshot``: ``replay_log`` (patched in ``plans.snapshot`` AND
  under every name the package imports it by, so ``new_tx`` and commit
  retry replays are seen) and ``Snapshot.live_files`` (files considered
  vs returned by pruning);
- ``client.tx`` / ``client.write`` / ``client.dml`` / ``client.scan``:
  the ``DeltaLakeClient`` verbs;
- ``spark``: the benchmark's own actions on returned DataFrames, plus
  jobs, stages and tasks per op read from ``statusTracker`` by job group.

A layer's self time is its spans' durations minus their children's.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable, Optional

STORAGE_KINDS = (
    "put_if_absent",
    "put_file_if_absent",
    "put",
    "read",
    "list_prefix_ordered",
    "delete",
)
CLIENT_VERBS = {
    "new_tx": "client.tx",
    "commit_tx": "client.tx",
    "run_tx": "client.tx",
    "write_row": "client.write",
    "write_dataframe": "client.write",
    "delete_rows": "client.dml",
    "merge": "client.dml",
    "compact": "client.dml",
    "scan": "client.scan",
    "table_row_count": "client.scan",
}
# every module that binds ``replay_log`` at import time
REPLAY_MODULES = (
    "delta_lake_experiment_spark.plans.snapshot",
    "delta_lake_experiment_spark.plans",
    "delta_lake_experiment_spark.client",
    "delta_lake_experiment_spark.streaming.engine_source",
)
LOG_PREFIX = "_log_"
REPLAY = "plans.snapshot.replay"
COMMIT = "client.tx.commit_tx"
OP_KIND_LAYER = {"append": "client.write"}  # other mutating kinds are DML


class Tracer:
    """Span recorder plus counters. ``install`` patches, ``uninstall``
    restores; ``op`` brackets one benchmark op."""

    def __init__(self) -> None:
        # [name, start, end, parent index, op id]
        self.spans: list[list[Any]] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._patches: list[tuple[Any, str, Any]] = []
        self._op_id: Optional[int] = None
        self._op_kind: Optional[str] = None
        self._op_logs: list[str] = []
        self._spark = None

    # -- spans ----------------------------------------------------------

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self._op_id])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def inside(self, name: str) -> bool:
        return any(self.spans[i][0] == name for i in self._stack)

    # -- ops ------------------------------------------------------------

    @contextmanager
    def op(self, op_id: int, kind: str):
        """One benchmark op: its spans share ``op_id``; Spark jobs it
        launches are tagged with a job group and counted afterwards, and
        the log records it committed are read back and counted."""
        self._op_id, self._op_kind, self._op_logs = op_id, kind, []
        group = f"perfbench-op-{op_id}"
        if self._spark is not None:
            self._spark.sparkContext.setJobGroup(group, kind, False)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            if self._spark is not None:
                self._spark.sparkContext.setJobGroup("perfbench-idle", "idle", False)
                self._count_jobs(group)
            self._count_log_records()
            self._op_id = self._op_kind = None

    def _count_jobs(self, group: str) -> None:
        tracker = self._spark.sparkContext.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            self.counts["spark.jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks > 0:
                    self.counts["spark.stages"] += 1
                    self.counts["spark.tasks"] += stage.numCompletedTasks

    def _count_log_records(self) -> None:
        layer = OP_KIND_LAYER.get(self._op_kind, "client.dml")
        for path in self._op_logs:
            with open(path, "rb") as f:
                record = json.loads(f.read())
            for action in record.get("actions", ()):
                if "add" in action:
                    self.counts[f"{layer}.objects_added"] += 1
                    if layer == "client.write":
                        self.counts["client.write.rows"] += int(
                            action["add"].get("num_rows", 0)
                        )
                elif "remove" in action and layer == "client.dml":
                    self.counts["client.dml.objects_removed"] += 1

    # -- patching -------------------------------------------------------

    def _wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        after: Optional[Callable] = None,
        on_error: Optional[Callable] = None,
    ) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = tracer._open(name)
            try:
                out = orig(*args, **kwargs)
            except BaseException as e:
                tracer._close(idx)
                if on_error is not None:
                    on_error(e, args)
                raise
            tracer._close(idx)
            if after is not None:
                after(out, args)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self, spark=None) -> None:
        from delta_lake_experiment_spark.client import DeltaLakeClient
        from delta_lake_experiment_spark.errors import (
            ConcurrentCommitError,
            ObjectExistsError,
        )
        from delta_lake_experiment_spark.plans.snapshot import Snapshot
        from delta_lake_experiment_spark.storage.objectstore import (
            LocalObjectStorage,
        )

        self._spark = spark
        c = self.counts

        def put_ok(_out, args):
            store, name, data = args[0], args[1], args[2]
            c["storage.bytes_written"] += len(data)
            if name.startswith(LOG_PREFIX) and self.inside(COMMIT):
                c["client.tx.commit.attempts"] += 1
                c["client.tx.log_bytes"] += len(data)
                c["client.tx.commits"] += 1
                self._op_logs.append(store.path_of(name))

        def put_err(e, args):
            if isinstance(e, ObjectExistsError):
                c["storage.put_if_absent.collisions"] += 1
                if args[1].startswith(LOG_PREFIX) and self.inside(COMMIT):
                    c["client.tx.commit.attempts"] += 1
                    c["client.tx.commit.retries"] += 1

        def put_file_ok(_out, args):
            c["storage.bytes_written"] += os.path.getsize(args[2])

        def overwrite_ok(_out, args):
            c["storage.bytes_written"] += len(args[2])

        def read_ok(out, args):
            c["storage.bytes_read"] += len(out)
            if args[1].startswith(LOG_PREFIX) and self.inside(REPLAY):
                c["plans.snapshot.replay.records_read"] += 1

        hooks = {
            "put_if_absent": (put_ok, put_err),
            "put_file_if_absent": (put_file_ok, None),
            "put": (overwrite_ok, None),
            "read": (read_ok, None),
        }
        for kind in STORAGE_KINDS:
            after, on_error = hooks.get(kind, (None, None))
            self._wrap(LocalObjectStorage, kind, f"storage.{kind}", after, on_error)

        for mod_name in REPLAY_MODULES:
            mod = importlib.import_module(mod_name)
            if hasattr(mod, "replay_log"):
                self._wrap(mod, "replay_log", REPLAY)

        def live_files_ok(out, args):
            snap, table = args[0], args[1]
            c["plans.snapshot.live_files.considered"] += len(snap.live_map(table))
            c["plans.snapshot.live_files.returned"] += len(out)

        self._wrap(Snapshot, "live_files", "plans.snapshot.live_files", live_files_ok)

        def commit_err(e, _args):
            if isinstance(e, ConcurrentCommitError):
                c["client.tx.commit.conflicts"] += 1

        for verb, layer in CLIENT_VERBS.items():
            on_error = commit_err if verb == "commit_tx" else None
            self._wrap(DeltaLakeClient, verb, f"{layer}.{verb}", None, on_error)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- reporting ------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Inclusive and self seconds per span name."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is None:
                continue
            out[f"{name}|incl"] += end - start
            out[f"{name}|self"] += end - start - child[i]
            out[f"{name}|calls"] += 1
        return out

    def replay_quarters_ms(self) -> tuple[float, float]:
        """Mean replay duration over the first and the last quarter of
        replay calls: how replay cost grows with log length."""
        durs = [e - s for n, s, e, _, _ in self.spans if n == REPLAY and e]
        if not durs:
            return 0.0, 0.0
        q = max(1, len(durs) // 4)
        return (
            1000.0 * sum(durs[:q]) / q,
            1000.0 * sum(durs[-q:]) / q,
        )

    def layer_metrics(self) -> dict[str, float]:
        t = self.self_times()
        c = self.counts
        m: dict[str, float] = {}
        for kind in STORAGE_KINDS:
            m[f"storage.{kind}.calls"] = t.get(f"storage.{kind}|calls", 0.0)
            m[f"storage.{kind}.busy_s"] = t.get(f"storage.{kind}|incl", 0.0)
        m["storage.bytes_written"] = c["storage.bytes_written"]
        m["storage.bytes_read"] = c["storage.bytes_read"]
        m["storage.put_if_absent.collisions"] = c["storage.put_if_absent.collisions"]
        m["plans.snapshot.replay.calls"] = t.get(f"{REPLAY}|calls", 0.0)
        m["plans.snapshot.replay.self_s"] = t.get(f"{REPLAY}|self", 0.0)
        m["plans.snapshot.replay.records_read"] = c["plans.snapshot.replay.records_read"]
        first, last = self.replay_quarters_ms()
        m["plans.snapshot.replay.first_quarter_ms"] = first
        m["plans.snapshot.replay.last_quarter_ms"] = last
        m["plans.snapshot.live_files.considered"] = c["plans.snapshot.live_files.considered"]
        m["plans.snapshot.live_files.returned"] = c["plans.snapshot.live_files.returned"]
        m["client.tx.new_tx_self_s"] = t.get("client.tx.new_tx|self", 0.0)
        m["client.tx.commit_self_s"] = t.get(f"{COMMIT}|self", 0.0)
        m["client.tx.commit.attempts"] = c["client.tx.commit.attempts"]
        m["client.tx.commit.retries"] = c["client.tx.commit.retries"]
        m["client.tx.commit.conflicts"] = c["client.tx.commit.conflicts"]
        commits = c["client.tx.commits"]
        m["client.tx.log_bytes_per_commit"] = c["client.tx.log_bytes"] / commits if commits else 0.0
        for layer in ("client.write", "client.dml", "client.scan"):
            m[f"{layer}.self_s"] = sum(
                v for k, v in t.items() if k.startswith(f"{layer}.") and k.endswith("|self")
            )
        m["client.write.rows"] = c["client.write.rows"]
        m["client.write.objects_added"] = c["client.write.objects_added"]
        m["client.dml.objects_removed"] = c["client.dml.objects_removed"]
        m["client.dml.objects_added"] = c["client.dml.objects_added"]
        m["client.scan.plan_s"] = t.get("client.scan.scan|incl", 0.0)
        m["spark.jobs"] = c["spark.jobs"]
        m["spark.stages"] = c["spark.stages"]
        m["spark.tasks"] = c["spark.tasks"]
        m["spark.action_s"] = t.get("spark.action|incl", 0.0)
        m["trace.spans"] = float(len(self.spans))
        return m

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines (one span per line)."""
        with open(path, "w") as f:
            for name, start, end, parent, op_id in self.spans:
                f.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end,
                         "parent": parent, "op": op_id}
                    )
                    + "\n"
                )


class NullTracer:
    """Stand-in for the untraced run: ops and spans cost nothing."""

    @contextmanager
    def span(self, name: str):
        yield

    @contextmanager
    def op(self, op_id: int, kind: str):
        yield
