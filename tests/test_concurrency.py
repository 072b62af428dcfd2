"""Multi-PROCESS writer stress: the reference's known-broken concurrent
writers case (reference main_test.go:177 `TODO TestConcurrentWriters
fails to commit`) must hold here at real OS-process contention —
N writers x M commits against ONE store, zero lost commits.

The row-at-a-time write path (`write_row` -> pyarrow flush -> log
commit) never touches Spark, so worker processes run the genuine client
against the shared store with a no-op SparkSession shim — what's under
test is exactly the concurrency contract: atomic put-if-absent commits,
snapshot replay, and `retry_independent` disjoint-table retargeting /
`run_tx` same-table OCC retry.
"""

import json
import multiprocessing as mp

import pytest

import delta_lake_experiment_spark.plans.protocol as protomod
from delta_lake_experiment_spark import DeltaLakeClient
from delta_lake_experiment_spark.errors import UnsupportedTableFeatureError
from delta_lake_experiment_spark.plans.snapshot import (
    LOG_PREFIX,
    log_name,
    read_record,
    replay_log,
)
from delta_lake_experiment_spark.storage.objectstore import LocalObjectStorage

N_WRITERS = 4
N_COMMITS = 6
ROWS_PER_COMMIT = 5


class _NoSparkConf:
    def set(self, k, v):
        pass

    def get(self, k, default=None):
        return default


class _NoSpark:
    """Shim for the metadata-only write path (write_row never reaches
    Spark); any accidental Spark use in a worker fails loudly."""

    conf = _NoSparkConf()

    def __getattr__(self, name):  # pragma: no cover
        raise AssertionError(f"worker unexpectedly touched spark.{name}")


def _disjoint_writer(root: str, wid: int, q) -> None:
    try:
        c = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=0)
        table = f"t{wid}"
        c.new_tx()
        c.create_table(table, "k BIGINT, v BIGINT")
        c.commit_tx(retry_independent=100)
        for i in range(N_COMMITS):
            c.new_tx()
            for j in range(ROWS_PER_COMMIT):
                c.write_row(table, [wid * 10_000 + i * 100 + j, i])
            # disjoint tables: version collisions retarget, never lose
            c.commit_tx(retry_independent=100)
        q.put((wid, "ok"))
    except BaseException as e:  # pragma: no cover
        q.put((wid, f"{type(e).__name__}: {e}"))


def _shared_writer(root: str, wid: int, q) -> None:
    try:
        c = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=0)
        for i in range(N_COMMITS):

            def _write(cl):
                for j in range(ROWS_PER_COMMIT):
                    cl.write_row("shared", [wid * 10_000 + i * 100 + j, wid])

            # same table, pure appends: file-granularity admission (r9)
            # retargets + restamps these inside commit_tx; run_tx's
            # whole-tx retry still backstops retry-budget exhaustion
            # under 4-way contention
            c.run_tx(_write, retries=200)
        q.put((wid, "ok"))
    except BaseException as e:  # pragma: no cover
        q.put((wid, f"{type(e).__name__}: {e}"))


def _run_workers(target, root):
    ctx = mp.get_context("spawn")  # clean children (no inherited JVM)
    q = ctx.Queue()
    procs = [
        ctx.Process(target=target, args=(root, wid, q)) for wid in range(N_WRITERS)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=300) for _ in procs]
    for p in procs:
        p.join(timeout=60)
    assert all(r[1] == "ok" for r in results), results


def test_multiprocess_disjoint_writers(tmp_path):
    """4 processes x (1 create + 6 commits) on disjoint tables: every
    commit lands (retry_independent retargets version collisions), all
    rows present, log versions gapless and unique."""
    root = str(tmp_path / "store")
    _run_workers(_disjoint_writer, root)

    store = LocalObjectStorage(root)
    snap = replay_log(store)
    for wid in range(N_WRITERS):
        objs = snap.live_objects(f"t{wid}")
        assert sum(o.num_rows for o in objs) == N_COMMITS * ROWS_PER_COMMIT
    versions = [int(n[len(LOG_PREFIX):]) for n in store.list_prefix_ordered(LOG_PREFIX)]
    expected = N_WRITERS * (1 + N_COMMITS)
    assert versions == list(range(1, expected + 1)), "lost or duplicated commits"


def test_multiprocess_shared_table_serializes(tmp_path):
    """4 processes x 6 commits into ONE table: append-append commits
    are ADMITTED at file granularity (retarget + stamp re-key inside
    commit_tx, r9), with run_tx's whole-tx retry backstopping budget
    exhaustion — the final state holds every writer's every row
    exactly once, no log record contains another writer's actions
    (commit atomicity), and the re-keyed ``_tx_id``/``_row_idx``
    stamps stay UNIQUE per table (the ordering invariant same-table
    admission must preserve)."""
    root = str(tmp_path / "store")
    store = LocalObjectStorage(root)
    boot = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=0)
    boot.new_tx()
    boot.create_table("shared", "k BIGINT, v BIGINT")
    boot.commit_tx()

    _run_workers(_shared_writer, root)

    snap = replay_log(store)
    objs = snap.live_objects("shared")
    assert sum(o.num_rows for o in objs) == N_WRITERS * N_COMMITS * ROWS_PER_COMMIT
    # stamp uniqueness: same-table admission re-keys fresh stamps, so
    # no two rows of the table may share a (_tx_id, _row_idx) pair —
    # newest-first ordering and latest-wins stay deterministic
    import pyarrow.parquet as pq

    stamps = []
    for o in objs:
        t = pq.read_table(store.path_of(o.name), columns=["_tx_id", "_row_idx"])
        stamps.extend(zip(t["_tx_id"].to_pylist(), t["_row_idx"].to_pylist()))
    assert len(stamps) == len(set(stamps)), "colliding row stamps after admission"
    # every log record is exactly one writer's one commit: its adds all
    # target `shared` and carry the record's own tx id (serialization)
    seen_ids = set()
    for name in store.list_prefix_ordered(LOG_PREFIX):
        rec = json.loads(store.read(name))
        assert int(rec["id"]) == int(name[len(LOG_PREFIX):])
        assert rec["id"] not in seen_ids
        seen_ids.add(rec["id"])
    assert len(seen_ids) == 1 + N_WRITERS * N_COMMITS, "lost commits"


def _mixed_writer(root: str, wid: int, q) -> None:
    """Appends + periodic COW deletes of the worker's OWN earlier keys
    (disjoint ranges per worker, so stat-pruned deletes target only
    own objects): stresses r9's file-granularity admission — blind
    appends and disjoint COW deletes retarget+restamp inside
    commit_tx; run_tx backstops budget exhaustion."""
    try:
        c = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=0)
        base = wid * 1_000_000
        for i in range(N_COMMITS):

            def _append(cl):
                for j in range(ROWS_PER_COMMIT):
                    cl.write_row("mixed", [base + i * 100 + j, wid])

            c.run_tx(_append, retries=200)
            if i % 2 == 1:  # delete the previous commit's first 2 rows

                def _delete(cl):
                    lo = base + (i - 1) * 100
                    cl.delete_rows("mixed", "k", lo, lo + 1)

                c.run_tx(_delete, retries=200)
        q.put((wid, "ok"))
    except BaseException as e:  # pragma: no cover
        q.put((wid, f"{type(e).__name__}: {e}"))


def test_multiprocess_mixed_appends_and_deletes(tmp_path):
    """4 processes interleaving appends and own-range COW deletes on
    ONE table under real OS races: no lost commit, no lost or
    double-applied delete, and the re-keyed stamps stay globally
    unique."""
    root = str(tmp_path / "store")
    store = LocalObjectStorage(root)
    boot = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=0)
    boot.new_tx()
    boot.create_table("mixed", "k BIGINT, v BIGINT")
    boot.commit_tx()
    _run_workers(_mixed_writer, root)

    snap = replay_log(store)
    objs = snap.live_objects("mixed")
    deletes_per_worker = (N_COMMITS // 2) * 2
    expected = N_WRITERS * (N_COMMITS * ROWS_PER_COMMIT - deletes_per_worker)
    assert sum(o.num_rows for o in objs) == expected
    import pyarrow.parquet as pq

    stamps, keys = [], []
    for o in objs:
        t = pq.read_table(store.path_of(o.name), columns=["k", "_tx_id", "_row_idx"])
        stamps.extend(zip(t["_tx_id"].to_pylist(), t["_row_idx"].to_pylist()))
        keys.extend(t["k"].to_pylist())
    assert len(stamps) == len(set(stamps)), "colliding stamps after admission"
    # exactly the undeleted keys survive, each once
    want = sorted(
        wid * 1_000_000 + i * 100 + j
        for wid in range(N_WRITERS)
        for i in range(N_COMMITS)
        for j in range(ROWS_PER_COMMIT)
        if not (i % 2 == 0 and i + 1 < N_COMMITS and j < 2)
    )
    assert sorted(keys) == want


def _drop_churn_writer(root: str, wid: int, q) -> None:
    try:
        c = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=0)
        for i in range(3):
            table = f"churn{wid}"

            def _create(cl):
                cl.create_table(table, "k BIGINT, v BIGINT")
                for j in range(ROWS_PER_COMMIT):
                    cl.write_row(table, [wid * 10_000 + i * 100 + j, i])

            c.run_tx(_create, retries=200)

            def _append(cl):
                cl.write_row("survivor", [wid * 10_000 + i, wid])

            c.run_tx(_append, retries=200)
            c.run_tx(lambda cl: cl.drop_table(table), retries=200)
        q.put((wid, "ok"))
    except BaseException as e:  # pragma: no cover
        q.put((wid, f"{type(e).__name__}: {e}"))


def test_multiprocess_drop_churn(tmp_path):
    """4 processes x 3 create/append/drop cycles against one store:
    every worker's churn table ends dropped, the shared survivor table
    loses nothing, and the racing FIRST-drop protocol pre-stamps
    converge to exactly ONE dropTable protocol record (the
    _commit_protocol_record put-if-absent loop under real contention)."""
    root = str(tmp_path / "store")
    seed = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=0)
    seed.new_tx()
    seed.create_table("survivor", "k BIGINT, v BIGINT")
    seed.commit_tx()
    _run_workers(_drop_churn_writer, root)
    store = LocalObjectStorage(root)
    snap = replay_log(store)
    assert set(snap.tables) == {"survivor"}
    rows = sum(o.num_rows for o in snap.live_objects("survivor"))
    assert rows == N_WRITERS * 3  # one append per cycle, none lost
    n_stamps = sum(
        1
        for name in store.list_prefix_ordered(LOG_PREFIX)
        for a in json.loads(store.read(name)).get("actions", [])
        if "protocol" in a and "dropTable" in a["protocol"].get("rf", [])
    )
    assert n_stamps == 1
    # the dropped tables' data is unreferenced: vacuum reclaims it all
    deleted = seed.vacuum(retain_versions=0)
    assert deleted >= N_WRITERS * 3  # every churn cycle left >=1 object
    left = set(store.list_prefix_ordered("table_"))
    assert left == {o.name for o in replay_log(store).live_objects("survivor")}


class _ReadCountingStore(LocalObjectStorage):
    """Counts reads per object name."""

    def __init__(self, root):
        super().__init__(root)
        self.reads = {}

    def read(self, name):
        self.reads[name] = self.reads.get(name, 0) + 1
        return super().read(name)


def test_warm_client_sees_other_commits_and_writer_gate(tmp_path, monkeypatch):
    """A client keeps its snapshot between transactions: its next
    new_tx folds another client's commits, and a protocol upgrade to a
    writer feature it lacks stops its commit with the named error, both
    on a commit retry and on a fresh tx."""
    root = str(tmp_path / "store")
    a = DeltaLakeClient(_NoSpark(), root)
    b = DeltaLakeClient(_NoSpark(), root)
    a.new_tx()
    a.create_table("t", "k BIGINT, v BIGINT")
    a.commit_tx()
    a.new_tx()
    a.abort_tx()  # warm: a keeps v1

    b.new_tx()
    b.write_row("t", [1, 10])
    b.commit_tx()
    a.new_tx()
    assert a.tx.id == 3
    assert a.tx.snapshot == replay_log(a.store)
    assert len(a.tx.snapshot.live_objects("t")) == 1
    a.write_row("t", [2, 20])

    # b stamps a writer feature a (masked below) does not implement
    # while a's tx is open: a's commit collides, folds the upgrade and
    # stops at the gate instead of retargeting
    b.upgrade_protocol(writer_features=["identityColumns"])
    masked = protomod.supported_writer_features() - {"identityColumns"}
    monkeypatch.setattr(protomod, "supported_writer_features", lambda: masked)
    with pytest.raises(UnsupportedTableFeatureError, match="retry") as ei:
        a.commit_tx()
    assert ei.value.features == ["identityColumns"]
    a.new_tx()
    assert "identityColumns" in a.tx.snapshot.protocol["wf"]
    a.write_row("t", [3, 30])
    with pytest.raises(UnsupportedTableFeatureError) as ei:
        a.commit_tx()
    assert ei.value.kind == "writer"
    assert replay_log(a.store).version == 3  # neither a commit landed


def test_commit_retry_reads_each_interleaved_record_once(tmp_path, monkeypatch):
    """A commit retry reconciles every record in (collided version - 1,
    latest] exactly once and reads each exactly once — also when the
    kept snapshot moved forward during the tx (drop_table commits its
    protocol stamp at the tx's own id after folding b's first commit)
    — and the ICT floor rises from those records."""
    store = _ReadCountingStore(str(tmp_path / "store"))
    a = DeltaLakeClient(_NoSpark(), store)
    b = DeltaLakeClient(_NoSpark(), store)
    a.new_tx()
    for t in ("ta", "tb", "tc"):
        a.create_table(t, "k BIGINT, v BIGINT")
    a.commit_tx()

    a.new_tx()  # tx id 2
    a.write_row("ta", [1, 1])
    b._clock = lambda: 4_000_000_000.0  # far ahead of a's clock
    b.new_tx()
    b.write_row("tb", [1, 1])
    b.commit_tx()  # v2
    a.drop_table("tc")  # folds v2, commits the protocol stamp as v3
    b.new_tx()
    b.write_row("tb", [2, 2])
    b.commit_tx()  # v4

    reconciled = []
    reconcile = a._reconcile_interleaved

    def counting(tx, interleaved, my_tables, txn):
        reconciled.append(interleaved["id"])
        return reconcile(tx, interleaved, my_tables, txn)

    monkeypatch.setattr(a, "_reconcile_interleaved", counting)
    store.reads.clear()
    a.commit_tx()

    assert reconciled == [2, 3, 4]
    for v in (2, 3, 4):
        assert store.reads[log_name(v)] == 1
    mine = read_record(store, 5)
    assert mine["ts"] == max(read_record(store, v)["ts"] for v in (2, 3, 4)) + 1
    snap = replay_log(store)
    assert "tc" not in snap.tables
    assert len(snap.live_objects("ta")) == 1
    assert len(snap.live_objects("tb")) == 2
